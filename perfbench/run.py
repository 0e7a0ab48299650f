"""Benchmark for the engine, run from the root of a checkout:

    python3 perfbench/run.py --workload etl_mart --seed 1 --seconds 10 --trace 0

It generates the workload's inputs from ``--seed``, sets the program up
(median of several cold set-ups), runs untimed warm-up passes until JIT
and codegen drift has passed, then runs timed passes for ``--seconds``
(at least ``MIN_TIMED``) and checks every output. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, which holds the end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``.
perfbench/METRICS.md defines every metric.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Cold set-ups per run (each launches a JVM); setup_s is their median.
SETUPS = 2
# Timed passes of each kind (untraced; traced in a traced run) at
# least, however long they take; job_s is the untraced ones' median.
MIN_TIMED = 2


class Bench:
    """One run: the Spark session lifecycle, the pass loop, failure
    accounting and (with ``trace``) the tracer."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("in", "local", "tmp", "eventlog", "warehouse"):
            (self.work / d).mkdir(parents=True)
        # keep Spark's scratch space and every temp file inside the checkout;
        # every JVM (the launcher's too) skips its /tmp/hsperfdata file
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData")))
        # Two executor threads leave two CPUs of a 4-vCPU VM to the driver
        # (Python, py4j, the driver JVM's scheduler and GC). Measured with
        # runs alternating local[4] and local[2], the range of job_s fell
        # from 25% to 15% of the median (etl_mart) and from 16% to 6%
        # (stream_dedup), for passes 2-12% slower.
        self.cores = min(2, len(os.sched_getaffinity(0)))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.get_spark_s: list[float] = []
        self.setup_s: list[float] = []
        self.warmup_s = 0.0
        self.warmup_walls: list[float] = []
        self.walls: list[float] = []  # timed untraced passes
        self.traced_walls: list[float] = []
        self.traced_tags: list = []
        self.jvm_peak_mb = 0.0
        self.counter = self.tracer = None
        if trace:
            from perfbench.trace import Py4jCounter, Tracer
            from pyspark import SparkContext

            self.counter = Py4jCounter()
            self.counter.enabled = False
            self.counter.install()
            self.tracer = Tracer(lambda: SparkContext._active_spark_context, self.counter)

    # -- session lifecycle -------------------------------------------------

    def _conf(self) -> dict[str, str]:
        w = self.work
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(w / "warehouse"),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(w / "eventlog"),
                "spark.eventLog.compress": "false",
            })
        return conf

    def setup(self, prep) -> object:
        """``SETUPS`` cold set-ups, each in a fresh JVM: ``get_spark``
        then ``prep(spark, rep)``, the program-side preparation. The
        last one stays up for the run. Returns its ``prep`` result."""
        from dataflow_python_etl_spark.session import get_spark

        out = None
        for rep in range(SETUPS):
            self.stop_jvm()
            t0 = time.perf_counter()
            self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                                   master=f"local[{self.cores}]", extra_conf=self._conf())
            t1 = time.perf_counter()
            out = prep(self.spark, rep)
            t2 = time.perf_counter()
            self.get_spark_s.append(t1 - t0)
            self.setup_s.append(t2 - t0)
            self.spark.sparkContext.setLogLevel("ERROR")
            if rep < SETUPS - 1 and hasattr(out, "stop"):
                out.stop()
        return out

    def stop_jvm(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                from dataflow_python_etl_spark.operators.dedup import unpersist_all

                unpersist_all()
                self.spark.stop()
        finally:
            self.spark = None
            gw = SparkContext._gateway
            if gw is not None:
                SparkContext._gateway = None
                SparkContext._jvm = None
                proc = getattr(gw, "proc", None)
                try:
                    gw.shutdown()
                finally:
                    if proc is not None:
                        if proc.stdin:
                            proc.stdin.close()
                        try:
                            proc.wait(timeout=60)
                        except subprocess.TimeoutExpired:
                            proc.kill()
                            proc.wait(timeout=30)

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def app_id(self) -> str:
        return self.spark.sparkContext.applicationId

    def close(self) -> None:
        try:
            self.stop_jvm()
        finally:
            if self.counter is not None:
                self.counter.uninstall()
            shutil.rmtree(self.work, ignore_errors=True)
            with contextlib.suppress(OSError):
                self.work.parent.rmdir()  # only when no other run is using it

    # -- passes --------------------------------------------------------

    def step(self, fn, *args, **kwargs):
        """One program operation, counted as attempted."""
        self.attempted += 1
        return fn(*args, **kwargs)

    def span(self, name: str):
        """A tracer span around benchmark-side code (a no-op untraced)."""
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def _guarded(self, fn, k: int):
        try:
            return fn(k)
        except Exception as e:  # the program failed: record it, take no more passes
            traceback.print_exc()
            self.fail(f"pass {k}: {e!r}"[:300])
            return False

    def _pass(self, one_pass, check, k: int, traced: bool):
        if traced:
            self.tracer.active = self.counter.enabled = True
            self.tracer.tag = k
        t = time.perf_counter()
        ok = self._guarded(one_pass, k)
        wall = time.perf_counter() - t
        if traced:
            self.tracer.active = self.counter.enabled = False
            self.tracer.tag = None
        if ok is not False:
            for err in self._guarded(check, k) or ():
                self.fail(f"pass {k}: {err}")
        return ok, wall

    def run_passes(self, one_pass, check, warmup: int) -> None:
        """``warmup`` untimed passes, then timed passes until ``seconds``
        have elapsed and at least ``MIN_TIMED`` have run; ``check(k)``
        verifies pass ``k``'s output outside the timed window and
        returns a list of errors. With tracing, timed passes alternate
        untraced and traced (at least ``MIN_TIMED`` of each) and the
        tracer records only the traced ones. ``one_pass``
        returns False when the program can take no further passes."""
        t0 = time.perf_counter()
        for k in range(warmup):
            ok, wall = self._pass(one_pass, check, k, False)
            self.warmup_walls.append(wall)
            if ok is False:
                return
        self.warmup_s = time.perf_counter() - t0
        k = warmup
        start = time.perf_counter()
        while (time.perf_counter() - start < self.seconds or len(self.walls) < MIN_TIMED
               or (self.trace and len(self.traced_walls) < MIN_TIMED)):
            traced = self.trace and (k - warmup) % 2 == 1
            ok, wall = self._pass(one_pass, check, k, traced)
            if ok is False:
                return
            if traced:
                self.traced_walls.append(wall)
                self.traced_tags.append(k)
            else:
                self.walls.append(wall)
            k += 1


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "dataflow_python_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: engine package dataflow_python_etl_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads
    from perfbench.metrics import END_TO_END, median, per_layer_units

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        summary = workloads.WORKLOADS[args.workload](b)
    except Exception:
        traceback.print_exc()
        b.fail("workload aborted")
        summary = None
    finally:
        b.close()
    if summary is None:
        return 1

    records, layer = summary
    job_s = median(b.walls)
    if args.trace:
        from perfbench.trace import peak_rss_mb

        layer.update({
            "session.get_spark.wall_s": median(b.get_spark_s),
            "warmup_s": b.warmup_s,
            "trace.overhead_s": median(b.traced_walls) - job_s,
            "memory.driver_jvm_peak_mb": b.jvm_peak_mb,
            "memory.driver_py_peak_mb": peak_rss_mb(),
        })
        units = per_layer_units()
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        values = {"job_s": job_s, "records_per_s": records / job_s if job_s else 0.0,
                  "setup_s": median(b.setup_s)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(f"# {args.workload} seed={args.seed}: job_s median {job_s:.4f} s over "
          f"{len(b.walls)} timed passes {[round(w, 3) for w in b.walls]}; traced passes "
          f"{[round(w, 3) for w in b.traced_walls]}; "
          f"setup_s {[round(s, 3) for s in b.setup_s]}; warm-up passes "
          f"{[round(w, 3) for w in b.warmup_walls]}; "
          f"records/pass {records}")
    print(json.dumps({"correct": b.failed == 0 and b.attempted > 0,
                      "attempted": max(b.attempted, 1), "failed": b.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
