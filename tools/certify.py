"""One-command end-of-round certification — the discipline VERDICT r4
asked for ("keep the extended set certified"), automated so a round
cannot silently skip it.

1. full pytest suite — SHARDED across ``--shards`` concurrent pytest
   processes (default 4; VERDICT r8 #1: the sequential gate crossed
   ~55 min and was about to start discouraging full runs — the first
   3-shard run measured 40m21s total with one 19-min straggler
   shard, so the default is 4). Each shard is its own JVM at
   local[4] (conftest's default), so 4 shards = 16 Spark threads on
   32 cores — headroom, not contention. ALL ``test_streaming*`` files are pinned to ONE
   shard so streaming tests never run concurrently with each other
   (the round-4 pitfall is two streaming suites fighting; tolerance
   to a concurrent NON-streaming JVM is probed separately —
   docs/SCALE.md round 9). Remaining files are greedy-packed by
   size. ``--shards 1`` restores the strictly sequential gate.
2. the DuckDB oracle gate over EVERY registered query at sf0.001,
3. the same at sf0.01 (the driver's grading scale),
4. bench.py at $SPARK_GRAFT_SF_DIR (default sf0.1).

Stages 2-4 remain STRICTLY sequential and only start after every
test shard exits (bench with a second live JVM fabricates 2-3x
regressions — docs/SCALE.md).

Then prints ONE JSON line with the outcomes. Exit 0 only if all
pass (bench "passes" when it emits valid JSON with an empty
superlinear list). Use --skip-tests to re-certify queries only.

    python tools/certify.py [--skip-tests] [--shards N]
                            [--changed-since REV]

``--changed-since REV`` is the MID-ROUND cadence mode (VERDICT r6
item 8): oracle gates run only the registry-diff subset
(tools/changed.py), pytest runs only test files changed since REV or
named after changed package modules (one process — scoped runs are
small), and bench is skipped (a timing run on a subset proves
nothing). The report carries ``"scoped": REV`` so a scoped line can
never masquerade as the round-end certificate — the FULL run (no
flag) remains mandatory at round end.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _run(cmd: list[str]) -> tuple[int, str]:
    p = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True
    )
    return p.returncode, p.stdout


def _scoped_test_files(rev: str) -> list[str] | None:
    """Test files worth re-running for a scoped certify: tests that
    changed since ``rev``, plus every test file that NAMES a changed
    package module — filename match (``tests/test_<leaf>*.py``) OR a
    word-boundary content match, because the real pins for a module
    often live elsewhere (operators/multimodal.py pins sit in
    test_image_dedup.py; operators/expectations.py pins in
    test_timeseries_expectations.py — review-caught). Over-inclusion
    only widens the scoped run. None → run everything (infra
    changed)."""
    import re as _re

    sys.path.insert(0, str(ROOT / "tools"))
    from changed import _module_of, changed_files, queries_affected_since

    if queries_affected_since(rev) is None:
        return None
    picked: set[str] = set()
    leaves: set[str] = set()
    for f in changed_files(rev):
        if f.startswith("tests/") and f.endswith(".py"):
            if (ROOT / f).exists():
                picked.add(f)
            continue
        mod = _module_of(f)
        if mod is not None:
            leaves.add(mod.rsplit(".", 1)[-1])
    if leaves:
        pat = _re.compile(
            r"\b(" + "|".join(_re.escape(l) for l in sorted(leaves)) + r")\b"
        )
        for p in sorted((ROOT / "tests").glob("test_*.py")):
            if pat.search(p.read_text()):
                picked.add(str(p.relative_to(ROOT)))
    return sorted(picked)


DURATIONS_PATH = ROOT / "tools" / "test_durations.json"


def _load_durations() -> dict[str, float]:
    if DURATIONS_PATH.exists():
        try:
            return {
                k: float(v) for k, v in json.loads(DURATIONS_PATH.read_text()).items()
            }
        except Exception:
            return {}
    return {}


def _shard_test_files(n_shards: int) -> list[list[str]]:
    """Deterministic shard plan: every ``test_streaming*`` file in
    shard 0 (streaming suites must not run concurrently with EACH
    OTHER — round-4 pitfall), everything else greedy-packed by
    MEASURED per-file seconds from tools/test_durations.json (the
    ledger every sharded run refreshes from its junit XMLs; the
    size-only proxy left a 17:40 straggler against an 07:02 shard in
    the first 4-shard run). Files absent from the ledger (new tests)
    are estimated from their size at the ledger's median
    seconds-per-byte, so a brand-new file neither breaks packing nor
    hides in a hot shard."""
    ledger = _load_durations()
    spb = sorted(
        ledger[f] / max((ROOT / f).stat().st_size, 1)
        for f in ledger
        if (ROOT / f).exists()
    )
    med_spb = spb[len(spb) // 2] if spb else 0.001

    def cost(p) -> float:
        rel = str(p.relative_to(ROOT))
        return ledger.get(rel, p.stat().st_size * med_spb)

    streaming, rest = [], []
    for p in sorted((ROOT / "tests").glob("test_*.py")):
        (streaming if p.name.startswith("test_streaming") else rest).append(p)
    shards: list[list[str]] = [
        [str(p.relative_to(ROOT)) for p in streaming]
    ] + [[] for _ in range(n_shards - 1)]
    loads = [sum(cost(p) for p in streaming)] + [0.0] * (n_shards - 1)
    for p in sorted(rest, key=lambda p: (-cost(p), p.name)):
        i = min(range(n_shards), key=lambda j: (loads[j], j))
        shards[i].append(str(p.relative_to(ROOT)))
        loads[i] += cost(p)
    return [s for s in shards if s]


def _update_durations(xml_paths: list) -> None:
    """Fold the shard junit XMLs into the per-FILE duration ledger
    (classname ``tests.test_foo`` → ``tests/test_foo.py``). Merge,
    don't replace: a scoped or partial run must not evict files it
    didn't execute."""
    import xml.etree.ElementTree as ET

    per_file: dict[str, float] = {}
    for xp in xml_paths:
        try:
            root = ET.parse(xp).getroot()
        except Exception:
            continue
        for tc in root.iter("testcase"):
            # the module is the dotted part named test_*: a class-based
            # test's classname ends in its class (tests.test_foo.TestBar)
            mod = next(
                (p for p in tc.get("classname", "").split(".") if p.startswith("test_")),
                "",
            )
            if not mod:
                continue
            f = f"tests/{mod}.py"
            per_file[f] = per_file.get(f, 0.0) + float(tc.get("time", 0.0))
    if not per_file:
        return
    ledger = _load_durations()
    ledger.update({k: round(v, 2) for k, v in per_file.items()})
    ledger = {k: v for k, v in sorted(ledger.items()) if (ROOT / k).exists()}
    DURATIONS_PATH.write_text(json.dumps(ledger, indent=1) + "\n")


def _run_test_shards(n_shards: int) -> tuple[bool, dict]:
    """Launch one pytest process per shard CONCURRENTLY, wait for
    all, and aggregate: total passed/failed counts plus each shard's
    tail line and wall seconds. Oracle/bench stages must not start
    until this returns (no JVM may overlap them). Each shard writes
    a junit XML; the per-file duration ledger is refreshed from them
    so the NEXT run packs by measured seconds."""
    import subprocess as sp
    import tempfile
    import time

    shards = _shard_test_files(n_shards)
    procs, xmls = [], []
    tmpd = tempfile.mkdtemp(prefix="certify_shards_")
    t0 = time.time()
    for i, files in enumerate(shards):
        xml = f"{tmpd}/shard_{i}.xml"
        xmls.append(xml)
        procs.append(
            sp.Popen(
                [
                    sys.executable, "-m", "pytest", "-q",
                    f"--junit-xml={xml}", "-o", "junit_family=xunit2",
                    *files,
                ],
                cwd=ROOT,
                stdout=sp.PIPE,
                stderr=sp.DEVNULL,
                text=True,
            )
        )
    tails, walls, ok = [], [], True
    passed = failed = 0
    for p in procs:
        out, _ = p.communicate()
        walls.append(round(time.time() - t0, 1))
        tail = out.strip().splitlines()[-1] if out.strip() else ""
        tails.append(tail)
        m_p = re.search(r"(\d+) passed", tail)
        m_f = re.search(r"(\d+) failed", tail)
        passed += int(m_p.group(1)) if m_p else 0
        failed += int(m_f.group(1)) if m_f else 0
        ok &= p.returncode == 0 and m_p is not None and m_f is None
    _update_durations(xmls)
    return ok, {
        "passed": passed,
        "failed": failed,
        "shards": len(shards),
        "wall_s": max(walls) if walls else 0.0,
        "tails": tails,
    }


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    report: dict = {}
    ok = True
    since: str | None = None
    n_shards = 4
    if "--shards" in argv:
        i = argv.index("--shards")
        n_shards = int(argv[i + 1])
    if "--changed-since" in argv:
        i = argv.index("--changed-since")
        if i + 1 >= len(argv) or argv[i + 1].startswith("-"):
            print("usage: certify.py [--skip-tests] [--shards N] "
                  "[--changed-since REV]",
                  file=sys.stderr)
            return 2
        since = argv[i + 1]
        report["scoped"] = since

    if "--skip-tests" in argv:
        report["pytest"] = "skipped"
    elif since is None and n_shards > 1:
        sh_ok, sh_report = _run_test_shards(n_shards)
        report["pytest"] = sh_report
        ok &= sh_ok
    else:
        pytest_cmd = [sys.executable, "-m", "pytest", "-q"]
        if since is None:
            pytest_cmd.append("tests/")
        else:
            scoped = _scoped_test_files(since)
            if scoped is None:
                pytest_cmd.append("tests/")
            elif scoped:
                pytest_cmd.extend(scoped)
            else:
                pytest_cmd = None
        if pytest_cmd is None:
            report["pytest"] = "scoped: no affected test files"
        else:
            rc, out = _run(pytest_cmd)
            tail = out.strip().splitlines()[-1] if out.strip() else ""
            report["pytest"] = tail
            ok &= rc == 0 and " passed" in tail and "failed" not in tail

    for sf in ("sf0.001", "sf0.01"):
        cmd = [sys.executable, "tools/check_oracle.py"]
        if since is not None:
            cmd += ["--changed-since", since]
        cmd.append(f"/root/testdata/{sf}")
        rc, out = _run(cmd)
        m = re.search(r"(\d+) failures", out)
        n_fail = int(m.group(1)) if m else -1
        n_ok = len(re.findall(r"^ok ", out, re.M))
        report[f"oracle_{sf}"] = {"ok": n_ok, "failures": n_fail}
        ok &= rc == 0 and n_fail == 0

    if since is not None:
        report["bench"] = "skipped (scoped run)"
    else:
        rc, out = _run([sys.executable, "bench.py"])
        bench = None
        for line in out.splitlines():
            line = line.strip()
            if line.startswith("{"):
                bench = json.loads(line)
        if bench is None or rc != 0:
            report["bench"] = "FAILED"
            ok = False
        else:
            report["bench"] = {
                "total_s": bench["value"],
                "sf": bench["sf"],
                "superlinear": bench.get("superlinear", []),
            }
            ok &= not bench.get("superlinear")

    report["certified"] = ok and since is None
    if since is not None:
        report["scoped_ok"] = ok
    print(json.dumps(report))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
