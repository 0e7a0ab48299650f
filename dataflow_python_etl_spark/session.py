"""SparkSession factory tuned for this engine.

The reference delegates execution to Google Cloud Dataflow + BigQuery
(reference ``src/data_ingest.py:184``); our equivalent of "the engine
configuration" is a SparkSession with AQE, Arrow, and sane shuffle
sizing. All knobs chosen to scale from local[32] test runs to a
1000-executor cluster — nothing here assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for scale:
#  - AQE on: runtime coalescing of shuffle partitions, dynamic
#    broadcast-join conversion, and skew-join splitting. At 100 TB the
#    static shuffle.partitions value is always wrong for *some* stage;
#    AQE fixes it per-stage from runtime statistics.
#  - Arrow on: every pandas_udf / mapInPandas boundary moves columnar
#    batches, not pickled rows.
#  - maxPartitionBytes 128m: keeps scan partitions memory-friendly and
#    numerous enough to saturate a large cluster.
#  - AQE inside cached plans: Spark's default
#    (canChangeCachedPlanOutputPartitioning=false) runs every
#    persist()/register_cache frame with AQE OFF, so a cache keeps the
#    static shuffle.partitions width (32) however few rows it holds,
#    and every consumer of it pays that width again. Allowing AQE to
#    coalesce a cached plan sizes the cache to its data (a 400-doc
#    stream batch's band cache becomes 1 partition, not 32); the price
#    is that a consumer can no longer rely on the cache's hash
#    partitioning and may add an Exchange to read it.
_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Runtime bloom-filter join pruning: the build side's keys filter
    # the probe side's SCAN before the shuffle — at 100 TB this is the
    # difference between shuffling a fact table and shuffling the ~1%
    # of it that can join. Below the size thresholds (local test data)
    # it never injects, so plans and pins are unchanged locally.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Parquet writes at scale: snappy is the right default trade-off.
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
}


def get_spark(
    app_name: str = "dataflow-python-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``$SPARK_GRAFT_MASTER`` or
    ``local[$SPARK_GRAFT_CPUS]``; on a real cluster, leave it unset and
    submit with ``spark-submit --master yarn|k8s://...``.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
            os.environ.get("SPARK_GRAFT_CPUS", "*")
        )
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    # local-mode heap override for oversized offline jobs (e.g. the
    # 8x scale probe) — on a real cluster you'd size executors via
    # spark-submit instead
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY")
    if mem:
        # spark.driver.memory is a JVM-LAUNCH-time setting: if a
        # SparkContext already exists in this process (pytest / the
        # certify pipeline reuse get_spark), getOrCreate() silently
        # ignores it and the oversized job OOMs with no hint why. Warn
        # loudly — the env var must be set before the first get_spark.
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            import warnings

            warnings.warn(
                "SPARK_GRAFT_DRIVER_MEMORY=%s ignored: a SparkContext "
                "already exists in this process and spark.driver.memory "
                "only applies at JVM launch. Set the env var before the "
                "first get_spark() call." % mem,
                RuntimeWarning,
                stacklevel=2,
            )
        conf["spark.driver.memory"] = mem
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
