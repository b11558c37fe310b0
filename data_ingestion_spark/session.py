"""SparkSession factory tuned for the engine.

The reference runs each pipeline stage as a separate Kubernetes pod
(KFP components, e.g. ingestion-pipeline.py:42-54, 287-295); here a
single SparkSession owns the whole lazy plan and Catalyst replaces the
pod-to-pod artifact hops. Config choices are scale-oriented:

- AQE on: runtime partition coalescing + skew-join handling (the
  reference's corpus is skewed per product, ingestion-pipeline.py:18-38).
- Arrow on: every pandas UDF (clean/embed stages) moves batches, not rows.
- ``parquet.nanosAsLong``: the synthetic ``events`` table stores
  TIMESTAMP(NANOS) which Spark's parquet reader rejects; we read the
  raw int64 and convert losslessly to timestamp_ntz (data is exactly
  microsecond-precision).
- ``dataFrameDebugging`` off: PySpark 4 wraps every Column and
  DataFrame call to capture its Python call site, which costs extra
  py4j round trips per call (Spark's docs note the "non-trivial
  performance overhead"). Plans built from many Column calls paid for
  it on every request; building a ``similarity_search`` plan made
  thousands of round trips. The conf is static, so only
  ``get_spark`` can set it: ``ensure_engine_confs`` cannot apply it
  to a session created outside the engine, which keeps capture on.
  What is lost is the Python file and line in the query context of a
  DataFrame error; the error class and message are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs every engine session (including a session
#: handed to us by an external driver) must carry for correct reads.
RUNTIME_CONFS = {
    # events.parquet is TIMESTAMP(NANOS); see sources/catalog.py
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # timestamps in the testdata are naive; pin UTC so the
    # LTZ->NTZ conversion in the events loader is the identity
    "spark.sql.session.timeZone": "UTC",
    # InferFiltersFromGenerate duplicates the full generator expression
    # into an inferred size()>0 filter, which Catalyst then pushes below
    # repartition barriers — for expensive array builds (shingling) that
    # re-evaluates the whole expression on the unparallelized scan. The
    # rule only adds redundant skip-filters; excluding it is semantics-
    # preserving.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def get_spark(app_name: str = "data-ingestion-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned local SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real
    cluster you would drop ``master`` and submit with executor
    settings; everything else here is cluster-safe.
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # static: no per-call call-site capture (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs to an externally-owned session.

    The correctness driver calls our query functions with its own
    SparkSession; these two confs are required to read ``events`` and
    to keep timestamp conversion deterministic, and both are
    runtime-settable SQL confs. Call-site capture stays as the owner
    configured it: its conf is static (module docstring).
    """
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    return spark
