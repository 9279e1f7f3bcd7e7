"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the crawl workload (BASELINE.json): AQE on (runtime skew-join
splitting for hot hosts), runtime Bloom filters (accelerates the
frontier⟕pages join), Arrow batches sized for HTML payloads, and
shuffle partitions sized to the local core count — on a real cluster
these come from spark-submit conf instead.

It also holds two of the engine's one-way rules:

- ``spread`` is the one partitioning rule for per-row-heavy map work.
- ``local_frame`` is the one driver-table rule: every table the engine
  builds from rows held on the driver (model tables, centroids, a
  driver union-find result, crawl seeds, the metrics marker) enters
  Spark as an Arrow-built ``LocalRelation``. Its scan reads rows the
  driver already holds: no Python worker re-pickles them and no job
  runs to build the table. ``createDataFrame`` is called nowhere else
  (tests/test_driver_table_rule.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "downloader-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # deterministic timestamp semantics regardless of host TZ (the
        # DuckDB oracle computes on naive wall-clock values)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # sort+limit compiles to TakeOrderedAndProject, which ALLOCATES
        # a top-K structure of size = the limit — an "effectively
        # uncapped" wave budget like max_urls_per_wave=10^9 kills the
        # JVM outright (reproduced). Above this threshold Spark falls
        # back to full sort + GlobalLimit, which is O(1) memory per
        # partition and the right plan for huge caps anyway.
        .config("spark.sql.execution.topKSortFallbackThreshold", "10000000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # HTML rows are large (~KBs); smaller Arrow batches keep the
        # Python-worker RSS bounded at 100 TB page sizes
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        # 16g cap (not a reservation): the multi-GB bloom-probe bench
        # section OOMs an 8g heap in local mode where driver ≡ executors
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # JVM unified-logging warnings (gc,alloc under pressure) print
        # to STDOUT by default — they would corrupt the one-JSON-line
        # contract bench.py has with the driver; route them to stderr
        .config("spark.driver.extraJavaOptions", "-Xlog:all=warning:stderr:uptime")
        # saveAsTable target (e.g. a url-bucketed pages table)
        # — keep managed-table files out of the repo working directory
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition ``df`` to the session parallelism — round-robin, or
    hashed on ``cols`` — when its input is narrower than the session:
    fewer input files than ``defaultParallelism``. The engine's one
    partitioning rule for per-row-heavy map work (Python UDFs, HOF
    token work, gram explodes) that sits before any exchange.

    A single-file parquet table has one row group, so its scan is one
    partition and that map work would run on one core. A table of at
    least ``defaultParallelism`` files already scans in parallel and is
    returned unchanged. Files, not scan partitions: a union of several
    branches over one file scans as several partitions and still needs
    the spread. Cached scans report their source files; local and
    checkpointed relations report none, so they spread. The check is
    plan-time only (file listing, no job).

    Spread heavy work by projecting it, not by filtering on it: a
    deterministic filter above a spread is pushed through its
    ``Repartition`` into each ``Union`` branch beneath it, with
    projected aliases inlined, so its work runs before the exchange.
    Project a heavy predicate as a column and filter it after a
    materialization point (``queries._webtext_gate``'s ``_keep``,
    filtered on its checkpoint). Cheap filters may sink to the scan."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) >= par:
        return df
    return df.repartition(par, *cols)


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A DataFrame over ``rows`` (a sequence of tuples in ``schema``'s
    column order) held on the driver: a ``pyarrow.Table`` built column
    by column in ``schema``'s Arrow types, handed to
    ``spark.createDataFrame``. The result is a ``LocalRelation``
    (``LocalTableScan``): reading it launches no Python worker, and
    collecting it launches no job. ``createDataFrame(list)`` would be a
    ``LogicalRDD`` over a ``PythonRDD`` whose tasks only unpickle the
    rows again. Past ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MiB of Arrow data by default) Spark ships the Arrow batches as
    an RDD instead, one partition per ``arrow.maxRecordsPerBatch`` rows
    (1,954 at ``connected_keepers``' 4M-row bound); its tasks decode
    Arrow in the JVM, still with no Python worker, and the frame is
    coalesced to ``defaultParallelism`` partitions.
    ``schema`` is a DDL string or a ``StructType``; the frame's schema
    is exactly it, also for zero rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow = to_arrow_schema(st)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    df = spark.createDataFrame(table, st)
    if not df.isLocal():
        df = df.coalesce(spark.sparkContext.defaultParallelism)
    return df
