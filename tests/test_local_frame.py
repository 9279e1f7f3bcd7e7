"""session.local_frame, the one driver-table rule (the static half is
tests/test_driver_table_rule.py).

- Every rerouted site's table has the schema, nullability and rows the
  old ``createDataFrame(list)`` gave it, zero-row tables included, and
  an empty snapshot committed from one reads back with its schema.
- The model tables of ``score_perplexity`` and ``score_quality``, the
  centroids of ``semantic_dedup`` and the result of
  ``connected_keepers``' driver path are scanned as ``LocalTableScan``:
  no executed plan reads a ``PythonRDD``, and building and collecting
  the LM and classifier tables launches no job (their broadcast still
  runs one JVM-only job: ``BroadcastExchange`` collects through
  ``executeCollectIterator``).
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from downloader_spark import session
from downloader_spark.session import local_frame


def _jobs(spark, group, fn):
    """(fn(), ids of the jobs fn launched) — the statusTracker pattern
    of test_snapshots.test_read_of_stored_schema_launches_no_job."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        out = fn()
        after = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, after - before


def _executed(df) -> str:
    """The executed plan; for an adaptive plan, its final plan only."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _python_rdd_scans(df) -> list[str]:
    """The RDD scans of ``df``'s optimized plan whose lineage runs a
    ``PythonRDD`` (a ``createDataFrame`` over driver rows). A scan of a
    local checkpoint is truncated at its ``LocalCheckpointRDD``."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            lineage = leaf.rdd().toDebugString()
            if "PythonRDD" in lineage or "LocalCheckpointRDD" not in lineage:
                out.append(lineage)
    return out


def _docs(spark, n=6):
    """A JVM-built document table, so no scan of the input is Python."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog number "),
            F.col("id").cast("string"),
        ).alias("text"),
    )


# -- schema parity with createDataFrame(list) ------------------------------

_PAIR = StructType(
    [
        StructField("query_id", LongType()),
        StructField("cand_id", LongType()),
        StructField("cosine", DoubleType()),
    ]
)
_PAIR_STR = StructType(
    [
        StructField("query_id", StringType()),
        StructField("cand_id", StringType()),
        StructField("cosine", DoubleType()),
    ]
)

SITES = {
    "crawl_seeds": (
        "seed_idx long, url string, custom_headers map<string,string>",
        [(0, "http://a.example/", None), (1, "http://b.example/x", {"User-Agent": "t", "k": "v"})],
    ),
    "seen_init": ("url string", []),
    "hll_registers": ("register_id int, max_rho int", [(0, 0), (1, 7), (2, 3)]),
    "streaming_seeds": ("raw string", [("http://a.example/",), ("not a url",)]),
    "lm_pairs": ("a string, b string, lp_ab long", [("the", "cat", -1_234_567), ("a", "b", 0)]),
    "lm_ctx": ("a string, lp_a long", [("the", -9_876_543)]),
    "classifier_weights": ("bucket long, w long", [(0, 12), (4095, -3_000_000)]),
    "semdedup_centroids": (
        "cluster int, _c array<double>",
        [(0, [0.5, -1.25, 1e-06]), (1, [0.0, 0.0, 0.0])],
    ),
    "blocklist": ("domain string", [("badsource.example",), ("torrent",)]),
    "cosine_empty_batch": (_PAIR, []),
    "cosine_empty_batch_string_ids": (_PAIR_STR, []),
    "keepers_string_ids": ("node string, keeper string", [("d1", "d0"), ("d2", "d0")]),
    "keepers_long_ids": ("node bigint, keeper bigint", [(1, 0), (2, 0)]),
}


@pytest.mark.parametrize("site", sorted(SITES))
def test_local_frame_matches_create_dataframe(spark, site):
    schema, rows = SITES[site]
    got = local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema  # types and nullability
    assert got.collect() == ref.collect()
    plan = _executed(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_empty_local_frame_snapshot_reads_back_with_its_schema(spark, tmp_path):
    from downloader_spark.plans.wave import SEEN_SCHEMA
    from downloader_spark.sources.snapshots import SnapshotWarehouse

    wh = SnapshotWarehouse(str(tmp_path / "wh"))
    empty = local_frame(spark, [], SEEN_SCHEMA)
    wh.commit(empty, "seen", wave=0)
    got = wh.read(spark, "seen")
    assert got.schema == empty.schema
    assert got.schema == spark.read.parquet(wh._snap_dir("seen", 0)).schema
    assert got.count() == 0


def test_connected_keepers_driver_path_keeps_string_ids(spark):
    from downloader_spark.operators.dedup import connected_keepers

    pairs = spark.range(4).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("id_a"),
        F.concat(F.lit("d"), (F.col("id") + 1).cast("string")).alias("id_b"),
    )
    out = connected_keepers(pairs)
    assert out.schema == StructType(
        [StructField("node", StringType()), StructField("keeper", StringType())]
    )
    assert sorted(map(tuple, out.collect())) == [(f"d{i}", "d0") for i in range(5)]
    plan = _executed(out)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_local_frame_past_the_arrow_threshold_is_coalesced(spark):
    """Past ``arrow.localRelationThreshold`` the table ships as an RDD
    of one partition per ``arrow.maxRecordsPerBatch`` rows; local_frame
    coalesces it to the session parallelism. Below the threshold it
    stays a LocalRelation."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    par = spark.sparkContext.defaultParallelism
    rows = [(i, f"u{i}") for i in range(20_000)]
    schema = "id bigint, url string"
    below = local_frame(spark, rows, schema)
    assert below.isLocal()
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        past = local_frame(spark, rows, schema)
        assert not past.isLocal()
        assert past.rdd.getNumPartitions() <= par
        assert past.schema == below.schema
        assert sorted(past.collect()) == sorted(below.collect())
    finally:
        spark.conf.set(key, old)


# -- no Python worker and no job for a driver table ------------------------


def test_driver_tables_read_no_python_rdd(spark):
    from downloader_spark.functions.classifier import score_quality
    from downloader_spark.functions.lm import score_perplexity
    from downloader_spark.operators.dedup import connected_keepers
    from downloader_spark.operators.semdedup import quantize_centroids, semantic_dedup

    docs = _docs(spark)
    emb = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(
            F.lit(1.0), (F.col("id") % 3).cast("double") * 0.001, F.lit(0.0), F.lit(0.0)
        ).alias("embedding"),
    )
    cents = quantize_centroids([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    pairs = spark.range(3).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    built = {
        "score_perplexity": score_perplexity(docs),
        "score_quality": score_quality(docs),
        "semantic_dedup": semantic_dedup(spark, emb, cents, threshold=0.99),
        "connected_keepers": connected_keepers(pairs),
    }
    for name, df in built.items():
        assert df.collect(), name
        plan = _executed(df)
        assert "LocalTableScan" in plan, (name, plan)
        assert not _python_rdd_scans(df), (name, _python_rdd_scans(df))
        if name != "semantic_dedup":  # its assignment is a local checkpoint
            assert "ExistingRDD" not in plan, (name, plan)


@pytest.mark.parametrize("module", ["lm", "classifier"])
def test_model_tables_build_and_collect_without_a_job(spark, monkeypatch, module):
    import importlib

    mod = importlib.import_module(f"downloader_spark.functions.{module}")
    score = mod.score_perplexity if module == "lm" else mod.score_quality
    # the model is trained (and cached) outside the measured window
    (mod.default_lm if module == "lm" else mod.default_classifier)()
    tables = []

    def recording(spark_, rows, schema):
        df = session.local_frame(spark_, rows, schema)
        tables.append(df)
        return df

    monkeypatch.setattr(mod, "local_frame", recording)
    docs = _docs(spark)
    scored, jobs = _jobs(
        spark, f"{module}-tables", lambda: (score(docs), [t.collect() for t in tables])[0]
    )
    assert tables and all(t.count() > 0 for t in tables)
    assert jobs == set(), f"building the {module} tables launched jobs {jobs}"
    scored.collect()
    lines = _executed(scored).splitlines()
    # each table is broadcast straight from its LocalTableScan
    under = [lines[i - 1] for i, ln in enumerate(lines) if "LocalTableScan" in ln]
    assert len(under) == len(tables), lines
    assert all("BroadcastExchange" in ln for ln in under), lines
    assert not any("ExistingRDD" in ln for ln in lines), lines
