"""Physical-plan shape assertions — the scale contract, checked.

These pin the properties that matter at 100 TB: predicate pushdown to
the parquet scan, column pruning, broadcast joins for dims/anti-joins,
and whole-stage codegen coverage (the JVM-side fast path).
"""

from conftest import SF_ORACLE


def _plan(df, mode="formatted"):
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def explain_str(df):
    # public-API route: capture explain output via the analyzed plan
    from contextlib import redirect_stdout
    import io

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _kernel_passes(monkeypatch, probe):
    """Run ``probe()`` and return (its plan, the plans of the top-k
    kernel passes it built). A quantized rerank collects its survivor
    pass before it returns, so that pass is not in the returned plan."""
    from downloader_spark.operators import similarity

    built = []
    real = similarity.topk_superset

    def recording(*args, **kwargs):
        df = real(*args, **kwargs)
        built.append(df)
        return df

    with monkeypatch.context() as m:
        m.setattr(similarity, "topk_superset", recording)
        out = probe()
    return explain_str(out), [explain_str(df) for df in built]


def test_filter_pushdown_and_pruning(spark):
    from downloader_spark.queries import Q

    plan = explain_str(Q["seen_antijoin"](spark, SF_ORACLE))
    assert "PushedFilters: [In(source" in plan  # predicate reached the scan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan  # pruned


def test_broadcast_joins(spark):
    from downloader_spark.queries import Q

    plan = explain_str(Q["fetch_join"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan  # dim side broadcast, no shuffle join
    plan = explain_str(Q["seen_antijoin"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_whole_stage_codegen_on_agg(spark):
    from contextlib import redirect_stdout
    import io

    from downloader_spark.queries import Q

    df = Q["wave_metrics"](spark, SF_ORACLE)
    plan = explain_str(df)
    assert "HashAggregate" in plan  # partial+final hash agg, not sort-agg
    # AQE hides WSCG markers in 'formatted' until execution → use the
    # codegen explain mode, which compiles the subtrees up front
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen" in buf.getvalue()


def test_topk_is_take_ordered(spark):
    from downloader_spark.queries import Q

    plan = explain_str(Q["exec_history_page"](spark, SF_ORACLE))
    # global LIMIT+ORDER plans as TakeOrderedAndProject — no full sort
    assert "TakeOrderedAndProject" in plan


def test_extract_pipeline_is_arrow_eval(spark):
    from downloader_spark.queries import Q

    plan = explain_str(Q["extract_lang_profile"](spark, SF_ORACLE))
    # the only Python in the plan is the Arrow-batched UDF (no RDDs,
    # no row-at-a-time PythonUDF)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_fanout_single_arrow_eval(spark):
    from downloader_spark.queries import Q

    import re

    plan = explain_str(Q["multi_format_fanout"](spark, SF_ORACLE))
    # one scan → one Arrow UDF → explode; never a Python node per format
    # ("formatted" prints each node twice: once in the tree, once in the
    # detail section — count numbered detail entries)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "BatchEvalPython" not in plan
    assert "Generate" in plan  # the format explode


def test_ivf_probe_is_kernel_scored_no_pair_join(spark, monkeypatch):
    """Every IVF probe, float or quantized, flat or tree: candidates are
    scored inside ONE mapInPandas kernel per pass (per-batch top-k
    supersets), so no plan has a pair join at all — no HashJoin
    carrying vector payloads, no nested-loop, no row-at-a-time Python.
    The only other Python nodes are the Arrow-batched assignment (and
    PQ decode) UDFs on the candidate side: the query batch is collected
    to the driver, so no plan reads the query side. A quantized rerank
    is a second kernel pass over the survivors."""
    import re

    from pyspark.sql import functions as F

    from downloader_spark.operators.similarity import (
        build_ivf2_index,
        build_ivf_index,
        ivf2_probe,
        ivf_probe,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    qry = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = explain_str(ivf_topk(emb, qry, k=3, n_centroids=4, nprobe=2, iters=1))
    assert "Join" not in plan  # the pair join is gone entirely
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1

    pq = build_ivf_index(
        emb, n_centroids=4, iters=1, persist=False, quantize="pq",
        pq_m=8, pq_ks=16,
    )
    tree = build_ivf2_index(
        emb, n_coarse=2, n_sub=2, iters=1, persist=False, quantize="sq8"
    )
    for name, probe, n_passes in (
        ("flat pq", lambda: ivf_probe(pq, qry, k=3, nprobe=2), 1),
        ("flat pq rerank", lambda: ivf_probe(
            pq, qry, k=3, nprobe=2, rerank_from=emb, rerank_factor=8
        ), 2),
        ("tree sq8", lambda: ivf2_probe(tree, qry, k=3, wprobe=1, nprobe=2), 1),
        ("tree sq8 rerank", lambda: ivf2_probe(
            tree, qry, k=3, wprobe=1, nprobe=2, rerank_from=emb
        ), 2),
    ):
        plan, passes = _kernel_passes(monkeypatch, probe)
        assert len(passes) == n_passes, name
        for p in passes + [plan]:
            assert "Join" not in p, name
            assert "BatchEvalPython" not in p, name
            assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1, name
            # the query batch (vec_id % 100 == 0) is not in any plan,
            # and no Python node reads query rows
            assert "% 100" not in p, name
            for inputs in re.findall(
                r"\(\d+\) ArrowEvalPython\nInput \[\d+\]: \[([^\]]*)\]", p
            ):
                assert "query_id" not in inputs, name


def test_exact_near_dup_guard_means_lsh_default_no_nested_loop(spark):
    """The DEFAULT embedding_near_dups path must be the LSH bucket
    kernel: rows grouped by (table, signature) and scored in one
    grouped pandas node. Neither path plans a nested-loop join."""
    from downloader_spark.operators.similarity import embedding_near_dups

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    plan = explain_str(embedding_near_dups(emb, threshold=0.9, n_planes=8))
    assert "NestedLoop" not in plan
    assert "FlatMapGroupsInPandas" in plan  # sig-bucket grouped kernel
    assert "_tbl" in plan and "_sig" in plan
    exact = explain_str(embedding_near_dups(emb, threshold=0.9, exact=True))
    assert "NestedLoop" not in exact


def test_bucketed_pages_join_skips_pages_side_shuffle(spark):
    """Co-located fetch join (SURVEY §4 / task prompt 'bucketing for
    co-located joins'): joining a url-bucketed pages table on url must
    show NO Exchange above the pages scan — only the frontier side
    shuffles to match the bucket count. At 100 TB this is the decision
    that keeps the corpus from re-shuffling every wave."""
    import re

    from pyspark.sql import functions as F

    from downloader_spark.sources.pagegen import pages_from_documents

    pages = pages_from_documents(spark, SF_ORACLE).select("url", "html")
    # the deployment recipe: write the corpus once bucketed (and sorted)
    # by url, read it back through the catalog, which carries the
    # bucket spec (a plain parquet read of the same files would not)
    (
        pages.write.mode("overwrite")
        .bucketBy(8, "url")
        .sortBy("url")
        .format("parquet")
        .saveAsTable("t_pages_bucketed")
    )
    try:
        bucketed = spark.table("t_pages_bucketed")
        frontier = spark.range(200).select(
            F.concat(
                F.lit("http://src"), (F.col("id") % 20).cast("string"),
                (F.col("id") % 97).cast("string"), F.lit(".example/doc/"),
                F.col("id").cast("string"),
            ).alias("url")
        )
        # 'merge' hint: at a real frontier size this is a shuffle join
        # anyway (a toy frontier would get broadcast, proving nothing)
        joined = frontier.hint("merge").join(bucketed, "url")
        plan = explain_str(joined)
        # exactly ONE Exchange — the frontier side; the bucketed scan
        # feeds its join leg with no shuffle (and no sort: bucket files
        # are sortBy(url))
        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges == 1, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() > 0  # and it actually runs
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pages_bucketed")


def test_stored_ivf_index_probe_prunes_partitions(spark, tmp_path, monkeypatch):
    """A path-stored IVF index is parquet PARTITIONED BY the inverted
    list id; a probe must only read the probed lists' files — at 100 TB
    this is what makes a probe O(probed lists), not O(index). r7: probe
    lists are derived driver-side, so the pruning is a STATIC partition
    filter on `_c` (stronger than the old dynamic pruning — resolved at
    plan time, no subquery broadcast), and the scan must show it — for
    float and quantized indexes, flat and tree alike."""
    from pyspark.sql import functions as F

    from downloader_spark.operators.similarity import (
        build_ivf2_index,
        build_ivf_index,
        ivf2_probe,
        ivf_probe,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    qry = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    index = build_ivf_index(
        emb, n_centroids=16, iters=1, path=str(tmp_path / "ivf_idx")
    )
    plan = explain_str(ivf_probe(index, qry, k=3, nprobe=2))
    import re

    pruned = r"PartitionFilters: \[([^\]]*_c[^\]]*)\]"
    m = re.search(pruned, plan)
    assert m, plan  # the _c IN (...) filter reached the partitioned scan
    # the quantized probes prune the same way: an SQ8 index's survivor
    # pass (the one that scans the index) and a stored SQ8 tree
    sq8 = build_ivf_index(
        emb, n_centroids=16, iters=1, path=str(tmp_path / "ivf_sq8"),
        quantize="sq8",
    )
    _, passes = _kernel_passes(
        monkeypatch, lambda: ivf_probe(sq8, qry, k=3, nprobe=2, rerank_from=emb)
    )
    assert len(passes) == 2
    assert re.search(pruned, passes[0]), passes[0]
    tree = build_ivf2_index(
        emb, n_coarse=4, n_sub=4, iters=1, path=str(tmp_path / "ivf2_sq8"),
        quantize="sq8",
    )
    plan_t = explain_str(ivf2_probe(tree, qry, k=3, wprobe=2, nprobe=3))
    assert re.search(pruned, plan_t), plan_t


def test_round4_text_operators_stay_native(spark):
    """The r4 operator family (span removal, chunking, PII, gopher,
    pipeline) must contain ZERO Python eval nodes — all native
    column work — and drop_repeated_spans' frequent-line flag join
    must not be a nested loop."""
    from downloader_spark.queries import Q

    for name in (
        "drop_repeated_spans", "token_windows", "pii_redact",
        "webtext_pipeline", "doc_fingerprints",
    ):
        plan = explain_str(Q[name](spark, SF_ORACLE))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # gopher_quality runs the Arrow repetition pack (values pinned by
    # tests/test_repetition_arrow.py): exactly ONE ArrowEvalPython
    # node, still no row-at-a-time Python and no nested loop.
    # (webtext_pipeline uses the same pack in its gate, but the gate is
    # checkpoint-materialized, so its final plan shows zero Python —
    # asserted above.)
    import re

    plan = explain_str(Q["gopher_quality"](spark, SF_ORACLE))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_perplexity_broadcasts_model_no_python(spark):
    """The r5 perplexity scorer's scale contract: BOTH model tables
    (pair + context) reach the bigram stream as broadcast hash joins —
    the corpus text never shuffles into the lookup — the per-doc sum
    partial-aggregates map-side, and there is zero Python in the plan.
    The only non-broadcast join is the doc_id join-back (same
    cardinality both sides at scale: correctly NOT a broadcast)."""
    import re

    from downloader_spark.queries import Q

    plan = explain_str(Q["lm_perplexity"](spark, SF_ORACLE))
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # partial aggregation before the exchange (map-side combine)
    assert "partial_count" in plan or "partial_sum" in plan
