"""``session.spread`` spreads a scan only when it is narrower than the
session. Plans only: every query here is built and planned, never run.

On the one-file sf0.001 fixture each spread site plans the same
exchange it always did (round-robin to ``defaultParallelism``, or the
``cand_id`` hash for the top-k kernel). On a copy of the tables written
as 8 files (more files than the session's 4 cores) the same queries
plan no spread at all.

A spread must be the first exchange of the heavy work it spreads: no
Python UDF (``ArrowEvalPython``, ``BatchEvalPython``) and no HOF
``lambdafunction`` may sit beneath a site's round-robin exchange. A
deterministic filter above a spread is pushed through its
``Repartition`` into every ``Union`` branch, with projected aliases
inlined, so a heavy predicate there must be a projected column that is
filtered after a materialization point (``_webtext_gate``). Input
generators, such as ``extract_lang_profile``'s ``MapInPandas`` page
generator, are the input and stay allowed beneath it.
"""

import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL
from downloader_spark.operators.cosine import topk_superset
from downloader_spark.queries import Q, _webtext_gate, _webtext_seeded_corpus
from downloader_spark.session import spread

#: spread site → round-robin exchanges in its fixture plan (a spread
#: relation read twice by the query plans its exchange twice)
ROUND_ROBIN = {
    "gopher_quality": 1,
    "extract_lang_profile": 1,
    "decontaminate": 2,
    "drop_repeated_spans": 2,
    "detect_lang_counts": 1,
    "pii_redact": 1,
    "fingerprint_groups": 1,
    "multi_format_fanout": 1,
    "bpe_token_counts": 1,
    "lm_perplexity": 2,
    "quality_classifier": 2,
    "webtext_gate": 1,
    "quality_score": 0,
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _build(spark, name, sf_dir):
    if name == "webtext_gate":
        # the pipelines checkpoint the gate while building; plan it alone
        return _webtext_gate(spark, _webtext_seeded_corpus(spark, sf_dir)[2])
    return Q[name](spark, sf_dir)


def _under_round_robin(df) -> list[str]:
    """The full tree string of the subtree beneath each round-robin
    exchange of ``df``'s executed plan (an adaptive plan's current
    plan), cached relations included."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        if node.getClass().getSimpleName() == "ShuffleExchangeExec" and (
            node.outputPartitioning().toString().startswith("RoundRobinPartitioning")
        ):
            out.append(node.child().treeString(True, False, 2**31 - 1, False, False))
        for kids in (node.children(), node.innerChildren()):
            todo += [kids.apply(i) for i in range(kids.size())]
    return out


def _topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cand = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cvec"))
    qry = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    return topk_superset(cand, qry, 5, q_collected=([0], np.zeros((1, 4))))


@pytest.fixture(scope="module")
def many_files(tmp_path_factory):
    """documents and embeddings of sf0.001, each written as 8 files."""
    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("sf_many")
    for table in ("documents", "embeddings"):
        t = pq.read_table(f"{SF_SMALL}/{table}.parquet")
        os.makedirs(root / f"{table}.parquet")
        cuts = [t.num_rows * i // 8 for i in range(9)]
        for i in range(8):
            pq.write_table(
                t.slice(cuts[i], cuts[i + 1] - cuts[i]),
                root / f"{table}.parquet" / f"part-{i}.parquet",
            )
    return str(root)


def test_fixture_plans_keep_their_exchange(spark):
    par = spark.sparkContext.defaultParallelism
    for name, n in ROUND_ROBIN.items():
        plan = _plan(_build(spark, name, SF_SMALL))
        assert plan.count(f"RoundRobinPartitioning({par})") == n, (name, plan)
        assert "RoundRobinPartitioning" not in plan.replace(f"RoundRobinPartitioning({par})", "")
    assert re.search(rf"hashpartitioning\(cand_id#\d+L?, {par}\)", _plan(_topk(spark, SF_SMALL)))


def test_many_file_input_plans_no_spread(spark, many_files):
    for name in ROUND_ROBIN:
        plan = _plan(_build(spark, name, many_files))
        assert "RoundRobinPartitioning" not in plan, (name, plan)
    assert "hashpartitioning(cand_id" not in _plan(_topk(spark, many_files))


def test_spread_rule(spark, many_files):
    """Files, not partitions: a local relation (no files) spreads, a
    one-file scan spreads, round-robin or hashed on the given columns,
    and an 8-file scan is returned as it is."""
    par = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({par})" in _plan(spread(spark.range(10)))
    one = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    assert re.search(rf"hashpartitioning\(doc_id#\d+L?, {par}\)", _plan(spread(one, "doc_id")))
    wide = spark.read.parquet(f"{many_files}/documents.parquet")
    assert spread(wide) is wide


def test_no_python_or_hof_work_beneath_a_spread(spark):
    for name, n in ROUND_ROBIN.items():
        df = _build(spark, name, SF_SMALL)
        subtrees = _under_round_robin(df)
        assert len(subtrees) == n, (name, subtrees)
        for sub in subtrees:
            for node in ("ArrowEvalPython", "BatchEvalPython", "lambdafunction"):
                assert node not in sub, (name, node, sub)
        if name == "extract_lang_profile":
            assert any("MapInPandas" in sub for sub in subtrees), subtrees
        if name == "webtext_gate":
            assert _plan(df).count("ArrowEvalPython") == 1, _plan(df)
