"""Local replica of the driver's correctness gate: run each queries()
entry on Spark at sf0.01 and its oracle_sql() on DuckDB over the same
parquet, compare row count + order-insensitive values."""

import math
import os

import duckdb
import pytest

import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from conftest import SF_ORACLE

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for _, c in sorted(zip(cols, cols))], out


def all_query_names():
    from downloader_spark.queries import ORACLE

    return sorted(ORACLE)


@pytest.mark.parametrize("name", all_query_names())
def test_query_matches_oracle(spark, name):
    from downloader_spark.queries import ORACLE, Q

    sdf = Q[name](spark, SF_ORACLE)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns

    con = _duck(SF_ORACLE)
    res = con.execute(ORACLE[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    _, s_norm = _norm_rows(spark_cols, [tuple(r) for r in spark_rows])
    _, d_norm = _norm_rows(duck_cols, duck_rows)
    mismatches = [
        (a, b) for a, b in zip(s_norm, d_norm) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_rows_only_queries_run(spark):
    """Queries without oracle SQL still must run and return rows."""
    from downloader_spark.queries import ORACLE, Q

    for name in sorted(set(Q) - set(ORACLE)):
        df = Q[name](spark, SF_ORACLE)
        assert len(df.take(1)) >= 0, name  # schema + executability
        assert df.count() > 0, f"{name} returned no rows"


def test_entry_smoke(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"lang", "n_pages", "total_text_chars", "n_needs_render"} <= set(df.columns)
