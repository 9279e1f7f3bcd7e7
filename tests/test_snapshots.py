"""Snapshot warehouse unit tests: commit/read/pointer/lineage/expiry."""

import json
import os

import pytest

from downloader_spark.sources.snapshots import SnapshotWarehouse


@pytest.fixture()
def wh(tmp_path):
    return SnapshotWarehouse(str(tmp_path / "wh"))


def _df(spark, n, start=0):
    return spark.range(start, start + n).selectExpr("id", "id * 2 AS v")


def test_commit_read_roundtrip(spark, wh):
    s0 = wh.commit(_df(spark, 10), "t", wave=1)
    assert s0 == 0
    got = wh.read(spark, "t").collect()
    assert {r["id"] for r in got} == set(range(10))


def test_snapshots_are_immutable_history(spark, wh):
    wh.commit(_df(spark, 5), "t", wave=1)
    wh.commit(_df(spark, 7, start=100), "t", wave=2)
    assert wh.current_id("t") == 1
    # old snapshot still readable by id (resume-from-any-snapshot)
    old = wh.read(spark, "t", 0).collect()
    assert {r["id"] for r in old} == set(range(5))
    new = wh.read(spark, "t").collect()
    assert {r["id"] for r in new} == set(range(100, 107))


def test_lineage_counts(spark, wh):
    wh.commit(_df(spark, 42).repartition(4), "t", wave=1)
    snap = wh.snapshots("t")[-1]
    assert snap["n_rows"] == 42
    assert snap["n_partitions"] >= 1
    assert sum(p["n_rows"] for p in snap["partitions"]) == 42


def test_expire_snapshots(spark, wh):
    for w in range(4):
        wh.commit(_df(spark, 3, start=w * 10), "t", wave=w)
    dropped = wh.expire_snapshots("t", keep_last=2)
    assert dropped == [0, 1]
    assert [s["id"] for s in wh.snapshots("t")] == [2, 3]
    with pytest.raises(FileNotFoundError):
        wh.read(spark, "t", 0)
    assert wh.read(spark, "t").count() == 3


def test_read_missing_table_raises(spark, wh):
    with pytest.raises(FileNotFoundError):
        wh.read(spark, "nope")


def test_meta_is_atomic_json(spark, wh):
    wh.commit(_df(spark, 1), "t", wave=1)
    meta_path = os.path.join(wh.root, "t", "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["current"] == 0
    assert not os.path.exists(meta_path + ".tmp")


def _job_ids(spark, group):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_read_of_stored_schema_launches_no_job(spark, wh):
    wh.commit(_df(spark, 10), "t", wave=1)
    sc = spark.sparkContext
    group = "snapshot-read-no-job"
    sc.setJobGroup(group, "snapshot read")
    try:
        before = _job_ids(spark, group)
        df = wh.read(spark, "t")
        after = _job_ids(spark, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after == before  # no Parquet schema-inference job
    assert {r["id"] for r in df.collect()} == set(range(10))


def test_stored_schema_is_the_parquet_schema(spark, wh):
    df = spark.createDataFrame(
        [(1, [1.0], {"k": "v"}, ("a", 2))],
        "id long not null, xs array<double>, m map<string,string>, "
        "s struct<a:string not null, b:int>",
    )
    wh.commit(df, "t", wave=1)
    written = spark.read.parquet(wh._snap_dir("t", 0)).schema
    assert wh.read(spark, "t").schema == written


def test_entry_without_schema_still_reads(spark, wh):
    """Warehouses written before snapshot entries carried a schema
    fall back to Parquet schema inference."""
    wh.commit(_df(spark, 5), "t", wave=1)
    meta_path = os.path.join(wh.root, "t", "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["snapshots"][0]["schema"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    got = wh.read(spark, "t")
    assert got.schema == spark.read.parquet(wh._snap_dir("t", 0)).schema
    assert {r["id"] for r in got.collect()} == set(range(5))
