"""Parity: pure-Python xxh64 == Spark native xxhash64 (the engine's URL
key — crawl ordering in the oracle/simulator depends on this)."""

from pyspark.sql import functions as F

from downloader_spark.functions.hashing import xxh64, xxh64_str


def test_known_vectors_spark_parity(spark):
    samples = [
        "",
        "a",
        "abc",
        "http://example.com/",
        "https://sub.domain.example.org/path?a=1&b=2",
        "exactly-8",
        "longer-than-32-bytes-string-for-the-main-loop-branch!",
        "世界🌍 unicode",
        "x" * 1000,
    ]
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in samples:
        assert xxh64_str(s) == got[s], f"mismatch for {s!r}"


def test_bytes_and_str_agree():
    assert xxh64(b"hello") == xxh64_str("hello")
