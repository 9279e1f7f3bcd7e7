"""Multi-format fan-out (C7) semantics + stateful streaming seen filters."""

import pytest
from pyspark.sql import functions as F

from downloader_spark.functions.udfs import extract_udf
from downloader_spark.operators.formats import FORMAT_TO_MIME, multi_format_results


def _extracted(spark):
    html = (
        b"<html><body><article><h1>T</h1><p>Body content here.</p>"
        b"</article></body></html>"
    )
    df = spark.createDataFrame(
        [("http://a.example/1", html)], "url string, html binary"
    )
    return df.withColumn("ex", extract_udf("url", "html", F.lit("text/html")))


def test_fanout_payloads(spark):
    import base64

    ex = _extracted(spark).withColumn(
        "formats",
        F.array(*[F.lit(f) for f in ("text", "markdown", "json", "raw", "pdf")]),
    )
    rows = {r["format"]: r for r in multi_format_results(ex).collect()}
    assert set(rows) == {"text", "markdown", "json", "raw", "pdf"}
    assert rows["text"]["payload"] == "T Body content here."
    assert "# T" in rows["markdown"]["payload"]
    assert rows["raw"]["error_type"] is None
    decoded = base64.b64decode(rows["raw"]["payload"])
    assert decoded.startswith(b"<html>")
    assert '"success":true' in rows["json"]["payload"]
    # S5: pdf is browser-bound → typed error row, not a drop
    assert rows["pdf"]["payload"] is None
    assert rows["pdf"]["error_type"] == "unsupported_format"
    for fmt, r in rows.items():
        assert r["mime"] == FORMAT_TO_MIME[fmt]


def test_requested_subset_only(spark):
    ex = _extracted(spark).withColumn("formats", F.array(F.lit("text")))
    rows = multi_format_results(ex).collect()
    assert [r["format"] for r in rows] == ["text"]


def test_parse_accepts_mapping(spark):
    """P5 parse_accept_headers parity (content_processor.py:81-140):
    exact media-type → format mapping, unsupported dropped, ;q stripped,
    order-preserving dedupe."""
    import pyspark.sql.functions as F

    from downloader_spark.operators.formats import parse_accepts

    cases = [
        ("text/html, application/json;q=0.9, text/html", ["html", "json"]),
        ("text/markdown;q=0.8, text/plain, text/x-markdown", ["markdown", "text"]),
        ("application/pdf, */*;q=0.1", ["pdf"]),  # */* unsupported → dropped
        ("*/*", []),
        ("TEXT/HTML", ["html"]),  # case-insensitive
        (" text/plain ; q=0.5 ,application/json", ["text", "json"]),
        ("image/png, video/mp4", []),  # all unsupported
    ]
    df = spark.createDataFrame([(i, c[0]) for i, c in enumerate(cases)], "i int, accept string")
    got = {r["i"]: r["fmts"] for r in df.select("i", parse_accepts(F.col("accept")).alias("fmts")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


class TestStreamingSeenFilter:
    @pytest.mark.parametrize("mode", ["bloom", "cuckoo"])
    def test_first_seen_exactly_once_across_restart(self, spark, tmp_path, mode):
        """Streaming seen-filter (Bloom AND cuckoo state — VERDICT r3
        #6): every distinct url is first_seen exactly once across
        micro-batches AND across a checkpoint restart; repeats
        (in-batch and cross-batch) are flagged false. Geometry sized so
        FP=0 at test scale."""
        from downloader_spark.streaming.stateful import (
            streaming_seen_filter,
            streaming_seen_filter_cuckoo,
        )

        urls1 = [(f"http://h{i % 7}.example/p/{i}",) for i in range(300)]
        urls1 += urls1[:120]  # in-run repeats
        urls2 = [(f"http://h{i % 7}.example/p/{i}",) for i in range(150, 450)]
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        df1 = spark.createDataFrame(urls1, "url string")
        df1.write.mode("append").parquet(src)

        emitted: list = []

        def drain():
            stream = spark.readStream.schema("url string").parquet(src)

            def sink(batch_df, _bid):
                emitted.extend(
                    (r["url"], r["first_seen"]) for r in batch_df.collect()
                )

            if mode == "bloom":
                filtered = streaming_seen_filter(
                    stream, num_buckets=8, bits_per_bucket=1 << 16, num_hashes=5
                )
            else:
                filtered = streaming_seen_filter_cuckoo(
                    stream, num_buckets=8, table_rows=1 << 10
                )
            q = (
                filtered.writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()

        drain()
        spark.createDataFrame(urls2, "url string").write.mode("append").parquet(src)
        drain()  # resumes from checkpoint: run-1 urls must NOT re-emit as new

        all_urls = {u for u, _ in emitted}
        firsts = [u for u, f in emitted if f]
        assert len(emitted) == len(urls1) + len(urls2)
        assert sorted(firsts) == sorted(set(firsts)), "a url was first_seen twice"
        assert set(firsts) == all_urls == {u for (u,) in urls1 + urls2}

    @pytest.mark.parametrize("mode", ["bloom", "cuckoo"])
    def test_overfilled_state_fails_loudly(self, spark, tmp_path, mode):
        """A state bucket filled past the capacity its geometry was sized
        for fails the batch, naming the bucket: with no exact anti-join
        behind the streaming filter, its false positives would silently
        drop new urls."""
        from downloader_spark.streaming.stateful import (
            streaming_seen_filter,
            streaming_seen_filter_cuckoo,
        )

        src = str(tmp_path / "src")
        spark.createDataFrame(
            [(f"http://h.example/o/{i}",) for i in range(200)], "url string"
        ).write.parquet(src)
        stream = spark.readStream.schema("url string").parquet(src)
        if mode == "bloom":  # capacity ~7 urls at the target FP rate
            filtered = streaming_seen_filter(
                stream, num_buckets=1, bits_per_bucket=64, num_hashes=2
            )
        else:  # capacity 8 urls (half of 4 rows x 4 slots)
            filtered = streaming_seen_filter_cuckoo(stream, num_buckets=1, table_rows=4)
        q = (
            filtered.writeStream.foreachBatch(lambda df, _bid: df.count())
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="seen filter bucket 0 holds"):
            q.awaitTermination()
        q.stop()

    def test_cuckoo_streaming_state_matches_batch_filter(self, spark, tmp_path):
        """The checkpointed streaming cuckoo state uses the SAME
        fingerprint arithmetic as the batch filter: a batch-built
        filter over the drained urls probes every streamed url as seen
        (and the streaming run's first_seen set equals the distinct
        urls) — the bit-compatibility claim in the docstring."""
        from downloader_spark.plans.cuckoo import (
            build_cuckoo,
            cuckoo_maybe_seen_cogroup,
        )
        from downloader_spark.streaming.stateful import streaming_seen_filter_cuckoo

        urls = [(f"http://h{i % 5}.example/q/{i}",) for i in range(200)]
        src = str(tmp_path / "src2")
        spark.createDataFrame(urls, "url string").write.parquet(src)
        emitted: list = []

        def sink(batch_df, _bid):
            emitted.extend((r["url"], r["first_seen"]) for r in batch_df.collect())

        geo = dict(num_buckets=4, table_rows=1 << 10)
        stream = spark.readStream.schema("url string").parquet(src)
        q = (
            streaming_seen_filter_cuckoo(stream, **geo)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        assert {u for u, f in emitted if f} == {u for (u,) in urls}
        batch_filt = build_cuckoo(
            spark.createDataFrame(urls, "url string"), **geo
        )
        probed = cuckoo_maybe_seen_cogroup(
            spark.createDataFrame(urls, "url string"), batch_filt, **geo
        )
        assert probed.filter("NOT maybe_seen").count() == 0


def test_parse_accepts_randomized_python_parity(spark):
    """400 seeded random Accept headers (junk tokens, q-params, casing,
    whitespace, duplicates) through ONE Spark batch vs a pure-python
    port of the reference algorithm (content_processor.py:81-140)."""
    import random

    import pyspark.sql.functions as F

    from downloader_spark.operators.formats import MIME_TO_FORMAT, parse_accepts

    def py_parse(header: str) -> list[str]:
        formats = []
        for part in header.split(","):
            media_type = part.strip().split(";")[0].strip().lower()
            fmt = MIME_TO_FORMAT.get(media_type)
            if fmt is not None:
                formats.append(fmt)
        seen, out = set(), []
        for f in formats:
            if f not in seen:
                seen.add(f)
                out.append(f)
        return out

    rng = random.Random(7)
    tokens = list(MIME_TO_FORMAT) + [
        "*/*", "image/png", "TEXT/HTML", "Text/Plain", "video/mp4",
        "application/JSON", "text/markdown ", " application/pdf",
    ]
    headers = []
    for _ in range(400):
        parts = []
        for _ in range(rng.randint(1, 6)):
            t = rng.choice(tokens)
            if rng.random() < 0.4:
                t += f";q={rng.random():.1f}"
            if rng.random() < 0.3:
                t = " " + t + "  "
            parts.append(t)
        headers.append(",".join(parts))

    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(headers)], "i int, accept string"
    )
    got = {
        r["i"]: list(r["fmts"])
        for r in df.select("i", parse_accepts(F.col("accept")).alias("fmts")).collect()
    }
    for i, h in enumerate(headers):
        assert got[i] == py_parse(h), (h, got[i], py_parse(h))
