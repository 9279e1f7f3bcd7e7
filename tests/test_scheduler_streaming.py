"""Multimodal plumbing: media features, frame sampling and the resize
path, each checked against a pure-Python or numpy recompute."""


class TestMultimodal:
    def test_media_features_plumbing(self, spark):
        from downloader_spark.multimodal import (
            media_features_udf,
            sample_frames_plan,
            synth_media_from_embeddings,
        )

        media = synth_media_from_embeddings(spark, "/root/testdata/sf0.001")
        feats = media_features_udf(media)
        rows = feats.limit(10).collect()
        assert len(rows) == 10
        for r in rows:
            assert r["n_bytes"] > 0
            assert 0.0 <= r["byte_entropy"] <= 4.0  # 16 bins → ≤ log2(16)
            assert len(r["histogram"]) == 16
            assert sum(r["histogram"]) == r["n_bytes"]

        frames = sample_frames_plan(media.limit(5), every_ms=500)
        frows = frames.collect()
        assert len(frows) > 5  # exploded
        for r in frows:
            assert r["frame_ts_ms"] % 500 == 0

    def test_decode_stub_gated(self):
        import pytest as _pytest

        from downloader_spark.multimodal import decode_image_stub

        with _pytest.raises(NotImplementedError):
            decode_image_stub(b"\x00" * 100)
        fake = decode_image_stub(b"\x00" * 100, deterministic_fake=True)
        assert fake.shape == (10, 10)

    def test_media_feature_values_match_python_recompute(self, spark):
        """Not just plumbing: n_bytes/mean/entropy/histogram must equal
        a pure-python recompute over the same payload bytes (the
        rows-only driver check for media_features leans on this)."""
        import math

        from downloader_spark.multimodal import (
            media_features_udf,
            synth_media_from_embeddings,
        )

        media = synth_media_from_embeddings(spark, "/root/testdata/sf0.001")
        sample = media.limit(20)
        payloads = {r["media_id"]: bytes(r["payload"]) for r in sample.collect()}
        feats = {r["media_id"]: r for r in media_features_udf(sample).collect()}
        for mid, blob in payloads.items():
            n = len(blob)
            hist = [0] * 16
            for b in blob:
                hist[b >> 4] += 1
            mean = round(sum(blob) / n, 6)
            ent = round(-sum((c / n) * math.log2(c / n) for c in hist if c), 6)
            r = feats[mid]
            assert r["n_bytes"] == n
            assert r["byte_sum"] == sum(blob)
            assert r["byte_mean"] == mean
            assert r["byte_entropy"] == ent
            assert list(r["histogram"]) == hist

    def test_resize_block_mean_matches_numpy_recompute(self, spark):
        """Resize plumbing: decode(fake) → exact integer block-mean
        downsample; sums and digests must equal a pure-numpy recompute
        over the same payload bytes, and tiny payloads clamp out_side
        to the decoded side."""
        import hashlib

        import numpy as np

        from downloader_spark.multimodal import (
            decode_image_stub,
            resize_block_mean_udf,
            synth_media_from_embeddings,
        )

        media = synth_media_from_embeddings(spark, "/root/testdata/sf0.001")
        sample = media.limit(15)
        payloads = {r["media_id"]: bytes(r["payload"]) for r in sample.collect()}
        got = {
            r["media_id"]: r
            for r in resize_block_mean_udf(sample, out_side=8).collect()
        }
        for mid, blob in payloads.items():
            img = decode_image_stub(blob, deterministic_fake=True)
            side = img.shape[0]
            k = min(8, side)
            bounds = (np.arange(k + 1) * side) // k
            small = np.empty((k, k), dtype=np.int64)
            for i in range(k):
                for j in range(k):
                    blk = img[bounds[i]:bounds[i+1], bounds[j]:bounds[j+1]]
                    small[i, j] = int(blk.sum()) // blk.size
            r = got[mid]
            assert r["in_side"] == side and r["out_side"] == k
            assert r["pixel_sum"] == int(small.sum())
            assert r["pixel_digest"] == hashlib.md5(
                small.astype(np.uint8).tobytes()
            ).hexdigest()
        # tiny payload → decoded side < out_side → clamped, no crash
        tiny = spark.createDataFrame(
            [(1, bytearray(b"abcdef"))], "media_id long, payload binary"
        )
        row = resize_block_mean_udf(tiny, out_side=8).collect()[0]
        assert row["in_side"] == 2 and row["out_side"] == 2

    def test_resize_handles_empty_and_null_payloads(self, spark):
        from downloader_spark.multimodal import decode_image_stub, resize_block_mean_udf

        assert decode_image_stub(b"", deterministic_fake=True).shape == (1, 1)
        df = spark.createDataFrame(
            [(1, bytearray(b"")), (2, None)], "media_id long, payload binary"
        )
        rows = {r["media_id"]: r for r in resize_block_mean_udf(df).collect()}
        for mid in (1, 2):
            assert rows[mid]["in_side"] == 1 and rows[mid]["pixel_sum"] == 0
