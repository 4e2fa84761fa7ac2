"""Hashing embedder and dense vector ids; multimodal plumbing (sniff,
decode, crop, media metadata and pixel features)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from document_automation_spark.functions.embed import (
    assign_dense_vector_ids,
    embed_documents,
    embed_text,
    missing_embeddings,
)
from document_automation_spark.operators.multimodal import (
    crop_box,
    decode_image,
    media_metadata,
    sniff_format,
)


class TestEmbed:
    def test_embed_deterministic_normalized(self):
        v1 = embed_text("spark distributed dataframe engine")
        v2 = embed_text("spark distributed dataframe engine")
        assert v1 == v2
        norm = math.sqrt(sum(x * x for x in v1))
        assert norm == pytest.approx(1.0, abs=1e-3)

    def test_embed_documents_matches_kernel(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
        got = {r.doc_id: list(r.embedding) for r in embed_documents(docs).collect()}
        for r in docs.collect():
            expected = embed_text(r.text)
            assert got[r.doc_id] == pytest.approx(expected, abs=1e-6)

    def test_dense_vector_ids(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
        out = assign_dense_vector_ids(embed_documents(docs)).collect()
        ids = sorted(r.vector_id for r in out)
        assert ids == list(range(len(out)))  # dense 0-based (A9 parity)
        by_doc = sorted(out, key=lambda r: r.doc_id)
        assert [r.vector_id for r in by_doc] == ids  # ordered by doc_id

    def test_dense_ids_survive_cache_eviction(self, spark, sf_dir):
        """Ids must stay dense + identical when the persisted range
        partitioning is dropped and recomputed (RangePartitioner boundary
        sampling is seed-deterministic on the same input) — the correctness
        property the MEMORY_AND_DISK cache is an optimization for, not a
        dependency of."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
        handles: list = []
        out = assign_dense_vector_ids(embed_documents(docs), cache_registry=handles)
        first = {r.doc_id: r.vector_id for r in out.collect()}
        assert len(handles) == 1
        # evict the cached partitioning: the next materialization recomputes
        # through repartitionByRange from scratch
        handles[0].unpersist(blocking=True)
        second = {r.doc_id: r.vector_id for r in out.collect()}
        assert first == second
        assert sorted(second.values()) == list(range(len(second)))

    def test_missing_embeddings_resume_predicate(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
        partial = embed_documents(docs.filter(F.col("doc_id") < 10))
        missing = missing_embeddings(docs, partial)
        assert {r.doc_id for r in missing.select("doc_id").collect()} == {
            r.doc_id for r in docs.filter(F.col("doc_id") >= 10).collect()
        }


class TestMultimodal:
    def test_sniff_and_crop(self):
        assert sniff_format(b"\x89PNG\r\n") == "png"
        assert sniff_format(b"\xff\xd8\xff\xe0") == "jpeg"
        assert sniff_format(b"plain") is None
        # crop parity: int truncation (utils.py:31-34)
        assert crop_box(1000, 800) == (0, 40, 700, 720)
        assert crop_box(333, 555) == (0, 27, 233, 499)

    def test_decode_real_for_png_jpeg_gif(self):
        """Round-4 verdict #5: PNG/JPEG/GIF dims decode for REAL (stdlib
        header parse) — deterministic_fake no longer applies to them."""
        from document_automation_spark.kernels.image import encode_png

        png = encode_png(7, 5, 3, bytes((i % 256) for i in range(7 * 5 * 3)))
        assert decode_image(png) == (7, 5)
        # minimal JPEG: SOI + SOF0(h=33, w=77) — dims from the frame header
        import struct
        jpeg = (b"\xff\xd8\xff\xc0" + struct.pack(">H", 11)
                + b"\x08" + struct.pack(">HH", 33, 77) + b"\x01\x11\x00")
        assert decode_image(jpeg) == (77, 33)
        gif = b"GIF89a" + struct.pack("<HH", 12, 34) + b"\x00" * 3
        assert decode_image(gif) == (12, 34)
        # malformed PNG-intent payload quarantines via ValueError, never fake
        with pytest.raises(ValueError):
            decode_image(b"\x89PNG", deterministic_fake=True)

    def test_decode_seam_contract(self):
        """Beyond PNG/JPEG/GIF the seam remains: the error message must
        name the dependency and the plug-in point — it's the documented
        integration contract (PIL/cv2 are not installable here)."""
        with pytest.raises(NotImplementedError, match=r"PIL/cv2"):
            decode_image(b"RIFF....WAVE")
        with pytest.raises(NotImplementedError, match=r"plug the real decoder"):
            decode_image(b"")
        # fake path (non-image payloads only): pure function of the bytes
        assert decode_image(b"\x10abc\x20", deterministic_fake=True) == (
            320 + 0x10 * 4,
            240 + 0x20 * 3,
        )

    def test_fake_path_partition_count_invariance(self, spark):
        """Deterministic-fake decode must give identical rows whatever the
        partitioning — the retry/cluster determinism contract."""
        from document_automation_spark.operators.multimodal import media_features

        rows = [
            (f"m{i}", bytearray(bytes([i % 251]) + bytes(range(i % 97)) + bytes([i % 13])))
            for i in range(64)
        ]
        df = spark.createDataFrame(rows, "media_id string, payload binary")
        one = media_features(df.coalesce(1)).collect()
        many = media_features(df.repartition(16)).collect()

        def canon(rs):
            return sorted(
                (r.media_id, r.resize_w, r.resize_h, tuple(r.frame_offsets),
                 tuple(r.features), r.error)
                for r in rs
            )

        assert canon(one) == canon(many)

    def test_media_metadata_pipeline(self, spark):
        import struct

        from document_automation_spark.kernels.image import encode_png

        png = encode_png(640, 480, 3, bytes((i % 256) for i in range(640 * 480 * 3)))
        jpeg = (b"\xff\xd8\xff\xc0" + struct.pack(">H", 11)
                + b"\x08" + struct.pack(">HH", 480, 640) + b"\x01\x11\x00")
        rows = [
            ("m1", bytearray(png)),
            ("m2", bytearray(jpeg)),
            ("m3", None),
            ("m4", bytearray(b"\x89PNG\r\n\x1a\nrest")),  # malformed PNG
        ]
        df = spark.createDataFrame(rows, "media_id string, payload binary")
        got = {r.media_id: r for r in media_metadata(df).collect()}
        assert got["m1"].media_format == "png"
        assert (got["m1"].width, got["m1"].height) == (640, 480)  # REAL dims
        assert got["m2"].media_format == "jpeg"
        assert (got["m2"].width, got["m2"].height) == (640, 480)
        assert got["m1"].crop_right == int(640 * 0.70)
        assert got["m3"].error is not None
        assert got["m4"].error is not None and "ValueError" in got["m4"].error


class TestMediaFeatures:
    def test_resize_spec_math(self):
        from document_automation_spark.operators.multimodal import resize_spec

        assert resize_spec(1024, 512) == (256, 128)
        assert resize_spec(100, 200) == (100, 200)  # already small
        assert resize_spec(513, 1000) == (131, 256)

    def test_frame_offsets(self):
        from document_automation_spark.operators.multimodal import frame_sample_offsets

        offs = frame_sample_offsets(4096 * 100)
        assert len(offs) == 8
        assert offs[0] == 0
        assert offs == sorted(offs)
        assert frame_sample_offsets(10) == [0]  # tiny payload → one frame

    def test_feature_vector_normalized(self):
        from document_automation_spark.operators.multimodal import feature_vector

        v = feature_vector(b"\x00\x01\x02\x03" * 100)
        assert len(v) == 8
        assert abs(sum(v) - 1.0) < 1e-3
        assert feature_vector(b"\x00\x01\x02\x03" * 100) == v  # deterministic

    def test_media_features_pipeline(self, spark):
        from document_automation_spark.operators.multimodal import media_features

        from document_automation_spark.kernels.image import encode_png

        png = encode_png(512, 256, 1, bytes((i % 256) for i in range(512 * 256)))
        rows = [("m1", bytearray(png)), ("m2", None)]
        df = spark.createDataFrame(rows, "media_id string, payload binary")
        got = {r.media_id: r for r in media_features(df).collect()}
        assert got["m1"].error is None
        # resize spec derives from the REAL decoded dims (512x256 -> 256x128)
        assert (got["m1"].resize_w, got["m1"].resize_h) == (256, 128)
        assert got["m1"].frame_offsets[0] == 0
        assert abs(sum(got["m1"].features) - 1.0) < 1e-3
        assert got["m2"].error is not None


class TestDenseIdInvariance:
    def test_ids_invariant_to_partitioning(self, spark, sf_dir):
        """Partition-offset id assignment must equal the global row_number
        regardless of input partitioning."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        emb = embed_documents(docs)
        expected = {
            r.doc_id: i
            for i, r in enumerate(sorted(emb.collect(), key=lambda r: r.doc_id))
        }
        for n, src in enumerate((emb.coalesce(1), emb.repartition(16), emb)):
            got = {
                r.doc_id: r.vector_id for r in assign_dense_vector_ids(src).collect()
            }
            assert got == expected, n


class TestPixelFeatures:
    def test_luma_histogram_from_real_pixels(self):
        """pixel_feature_vector is a true image statistic: a PNG of pure
        black and pure white pixels lands exactly in the first and last
        brightness bands, regardless of compressed byte layout."""
        from document_automation_spark.kernels.image import encode_png
        from document_automation_spark.operators.multimodal import pixel_feature_vector

        px = bytes([0] * 32 + [255] * 32)  # 8x8 gray: half black, half white
        v = pixel_feature_vector(encode_png(8, 8, 1, px))
        assert v[0] == 0.5 and v[-1] == 0.5
        assert sum(v) == 1.0

    def test_media_features_uses_pixels_for_png(self, spark):
        from document_automation_spark.kernels.image import encode_png
        from document_automation_spark.operators.multimodal import media_features

        png = encode_png(8, 8, 1, bytes([0] * 32 + [255] * 32))
        df = spark.createDataFrame([("m1", bytearray(png))], "media_id string, payload binary")
        row = media_features(df).collect()[0]
        assert row.error is None
        assert abs(row.features[0] - 0.5) < 1e-6
        assert abs(row.features[-1] - 0.5) < 1e-6

    def test_corrupt_body_behind_valid_header_falls_back_not_quarantines(self, spark):
        """Round-4 review: zlib.error/IndexError from a malformed body
        must not escape pixel_feature_vector — the row keeps byte-sketch
        features with error=None (dims were decodable)."""
        import struct as _s
        import zlib as _z

        from document_automation_spark.operators.multimodal import (
            media_features,
            pixel_feature_vector,
        )

        def chunk(name, body):
            return (_s.pack(">I", len(body)) + name + body
                    + _s.pack(">I", _z.crc32(name + body) & 0xFFFFFFFF))

        ihdr = _s.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
        corrupt = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                   + chunk(b"IDAT", b"\x42" * 20) + chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="undecodable pixels"):
            pixel_feature_vector(corrupt)
        df = spark.createDataFrame(
            [("m1", bytearray(corrupt))], "media_id string, payload binary"
        )
        row = media_features(df).collect()[0]
        assert row.error is None  # dims fine, features = byte sketch
        assert abs(sum(row.features) - 1.0) < 1e-3

    def test_size_cap_routes_large_payloads_to_sketch(self, spark):
        from document_automation_spark.kernels.image import encode_png
        from document_automation_spark.operators.multimodal import (
            feature_vector,
            media_features,
        )

        png = encode_png(8, 8, 1, bytes([0] * 32 + [255] * 32))
        df = spark.createDataFrame(
            [("m1", bytearray(png))], "media_id string, payload binary"
        )
        row = media_features(df, max_pixel_decode_bytes=10).collect()[0]
        assert row.error is None
        expect = feature_vector(png)  # byte sketch, NOT the luma histogram
        assert all(
            abs(a - b) < 1e-6 for a, b in zip(row.features, expect)
        )
