"""Multimodal binary-column operators: schema, byte-parsing alignment,
stub gating (SURVEY.md training-data extension; BASELINE.json input_hint
interleaved text+media shape)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from urbanistic_polygons_spark.catalog.spans import q_spans_spark
from urbanistic_polygons_spark.operators import multimodal as MM

SF = "/root/testdata/sf0.001"


def _media(spark):
    return MM.media_table(q_spans_spark(spark, SF))


def test_media_table_payload_bytes(spark):
    row = _media(spark).orderBy("media_ref").first()
    assert len(row.payload) == MM.PAYLOAD_BYTES
    # payload == unhex(md5 chain) of the ref
    expect = bytes.fromhex("".join(
        hashlib.md5((row.media_ref + s).encode()).hexdigest()
        for s in ["", "1", "2", "3"]))
    assert bytes(row.payload) == expect
    assert row.kind in MM.KINDS


def test_decode_meta_matches_python_parse(spark):
    media = _media(spark)
    meta = MM.decode_media_meta(media).orderBy("media_ref").limit(5).collect()
    raw = {r.media_ref: (bytes(r.payload), r.kind)
           for r in media.orderBy("media_ref").limit(5).collect()}
    for m in meta:
        payload, kind = raw[m.media_ref]
        assert m.kind == kind
        if kind in ("image", "video"):
            assert m.width == int.from_bytes(payload[0:2], "big") % 1024 + 16
            assert m.height == int.from_bytes(payload[2:4], "big") % 1024 + 16
        else:
            assert m.width == 0 and m.height == 0


def test_frame_hex_is_payload_slice(spark):
    media = _media(spark)
    frames = MM.frame_sample(media, stride=2)
    f = frames.orderBy("media_ref", "frame_idx").first()
    payload = bytes(media.filter(
        F.col("media_ref") == f.media_ref).first().payload)
    lo = f.frame_idx * MM.FRAME_BYTES
    assert f.frame_hex == payload[lo:lo + MM.FRAME_BYTES].hex()


def test_features_dim_and_range(spark):
    feats = MM.media_features(_media(spark), dim=8)
    per_ref = feats.groupBy("media_ref").count().select(
        F.min("count"), F.max("count")).first()
    assert per_ref == (8, 8)
    rng = feats.select(F.min("feat"), F.max("feat")).first()
    assert rng[0] >= 0 and rng[1] <= 0xFFFF


def test_real_decode_is_stubbed(spark):
    with pytest.raises(NotImplementedError, match="Pillow"):
        MM.decode_image_real(_media(spark))
