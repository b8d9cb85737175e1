"""Multimodal binary-column plumbing: schema, header parse, determinism."""

import hashlib

from pyspark.sql import functions as F

from docling_metrics_spark.datagen import generate_documents_df
from docling_metrics_spark.multimodal import (
    FRAME_EVERY,
    HEADER,
    MAGIC,
    decode_media_features,
    media_table,
    sample_frames,
    synth_payload,
)


def test_synth_payload_header_roundtrip():
    p = synth_payload("media://doc_x/3", media_type=2, width=96, height=64)
    magic, mt, w, h, n = HEADER.unpack_from(p)
    assert magic == MAGIC and mt == 2 and (w, h) == (96, 64)
    assert len(p) == HEADER.size + n
    # deterministic
    assert p == synth_payload("media://doc_x/3", media_type=2, width=96, height=64)


def test_media_table_schema_and_payloads(spark):
    docs = generate_documents_df(spark, 40)
    media = media_table(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    rows = media.collect()
    n_image_spans = docs.select(
        F.explode(F.filter("spans", lambda s: s.kind == F.lit("image")))
    ).count()
    assert len(rows) == n_image_spans > 0
    for r in rows[:5]:
        magic, mt, w, h, n = HEADER.unpack_from(bytes(r.payload))
        assert magic == MAGIC and (w, h) == (r.width, r.height)


def test_decode_features_deterministic(spark):
    docs = generate_documents_df(spark, 30)
    media = media_table(docs)
    feats = decode_media_features(media).orderBy("media_ref").collect()
    assert len(feats) > 0
    for f_ in feats[:5]:
        payload = synth_payload(
            f_.media_ref,
            {"image": 0, "audio": 1, "video": 2}[f_.media_type],
            f_.width,
            f_.height,
        )
        body = payload[HEADER.size:]
        assert f_.n_bytes == len(body)
        assert f_.checksum == hashlib.md5(body.hex().encode()).hexdigest()
        assert f_.decoder == "stub"  # no codec libs in sandbox


def test_hostile_payload_degrades_to_error_row(spark):
    """A truncated or garbage payload must emit an error-sentinel row via
    decode_media_features end-to-end (struct.error on short input must not
    kill the executor task)."""
    hostile = [
        ("d0", "media://d0/0", b""),                     # empty
        ("d1", "media://d1/0", b"DMSK"),                 # truncated header
        ("d2", "media://d2/0", b"\x00" * 5),             # short garbage
        ("d3", "media://d3/0", b"XXXX" + b"\x00" * 20),  # bad magic
        ("d4", "media://d4/0", MAGIC + b"\xff" * 20),    # bad media_type
    ]
    media = spark.createDataFrame(
        [(d, r, 0, 0, bytearray(p)) for d, r, p in hostile],
        "doc_id string, media_ref string, width int, height int, payload binary",
    ).withColumn("media_type", F.lit("image")).select(
        "doc_id", "media_ref", "media_type", "width", "height", "payload"
    )
    rows = decode_media_features(media).collect()
    assert len(rows) == len(hostile)
    for r in rows:
        assert r.decoder == "error" and r.media_type == "error"
        assert r.width == -1 and r.checksum == ""


def test_multimodal_query_plans_end_at_mapinpandas(spark):
    """VERDICT r3 #2: both multimodal queries must end at the mapInPandas
    node — no terminal sort (whose range-partitioner sampling pass would
    re-execute the whole UDF subtree)."""
    from docling_metrics_spark.plans.queries import (
        media_frame_sample,
        multimodal_features,
    )

    for q in (multimodal_features, media_frame_sample):
        plan = q(spark, "/root/testdata/sf0.001")._jdf.queryExecution(
        ).explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Sort" not in plan and "Exchange" not in plan, q.__name__
        assert "MapInPandas" in plan


def test_frame_sampling(spark):
    docs = generate_documents_df(spark, 60)
    media = media_table(docs)
    frames = sample_frames(media)
    rows = frames.collect()
    n_videos = media.filter("media_type = 'video'").count()
    if n_videos == 0:
        return
    assert len(rows) > 0
    assert {r.frame_index % FRAME_EVERY for r in rows} == {0}
