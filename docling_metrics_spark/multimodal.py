"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

The interleaved corpus carries media spans as references
(``media_ref = media://<doc_id>/<offset>``, datagen.py). At 100 TB the
payload bytes live in the lake next to the text; this module provides the
engine's media path:

- ``media_table``: explode a documents DataFrame's image spans into a media
  table ``(doc_id, media_ref, media_type, width, height, payload BINARY)``.
  Payload bytes are synthesized deterministically from the media_ref (a
  16-byte header ``b"DMSK" + type + width + height + n_bytes`` followed by a
  SHA-256 keystream) — the container has no image/audio codecs, so the
  *bytes* are fake but the Spark plumbing (binary column through Arrow,
  batch shapes, schema) is real and tested.
- ``decode_media_features``: ``mapInPandas`` decode/feature-extract. The
  header parse is real; the pixel-level decode is STUBBED — it tries PIL
  and falls back to deterministic byte-level features (mean byte value,
  distinct-byte count, checksum). Swap ``_decode_stub`` for a real codec on
  a cluster with the libs installed.
- ``sample_frames``: video-style frame sampling — every k-th fixed-size
  block of the payload is a "frame"; emits one row per sampled frame
  (``mapInPandas`` with row fan-out, the same batch shape a real
  ffmpeg-backed sampler would use).

Scale notes: media rows are value-heavy/row-few — Arrow batch size is
bytes-bound, so ``maxRecordsPerBatch`` (session.py) caps worker memory;
the explode is narrow (no shuffle); downstream joins back to documents are
on doc_id and co-partition with the text path.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

MAGIC = b"DMSK"
HEADER = struct.Struct(">4sBHHI")  # magic, media_type, width, height, n_bytes
MEDIA_TYPES = {0: "image", 1: "audio", 2: "video"}

MEDIA_SCHEMA = (
    "doc_id string, media_ref string, media_type string, "
    "width int, height int, payload binary"
)

FEATURES_SCHEMA = (
    "doc_id string, media_ref string, media_type string, width int, "
    "height int, n_bytes int, mean_byte double, n_distinct_bytes int, "
    "checksum string, decoder string"
)

FRAMES_SCHEMA = (
    "doc_id string, media_ref string, frame_index int, frame_checksum string"
)
#: ``sample_frames`` keeps every ``FRAME_EVERY``-th ``FRAME_BYTES``-byte
#: block of a payload's body (the bytes after its header).
FRAME_EVERY = 4
FRAME_BYTES = 256


def synth_payload(media_ref: str, media_type: int = 0,
                  width: int = 64, height: int = 48) -> bytes:
    """Deterministic fake media bytes: parseable header + SHA-256 keystream."""
    n_body = width * height // 4
    head = HEADER.pack(MAGIC, media_type, width, height, n_body)
    out, seed, i = [], media_ref.encode(), 0
    while sum(map(len, out)) < n_body:
        out.append(hashlib.sha256(seed + i.to_bytes(4, "big")).digest())
        i += 1
    return head + b"".join(out)[:n_body]


def media_table(docs: DataFrame) -> DataFrame:
    """Explode image spans → media rows with synthesized binary payloads."""
    media_refs = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.col("spans"), lambda s: s.kind == F.lit("image"))
        ).alias("s"),
    ).select("doc_id", F.col("s.media_ref").alias("media_ref"),
             F.col("s.offset").alias("offset"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref, off in zip(pdf["doc_id"], pdf["media_ref"], pdf["offset"]):
                mt = int(off) % 3
                w, h = 64 + (int(off) % 4) * 32, 48 + (int(off) % 3) * 16
                rows.append({
                    "doc_id": doc_id, "media_ref": ref,
                    "media_type": MEDIA_TYPES[mt], "width": w, "height": h,
                    "payload": synth_payload(ref, mt, w, h),
                })
            yield pd.DataFrame(rows, columns=[
                "doc_id", "media_ref", "media_type", "width", "height", "payload"
            ])

    return media_refs.mapInPandas(gen, schema=MEDIA_SCHEMA)


def _decode_stub(payload: bytes) -> dict:
    """Parse the real header, then feature-extract.

    Real pixel decode is unavailable in this container; PIL is attempted
    and the deterministic byte-level fallback keeps the pipeline testable.

    A truncated or hostile payload must degrade to an error-sentinel row
    (the engine's convention everywhere else), never kill the task:
    ``unpack_from`` raises ``struct.error`` on short input, which is NOT
    a ``ValueError`` subclass."""
    try:
        magic, media_type, width, height, n_body = HEADER.unpack_from(payload)
        if magic != MAGIC or not (0 <= media_type < len(MEDIA_TYPES)):
            raise ValueError("bad media header")
    except (struct.error, ValueError):
        return {
            "media_type": "error", "width": -1, "height": -1,
            "n_bytes": len(payload), "mean_byte": -1.0,
            "n_distinct_bytes": -1, "checksum": "",
            "decoder": "error",
        }
    body = payload[HEADER.size:HEADER.size + n_body]
    decoder = "stub"
    try:  # pragma: no cover - codec not installed in sandbox
        import io

        from PIL import Image  # noqa: F401

        Image.open(io.BytesIO(body))  # would raise on fake bytes anyway
        decoder = "pil"
    except Exception:
        pass
    return {
        "media_type": MEDIA_TYPES[media_type],
        "width": width,
        "height": height,
        "n_bytes": len(body),
        "mean_byte": float(sum(body)) / max(len(body), 1),
        "n_distinct_bytes": len(set(body)),
        # md5 over the LOWERCASE-HEX body, not the raw bytes: DuckDB's
        # md5() is VARCHAR-only (cannot hash BLOBs — CLAUDE.md pitfall),
        # so a hex-domain fingerprint is what makes this column
        # cross-engine verifiable. Same content-addressing power.
        "checksum": hashlib.md5(body.hex().encode()).hexdigest(),
        "decoder": decoder,
    }


def decode_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas decode/feature-extract over binary payloads."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref, payload in zip(
                pdf["doc_id"], pdf["media_ref"], pdf["payload"]
            ):
                feat = _decode_stub(bytes(payload))
                feat.update({"doc_id": doc_id, "media_ref": ref})
                rows.append(feat)
            yield pd.DataFrame(rows, columns=[
                "doc_id", "media_ref", "media_type", "width", "height",
                "n_bytes", "mean_byte", "n_distinct_bytes", "checksum",
                "decoder",
            ])

    return media.mapInPandas(decode, schema=FEATURES_SCHEMA)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling over video payloads: every ``FRAME_EVERY``-th
    ``FRAME_BYTES``-byte block."""

    header_size = HEADER.size  # plain int: struct.Struct doesn't pickle

    def sampler(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref, payload in zip(
                pdf["doc_id"], pdf["media_ref"], pdf["payload"]
            ):
                body = bytes(payload)[header_size:]
                n_frames = max(len(body) // FRAME_BYTES, 1)
                for i in range(0, n_frames, FRAME_EVERY):
                    frame = body[i * FRAME_BYTES:(i + 1) * FRAME_BYTES]
                    rows.append({
                        "doc_id": doc_id, "media_ref": ref, "frame_index": i,
                        # hex-domain md5, same rationale as _decode_stub
                        "frame_checksum": hashlib.md5(
                            frame.hex().encode()
                        ).hexdigest(),
                    })
            yield pd.DataFrame(rows, columns=[
                "doc_id", "media_ref", "frame_index", "frame_checksum"
            ])

    return media.filter(F.col("media_type") == "video").mapInPandas(
        sampler, schema=FRAMES_SCHEMA
    )
