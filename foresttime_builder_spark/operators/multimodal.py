"""Multimodal (image/audio/video) column handling for training-data pipelines.

Convention: media travels as an opaque ``binary`` payload column plus typed
metadata columns; decode / feature-extraction / resize / frame-sampling run
as Arrow-batched ``mapInPandas`` stages so the bytes never round-trip
through JVM row objects.

Full pixel codecs (PIL / torchaudio / ffmpeg) are NOT available in this
environment, so decode comes in two tiers:

- ``impl="real"`` is a real, dependency-free byte decoder: it parses
  PNG / JPEG / GIF / BMP container headers from magic bytes (signature
  check, JPEG segment walk to the SOF frame) and emits format + pixel
  dimensions — the metadata-extraction stage every training-data pipeline
  runs before committing to a full decode.  Unrecognized payloads yield
  nulls, never errors.  A pixel-level decoder plugs into the same
  ``mapInPandas`` position with the same batching;
- ``impl="fake"`` derives deterministic pseudo-features from the payload's
  md5 digest, which keeps the feature-vector plumbing testable end-to-end
  and oracle-checkable (DuckDB computes the same digest math in SQL).

Scale notes: ``mapInPandas`` streams Arrow batches, so peak memory is
``batch size × payload size``, not partition size; callers control batch
size with ``spark.sql.execution.arrow.maxRecordsPerBatch`` and should
repartition by a size-balancing key when payloads are skewed.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

N_FEATURES = 8

FEATURES_SCHEMA = (
    "doc_id bigint, byte_len int, thumb_hash string, features array<double>"
)


def with_payload(df: DataFrame) -> DataFrame:
    """Synthesize a binary payload column from ``text`` (the testdata has no
    real media; production data arrives with the payload already binary)."""
    return df.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


def _fake_decode(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in for an image decode + feature extraction:
    8 pseudo-features from the md5 digest of the payload, plus the md5 of
    the first 256 bytes as a 'thumbnail' content hash."""
    feats, thumbs, lens = [], [], []
    for payload in batch["payload"]:
        # NULL payload = empty media (the quarantine row), never a crash
        b = bytes(payload) if payload is not None else b""
        digest = hashlib.md5(b).hexdigest()
        feats.append(
            [int(digest[2 * j : 2 * j + 2], 16) / 255.0 for j in range(N_FEATURES)]
        )
        thumbs.append(hashlib.md5(b[:256]).hexdigest())
        lens.append(len(b))
    return pd.DataFrame(
        {
            "doc_id": batch["doc_id"],
            "byte_len": lens,
            "thumb_hash": thumbs,
            "features": feats,
        }
    )


IMAGE_META_SCHEMA = (
    "doc_id bigint, byte_len int, format string, width int, height int"
)

#: JPEG start-of-frame markers that carry dimensions (all SOFn except the
#: non-frame C4/C8/CC: DHT, JPG extension, DAC)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def parse_image_header(b: bytes) -> tuple[str, int, int] | None:
    """Extract (format, width, height) from a media payload's container
    header — pure stdlib byte parsing, no codec dependency.

    Recognizes PNG (IHDR), GIF87a/89a (logical screen descriptor), BMP
    (BITMAPINFOHEADER) and JPEG (segment walk to the first SOFn frame
    header, skipping APPn/comment segments and marker padding).  Returns
    ``None`` for anything unrecognized or truncated — malformed media in a
    100 TB corpus must route to a quarantine bucket, not kill the stage.
    """
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
            return (
                "png",
                int.from_bytes(b[16:20], "big"),
                int.from_bytes(b[20:24], "big"),
            )
        if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
            return (
                "gif",
                int.from_bytes(b[6:8], "little"),
                int.from_bytes(b[8:10], "little"),
            )
        if b[:2] == b"BM" and len(b) >= 26:
            # BITMAPINFOHEADER: height is signed (negative = top-down rows)
            return (
                "bmp",
                int.from_bytes(b[18:22], "little"),
                abs(int.from_bytes(b[22:26], "little", signed=True)),
            )
        if b[:2] == b"\xff\xd8":
            o = 2
            while o + 4 <= len(b):
                if b[o] != 0xFF:
                    return None  # lost segment sync
                marker = b[o + 1]
                if marker == 0xFF:  # fill byte padding before a marker
                    o += 1
                    continue
                if marker in _JPEG_SOF:
                    if o + 9 > len(b):
                        return None
                    return (
                        "jpeg",
                        int.from_bytes(b[o + 7 : o + 9], "big"),
                        int.from_bytes(b[o + 5 : o + 7], "big"),
                    )
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    o += 2  # standalone markers carry no length
                    continue
                o += 2 + int.from_bytes(b[o + 2 : o + 4], "big")
            return None
    except (IndexError, ValueError):
        return None
    return None


def _real_decode(batch: pd.DataFrame) -> pd.DataFrame:
    fmts, widths, heights, lens = [], [], [], []
    for payload in batch["payload"]:
        b = bytes(payload) if payload is not None else b""
        meta = parse_image_header(b)
        fmt, w, h = meta if meta else (None, None, None)
        fmts.append(fmt)
        widths.append(w)
        heights.append(h)
        lens.append(len(b))
    return pd.DataFrame(
        {
            "doc_id": batch["doc_id"],
            "byte_len": lens,
            "format": fmts,
            "width": pd.array(widths, dtype="Int32"),
            "height": pd.array(heights, dtype="Int32"),
        }
    )


def decode_features(df: DataFrame, impl: str = "fake") -> DataFrame:
    """Arrow-batched decode/feature-extract over the ``payload`` column.

    ``impl="fake"`` emits :data:`FEATURES_SCHEMA` pseudo-features;
    ``impl="real"`` emits :data:`IMAGE_META_SCHEMA` container metadata via
    :func:`parse_image_header`.
    """
    if impl == "real":

        def run_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for batch in batches:
                yield _real_decode(batch)

        return df.select("doc_id", "payload").mapInPandas(
            run_real, IMAGE_META_SCHEMA
        )
    if impl != "fake":
        raise ValueError(f"unknown impl {impl!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _fake_decode(batch)

    return df.select("doc_id", "payload").mapInPandas(run, FEATURES_SCHEMA)


def frame_sample(
    df: DataFrame, chunk: int = 1024, every: int = 4
) -> DataFrame:
    """'Video frame sampling' over the payload: split into fixed ``chunk``
    byte frames, keep every ``every``-th, return per-frame content hashes —
    pure Column algebra (no UDF), demonstrating media chunk manipulation
    JVM-side.

    NULL payloads count as empty (0 frames, empty hash list — identical
    in the oracle), and the frame-id sequence is guarded: a 0-frame
    payload previously generated Spark's DESCENDING [0, -1] run instead
    of an empty list (the fuzz-sweep q36 class)."""
    payload = F.coalesce(F.col("payload"), F.lit(b""))
    n_frames = F.ceil(F.octet_length(payload) / F.lit(chunk)).cast("int")
    frame_ids = F.when(
        n_frames >= 1,
        F.filter(
            F.sequence(F.lit(0), n_frames - 1),
            lambda i: i % every == 0,
        ),
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    hashes = F.transform(
        frame_ids,
        lambda i: F.md5(
            F.substring(payload, (i * chunk + 1).cast("int"), chunk)
        ),
    )
    return df.select(
        "doc_id",
        n_frames.alias("n_frames"),
        F.size(frame_ids).alias("n_sampled"),
        hashes.alias("frame_hashes"),
    )
