"""multimodal benchmark queries; this module declares its own ``QUERIES`` entries."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, functions as F
from foresttime_builder_spark.functions.encoding import fixed, fixed_sql
from foresttime_builder_spark.sources import load_table
from foresttime_builder_spark.plans.queries._shared import QuerySpec



def q35_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column plumbing: Arrow-batched mapInPandas decode stub
    over an opaque payload (multimodal family)."""
    from foresttime_builder_spark.operators.multimodal import (
        decode_features,
        with_payload,
    )

    d = with_payload(load_table(spark, sf_dir, "documents"))
    out = decode_features(d, impl="fake")
    return out.select(
        "doc_id",
        "byte_len",
        "thumb_hash",
        *[
            fixed(F.col("features").getItem(j), 6).alias(f"f{j}_e6")
            for j in range(8)
        ],
    )

ORACLE_Q35 = """
SELECT doc_id, length(coalesce(text, '')) AS byte_len,
       md5(substr(coalesce(text, ''), 1, 256)) AS thumb_hash,
       {feats}
FROM documents
""".format(
    feats=", ".join(
        fixed_sql(
            "CAST(('0x' || substr(md5(coalesce(text, '')), 1 + 2 * %d, 2))"
            " AS BIGINT) / 255.0" % j,
            6,
        )
        + f" AS f{j}_e6"
        for j in range(8)
    )
)

def q55_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode: dependency-free container-header parsing
    (``operators.multimodal.parse_image_header``) over payloads carrying
    genuine PNG/GIF/JPEG headers, via the Arrow mapInPandas stage.

    The payload column is synthesized JVM-side from doc attributes
    (``unhex``/``concat`` column algebra — real magic bytes, IHDR/LSD/SOF0
    layouts, correct endianness per format), with every 4th document left
    as raw text to exercise the unrecognized→null path.  The oracle
    recomputes the expected metadata arithmetically from the same doc
    attributes, so the gate verifies the byte ENCODER (Spark column
    algebra) and the byte DECODER (Python header parser) against an
    independent closed form."""
    from foresttime_builder_spark.operators.multimodal import decode_features

    d = load_table(spark, sf_dir, "documents")
    w = (16 + F.col("doc_id") % 640).cast("int")
    h = (16 + F.col("doc_id") % 480).cast("int")
    be4 = lambda c: F.lpad(F.hex(c), 8, "0")  # 4-byte big-endian hex
    be2 = lambda c: F.lpad(F.hex(c), 4, "0")
    le2 = lambda c: F.concat(  # 2-byte little-endian hex
        F.lpad(F.hex(c % 256), 2, "0"), F.lpad(F.hex(F.floor(c / 256)), 2, "0")
    )
    png = F.unhex(
        F.concat(
            F.lit("89504E470D0A1A0A0000000D49484452"), be4(w), be4(h)
        )
    )
    gif = F.unhex(F.concat(F.lit("474946383961"), le2(w), le2(h)))
    jpeg = F.unhex(F.concat(F.lit("FFD8FFC0001108"), be2(h), be2(w)))
    payload = (
        F.when(F.col("doc_id") % 4 == 0, png)
        .when(F.col("doc_id") % 4 == 1, gif)
        .when(F.col("doc_id") % 4 == 2, jpeg)
        .otherwise(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"))
    )
    out = decode_features(
        d.select("doc_id", payload.alias("payload")), impl="real"
    )
    return out.select(
        "doc_id",
        F.col("byte_len").cast("long").alias("byte_len"),
        "format",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    )

ORACLE_Q55 = """
SELECT doc_id,
  CAST(CASE doc_id % 4 WHEN 0 THEN 24 WHEN 1 THEN 10 WHEN 2 THEN 11
       ELSE octet_length(CAST(coalesce(text, '') AS BLOB)) END AS BIGINT)
    AS byte_len,
  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'jpeg'
       END AS format,
  CAST(CASE WHEN doc_id % 4 <= 2 THEN 16 + doc_id % 640 END AS BIGINT) AS width,
  CAST(CASE WHEN doc_id % 4 <= 2 THEN 16 + doc_id % 480 END AS BIGINT) AS height
FROM documents
"""

def q36_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-chunk 'frame' sampling over binary payloads, JVM-side
    (multimodal family)."""
    from foresttime_builder_spark.operators.multimodal import (
        frame_sample,
        with_payload,
    )

    d = with_payload(load_table(spark, sf_dir, "documents"))
    out = frame_sample(d, chunk=128, every=2)
    # try_element_at: a 0-frame payload has an EMPTY hash list, and plain
    # element_at raises INVALID_ARRAY_INDEX under ANSI instead of NULL
    return out.select(
        "doc_id",
        "n_frames",
        "n_sampled",
        F.try_element_at("frame_hashes", F.lit(1)).alias("first_frame_hash"),
        F.try_element_at("frame_hashes", F.lit(-1)).alias("last_frame_hash"),
    )

ORACLE_Q36 = """
WITH f AS (
  SELECT doc_id, coalesce(text, '') AS t,
    CAST(ceil(length(coalesce(text, '')) / 128.0) AS INT) AS n_frames,
    list_filter(
      generate_series(0, CAST(ceil(length(coalesce(text, '')) / 128.0) AS INT) - 1),
      i -> i % 2 = 0) AS ids
  FROM documents
)
SELECT doc_id, n_frames, len(ids) AS n_sampled,
       md5(substr(t, CAST(ids[1] * 128 + 1 AS INT), 128))
         AS first_frame_hash,
       md5(substr(t, CAST(ids[-1] * 128 + 1 AS INT), 128))
         AS last_frame_hash
FROM f
"""


QUERIES: dict[str, QuerySpec] = {
    "q35_multimodal_features": QuerySpec(q35_multimodal_features, ORACLE_Q35),
    "q36_frame_sample": QuerySpec(q36_frame_sample, ORACLE_Q36),
    "q55_image_meta": QuerySpec(q55_image_meta, ORACLE_Q55),
}
