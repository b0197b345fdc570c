"""Relational registry operators (SURVEY.md §2.5, R1-R5).

The reference keeps a multi-key first-writer-wins map
(/root/reference/lib/parse.js:280-293); here it is a keys table built
with explode + a deterministic window. ``dropDuplicates`` alone is
order-unstable under Spark shuffles, so every "first" is an explicit
``row_number() == 1`` over (seq, kind_rank) — determinism is a
semantics constraint of the reference (its outputs are byte-stable
across runs), not a style choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _kind_rank():
    # registration order within one part: Content-ID, normalized
    # location, as-written location (parse.js:280-293)
    return F.when(F.col("kind") == "cid", 0).when(F.col("kind") == "location", 1).otherwise(2)


def registry_keys(parts: DataFrame) -> DataFrame:
    """(archive_id, key, kind, part_id, seq) after first-wins dedup.

    The key rows derive JVM-side from the scalar id columns — a
    Content-ID key, the normalized location, and the as-written
    location when it differs (parse.js:280-293) — so the split UDF
    never builds struct arrays in Python."""
    key_structs = F.array_compact(
        F.array(
            F.when(
                F.col("content_id").isNotNull(),
                F.struct(F.col("content_id").alias("key"), F.lit("cid").alias("kind")),
            ),
            F.struct(F.col("part_id").alias("key"), F.lit("location").alias("kind")),
            F.when(
                F.col("written_id").isNotNull() & (F.col("written_id") != F.col("part_id")),
                F.struct(F.col("written_id").alias("key"), F.lit("raw").alias("kind")),
            ),
        )
    )
    exploded = (
        parts.select("archive_id", "seq", "part_id", F.explode(key_structs).alias("rk"))
        .select("archive_id", "seq", "part_id", F.col("rk.key").alias("key"), F.col("rk.kind").alias("kind"))
    )
    w = Window.partitionBy("archive_id", "key").orderBy(F.col("seq"), _kind_rank())
    return (
        exploded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def select_index(parts: DataFrame) -> DataFrame:
    """First document-typed part per archive, with the reference's
    fallback tiers: document, else first image, else first text/plain
    (parse.js:277-279; convert.js:663-679).

    Embedded-MHTML rule (parse.js:171): each embedded container
    REPLACES the outer index with the embedded archive's own — so the
    document tier only considers documents after the LAST embedded
    container; the image/text fallbacks (createDocument scanning the
    whole resources map) are unrestricted."""
    ct = F.lower(F.coalesce(F.col("content_type"), F.lit("")))
    tier = (
        F.when(ct.startswith("text/html") | ct.startswith("application/xhtml+xml"), 0)
        .when(ct.startswith("image/"), 1)
        .when(ct.startswith("text/plain"), 2)
        .otherwise(3)
    )
    w_arch = Window.partitionBy("archive_id")
    last_container = F.max(
        F.when(F.col("is_embedded_container"), F.col("seq"))
    ).over(w_arch)
    ranked = (
        parts.withColumn("tier", tier)
        .withColumn("_last_container", last_container)
        .filter(F.col("tier") < 3)
        .filter(
            (F.col("tier") > 0)
            | F.col("_last_container").isNull()
            | (F.col("seq") > F.col("_last_container"))
        )
        .drop("_last_container")
    )
    w = Window.partitionBy("archive_id").orderBy("tier", "seq")
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("archive_id", F.col("part_id").alias("index_id"), "tier")
    )
