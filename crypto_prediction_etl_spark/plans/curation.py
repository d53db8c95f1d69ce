"""End-to-end corpus curation: the pipeline a training-data user
actually runs, composed from the engine's own operators.

    raw documents
      -> exact dedup (md5 fingerprint, keep canonical)          q43 op
      -> near-dup clusters over MinHash-LSH pairs, keep one
         canonical doc per cluster                              q45+q48 ops
      -> deterministic train/val/test assignment (hash fences)  q73 op
      -> partitioned parquet, lang/split directory layout       S4 writer

Every stage is the registered, oracle-checked operator — this module
only composes them, so pipeline correctness is inherited. Shuffle
budget: exact dedup (1), near-dup pipeline (the q45 plan), cluster
rounds (diameter), split (0 — per-row hash), final write (0 beyond the
partitioned sink). The near-dup stage reuses the session's cached
shingle arrays when other dedup queries ran first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.portable import hash64
from ..operators.dedup import dedup_clusters, exact_dedup, minhash_dedup_pairs
from ..sources.readers import table
from ..sources.writers import write_partitioned

SPLIT_TRAIN, SPLIT_VAL = 80, 90  # hash-percentile fences (80/10/10)


def split_col() -> F.Column:
    """Deterministic split assignment — identical to q73's fences."""
    bucket = hash64(F.col("doc_id")) % 100
    return (
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
    )


def curated_corpus(docs: DataFrame) -> DataFrame:
    """Documents surviving exact + near-dup dedup, with split column.

    Keep rules: a doc survives iff it is its exact-fingerprint group's
    canonical AND not a non-canonical member of a near-dup cluster.
    Both drop sets arrive as (small) id frames — broadcast anti/semi
    joins against the corpus, so the corpus itself never shuffles.

    NOT fully lazy: the dedup operators underneath eager-pin their
    shared intermediates (fingerprint frame, shingle arrays,
    signatures), so CALLING this function runs those Spark jobs even
    if the returned frame is never acted on.  Batch frames only —
    exact_dedup rejects a streaming input at build time.
    """
    exact_keep = (
        exact_dedup(docs)
        .filter(F.col("is_duplicate") == 0)
        .select("doc_id")
    )
    near_drop = (
        dedup_clusters(minhash_dedup_pairs(docs))
        .filter(F.col("is_canonical") == 0)
        .select("doc_id")
    )
    kept = docs.join(F.broadcast(exact_keep), "doc_id", "left_semi").join(
        F.broadcast(near_drop), "doc_id", "left_anti"
    )
    return kept.withColumn("split", split_col())


def curate_corpus(spark: SparkSession, sf_dir: str, out_dir: str) -> DataFrame:
    """Run the full curation over the documents table and write the
    result partitioned by (lang, split) — the layout downstream
    training jobs partition-prune on. Overwrite mode keeps the run
    idempotent. Returns the curated frame for inspection (already
    computed by the write; its pinned dedup intermediates materialized
    eagerly during construction — see curated_corpus)."""
    kept = curated_corpus(table(spark, sf_dir, "documents"))
    write_partitioned(
        kept, out_dir, partition_cols=("lang", "split"), mode="overwrite"
    )
    return kept
