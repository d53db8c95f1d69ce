"""Durable analog of the session corpus memo (VERDICT r10 item 5).

The dedup family's session memo (operators/dedup.py corpus_shingle_arrays
/ corpus_minhash_pairs) materializes the per-doc shingle arrays once per
session.  Its durable, cross-job analog — the actual 100 TB incremental
shape — is WRITING that one-row-per-doc array table to parquet once and
rebuilding every consumer from the written table (the streaming neardup
screen already persists signatures this way, streaming/sinks.py
neardup_screen_writer).  These tests demonstrate the rebuild is
result-identical for both exact-Jaccard (q44) and MinHash-LSH (q45):
a deployment can snapshot `doc_shingle_arrays` nightly and run every
dedup consumer against the snapshot without re-tokenizing the corpus.
Rebuild timing at sf0.1 is recorded in SCALE.md / BENCH_NOTES r11.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_prediction_etl_spark.operators.dedup import (
    doc_shingle_arrays,
    jaccard_pairs,
    minhash_dedup_pairs,
    stop_shingle_cut,
)
from crypto_prediction_etl_spark.plans import registry
from crypto_prediction_etl_spark.plans.dedup import _Q44_MAX_DF
from crypto_prediction_etl_spark.sources.readers import table
from tests.conftest import SF_DIR_CORRECTNESS


def _written_arrays(spark, tmp_path):
    docs = table(spark, SF_DIR_CORRECTNESS, "documents")
    arrays = doc_shingle_arrays(docs)
    path = str(tmp_path / "doc_shingle_arrays")
    arrays.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_q44_rebuild_from_written_shingle_table(spark, tmp_path):
    registry.load_all()
    written = _written_arrays(spark, tmp_path)
    shingled = stop_shingle_cut(
        written.select("doc_id", F.explode("shingles").alias("shingle")),
        _Q44_MAX_DF,
    )
    from crypto_prediction_etl_spark.functions.portable import prnd

    rebuilt = sorted(
        map(
            tuple,
            jaccard_pairs(shingled, 0.8)
            .select("id_a", "id_b", "n_inter", prnd("jaccard", 6).alias("jaccard"))
            .collect(),
        )
    )
    prod = sorted(
        map(
            tuple,
            registry.QUERIES["q44_ngram_jaccard_pairs"](
                spark, SF_DIR_CORRECTNESS
            ).collect(),
        )
    )
    assert rebuilt == prod
    assert len(rebuilt) > 0  # non-vacuous: the corpus has near-dup pairs


def test_q45_rebuild_from_written_shingle_table(spark, tmp_path):
    registry.load_all()
    written = _written_arrays(spark, tmp_path)
    from crypto_prediction_etl_spark.functions.portable import prnd

    rebuilt = sorted(
        map(
            tuple,
            minhash_dedup_pairs(None, 0.8, arrays=written)
            .select("id_a", "id_b", prnd("jaccard", 6).alias("jaccard"))
            .collect(),
        )
    )
    prod = sorted(
        map(
            tuple,
            registry.QUERIES["q45_minhash_lsh_pairs"](
                spark, SF_DIR_CORRECTNESS
            ).collect(),
        )
    )
    assert rebuilt == prod
    assert len(rebuilt) > 0
