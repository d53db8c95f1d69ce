"""span_hash_rows (mapInPandas md5 kernel) must be bit-identical to
the JVM expression form it replaced in q367:
``explode(word_shingles(tokens(text), k)) -> hash64``.

The kernel exists purely for speed (guide S4.2: 2.55 s -> 0.39 s at
sf0.1 on the map side); any value drift would silently change span
coverage, so identity is asserted exhaustively (exceptAll both ways)
on the real corpus fixture plus hand-built edge docs: multi-space
runs (empty tokens — Python ``split(" ")`` must keep them exactly
like Java split with limit -1), docs shorter than k, exactly k, and
empty text.
"""

import re

from pyspark.sql import functions as F

from crypto_prediction_etl_spark.functions.portable import hash64, py_hash64
from crypto_prediction_etl_spark.operators.dedup import (
    MINHASH_PERMS,
    MINHASH_PRIME,
    _minhash_sigs_from_arrays,
    doc_shingle_arrays,
    simhash_signatures,
)
from crypto_prediction_etl_spark.operators.text import (
    span_hash_rows,
    tokens,
    with_word_shingles,
    word_shingles,
)


def _expr_form(docs, k):
    return (
        with_word_shingles(
            docs.select("doc_id", tokens("text").alias("_toks")), "_toks", k, "shs"
        )
        .select("doc_id", F.explode("shs").alias("s"))
        .select("doc_id", hash64("s").alias("h"))
    )


def test_py_hash64_matches_spark_hash64(spark):
    """The kernels' Python-side hash equals Spark's hash64 on the same
    UTF-8 bytes, including the empty string and non-ASCII text."""
    words = ["", "a", "bitcoin price", "Ünïcödé ß", "日本語テキスト", "emoji 🚀"]
    got = spark.createDataFrame([(w,) for w in words], "s string").select(
        "s", hash64("s").alias("h")
    )
    assert {r.s: r.h for r in got.collect()} == {w: py_hash64(w) for w in words}


def test_span_kernel_bit_identical_on_corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = 8
    kern = span_hash_rows(docs, k)
    expr = _expr_form(docs, k)
    assert kern.count() == expr.count()
    assert kern.exceptAll(expr).count() == 0
    assert expr.exceptAll(kern).count() == 0


def test_span_kernel_edge_docs(spark):
    rows = [
        (1, "a  b c d e f g h i"),  # double space -> empty token
        (2, "one two three"),  # shorter than k
        (3, "a b c d e f g h"),  # exactly k tokens
        (4, ""),  # empty text -> [''] single token
        (5, " leading and trailing "),  # boundary empties
        (6, "A B c D e F g H i J"),  # lowercasing
        (7, None),  # NULL text: dropped, not crashed (ADVICE r12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    k = 8
    kern = span_hash_rows(docs, k)
    expr = _expr_form(docs, k)
    assert sorted(kern.collect()) == sorted(expr.collect())


def test_doubling_ladder_matches_chained(spark):
    rows = [("a b c d e f g h i j",), ("x y",), ("",)]
    df = spark.createDataFrame(rows, "text string").select(
        F.split("text", " ").alias("_toks")
    )
    for n in (4, 8):
        old = [r.s for r in df.select(word_shingles(F.col("_toks"), n).alias("s")).collect()]
        new = [
            r.s
            for r in with_word_shingles(df, "_toks", n, "s").select("s").collect()
        ]
        assert old == new


def _simhash_signatures_expr(docs, bits):
    """JVM expression form of ``simhash_signatures``: the reference the
    kernel is identity-tested against (and the shape a pure-SQL engine
    would run)."""
    tok = docs.select(F.col("doc_id"), F.explode(tokens("text")).alias("tok"))
    tok = tok.withColumn("_h", hash64("tok"))
    aggs = [
        F.sum(
            F.when(F.expr(f"(shiftright(_h, {b}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else (sig + term)
    return sums.select(F.col("doc_id"), sig.alias("simhash"))


def _minhash_sigs_from_arrays_expr(arrays):
    """JVM expression form of ``_minhash_sigs_from_arrays``: the
    reference the kernel is identity-tested against (and the shape a
    pure-SQL engine would run)."""
    hashed = arrays.select(
        F.col("doc_id"),
        F.explode(
            F.transform("shingles", lambda s: hash64(s) % MINHASH_PRIME)
        ).alias("_h"),
    )
    aggs = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % MINHASH_PRIME).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def test_simhash_kernel_matches_expression_form(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kern = sorted(simhash_signatures(docs, bits=32).collect())
    expr = sorted(_simhash_signatures_expr(docs, bits=32).collect())
    assert kern == expr
    edge = spark.createDataFrame(
        [(1, "a  b"), (2, ""), (3, "ONE two Three"), (4, " x "), (5, None)],
        "doc_id long, text string",
    )
    assert sorted(simhash_signatures(edge, bits=32).collect()) == sorted(
        _simhash_signatures_expr(edge, bits=32).collect()
    )


def test_minhash_kernel_matches_expression_form(spark, sf_dir):
    """r13 kernel (VERDICT r12 item 1): the mapInPandas minhash
    signature derivation must be bit-identical to the JVM
    hash-explode-groupBy reference on the real corpus arrays and on
    hand-built edges (empty / NULL shingle arrays drop the doc in both
    forms; single-shingle docs take that shingle's 16 permuted hashes
    verbatim). The shingler drops docs under 3 tokens with one Filter
    on the token count, below the shingle projection: no shingle
    expression is evaluated to decide which docs to keep."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    arrays = doc_shingle_arrays(docs)
    plan = arrays._jdf.queryExecution().optimizedPlan().toString()
    filters = [ln.lstrip("+- ") for ln in plan.splitlines()]
    filters = [ln for ln in filters if ln.startswith("Filter ")]
    assert len(filters) == 1, plan
    assert re.fullmatch(r"Filter \(size\(split\(lower\(text#\d+\), .*\) >= 3\)", filters[0])
    assert not any(f in filters[0] for f in ("zip_with", "slice", "concat_ws"))
    kern = sorted(_minhash_sigs_from_arrays(arrays).collect())
    expr = sorted(_minhash_sigs_from_arrays_expr(arrays).collect())
    assert kern and kern == expr
    edge = spark.createDataFrame(
        [
            (1, ["a b c", "b c d"]),
            (2, []),
            (3, None),
            (4, ["lone shingle x"]),
            (5, ["", " ", "a  b"]),  # empty/whitespace shingles still hash
        ],
        "doc_id long, shingles array<string>",
    )
    ek = sorted(_minhash_sigs_from_arrays(edge).collect())
    ee = sorted(_minhash_sigs_from_arrays_expr(edge).collect())
    assert [r.doc_id for r in ek] == [1, 4, 5]
    assert ek == ee
