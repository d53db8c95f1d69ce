"""Text-analysis operators for large-scale training-data pipelines:
tokenization, shingling, language ID, quality scoring, fingerprinting.

These extend the engine beyond the reference's scope (BASELINE.json
north-star: LLM-data-pipeline operators as first-class components).
Everything here is pure JVM-side expression work — higher-order array
functions, regex, md5 — no Python UDFs, so it whole-stage-codegens and
scales linearly with input splits: at 100 TB each task tokenizes its
own split, and only explicit aggregations (shingle joins, signature
groupings) shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.portable import py_hash64

# ---------------------------------------------------------------------------
# Tokenization / shingling
# ---------------------------------------------------------------------------


def normalize(col: Column | str) -> Column:
    """Lowercase + collapse whitespace + trim (fingerprint canon form)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the lowercased text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), " ")


def word_shingles(tokens_col: Column, n: int = 2) -> Column:
    """n-gram word shingles as strings; empty array when < n tokens.

    Semantics match DuckDB ``list_transform(range(1, len-n+2), i ->
    array_to_string(list_slice(toks, i, i+n-1), ' '))``: shingle i =
    join of tokens[i .. i+n-1], 1-based, in order.

    Formulation: n-1 chained ``zip_with`` passes over shifted slices,
    then one truncating slice. Measured ~4.5x faster than the naive
    ``transform(sequence(...), i -> concat_ws(slice(...)))`` — these
    higher-order functions evaluate interpreted (outside codegen), so
    per-shingle slice allocations dominate; zip_with touches each token
    once per pass instead. The zip_with null-padding on the shorter
    shifted array only produces partial shingles PAST index size-n+1,
    which the final slice cuts off."""
    size = F.size(tokens_col)
    acc = tokens_col
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(tokens_col, j + 1, size - j),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    mk = F.slice(acc, 1, size - (n - 1))
    return F.when(size >= n, mk).otherwise(F.array().cast("array<string>"))


def with_word_shingles(
    df, toks_col: str, n: int, out_col: str
):
    """DataFrame-level wide-n shingle builder: binary-DOUBLING ladder of
    zip_with passes, each gram level materialized as its own projected
    column so it evaluates ONCE (zip_with is CodegenFallback — a Column
    tree that references a computed gram array twice would re-evaluate
    the whole subtree; separate Projects make it an attribute lookup,
    and CollapseProject keeps non-cheap multiply-referenced projections
    separate).  Char-copy work is O(size * n) summed over log2(n)
    passes (~2n token copies) versus the chained :func:`word_shingles`
    form's O(size * n^2 / 2) (~n^2/2 copies) — at n=8 that is 14 vs 35
    token copies per position (guide S1.2 "per-task work").  Output
    strings are IDENTICAL to ``word_shingles(toks, n)``: a g-gram at
    position i concatenated with the g'-gram at position i+g is the
    (g+g')-gram at i, concat_ws skips the null padding past the end,
    and the final slice cuts every partial tail gram.  Use for n >= 4;
    at n <= 3 the ladder degenerates to the chained form, so callers
    keep :func:`word_shingles` (identical plan, no drift)."""
    assert n >= 2
    size = F.size(F.col(toks_col))

    def _zip(a_name: str, b_name: str, a_len: int) -> Column:
        # greatest(0, ...): unlike the chained form, the ladder columns
        # evaluate for EVERY row (they are not gated behind the final
        # when(size >= n)), so a doc shorter than the shift must yield
        # an empty slice, not a negative-length error; such rows only
        # produce partial grams that the final when() discards anyway
        return F.zip_with(
            F.col(a_name),
            F.slice(F.col(b_name), a_len + 1, F.greatest(F.lit(0), size - a_len)),
            lambda a, b: F.concat_ws(" ", a, b),
        )

    keep = list(df.columns)
    built = {1: toks_col}  # gram length -> column name
    g = 1
    while g * 2 <= n:
        nm = f"_wsg{g * 2}"
        df = df.withColumn(nm, _zip(built[g], built[g], g))
        built[g * 2] = nm
        g *= 2
    # combine remaining length from already-built power-of-two grams,
    # largest first (n's binary decomposition)
    rem = n - g
    cur = built[g]
    cur_len = g
    p = g
    while rem > 0:
        while p > rem:
            p //= 2
        nm = f"_wsg{cur_len + p}"
        df = df.withColumn(nm, _zip(cur, built[p], cur_len))
        cur = nm
        cur_len += p
        rem -= p
    mk = F.slice(F.col(cur), 1, size - (n - 1))
    out = F.when(size >= n, mk).otherwise(F.array().cast("array<string>"))
    return df.select(*keep, out.alias(out_col))


def span_hash_rows(docs, k: int):
    """(id, h) — one row per token position opening a k-token span,
    ``h`` the portable 60-bit md5 hash of the space-joined span
    (:func:`functions.portable.hash64` semantics, bit-identical).

    mapInPandas kernel on purpose (guide S4.2 — hand whole batches to
    native code): the expression form
    ``explode(word_shingles(tokens(text), k)) -> hash64`` pays k-gram
    construction through the INTERPRETED higher-order-function path
    (zip_with is CodegenFallback; ~1 us per lambda eval) plus a
    codegen'd md5 per span, measured 2.55 s at sf0.1 even with the
    doubling ladder; this kernel does the same work with C-backed
    str.split / str.join / hashlib.md5 in 0.39 s (6.6x), and the
    Python boundary carries exactly two columns in and two longs out.
    Value identity with the expression form is exhaustively asserted
    (tests/test_span_kernel.py: zero exceptAll diffs both ways,
    including multi-space and shorter-than-k docs — Python
    ``s.split(" ")`` keeps leading/inner/trailing empties exactly like
    Java ``split`` with limit -1, and ``int(hexdigest()[:15], 16)``
    equals ``conv(substring(md5(s), 1, 15), 16, 10)``).  A NULL text
    row is skipped (the expression form's explode-of-null drops the
    row the same way).  Case-folding identity is asserted for ASCII
    (the corpus domain): Python ``str.lower`` and JVM ``lower`` agree
    on ASCII by definition but can diverge on exotic Unicode case
    mappings (e.g. U+0130), so the bit-identity contract is scoped to
    ASCII text — same scope as the simhash kernel."""

    def fn(batches):
        import pandas as pd

        for b in batches:
            ids = []
            hs = []
            for did, txt in zip(b["doc_id"].values, b["text"].values):
                if txt is None:
                    continue
                toks = txt.lower().split(" ")
                n = len(toks)
                for i in range(n - k + 1):
                    hs.append(py_hash64(" ".join(toks[i : i + k])))
                    ids.append(did)
            yield pd.DataFrame({"doc_id": ids, "h": hs})

    return docs.select("doc_id", "text").mapInPandas(fn, schema="doc_id long, h long")


# ---------------------------------------------------------------------------
# Language identification (stopword-marker heuristic)
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "de", "y", "que", "los"),
    "fr": ("le", "la", "et", "les", "des", "une"),
    "zh": ("de", "shi", "le", "zai", "you", "he"),
}
LANG_PRIORITY = ("en", "de", "es", "fr", "zh")


def lang_scores(tokens_col: Column) -> dict[str, Column]:
    """Marker-hit count per language."""
    out = {}
    for lang, markers in LANG_MARKERS.items():
        out[lang] = F.size(
            F.filter(tokens_col, lambda t: t.isin(*markers))
        )
    return out


def lang_id(tokens_col: Column) -> Column:
    """argmax language with deterministic priority tie-break; 'und' when
    no marker hits at all."""
    s = lang_scores(tokens_col)
    all_zero = None
    for lang in LANG_PRIORITY:
        cond = s[lang] == 0
        all_zero = cond if all_zero is None else (all_zero & cond)
    expr = F.when(all_zero, "und")
    remaining = list(LANG_PRIORITY)
    while remaining:
        lang = remaining.pop(0)
        if remaining:
            cond = None
            for other in remaining:
                c = s[lang] >= s[other]
                cond = c if cond is None else (cond & c)
            expr = expr.when(cond, lang)
        else:
            expr = expr.otherwise(lang)
    return expr


# ---------------------------------------------------------------------------
# Quality metrics
# ---------------------------------------------------------------------------


def quality_metrics(text_col: Column | str) -> dict[str, Column]:
    """Length / token / ratio metrics used for corpus filtering."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(c, r"[^a-zA-Z]", ""))
    n_digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    n_spaces = F.length(F.regexp_replace(c, r"[^ ]", ""))
    n_words = F.size(F.expr(f"regexp_extract_all(lower({_name(text_col)}), '[a-z0-9]+', 0)"))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"]))
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_words": n_words,
        "alpha_ratio": n_alpha.cast("double") / n_chars,
        "digit_ratio": n_digits.cast("double") / n_chars,
        "space_ratio": n_spaces.cast("double") / n_chars,
        "avg_token_len": (n_chars - n_spaces).cast("double") / n_tokens,
        "stopword_ratio": stop_hits.cast("double") / n_tokens,
    }


def _name(col) -> str:
    return col if isinstance(col, str) else "text"


def quality_score(m: dict[str, Column]) -> Column:
    """0..1 composite: length band + stopword presence + alpha share +
    sane token length. Deterministic, portable (pure arithmetic)."""
    return (
        F.when((m["n_tokens"] >= 20) & (m["n_tokens"] <= 2000), 0.25).otherwise(0.0)
        + F.when(m["stopword_ratio"] >= 0.01, 0.25).otherwise(0.0)
        + F.when(m["alpha_ratio"] >= 0.6, 0.25).otherwise(0.0)
        + F.when((m["avg_token_len"] >= 2.0) & (m["avg_token_len"] <= 12.0), 0.25).otherwise(0.0)
    )


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------


def fingerprint_md5(col: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text."""
    return F.md5(normalize(col))


def winnow_fingerprints(hashes_col: Column, w: int = 4) -> Column:
    """Winnowing fingerprint set over an ordered k-gram hash array.

    Classic document fingerprinting (MOSS-style): slide a window of
    ``w`` consecutive k-gram hashes and keep the minimum of each
    window; the distinct kept values are the document's fingerprints.
    Any two documents sharing a run of >= w+k-1 identical tokens are
    guaranteed to share a fingerprint, while storage drops to ~2/(w+1)
    of the k-gram count.

    Whole computation stays in the array domain (transform/sequence/
    slice/array_min over one row per document) — a pure map with NO
    shuffle at any scale, unlike the window-function formulation which
    would re-partition the exploded k-gram stream by document.

    Documents with fewer than ``w`` k-grams yield one truncated window
    (the min of all their hashes); empty hash arrays yield no
    fingerprints.
    """
    n = F.size(hashes_col)
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), n - (w - 1))),
        lambda i: F.array_min(F.slice(hashes_col, i, w)),
    )
    return F.when(n > 0, F.array_distinct(wins)).otherwise(
        F.array().cast("array<long>")
    )


# BPE-style pre-tokenization runs: letter runs, digit runs, symbol runs.
# Deliberately RE2-safe (no lookahead/backrefs) so DuckDB's
# regexp_extract_all segments text identically to Spark's.
BPE_RUN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"


def bpe_segments(col: Column | str) -> Column:
    """Array of BPE-ish pre-token runs (the GPT-2 pretokenizer shape,
    restricted to an engine-portable regex subset)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_RUN_REGEX), F.lit(0))


def max_element_frequency(arr: Column) -> Column:
    """Count of the most frequent element in a string array (0 for
    empty arrays): the longest equal-run in the SORTED array, computed
    as one O(n log n) sort plus one linear ``aggregate`` fold per row.

    The natural formulation — count occurrences of each distinct
    element and take the max — is O(n x distinct) per row, and Spark
    evaluates nested higher-order lambdas interpreted, making it ~30x
    slower on real documents; the sorted-run fold touches each element
    once."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(F.array_sort(arr), zero, step, lambda acc: acc["best"])


def entropy_term_sum(arr: Column) -> Column:
    """``sum_i c_i * log2(c_i)`` over the element frequencies ``c_i``
    of a string array, as one sort + one linear ``aggregate`` fold per
    row (the q86/max_element_frequency trick: frequencies are run
    lengths in the SORTED array, so no per-distinct-element rescan and
    no shuffle).  Shannon entropy then follows driver-side as
    ``log2(n) - term_sum/n`` without ever materializing a per-element
    count table."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("acc"),
    )

    def closed(run: Column) -> Column:
        return F.when(
            run > 0, run.cast("double") * F.log2(run.cast("double"))
        ).otherwise(F.lit(0.0))

    def step(acc, x):
        same = acc["prev"].eqNullSafe(x)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["acc"]).otherwise(acc["acc"] + closed(acc["run"])).alias("acc"),
        )

    return F.aggregate(
        F.array_sort(arr), zero, step, lambda acc: acc["acc"] + closed(acc["run"])
    )
