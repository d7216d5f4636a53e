"""Parity gates for the r8 gram-builder rewrites (guide §1.2: fix the
per-task work without changing what any query computes).

The four gram builders used to construct grams inside a higher-order
``transform`` lambda (interpreted, no codegen) with per-position
``substring`` on the string (O(i) per call → O(len²) per doc).  The r8
forms split once to an array, explode start positions, and index.  These
tests pin the rewritten outputs against a literal re-implementation of
the OLD higher-order forms on adversarial inputs: empty strings, texts
shorter than the window, repeated grams (multiset semantics), multi-byte
and astral code points (split('') must agree with substring), leading /
trailing / doubled separators, and null text.
"""

import pytest
from pyspark.sql import functions as F

from ds_raster_pipelines_spark.operators.dedup import (
    positional_word_ngrams,
    tokenize_ngrams,
    tokenize_word_ngrams,
)
from ds_raster_pipelines_spark.operators.text import char_ngrams

TEXTS = [
    "",
    "ab",
    "abc",
    "abcabcabc",
    "a b",
    "one two three four five six seven eight nine ten",
    "dup dup dup dup dup dup dup dup dup dup",
    " leading and  doubled  spaces trailing ",
    "café naïve \U0001F600 suré 中文 mix",
    "w " * 40,
    None,
]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, t) for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _hof_char_ngrams(df, n, distinct=False):
    grams = F.when(
        F.length("text") >= n,
        F.expr(
            f"transform(sequence(1, length(text) - {n - 1}),"
            f" i -> substring(text, i, {n}))"
        ),
    ).otherwise(F.array())
    out = df.select("doc_id", F.explode(grams).alias("g"))
    return out.distinct() if distinct else out


def _hof_word_ngrams(df, n, positional=False):
    words = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    if positional:
        return df.select("doc_id", F.posexplode(grams).alias("pos", "gram"))
    return df.select("doc_id", F.explode(grams).alias("w")).distinct()


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("n", [2, 3, 5])
def test_char_ngrams_matches_hof(docs, n):
    assert _sorted(char_ngrams(docs, n)) == _sorted(_hof_char_ngrams(docs, n))


@pytest.mark.parametrize("n", [2, 3])
def test_tokenize_ngrams_matches_hof(docs, n):
    assert _sorted(tokenize_ngrams(docs, n)) == _sorted(
        _hof_char_ngrams(docs, n, distinct=True)
    )


@pytest.mark.parametrize("n", [3, 8])
def test_tokenize_word_ngrams_matches_hof(docs, n):
    assert _sorted(tokenize_word_ngrams(docs, n)) == _sorted(
        _hof_word_ngrams(docs, n)
    )


@pytest.mark.parametrize("n", [3, 8])
def test_positional_word_ngrams_matches_hof(docs, n):
    assert _sorted(positional_word_ngrams(docs, n)) == _sorted(
        _hof_word_ngrams(docs, n, positional=True)
    )


def test_char_ngrams_multiset_keeps_repeats(docs):
    # "abcabcabc" must yield 'abc' three times (multiset, not set)
    rows = (
        char_ngrams(docs.where("doc_id = 3"), 3)
        .groupBy("g")
        .count()
        .collect()
    )
    counts = {r["g"]: r["count"] for r in rows}
    assert counts["abc"] == 3 and counts["bca"] == 2 and counts["cab"] == 2


@pytest.mark.parametrize("n", [2, 8])
def test_positional_gram_hashes_matches_expression(docs, n):
    """The C/Arrow gram-hash kernel (_positional_gram_hashes) must equal
    the Column-expression form positional_word_ngrams + md5_int on every
    adversarial text (empties, doubled/leading/trailing spaces, repeats,
    multi-byte UTF-8, nulls) — and again with the native library forced
    off (hashlib twin)."""
    from ds_raster_pipelines_spark import native
    from ds_raster_pipelines_spark.functions.hashing import md5_int
    from ds_raster_pipelines_spark.operators.dedup import (
        _positional_gram_hashes,
        positional_word_ngrams,
    )

    expected = _sorted(
        positional_word_ngrams(docs, n).select(
            "doc_id", "pos", md5_int(F.col("gram")).alias("h")
        )
    )
    assert _sorted(_positional_gram_hashes(docs, n)) == expected
    saved = native._lib
    native._lib = None
    try:
        assert _sorted(_positional_gram_hashes(docs, n)) == expected
    finally:
        native._lib = saved


def test_minhash_kernel_matches_expression(docs):
    """The C/Arrow MinHash signature kernel == the word-explode +
    md5_int + grouped-min expression chain on adversarial texts, and
    again with the native library forced off (hashlib twin)."""
    from ds_raster_pipelines_spark import native
    from ds_raster_pipelines_spark.operators.dedup import (
        _signatures_from_words,
        _signatures_kernel_md5,
        tokenize,
    )

    expected = _sorted(
        _signatures_from_words(tokenize(docs, distinct=True), "md5")
    )
    assert _sorted(_signatures_kernel_md5(docs)) == expected
    saved = native._lib
    native._lib = None
    try:
        assert _sorted(_signatures_kernel_md5(docs)) == expected
    finally:
        native._lib = saved


def test_lm_score_kernel_matches_join(docs):
    """ngram_lm_scores' packed-table kernel == the gram-explode +
    broadcast-join form on adversarial texts (astral chars, nulls,
    short docs), and again with native forced off (python twin)."""
    from ds_raster_pipelines_spark import native
    from ds_raster_pipelines_spark.operators.text import (
        char_ngrams,
        ngram_lm_scores,
    )

    got = _sorted(ngram_lm_scores(docs))

    # reference: force the join path by pretending n > 3 is... simplest:
    # rebuild the join form inline with the same LM derivation
    from ds_raster_pipelines_spark.functions.hashing import md5_int

    train = docs.where(
        md5_int(F.concat(F.lit("lm"), F.col("doc_id").cast("string"))) % 100 < 50
    )
    lm = (
        char_ngrams(train, 3)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tv = lm.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("t"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    denom = float(tv["t"] + tv["v"])
    logp = F.round(F.log((F.col("cnt") + 1) / F.lit(denom)) * 1e6, 0).cast("long")
    lm2 = lm.select("g", logp.alias("logp_micro"))
    logp0 = F.round(F.log(F.lit(1.0) / F.lit(denom)) * 1e6, 0).cast("long")
    expect = _sorted(
        char_ngrams(docs, 3)
        .join(F.broadcast(lm2), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("logp_micro"), logp0)).alias("logp_micro"),
        )
    )
    assert got == expect
    saved = native._lib
    native._lib = None
    try:
        # kernel plan already built requires... rebuild: the plan decision
        # happens at build time, so this exercises the python twin only
        # if the driver lib is still present; force-building the join
        # path instead: lib None -> ngram_lm_scores uses the join form
        assert _sorted(ngram_lm_scores(docs)) == expect
    finally:
        native._lib = saved


def test_lm_scores_above_row_cap_use_join_form(docs, monkeypatch):
    """An LM above MAX_LM_ROWS is not collected for the packed-table
    kernel: ngram_lm_scores keeps the broadcast-join form, and the rows
    equal the kernel path's."""
    from ds_raster_pipelines_spark import native
    from ds_raster_pipelines_spark.operators import text

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    kernel = text.ngram_lm_scores(docs)
    want = _sorted(kernel)
    monkeypatch.setattr(text, "MAX_LM_ROWS", 1)
    capped = text.ngram_lm_scores(docs)
    assert _sorted(capped) == want and len(want) > 0
    assert "MapInArrow" not in plan(capped)
    if native.get_lib() is not None:
        assert "MapInArrow" in plan(kernel)
