"""Text-analysis operators for training-data pipelines — all pure Column
expressions (JVM, codegen'd): language-ID, quality scoring, token counts,
document fingerprinting. No Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# marker stopwords per language for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "fr": ["le", "la", "et"],
    "de": ["der", "die", "und"],
}

STOPWORDS = ["the", "and", "of", "to", "a", "in"]
PUNCT_RX = r"[.,!?;:'\"()-]"

# Above this many LM rows ngram_lm_scores does not collect the LM to the
# driver for its packed-table kernel and keeps the broadcast-join form.
MAX_LM_ROWS = 100_000


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(text, " "))


def count_word(text: Column, word: str) -> Column:
    """Occurrences of an exact word (whitespace-token match)."""
    return F.size(F.filter(F.split(text, " "), lambda w: w == word))


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, PUNCT_RX, ""))


def stopword_count(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS)])
    return F.size(F.filter(F.split(text, " "), lambda w: F.array_contains(sw, w)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features + a composite score. The score is a
    per-row double expression (no cross-row accumulation), so it is
    bit-identical across engines and parallelism."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_tokens": token_count(t),
            "n_punct": punct_count(t),
            "n_stop": stopword_count(t),
            "n_chars_m": F.length(t),
        }
    ).withColumn(
        "quality_score",
        F.round(
            F.least(F.col("n_tokens") / 64.0, F.lit(1.0)) * 0.4
            + (F.col("n_stop").cast("double") / F.col("n_tokens")) * 0.4
            + F.when(
                F.col("n_punct").cast("double") / F.col("n_chars_m") < 0.1, 0.2
            ).otherwise(0.0),
            6,
        ),
    )


def langid(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-marker language ID: count each language's marker words,
    argmax with deterministic tie-break (marker order)."""
    t = F.col(text_col)
    scores = {
        lang: sum((count_word(t, w) for w in words[1:]), count_word(t, words[0]))
        for lang, words in LANG_MARKERS.items()
    }
    df = df.withColumns({f"_s_{lang}": c for lang, c in scores.items()})
    best = F.greatest(*[F.col(f"_s_{lang}") for lang in LANG_MARKERS])
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:  # first max wins — deterministic
        pred = pred.when(F.col(f"_s_{lang}") == best, F.lit(lang))
    return df.withColumn(out, pred).drop(*[f"_s_{lang}" for lang in LANG_MARKERS])


def deterministic_sample(
    df: DataFrame, rate_pct: int, key_col: str = "doc_id", salt: str = "s0"
) -> DataFrame:
    """Hash-threshold sampling: keep rows where md5(salt || key) % 100 <
    rate_pct. Unlike df.sample(), this is (a) REPRODUCIBLE across runs,
    engines and parallelism (no RNG state), (b) stable under re-partition
    and incremental reruns (a row's fate depends only on its key), and
    (c) stratifiable by salting per stratum. The standard trick for
    train/eval splits over a moving 100 TB corpus — exact oracle twin via
    the same md5 arithmetic."""
    from ..functions.hashing import md5_int

    h = md5_int(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    return df.where(h % 100 < rate_pct)


def tfidf_top_terms(
    df: DataFrame, top_k: int = 3, text_col: str = "text", min_df: int = 1
) -> DataFrame:
    """Per-document top-k TF-IDF terms: tf = in-doc term count, idf =
    ln(N / df). One shuffle for document frequencies + one for the final
    rank window (partitioned by doc — no global window).

    The score is INTEGER MICRO-UNITS: idf is rounded once per distinct df
    to micro-precision, then multiplied by the integer tf — so ranking
    and output are exact integer arithmetic (a raw tf*ln(x) double could
    rank-flip across engines on a last-ulp ln difference). Ties break
    lexicographically. Output: (doc_id, w, tfidf_micro, rk).
    """
    toks = df.select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("w")).where(
        F.col("w") != ""
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select("doc_id").distinct().count()  # one scalar, driver-held
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") >= min_df)
    from pyspark.sql import Window

    idf_micro = F.round(F.log(F.lit(float(n_docs)) / F.col("df")) * 1e6, 0).cast("long")
    scored = tf.join(dfreq, "w").withColumn("tfidf_micro", F.col("tf") * idf_micro)
    w_rank = Window.partitionBy("doc_id").orderBy(F.col("tfidf_micro").desc(), F.col("w"))
    return (
        scored.withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") <= top_k)
        .select("doc_id", "w", "tfidf_micro", "rk")
    )


FP_P = (1 << 31) - 1  # keep term products ≤ ~2^41: no int64 overflow


def fingerprint(
    df: DataFrame, text_col: str = "text", out: str = "fp", hash: str = "md5"
) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    per-word hashes with positional weights, mod a Mersenne prime. Pure
    relational (posexplode + sum) — an order-insensitive-sum encoding of
    an order-sensitive quantity (each position gets a distinct weight).

    ``hash="md5"`` (default) is oracle-replicable (functions/hashing.py);
    ``xxhash64`` is cheaper per byte but has no DuckDB twin. Both are
    stateless map-side hashes — plan shape is identical."""
    words = df.select("doc_id", F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"))
    if hash == "md5":
        from ..functions.hashing import md5_int

        h = md5_int(F.col("w"))  # 28-bit: already < FP_P
    elif hash == "xxhash64":
        h = F.pmod(F.xxhash64("w"), F.lit(FP_P))
    else:
        raise ValueError(hash)
    term = (h * ((F.col("pos") + 17) % 997 + 1)) % FP_P
    return words.groupBy("doc_id").agg(F.sum(term).alias(out))


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1), the
    most-common heuristic filter a web-scale text pipeline runs before
    training: per-doc top-word mass and duplicate-bigram mass. Pure
    Column higher-order functions (transform/filter over the token
    array) — map-side only, whole-stage codegen, zero shuffle until the
    caller aggregates, so at 100 TB this is scan-bound.

    Adds: ``n_tok``, ``top_cnt`` (count of the modal token), ``n_bi``
    (bigram count), ``dup_bi`` (bigrams minus distinct bigrams).
    Per-row cost is O(distinct·n) string compares; docs are capped at
    ~10^3 tokens in any sane pipeline (chunk upstream if not).
    """
    w = F.split(F.col(text_col), " ")
    n = F.size(w)
    top_cnt = F.array_max(
        F.transform(F.array_distinct(w), lambda d: F.size(F.filter(w, lambda x: x == d)))
    )
    bi = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.withColumns(
        {
            "n_tok": n,
            "top_cnt": top_cnt,
            "n_bi": F.size(bi),
            "dup_bi": F.size(bi) - F.size(F.array_distinct(bi)),
        }
    )


def repetition_filter(
    df: DataFrame,
    text_col: str = "text",
    max_top_frac: float = 0.2,
    max_dup_bigram_frac: float = 0.05,
) -> DataFrame:
    """Drop docs whose modal-token mass or duplicate-bigram mass exceeds
    the Gopher-style thresholds. Integer cross-multiplication (no float
    division) so keep/drop decisions are bit-identical across engines."""
    from fractions import Fraction

    d = repetition_features(df, text_col)
    # a/b <= num/den  <=>  a*den <= b*num — integer cross-multiplication,
    # exact for ANY rational threshold (0.3 is exactly 3/10 here, not the
    # silently-distorted 1/round(1/0.3)=1/3 a reciprocal round would give)
    ft = Fraction(max_top_frac).limit_denominator(1_000_000)
    fb = Fraction(max_dup_bigram_frac).limit_denominator(1_000_000)
    return d.where(
        (F.col("top_cnt") * ft.denominator <= F.col("n_tok") * ft.numerator)
        & (F.col("dup_bi") * fb.denominator <= F.col("n_bi") * fb.numerator)
    ).drop("n_tok", "top_cnt", "n_bi", "dup_bi")


def char_ngrams(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Explode each document into its character n-grams, zero Python, zero
    shuffle: the explode happens map-side at the scan partition.  Short
    texts (< n chars) yield no rows (explicit empty-array guard: Spark's
    sequence(1, 0) would DESCEND, not return empty).

    Shape (r8, guide §1.2 "per-task work"): split the text ONCE into a
    code-point array, explode the start positions, and build each gram by
    O(1) array indexing.  The previous form — a higher-order ``transform``
    lambda calling ``substring(text, i, n)`` — was doubly slow: lambda
    bodies run INTERPRETED (no codegen), and substring-by-char on a UTF8
    string is O(i), making the per-doc cost O(len²) (measured 15.0 s →
    2.0 s for the 15M-gram scoring explode at the sf1.0 replica).
    Exactness: Spark's split('') yields code points (astral chars stay
    whole), so concat of array elements == substring for ALL inputs —
    pinned by the parity pytest."""
    ca = F.split(F.col(text_col), "")
    starts = F.when(
        F.size("_ca") >= n,
        F.expr(f"sequence(1, size(_ca) - {n - 1})"),
    ).otherwise(F.array().cast("array<int>"))
    gram = F.concat(*[F.expr(f"_ca[_i + {k - 2}]") for k in range(1, n + 1)])
    return (
        df.select("doc_id", ca.alias("_ca"))
        .select("doc_id", "_ca", F.explode(starts).alias("_i"))
        .select("doc_id", gram.alias("g"))
    )


def ngram_lm_scores(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    train_rate_pct: int = 50,
    salt: str = "lm",
) -> DataFrame:
    """Char n-gram language-model scoring (the classic perplexity-style
    quality filter for LLM training corpora — CCNet/Gopher lineage): fit
    add-one-smoothed n-gram frequencies on a deterministic hash-split
    train half, then score EVERY doc by total and per-gram log-probability.

    Exactness: per-gram log-probs are rounded ONCE to integer micro-units
    (round(ln((c+1)/(T+V)) * 1e6)), so doc scores are exact integer sums —
    bit-identical across engines and parallelism (same trick as
    tfidf_top_terms; a raw sum-of-doubles would drift per partition order).
    At 100 TB move the sums to decimal(38,0) — per-gram micro values are
    ~1.4e7, so int64 holds ~6.5e11 grams per group.

    Plan shape at scale: ONE shuffle to count train grams (map-side
    partial agg first), ONE shuffle for per-doc gram tf; the LM table is
    vocab-bounded (≤ charset^n rows — independent of corpus size) so the
    scoring join is a broadcast. T (train gram count) and V (vocab size)
    are two driver-held scalars, same class as tfidf's n_docs.

    Returns (doc_id, n_grams, logp_micro): total grams per doc, summed
    micro log-prob. Reference has no LM scoring; this generalizes its
    quality-gating approach (SURVEY §2 quality scores) to model-based.
    """
    from ..functions.hashing import md5_int

    train = df.where(
        md5_int(F.concat(F.lit(salt), F.col("doc_id").cast("string"))) % 100 < train_rate_pct
    )
    # persist: the LM relation is executed TWICE otherwise — once for the
    # T/V scalar collect and once as the scoring join's build side — and
    # each execution re-runs the full train-half gram explode + count agg
    # (r8 measured: the duplicated pass was ~40% of the query). The table
    # is vocab-bounded (<= charset^n rows), so the persist footprint is
    # independent of corpus size.
    lm = (
        char_ngrams(train, n, text_col)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    tv = lm.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("t"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    denom = float(tv["t"] + tv["v"])
    logp = F.round(F.log((F.col("cnt") + 1) / F.lit(denom)) * 1e6, 0).cast("long")
    lm = lm.select("g", logp.alias("logp_micro"))
    logp0 = F.round(F.log(F.lit(1.0) / F.lit(denom)) * 1e6, 0).cast("long")

    # Score gram INSTANCES against the LM and aggregate straight to
    # per-doc sums: sum_over_instances(logp) == sum_over_(g,tf)(tf*logp)
    # exactly (integer micro-units), and count(*) == sum(tf).
    #
    # Fast path (r8 s4): the LM is VOCAB-BOUNDED (<= charset^n rows —
    # 544 at the sf1.0 replica), so it collects as control-plane state
    # (same class as the T/V scalars above) and one Arrow kernel walks
    # each doc's code points, packs every n-window into an int64
    # (bijective for n <= 3) and integer-sums table lookups — the
    # per-instance gram explode (measured 1.9 s of the 2.5 s query at
    # sf1.0) never materializes.  logp values stay JVM-computed (no C
    # log()/round drift); kernel == join-path pinned by pytest.  The
    # join form remains for n > 3 / no toolchain / an LM above
    # MAX_LM_ROWS (the capped collect is the same one job).
    from .. import native as _nat

    if n <= 3 and _nat.get_lib() is not None:
        lm_rows = lm.limit(MAX_LM_ROWS + 1).collect()
        if len(lm_rows) <= MAX_LM_ROWS:
            logp0_int = int(
                df.sparkSession.range(1).select(logp0.alias("v")).collect()[0][0]
            )
            lm_pairs = [(r["g"], int(r["logp_micro"])) for r in lm_rows]
            return _lm_score_kernel(df, text_col, n, lm_pairs, logp0_int)
    scored = (
        char_ngrams(df, n, text_col)
        .join(F.broadcast(lm), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("logp_micro"), logp0)).alias("logp_micro"),
        )
    )
    return scored


def _lm_pack(g: str) -> int:
    key = 0
    for ch in g:
        key = (key << 21) | ord(ch)
    return key


def _lm_score_kernel(
    df: DataFrame, text_col: str, n: int, lm_pairs: list, logp0_int: int
) -> DataFrame:
    """One Arrow kernel: per-doc (n_grams, logp_micro) against the packed
    LM table (native.lm_score_docs; pure-Python twin when the toolchain
    is absent or a batch carries nulls/odd buffers).  Docs with zero
    grams emit no row — identical to the gram-explode + groupBy form."""

    def kernel(batches):
        import ctypes as _ct

        import numpy as np
        import pyarrow as pa

        from .. import native as _nat

        keys = vals = None
        lm_dict = None
        for b in batches:
            arr = b.column(1)
            doc_ids = b.column(0).to_numpy(zero_copy_only=False)
            otype = (
                np.int64
                if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
                else np.int32
            )
            bufs = arr.buffers()
            off = np.frombuffer(bufs[1], otype)[
                arr.offset : arr.offset + len(arr) + 1
            ].astype(np.int64, copy=False)
            data = (
                np.frombuffer(bufs[2], np.uint8)
                if bufs[2] is not None
                else np.zeros(1, np.uint8)
            )
            r = None
            if not arr.null_count:
                if keys is None:
                    keys, vals = _nat.build_lm_table(lm_pairs, _lm_pack)
                r = _nat.lm_score_docs(
                    data.ctypes.data_as(_ct.c_char_p), off, n, keys, vals, logp0_int
                )
            if r is None:  # python twin: same code points, same lookups
                if lm_dict is None:
                    lm_dict = dict(lm_pairs)
                raw = data.tobytes()
                valid = (
                    arr.is_valid().to_numpy(zero_copy_only=False)
                    if arr.null_count
                    else np.ones(len(arr), dtype=bool)
                )
                ng = np.zeros(len(arr), dtype=np.int64)
                lp = np.zeros(len(arr), dtype=np.int64)
                for d in range(len(arr)):
                    if not valid[d]:
                        continue
                    text = raw[off[d] : off[d + 1]].decode("utf-8")
                    total = 0
                    cnt = 0
                    for i0 in range(len(text) - n + 1):
                        total += lm_dict.get(text[i0 : i0 + n], logp0_int)
                        cnt += 1
                    ng[d] = cnt
                    lp[d] = total
            else:
                ng, lp = r
            has = ng > 0
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[has]),
                    pa.array(ng[has]),
                    pa.array(lp[has]),
                ],
                names=["doc_id", "n_grams", "logp_micro"],
            )

    return df.select("doc_id", text_col).mapInArrow(
        kernel, schema="doc_id long, n_grams bigint, logp_micro bigint"
    )


def perplexity_filter(
    df: DataFrame,
    max_avg_neg_logp: float = 8.0,
    n: int = 3,
    text_col: str = "text",
    train_rate_pct: int = 50,
    salt: str = "lm",
) -> DataFrame:
    """Keep docs whose average per-gram negative log-prob under the
    corpus n-gram LM is ≤ the threshold (low perplexity = in-distribution
    text; gibberish scores far below the LM and is dropped). The decision
    is an integer cross-multiplication — -logp_micro ≤ thr_micro·n_grams —
    so keep/drop is bit-identical across engines (no float division)."""
    thr_micro = round(max_avg_neg_logp * 1e6)
    s = ngram_lm_scores(df, n, text_col, train_rate_pct, salt)
    keep = s.where(
        (F.col("n_grams") > 0) & (-F.col("logp_micro") <= thr_micro * F.col("n_grams"))
    )
    return df.join(keep.select("doc_id"), "doc_id", "leftsemi")


# Conservative PII patterns valid with IDENTICAL semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repeats, no
# lookaround/backrefs. Order matters (emails can live inside URLs), so
# redaction applies in this dict's order on both engines.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^ ]+",
    "phone": r"\+[0-9]{7,15}",
}


def pii_flags(col: Column) -> dict[str, Column]:
    """Per-type detection flags (int 0/1) — the audit half of the scrub:
    a 100 TB pipeline first REPORTS incidence per slice, then redacts."""
    return {k: col.rlike(p).cast("int") for k, p in PII_PATTERNS.items()}


def redact_pii(col: Column, token: str = "[PII]") -> Column:
    """Replace all PII spans with a fixed token, email -> url -> phone
    order. Pure Column regexp_replace chain: map-side, codegen, zero
    Python — the C4/CCNet-style scrub pass at corpus scale."""
    out = col
    for pat in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, token.replace("\\", "\\\\"))
    return out


def vocab_top_k(df: DataFrame, k: int = 50, text_col: str = "text") -> DataFrame:
    """Corpus-frequency vocabulary (tokenizer-prep step): top-k words by
    (count DESC, word ASC) — the tie-break makes the vocab DETERMINISTIC
    across engines and runs, which a training pipeline needs (a vocab
    that flaps between runs invalidates every downstream token id). One
    count shuffle + a bounded top-k (TakeOrdered, k rows to the driver)."""
    toks = df.select(F.explode(F.split(F.col(text_col), " ")).alias("w")).where(F.col("w") != "")
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("w")).limit(k).select("w")


def oov_rates(df: DataFrame, vocab: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc token and out-of-vocabulary counts against a broadcast
    vocab: (doc_id, n_tok, n_oov). The vocab is k rows by construction,
    so the membership join never shuffles the corpus."""
    toks = df.select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("w")).where(
        F.col("w") != ""
    )
    marked = toks.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "w", "left"
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
    )


def temperature_mixture_sample(
    df: DataFrame,
    domain_col: str = "lang",
    key_col: str = "doc_id",
    scale: int = 10_000,
) -> DataFrame:
    """Temperature-resampled training mix (τ = 0.5): downsample each
    domain to m_i = n_i^τ · n_min^(1-τ) docs — the multilingual-mix
    recipe (upweight low-resource domains relative to their share;
    m_min = n_min, so the smallest domain keeps everything). Keep-rates
    are basis points r_i = floor(scale · sqrt(n_min / n_i)) and a row
    survives iff md5(domain ‖ ':' ‖ key) % scale < r_i — the same
    hash-threshold discipline as deterministic_sample: reproducible
    across runs/engines/parallelism, stable under repartition, and
    per-domain salted so strata are independent.

    τ is pinned to 0.5 because sqrt is IEEE-correctly-rounded in BOTH
    engines (pow is not guaranteed to be), keeping the keep/drop
    decision bit-exact cross-engine. Scale shape: one tiny domain-count
    agg, a 1-row min broadcast, then a broadcast rate join — the corpus
    itself never shuffles. Returns rows + (n_docs, rate_bp) columns."""
    from ..functions.hashing import md5_int

    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n_docs"))
    nmin = counts.agg(F.min("n_docs").alias("_nmin"))
    rates = (
        counts.crossJoin(F.broadcast(nmin))  # 1-row broadcast product
        .withColumn(
            "rate_bp",
            F.floor(
                F.lit(float(scale))
                * F.sqrt(F.col("_nmin").cast("double") / F.col("n_docs"))
            ).cast("long"),
        )
        .drop("_nmin")
    )
    h = md5_int(
        F.concat(F.col(domain_col), F.lit(":"), F.col(key_col).cast("string"))
    )
    return df.join(F.broadcast(rates), domain_col).where(h % scale < F.col("rate_bp"))
