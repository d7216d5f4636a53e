"""Deduplication operators for large-scale training-data pipelines.

Four tiers, each a pure DataFrame composition (no Python UDFs):

* exact          — hash-groupBy on content, keep min-id survivor.
* word-set Jaccard — explode word sets, self-join on word, count shared.
                   Exact near-dup; quadratic in per-word doc frequency, so
                   ``max_df`` caps hot words (at 100 TB you ALWAYS cap —
                   a stopword appearing in every doc would otherwise
                   produce an n^2 shuffle on one key: the classic hot-key
                   skew, same physics as hot H3 cells).
* MinHash + LSH  — shingle→minhash→band→bucket-join. Word-id providers:
                   ``md5`` (default: stateless map-side hash, oracle-
                   replicable — the scale path), ``xxhash64`` (stateless,
                   cheapest; no oracle), ``vocab`` (dense-rank word ids —
                   single-partition vocab build; legacy oracle twin only).
* SimHash        — sign-sum fingerprint over per-word hash bit planes
                   (``md5`` oracle-replicable default, or ``xxhash64``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# MinHash parameters — shared with the oracle SQL (keep in sync).
# Multipliers are large (≈ p/3..p) so (a*wid + b) % p wraps even for small
# word ids; small multipliers make the hash monotonic in wid (no wrap) and
# the min degenerates to "smallest word id" — a real MinHash failure mode.
MINHASH_P = 8191
MINHASH_PARAMS = [
    (2971, 7),
    (3559, 11),
    (4111, 17),
    (4723, 23),
    (5281, 29),
    (5857, 31),
    (6421, 37),
    (7001, 41),
]


# Persisted shared intermediates (words / band_sig) must stay cached until
# the caller materializes the returned plan, so they cannot be unpersisted
# inside the operator that created them. Lifetime is owned by a CacheScope:
# pass one explicitly (`with CacheScope() as s: minhash_dedup_pairs(df,
# scope=s); out.collect()`) to control exactly when blocks are freed, e.g.
# when building several dedup plans before materializing any of them. With
# no scope, each top-level invocation uses a THREAD-LOCAL default scope and
# releases the previous default-scope blocks first — bounding cache growth
# to one plan per thread (bench reps and 70-query oracle sweeps in a single
# session never accumulate blocks for the session lifetime).
import threading


class CacheScope:
    """Owns the persisted intermediates of one dedup plan build."""

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        self._dfs.append(df.persist())
        return self._dfs[-1]

    def release(self) -> None:
        while self._dfs:
            df = self._dfs.pop()
            # a stopped SparkContext took its cached blocks with it, and
            # unpersist on its frames fails: drop them instead (the scope
            # is thread-local, so it outlives spark.stop())
            if df.sparkSession.sparkContext._jsc is not None:
                df.unpersist()

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


_DEFAULT = threading.local()


def _scope(scope: CacheScope | None, fresh: bool) -> CacheScope:
    """Resolve the cache scope for a top-level invocation. Explicit scope:
    caller owns the lifetime, nothing is implicitly released. No scope:
    rotate this thread's default scope (release previous plan's blocks)."""
    if scope is not None:
        return scope
    if fresh:
        release_cached()
        _DEFAULT.scope = CacheScope()
    cur = getattr(_DEFAULT, "scope", None)
    if cur is None:
        cur = _DEFAULT.scope = CacheScope()
    return cur


def release_cached() -> None:
    """Unpersist intermediates cached by this THREAD's default scope (plans
    built with an explicit CacheScope are unaffected — release those via
    the scope)."""
    cur = getattr(_DEFAULT, "scope", None)
    if cur is not None:
        cur.release()


def tokenize(
    df: DataFrame, text_col: str = "text", out: str = "w", distinct: bool = True
) -> DataFrame:
    """doc_id + exploded words. ``distinct=True`` gives the shingle SET
    (required by jaccard counting); ``distinct=False`` is the raw stream
    for duplicate-insensitive consumers (min() over a multiset equals
    min() over its set, so the MinHash signature path needs no dedup).

    The set form is built MAP-SIDE (r8 s4): documents carry one row per
    doc_id, so the global explode+distinct (a full exchange of word
    STRINGS) equals per-row ``array_distinct`` on the split array —
    same (doc_id, w) set, zero shuffles. Callers with duplicate doc_id
    rows would need the old global distinct; every corpus here is keyed
    by doc_id (enforced upstream by the registry fixtures)."""
    if distinct:
        arr = F.array_distinct(F.split(F.col(text_col), " "))
        return df.select("doc_id", F.explode(arr).alias(out)).where(F.col(out) != "")
    return df.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias(out)
    ).where(F.col(out) != "")


def tokenize_ngrams(
    df: DataFrame, n: int = 3, text_col: str = "text", out: str = "w"
) -> DataFrame:
    """doc_id + exploded distinct character n-grams — the shingle set that
    catches near-dups across word-boundary edits (typo'd / concatenated
    words) which word-set Jaccard misses. Pure Column exprs: sequence of
    start offsets → substr, explode, distinct. Same downstream family
    (jaccard/minhash) applies unchanged."""
    # guard: Spark's sequence(1, stop) is DESCENDING for stop < 1, so short
    # texts must produce an empty gram array, not a bogus [1, 0] range.
    # Shape (r8): split once to a code-point array, explode start
    # positions, O(1)-index each gram's chars — the transform-lambda +
    # substr form ran interpreted AND paid O(i) per substring (O(len²)
    # per doc); split('') yields code points so results are identical
    # for all inputs (see char_ngrams, operators/text.py).
    starts = F.when(
        F.size("_ca") >= n,
        F.expr(f"sequence(1, size(_ca) - {n - 1})"),
    ).otherwise(F.array().cast("array<int>"))
    gram = F.concat(*[F.expr(f"_ca[_i + {k - 2}]") for k in range(1, n + 1)])
    return (
        df.select("doc_id", F.split(F.col(text_col), "").alias("_ca"))
        .select("doc_id", "_ca", F.explode(starts).alias("_i"))
        .select("doc_id", gram.alias(out))
        .distinct()
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one survivor (min id) per identical content; group size.
    At scale, group on a content hash (xxhash64) instead of the raw text to
    keep shuffle keys small — both produce identical groups."""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .drop(text_col)
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    max_df: int | None = None,
    ngram: int | None = None,
) -> DataFrame:
    """Exact set-Jaccard near-dup pairs (doc_a < doc_b, jac >= t) over
    word shingles (default) or character ``ngram``-shingles.

    shared(a,b) via shingle-wise self-join (one shuffle on shingle), set
    sizes via a per-doc aggregate, jaccard = shared / (|A|+|B|-shared) as
    exact integer arithmetic until the final division.
    """
    words = tokenize_ngrams(df, ngram, text_col) if ngram else tokenize(df, text_col)
    if max_df is not None:
        hot = words.groupBy("w").agg(F.count(F.lit(1)).alias("_df")).where(F.col("_df") > max_df)
        words = words.join(hot.select("w"), "w", "left_anti")
    sizes = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    a = words.select(F.col("doc_id").alias("doc_a"), "w")
    b = words.select(F.col("doc_id").alias("doc_b"), "w")
    shared = (
        a.join(b, "w")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_words").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_words").alias("nb"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _word_ids(words: DataFrame, strategy: str) -> DataFrame:
    if strategy == "vocab":
        vocab = words.select("w").distinct().withColumn(
            "wid", F.dense_rank().over(Window.orderBy("w"))
        )
        return words.join(vocab, "w").select("doc_id", "wid")
    if strategy == "xxhash64":
        return words.select("doc_id", F.pmod(F.xxhash64("w"), F.lit(MINHASH_P)).alias("wid"))
    if strategy == "md5":
        from ..functions.hashing import md5_int

        return words.select("doc_id", md5_int(F.col("w")).alias("wid"))
    raise ValueError(strategy)


def minhash_signatures(
    df: DataFrame, text_col: str = "text", strategy: str = "md5"
) -> DataFrame:
    """(doc_id, j, mh): k=8 minhash values, mh_j = min((a_j*wid+b_j) % p).

    Word-id providers:
    * ``md5``     — DEFAULT and the scale path: stateless map-side hash
                    (28-bit md5 prefix), no vocab, AND bit-replicable by
                    the DuckDB oracle (functions/hashing.py).
    * ``xxhash64``— stateless scale path, cheapest per byte; no oracle.
    * ``vocab``   — global dense_rank word ids. Deterministic and human-
                    readable, but builds the vocabulary through a single-
                    partition window: keep for small corpora / the legacy
                    oracle twin only, never for the 100 TB path."""
    if strategy == "md5":
        # C fast path (r8 s4): one Arrow kernel computes each doc's k
        # minima straight over the text bytes — every word is a byte
        # range of the ' '-split, the 28-bit md5 prefix equals Spark/
        # DuckDB md5 arithmetic, duplicates can't move a min so no dedup
        # is needed, and (a*wid+b) % p is exact int64 in all engines.
        # Expression twin (below) when the toolchain is absent;
        # pytest pins kernel == expression on adversarial inputs.
        return _signatures_kernel_md5(df, text_col)
    # distinct=True: since r8 s4 the per-doc word SET is built map-side
    # (array_distinct — no shuffle), so deduping before the hash is free
    # and cuts the per-word-id hash work ~16x (md5 per distinct word per
    # doc instead of per raw instance; min() over a set equals min() over
    # its multiset, so signatures are identical by construction)
    return _signatures_from_words(tokenize(df, text_col, distinct=True), strategy)


def _signatures_kernel_md5(df: DataFrame, text_col: str = "text") -> DataFrame:
    k = len(MINHASH_PARAMS)
    pa_arr = [a for a, _ in MINHASH_PARAMS]
    pb_arr = [b for _, b in MINHASH_PARAMS]

    def kernel(batches):
        import ctypes as _ct

        import numpy as np
        import pyarrow as pa

        from .. import native as _native

        pa_np = np.asarray(pa_arr, dtype=np.int64)
        pb_np = np.asarray(pb_arr, dtype=np.int64)
        for b in batches:
            arr = b.column(1)
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
            sigs = (
                _native.minhash_doc_sigs(
                    data.ctypes.data_as(_ct.c_char_p), off, pa_np, pb_np, MINHASH_P
                )
                if not arr.null_count
                else None
            )
            if sigs is None:  # hashlib twin (also the null-text path)
                import hashlib as _hl

                n = len(arr)
                sigs = np.full((n, k), -1, dtype=np.int64)
                valid = (
                    arr.is_valid().to_numpy(zero_copy_only=False)
                    if arr.null_count
                    else np.ones(n, dtype=bool)
                )
                raw = data.tobytes()
                for d in range(n):
                    if not valid[d]:
                        continue
                    for wbytes in raw[off[d] : off[d + 1]].split(b" "):
                        if not wbytes:
                            continue
                        wid = int(_hl.md5(wbytes).hexdigest()[:7], 16)
                        for j in range(k):
                            v = (pa_arr[j] * wid + pb_arr[j]) % MINHASH_P
                            if sigs[d, j] < 0 or v < sigs[d, j]:
                                sigs[d, j] = v
            doc_ids = b.column(0).to_numpy(zero_copy_only=False)
            has = sigs[:, 0] >= 0
            keep_ids = doc_ids[has]
            keep = sigs[has]
            nk = len(keep_ids)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(keep_ids, k)),
                    pa.array(np.tile(np.arange(k, dtype=np.int32), nk)),
                    pa.array(keep.ravel()),
                ],
                names=["doc_id", "j", "mh"],
            )

    return df.select("doc_id", text_col).mapInArrow(
        kernel, schema="doc_id long, j int, mh long"
    )


def _signatures_from_words(words: DataFrame, strategy: str) -> DataFrame:
    ids = _word_ids(words, strategy)
    # one grouped agg with k min-columns instead of exploding every word
    # row k-fold before the shuffle (r8, guide §2.3 "aggregate before you
    # shuffle"): the map-side partials now carry k longs per (partition,
    # doc) instead of k x |words| exploded rows, and the per-permutation
    # min arithmetic is unchanged.  The k-row (doc_id, j, mh) shape is
    # restored by a post-agg explode over the tiny per-doc result.
    mins = ids.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("wid") + F.lit(b)) % MINHASH_P).alias(f"_mh{j}")
            for j, (a, b) in enumerate(MINHASH_PARAMS)
        ]
    )
    stacked = F.array(
        *[
            F.struct(F.lit(j).alias("j"), F.col(f"_mh{j}").alias("mh"))
            for j in range(len(MINHASH_PARAMS))
        ]
    )
    return mins.select("doc_id", F.explode(stacked).alias("p")).select(
        "doc_id", F.col("p.j").alias("j"), F.col("p.mh").alias("mh")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
    scope: CacheScope | None = None,
    _fresh: bool = True,
) -> DataFrame:
    """Band the signatures and bucket-join: docs sharing any full band are
    candidates. Band signature packed as an integer (order-free sum of
    mh * p^(j mod r)) so no ordered string-agg is needed.

    ``max_bucket`` drops band buckets with more members — the hot-bucket
    control every production LSH dedup needs: a bucket of k docs emits
    k^2/2 pairs, so one giant near-dup cluster (or a degenerate band)
    turns the join quadratic. Such clusters are cheaper to collapse via
    exact dedup / union-find on a sample than via all-pairs."""
    if rows_per_band not in (1, 2):
        raise ValueError("packed band signature implemented for rows_per_band in {1, 2}")
    sc = _scope(scope, _fresh)
    banded = sigs.withColumn("band", F.floor(F.col("j") / rows_per_band)).withColumn(
        "_term",
        F.col("mh")
        * F.when(F.col("j") % rows_per_band == 0, F.lit(MINHASH_P)).otherwise(F.lit(1)).cast("long"),
    )
    # band_sig feeds three consumers (hot-bucket census + both join sides)
    # with different downstream partitionings, so Spark cannot reuse the
    # exchange — persist it once (docs x bands rows, tiny vs the corpus)
    # instead of re-deriving the whole tokenize->minhash pipeline 3x.
    band_sig = sc.persist(banded.groupBy("doc_id", "band").agg(F.sum("_term").alias("sig")))
    if max_bucket is not None:
        hot = (
            band_sig.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket)
            .select("band", "sig")
        )
        band_sig = band_sig.join(F.broadcast(hot), ["band", "sig"], "left_anti")
    a = band_sig.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = band_sig.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    strategy: str = "md5",
    threshold: float = 0.5,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup: candidates from LSH, verified with exact
    Jaccard (filter-refine — same shape as the PIP join). rows_per_band
    trades candidate volume for recall (1 = high recall).

    The verify stage is CANDIDATE-SCOPED: candidate pairs are joined back
    to the two word sets and jaccard is computed per candidate only. (The
    round-1 version intersected candidates with an all-pairs jaccard —
    recreating the quadratic join LSH exists to avoid.)

    ``words`` feeds three consumers (signatures, both verify sides) on
    different join keys, but since r8 s4 it is a MAP-SIDE derivation of
    the corpus scan (array_distinct — no shuffle), so recomputing it per
    consumer is just extra scan passes and measures FASTER than caching
    it (persist wrote + read the exploded word strings: 3.3 vs 2.4 s at
    the sf1.0 replica). At warehouse scale with an expensive source
    scan, stage the word set as an intermediate table instead."""
    sc = _scope(scope, fresh=True)
    words = tokenize(df, text_col)
    cand = lsh_candidate_pairs(
        minhash_signatures(df, text_col, strategy), rows_per_band, max_bucket,
        scope=sc, _fresh=False,
    )
    # |set(words)| per doc has a MAP-SIDE closed form over the corpus scan
    # (r8 s4): array_distinct the split array, drop the empty token the
    # split of doubled separators leaves behind — equals the old
    # groupBy(doc_id).count() over exploded words without its exchange.
    sizes = df.select(
        "doc_id",
        F.size(
            F.array_remove(F.array_distinct(F.split(F.col(text_col), " ")), "")
        ).alias("n_words"),
    )
    wa = words.select(F.col("doc_id").alias("doc_a"), "w")
    wb = words.select(F.col("doc_id").alias("doc_b"), "w")
    shared = (
        cand.join(wa, "doc_a")
        .join(wb, ["doc_b", "w"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_words").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_words").alias("nb"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# Populated by the registry's dedup_components query (stats= passthrough)
# so bench.py can report rounds-to-converge alongside the wall time.
LAST_CC_STATS: dict = {}


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a near-dup candidate graph → dedup
    GROUPS (pairs alone under-merge: A~B and B~C must collapse to one
    survivor even when A~C was never emitted).

    Iterative hash-min label propagation with pointer doubling, the
    GraphX-free Spark form: every node starts labeled with itself; each
    round every node takes min(own label, neighbors' labels), then
    shortcuts lbl := lbl[lbl] (label-of-label — the large-star/small-star
    idea from Kiveris et al., "Connected Components in MapReduce and
    Beyond"): a chain of length L converges in O(log L) rounds instead of
    O(L), so worst-case deep chains cannot blow the round count.
    Converged when no label changes (one tiny count per round on the
    checkpointed frame). Each round is two shuffles on the node id.
    Output: (node, component) with component = min node id of the
    component — deterministic regardless of partitioning.

    If ``stats`` is given, ``stats["rounds"]`` records rounds-to-converge
    (bench reports it so VM-phase noise and algorithmic drift in the
    iterative timing are distinguishable round-over-round).
    """
    spark = edges.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Materialize the edge relation ONCE before deriving sym/self-loops
    # (r8 s4): sym references edges twice and the self-loop node list
    # twice more, and an arbitrarily expensive upstream (the LSH candidate
    # chain here) would otherwise be computed up to 4x inside the sym
    # checkpoint job — concurrent branches of one job race the cache
    # instead of reusing it. Measured: the sym checkpoint alone fell
    # 8.0 -> 1.3 s cold at sf0.1.
    edges = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=True)
    sym = edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # Self-loops (r8 s4): with (a, a) rows present, the per-round
    # neighbor-min aggregate min over lbl[N(a) ∪ {a}] already includes
    # a's own label — the separate least(own, nbr)/left-join step each
    # round used to pay disappears, and the aggregate is total over all
    # nodes by construction.
    sym = sym.unionByName(
        sym.select("a").distinct().select("a", F.col("a").alias("b"))
    )
    # The graph is static across rounds: hash-partition it ONCE by the
    # per-round join key so every round's join reuses the checkpointed
    # partitioning and only the (smaller) label frame moves — at scale
    # the edge re-shuffle per round is the dominant per-round cost.
    # localCheckpoint TRUNCATES LINEAGE — without it every round's plan
    # nests the previous rounds' and the logical tree blows the stack
    # after ~10 iterations (the classic Spark iterative-algorithm trap;
    # persist() alone does NOT cut the plan); it also preserves the
    # repartition's output partitioning on the captured RDD.
    sym = sym.repartition(n_shuffle, "b").localCheckpoint(eager=True)
    # Fused first round (r8 s4): with init lbl = node id and self-loops in
    # sym, round 1's neighbor-min over labels IS groupBy(a).min(b) — one
    # aggregate straight off the checkpointed graph, no join, and the
    # old separate init frame (distinct node list) never materializes.
    labels = (
        sym.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("lbl"))
    ).localCheckpoint(eager=False)  # materialized by the first label-sum job
    # Convergence detector (r8): labels are MIN-MONOTONE — a node's label
    # never increases (both the neighbor-min step and the pointer
    # shortcut only adopt smaller-or-equal labels), so sum(lbl) strictly
    # decreases iff ANY label changed.  One single-stage agg over the
    # just-checkpointed frame replaces the old per-round
    # new-vs-old join + limit + count (a join shuffle per round).
    # decimal(38,0): exact at any node-id magnitude (an int64 sum could
    # wrap and alias two different label states).
    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _label_sum(labels)  # materializes the fused-init labels
    rounds = 1  # the fused init IS round 1's neighbor-min
    for _ in range(max_iter):
        rounds += 1
        # neighbor-min over N(a) ∪ {a} (self-loops carry a's own label —
        # no separate least()/left-join step); sym side reuses the
        # checkpointed hash partitioning on b, only labels are shuffled.
        stepped = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("lbl").alias("lbl"))
        )
        # pointer doubling: lbl := lbl[lbl]. Every lbl value is a node id
        # in the same component (init lbl=node; both steps only adopt
        # labels held by same-component nodes), so the self-join is total
        # and the shortcut stays within the component — min-monotone, and
        # any fixed point of the neighbor-min step alone is already
        # per-component constant, so convergence detection is unchanged.
        # lazy checkpoint + eager agg = ONE job per round (r8): the
        # label-sum action below materializes the checkpoint as a side
        # effect, so the separate eager-materialization job the loop used
        # to run per round is gone; lineage is truncated identically
        # (localCheckpoint caches partitions at first computation).
        new_labels = (
            stepped.join(
                stepped.select(F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")),
                "lbl",
            )
            .select("node", F.col("lbl2").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        cur_sum = _label_sum(new_labels)
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # Exhausting max_iter with labels still changing means the returned
        # labels are NOT components (under-merged) — never return silently
        # wrong groups; at scale there is no oracle gate to catch it.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "component diameter exceeds max_iter — raise max_iter"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("node", F.col("lbl").alias("component"))


def simhash(
    df: DataFrame, text_col: str = "text", bits: int = 16, hash: str = "md5"
) -> DataFrame:
    """SimHash fingerprint: per-word hash, sign-sum per bit plane.
    Pure relational form: explode words × bit planes, sum(±1), pack.
    (Scale note: bits×words rows are map-side only — the shuffle is the
    final groupBy(doc_id), one row per doc per bit.)

    ``hash="md5"`` (default) draws the bit planes from a 4-hex-char md5
    prefix — oracle-replicable (functions/hashing.py); ``xxhash64`` is the
    cheapest-per-byte variant (no oracle). Both are stateless map-side."""
    if bits > 16 and hash == "md5":
        raise ValueError("md5 plane source is 16 bits wide")
    words = tokenize(df, text_col)
    if hash == "md5":
        from ..functions.hashing import md5_int

        h = md5_int(F.col("w"), hex_chars=4)
    elif hash == "xxhash64":
        h = F.xxhash64("w")
    else:
        raise ValueError(hash)
    planes = F.sequence(F.lit(0), F.lit(bits - 1))
    exploded = words.select("doc_id", h.alias("h"), F.explode(planes).alias("bit"))
    votes = exploded.groupBy("doc_id", "bit").agg(
        F.sum(
            F.when(F.expr("shiftright(h, cast(bit as int)) & 1") == 1, 1).otherwise(-1)
        ).alias("v")
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(cast(1 as bigint), cast(bit as int))"))
            .otherwise(F.lit(0))
        ).alias("simhash")
    )


def phash_near_dup_pairs(
    images: DataFrame,
    id_col: str = "i",
    phash_col: str = "phash",
    bands: int = 4,
    band_bits: int = 8,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """IMAGE near-duplicate pairs via banded Hamming LSH over perceptual
    hashes — the image-modality analog of MinHash-LSH for text.

    Split each phash into ``bands`` contiguous ``band_bits``-bit bands and
    bucket-join per (band index, band value): by pigeonhole, any pair with
    hamming distance < ``bands`` shares at least one intact band, so
    recall is EXACT (1.0) for ``max_hamming <= bands - 1`` — no
    probabilistic misses, unlike minhash. Larger ``max_hamming`` is the
    approximate regime: candidates are still only band-sharers (recall
    1 - P(no intact band), high for mildly larger distances). Verification
    is candidate-scoped (bit_count(xor) on candidates only); the all-pairs
    O(n^2) comparison never exists.

    Sizing at scale: bucket density ~ n / (2^band_bits) per band — 64-bit
    production phashes give 16-bit bands (65k buckets/band, hamming<=3
    guaranteed); ``max_bucket`` drops degenerate hot buckets (e.g. the
    all-black-image hash) exactly like the minhash hot-bucket cap.

    Output: (id_a, id_b, hamming), id_a < id_b, hamming <= max_hamming.
    """
    mask = (1 << band_bits) - 1
    e = images.select(F.col(id_col).alias("id"), F.col(phash_col).alias("ph"))
    banded = e.select(
        "id",
        "ph",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.shiftright("ph", j * band_bits).bitwiseAND(F.lit(mask)).alias("b"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("p"),
    ).select("id", "ph", F.col("p.j").alias("j"), F.col("p.b").alias("b"))
    if max_bucket is not None:
        hot = (
            banded.groupBy("j", "b")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket)
            .select("j", "b")
        )
        banded = banded.join(F.broadcast(hot), ["j", "b"], "left_anti")
    a = banded.select(F.col("id").alias("id_a"), F.col("ph").alias("pa"), "j", "b")
    bb = banded.select(F.col("id").alias("id_b"), F.col("ph").alias("pb"), "j", "b")
    ham = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
    return (
        a.join(bb, ["j", "b"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", "pb")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def tokenize_word_ngrams(
    df: DataFrame, n: int = 3, text_col: str = "text", out: str = "w"
) -> DataFrame:
    """doc_id + exploded distinct WORD n-grams (sliding windows of n
    consecutive words joined by a space) — the shingle unit of standard
    train/eval decontamination (the GPT-3/Llama n-gram-overlap recipe).
    Pure Column exprs: split → sequence of window starts → slice +
    array_join → explode → distinct.  Shape (r8): split once, explode
    window starts, slice + join per row — transform lambdas run
    interpreted (no codegen), so building all windows inside the lambda
    was the explode's cost, not the explode itself."""
    starts = F.when(
        F.size("_ws") >= n,
        F.expr(f"sequence(1, size(_ws) - {n - 1})"),
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select("doc_id", F.split(F.col(text_col), " ").alias("_ws"))
        .select("doc_id", "_ws", F.explode(starts).alias("_i"))
        .select(
            "doc_id",
            F.expr(f"array_join(slice(_ws, _i, {n}), ' ')").alias(out),
        )
        .distinct()
    )


def decontaminate_overlap(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    min_overlap: int = 5,
    max_df_eval: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Train/eval decontamination: (doc_id, eval_id, n_shared) for every
    corpus doc sharing ≥ ``min_overlap`` distinct word n-grams with an
    eval doc — the contamination report whose doc_ids get dropped (or
    down-weighted) before training.

    The 100 TB plan shape: eval sets are small by nature (10^3-10^5
    docs), so the EVAL gram set — after the hot-shingle cap drops grams
    appearing in > ``max_df_eval`` eval docs (boilerplate n-grams would
    match everything and explode the join) — is BROADCAST. The corpus
    side is tokenized map-side and semi-joined with zero corpus shuffle;
    the only exchange is the per-(doc, eval) count over MATCHED rows,
    which is bounded by the eval set's gram mass, not the corpus size."""
    cg = tokenize_word_ngrams(corpus, n=n, text_col=text_col)
    eg = tokenize_word_ngrams(eval_df, n=n, text_col=text_col).withColumnRenamed(
        "doc_id", "eval_id"
    )
    hot_capped = eg.join(
        eg.groupBy("w").agg(F.count(F.lit(1)).alias("df_ev")).where(
            F.col("df_ev") <= max_df_eval
        ).select("w"),
        "w",
    )
    matched = cg.join(F.broadcast(hot_capped), "w")
    return (
        matched.groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_overlap)
    )


def positional_word_ngrams(
    df: DataFrame, n: int, text_col: str = "text", out: str = "gram"
) -> DataFrame:
    """(doc_id, pos, gram) for EVERY word-window start, 0-based, NOT
    distinct — the positional shingle stream exact-substring dedup needs
    (repeats inside one doc are duplicates too). Pure Column exprs.
    Shape (r8): split once, explode window starts (pos = start - 1 ==
    the old posexplode index), slice + join per row — the transform
    lambda ran interpreted, dominating the gram stage (guide §1.2)."""
    starts = F.when(
        F.size("_ws") >= n,
        F.expr(f"sequence(1, size(_ws) - {n - 1})"),
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select("doc_id", F.split(F.col(text_col), " ").alias("_ws"))
        .select("doc_id", "_ws", F.explode(starts).alias("_i"))
        .select(
            "doc_id",
            (F.col("_i") - 1).alias("pos"),
            F.expr(f"array_join(slice(_ws, _i, {n}), ' ')").alias(out),
        )
    )


def _positional_gram_hashes(
    df: DataFrame, n: int, text_col: str = "text"
) -> DataFrame:
    """(doc_id, pos, h): md5_int(hex_chars=7) of every positional word
    n-gram — the gram stream duplicated_spans shuffles.

    Fast path (r8 s4): one Arrow kernel hashes each gram DIRECTLY over
    the original text bytes — ``array_join(slice(split(text,' '),i,n),
    ' ')`` is byte-identical to the text range from word i's first byte
    to word i+n-1's last (split on a literal single space re-joined with
    single spaces reproduces empty segments exactly), so no gram string
    is ever built and the md5 runs in C (native.md5_word_grams,
    hashlib twin inside the kernel when the toolchain is absent — same
    bytes, same digest, bit-identical by construction).  The Column-
    expression form this replaces (positional_word_ngrams + md5_int)
    measured 2.15 s of exact_substring_spans' 4.1 s at the sf1.0
    replica; pytest pins kernel == expression on adversarial inputs."""
    spark = df.sparkSession

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        from .. import native as _native

        import ctypes as _ct

        for b in batches:
            arr = b.column(1)
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
            r = (
                _native.md5_word_grams(
                    data.ctypes.data_as(_ct.c_char_p), off, n
                )
                if not arr.null_count
                else None
            )
            if r is None:
                # hashlib twin — same bytes hashed, bit-identical; also
                # the null-text path (a null explodes to ZERO gram rows
                # in the expression form, so null rows are skipped)
                import hashlib as _hl

                counts_l, pos_l, h_l = [], [], []
                raw = data.tobytes()
                valid = (
                    arr.is_valid().to_numpy(zero_copy_only=False)
                    if arr.null_count
                    else np.ones(len(arr), dtype=bool)
                )
                for k in range(len(arr)):
                    if not valid[k]:
                        counts_l.append(0)
                        continue
                    t = raw[off[k] : off[k + 1]]
                    ws = t.split(b" ")
                    wins = max(0, len(ws) - n + 1)
                    counts_l.append(wins)
                    for i in range(wins):
                        gbytes = b" ".join(ws[i : i + n])
                        pos_l.append(i)
                        h_l.append(int(_hl.md5(gbytes).hexdigest()[:7], 16))
                counts = np.asarray(counts_l, dtype=np.int64)
                pos = np.asarray(pos_l, dtype=np.int32)
                h = np.asarray(h_l, dtype=np.int64)
            else:
                counts, pos, h = r
            doc = np.repeat(b.column(0).to_numpy(zero_copy_only=False), counts)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc), pa.array(pos), pa.array(h)],
                names=["doc_id", "pos", "h"],
            )

    return df.select("doc_id", text_col).mapInArrow(
        kernel, schema="doc_id long, pos int, h long"
    )


def duplicated_spans(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring dedup report (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" recipe, Spark-shaped):
    per doc, the maximal spans of tokens covered by some ``n``-token
    window that occurs ≥ ``min_count`` times corpus-wide (across OR
    within docs). Returns (doc_id, n_dup_spans, dup_tokens,
    max_span_tokens) — dup_tokens is the EXACT size of the union of
    duplicated windows (adjacent/overlapping windows coalesce), i.e. the
    token mass a span-removal pass would cut.

    Scale shape (the suffix-array paper's job, re-expressed in joins):
    positional grams explode map-side; window occurrence counts are one
    hash-keyed agg WITH map-side partials (grams hash to 64-bit md5 ints
    before the shuffle — ship 8 bytes, not the n-word string); duplicated
    positions join back on the same hash key; span coalescing is a
    per-doc gap-and-island (lag + running sum) — partitioned by doc_id,
    so no single-partition stage anywhere. Windows coalesce when the
    next start is ≤ prev start + n (their token ranges touch), making
    dup_tokens exact under overlap."""
    g = _positional_gram_hashes(df, n, text_col)
    # ONE pass over the gram stream: count-over-window keyed on h, filter
    # cnt >= min_count.  Membership is identical to the r7 two-sided form
    # (count agg on h -> broadcast the duplicated hashes -> join back),
    # but that form evaluated the gram explode + md5 TWICE (the agg's
    # child and the probe side are separate scans — no exchange reuse
    # across a broadcast join) and built a corpus-sized broadcast of dup
    # hashes; here the grams shuffle once by their 8-byte h and both the
    # count and the filter happen in place (guide §2.4).
    wcnt = Window.partitionBy("h")
    duppos = (
        g.withColumn("cnt", F.count(F.lit(1)).over(wcnt))
        .where(F.col("cnt") >= min_count)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = duppos.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos", 1).over(w) > n, 1).otherwise(0),
    ).withColumn("island", F.sum("brk").over(w))
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("lo"), F.max("pos").alias("hi")
    )
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("hi") - F.col("lo") + n).alias("dup_tokens"),
        F.max(F.col("hi") - F.col("lo") + n).alias("max_span_tokens"),
    )
