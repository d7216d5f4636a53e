"""Similarity search over embedding columns (array<float>).

* ``quantize``      — int fixed-point components (round(x*1000)): makes dot
                      products exact integer arithmetic → order-independent,
                      bit-identical across engines and parallelism. (This is
                      also the practical int8/int16-quantization trick used
                      at 1e12-vector scale.)
* ``cosine_topk``   — brute-force exact top-k: the bounded query side is
                      broadcast as one quantized matrix and every corpus
                      partition scores it with a numpy GEMM (exact integer
                      dots). O(n·m); the recall yardstick.
* ``lsh_topk``      — sign-LSH bucketed approximate top-k: bucket on the
                      sign bits of a few fixed components, search within the
                      bucket only (equi-join on bucket id), cutting
                      candidates by ~2^bits.

The join-based operators are JVM-side (zip_with + aggregate on int
arrays); the GEMM operators decide in the JVM from exact integer dots.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

QUANT = 1000
LSH_DIMS = [1, 14, 27, 40]  # 1-based component indices for sign-LSH
# Independent second hash table for multi-table LSH: a true near-dup pair
# split by one table's hyperplanes is usually united by the other —
# recall 1-(1-p)^T for T tables at the cost of T equi-joins (still no
# cross join anywhere).
LSH_TABLES = [LSH_DIMS, [7, 20, 33, 46]]


def quantize(emb: Column) -> Column:
    """array<float> -> array<bigint>, component-wise round(x*QUANT)."""
    return F.transform(emb, lambda x: F.round(x.cast("double") * QUANT, 0).cast("long"))


def dot_int(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def norm2_int(a: Column) -> Column:
    return F.aggregate(F.transform(a, lambda x: x * x), F.lit(0).cast("long"), lambda acc, v: acc + v)


def lsh_bucket(emb: Column, dims: list[int] | None = None) -> Column:
    """Sign bits of the ``dims`` components (1-based), packed to an int
    bucket id — 2^len(dims) buckets. More bits = smaller buckets (lower
    candidate fan-out) but lower per-table recall; tune bits per corpus
    density and stack tables (LSH_TABLES) to buy recall back."""
    bits = [
        F.when(F.element_at(emb, d) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, d in enumerate(dims or LSH_DIMS)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _ranked(pairs: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("sim", 6).alias("sim"))
    )


def _sim_pairs(queries: DataFrame, corpus: DataFrame, join_on: list[str]) -> DataFrame:
    q = queries.select(
        F.col("vec_id").alias("qid"),
        quantize(F.col("embedding")).alias("qe"),
        *join_on,
    ).withColumn("_nq", norm2_int(F.col("qe")))
    c = corpus.select(
        F.col("vec_id").alias("nid"),
        quantize(F.col("embedding")).alias("ne"),
        *join_on,
    ).withColumn("_nn", norm2_int(F.col("ne")))
    # norms are computed ONCE PER VECTOR before the pair join — inside the
    # join they would be recomputed per candidate pair (64 mults x 2 per
    # pair, ~2/3 of the pair work at high fan-out)
    return (
        q.join(c, join_on)
        .where(F.col("qid") != F.col("nid"))
        .withColumn("_dot", dot_int(F.col("qe"), F.col("ne")))
        .withColumn(
            "sim",
            F.col("_dot").cast("double")
            / F.sqrt(F.col("_nq").cast("double") * F.col("_nn").cast("double")),
        )
    )


# cosine_topk collects and broadcasts its whole query side, so this cap
# bounds that side: it cannot be invoked at corpus scale by accident. 10k
# queries x corpus is a measured-baseline job; corpus x corpus at 10^12 is
# not a job at all.
MAX_BRUTE_FORCE_QUERIES = 100_000


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    max_queries: int | None = MAX_BRUTE_FORCE_QUERIES,
) -> DataFrame:
    """Exact brute-force top-k cosine neighbours (qid, nid, rank, sim).

    LABELED EXACT BASELINE — O(|queries| x |corpus|) by construction.
    Guarded by ``max_queries`` (counts up to the cap + 1 only); use
    lsh_topk / ivf_topk for unbounded query sets.

    The bounded query side (a control-plane collect under the cap) is
    broadcast as one quantized matrix and each corpus partition computes
    its dots as a numpy GEMM, emitting only its per-query top-k
    candidates under the exact global comparator (-sim, nid) — numpy's
    sim is the same IEEE double expression Spark evaluates, so
    partition-local top-k preserves the global top-k by total order.
    The final rank window runs over |queries| x partitions x k candidate
    rows with Spark recomputing sim from (dot, na, nb)."""
    if max_queries is not None:
        n = queries.limit(max_queries + 1).count()
        if n > max_queries:
            raise ValueError(
                f"cosine_topk is the exact brute-force baseline; query side "
                f"exceeds max_queries={max_queries}. Use lsh_topk/ivf_topk."
            )
    import numpy as np
    import pandas as pd

    qpd = queries.select("vec_id", quantize(F.col("embedding")).alias("qe")).toPandas()
    if len(qpd) == 0:
        return corpus.sparkSession.createDataFrame(
            [], "qid long, nid long, rank int, sim double"
        )
    qids = qpd["vec_id"].to_numpy().astype(np.int64)
    Q = np.vstack(qpd["qe"].to_numpy()).astype(np.int64)
    qn2 = (Q * Q).sum(axis=1)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((qids, Q, qn2))
    kk = int(k)

    def kernel(batches):
        qids_, Q_, qn2_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            nids = pdf["vec_id"].to_numpy().astype(np.int64)
            V = np.vstack(pdf["ne"].to_numpy()).astype(np.int64)
            n2 = (V * V).sum(axis=1)
            G = Q_ @ V.T  # (nq, m) exact int64 dots
            sim = G / np.sqrt(
                qn2_[:, None].astype(np.float64) * n2[None, :].astype(np.float64)
            )
            out = {"qid": [], "nid": [], "_dot": [], "_nq": [], "_nn": []}
            for qi in range(nq):
                mask = nids != qids_[qi]
                cand = np.nonzero(mask)[0]
                if len(cand) == 0:
                    continue
                order = np.lexsort((nids[cand], -sim[qi, cand]))[:kk]
                sel = cand[order]
                out["qid"].append(np.full(len(sel), qids_[qi], np.int64))
                out["nid"].append(nids[sel])
                out["_dot"].append(G[qi, sel])
                out["_nq"].append(np.full(len(sel), qn2_[qi], np.int64))
                out["_nn"].append(n2[sel])
            yield pd.DataFrame(
                {c: np.concatenate(v) if v else np.array([], np.int64)
                 for c, v in out.items()}
            )

    cand = corpus.select(
        "vec_id", quantize(F.col("embedding")).alias("ne")
    ).mapInPandas(
        kernel, schema="qid long, nid long, _dot long, _nq long, _nn long"
    )
    pairs = cand.withColumn(
        "sim",
        F.col("_dot").cast("double")
        / F.sqrt(F.col("_nq").cast("double") * F.col("_nn").cast("double")),
    )
    return _ranked(pairs, k)


def lsh_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5, dims: list[int] | None = None
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket."""
    q = queries.withColumn("bucket", lsh_bucket(F.col("embedding"), dims))
    c = corpus.withColumn("bucket", lsh_bucket(F.col("embedding"), dims))
    return _ranked(_sim_pairs(q, c, ["bucket"]), k).drop("bucket")


def sampled_centroids(corpus: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic hash-spread representatives: the ``n_cells`` corpus
    vectors minimizing md5(vec_id). Stateless, oracle-replicable (same md5
    recipe as functions/hashing.py), and spread pseudo-uniformly over the
    corpus — unlike a prefix of ids, which frequently lands several
    near-duplicate vectors (a cluster split across many near-identical
    cells is the classic IVF failure mode). ``orderBy().limit()`` is a
    distributed take-ordered (per-partition top-k then merge) — no global
    window, scale-safe."""
    from ..functions.hashing import md5_int

    return (
        corpus.select("vec_id", "embedding")
        .withColumn("_h", md5_int(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(n_cells)
        .drop("_h")
    )


def default_centroids(corpus: DataFrame, n_cells: int, oversample: int = 8) -> DataFrame:
    """Training-free default quantizer: k-center greedy (farthest-point)
    over a deterministic hash-spread sample.

    The sample (``oversample * n_cells`` rows, bounded driver collect —
    the standard 'train the coarse quantizer on a sample' step) is reduced
    to AT MOST ``n_cells`` representatives by greedy max-min cosine
    distance, so no two centroids are near-duplicates: a planted near-dup
    cluster contributes at most one centroid regardless of how many of
    its members the sample caught. The traversal stops early when the
    max-min distance collapses below 5% of its initial value — data with
    fewer than n_cells distinct modes gets fewer cells, rather than
    several centroids inside one mode (which would split that mode across
    more cells than nprobe covers). Fully deterministic (hash-ordered
    sample, first-max argmax). Production can still pass offline-trained
    k-means centroids — the operator is identical.
    """
    import numpy as np
    import pandas as pd

    sample = sampled_centroids(corpus, oversample * n_cells).toPandas()
    V = np.asarray([np.asarray(v, dtype=np.float64) for v in sample["embedding"]])
    norms = np.linalg.norm(V, axis=1)
    norms[norms == 0] = 1.0
    U = V / norms[:, None]
    chosen = [0]  # hash-min sample row seeds the traversal
    d = 1.0 - U @ U[0]
    d_first = None
    for _ in range(1, min(n_cells, len(U))):
        nxt = int(np.argmax(d))
        if d_first is None:
            d_first = max(float(d[nxt]), 1e-12)
        if d[nxt] < 0.05 * d_first:  # only near-dups of chosen cells remain
            break
        chosen.append(nxt)
        d = np.minimum(d, 1.0 - U @ U[nxt])
    picked = sample.iloc[chosen][["vec_id", "embedding"]].reset_index(drop=True)
    return corpus.sparkSession.createDataFrame(
        pd.DataFrame(picked), schema=corpus.select("vec_id", "embedding").schema
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: inverted-file ANN.

    1. Coarse quantizer: a small centroid table (``centroids`` =
       (vec_id, embedding); default: :func:`default_centroids` —
       farthest-point representatives of a deterministic sample;
       production plugs k-means centroids trained offline, the operator
       is identical).
    2. ASSIGN: every corpus vector goes to its nearest centroid's cell —
       a broadcast join against n_cells rows, map-side in effect.
    3. PROBE: each query scores the centroids and searches only its
       ``nprobe`` nearest cells (equi-join on cell id — never a corpus
       cross join). Recall/cost dial: nprobe/n_cells.
    4. Exact integer-quantized cosine within the probed cells, rank top-k.

    Complements sign-LSH (lsh_topk): IVF adapts to the data's density via
    its centroids where LSH hyperplanes are data-oblivious.
    """
    if centroids is None:
        centroids = default_centroids(corpus, n_cells)
    cents = centroids.select(
        F.col("vec_id").alias("cid"), quantize(F.col("embedding")).alias("ce")
    )
    cents = cents.withColumn("_cn2", norm2_int(F.col("ce")))

    def nearest_cells(df: DataFrame, id_alias: str, vec_alias: str, n2_alias: str, take: int) -> DataFrame:
        # vector norms computed once per vector, not per centroid / pair
        x = df.select(
            F.col("vec_id").alias(id_alias), quantize(F.col("embedding")).alias(vec_alias)
        ).withColumn(n2_alias, norm2_int(F.col(vec_alias)))
        csim = dot_int(F.col(vec_alias), F.col("ce")).cast("double") / F.sqrt(
            F.col(n2_alias).cast("double") * F.col("_cn2").cast("double")
        )
        w = Window.partitionBy(id_alias).orderBy(F.col("_csim").desc(), F.col("cid"))
        return (
            x.crossJoin(F.broadcast(cents))  # n_cells-row broadcast product
            .withColumn("_csim", csim)
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= take)
            .select(id_alias, vec_alias, n2_alias, "cid")
        )

    assigned = nearest_cells(corpus, "nid", "ne", "_nn", 1)
    probes = nearest_cells(queries, "qid", "qe", "_nq", nprobe)
    pairs = (
        probes.join(assigned, "cid")
        .where(F.col("qid") != F.col("nid"))
        .withColumn(
            "sim",
            dot_int(F.col("qe"), F.col("ne")).cast("double")
            / F.sqrt(F.col("_nq").cast("double") * F.col("_nn").cast("double")),
        )
    )
    return _ranked(pairs, k)


def lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    tables: list[list[int]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table sign-LSH.

    The scale path for all-pairs near-dup: each table contributes the
    pairs that collide in its bucket (never a cross join over the corpus),
    and the exact integer-quantized cosine is computed per CANDIDATE only.
    Recall per true pair is 1-(1-p)^T where p = (1 - theta/pi)^bits.

    Output: (id_a, id_b, sim) with id_a < id_b and sim >= threshold.

    Candidate pairs are made DISJOINT across tables up front — table k
    contributes exactly the pairs that collide in table k and in NO
    earlier table — so no cross-table dropDuplicates is needed, and each
    (table, bucket) group computes its pairwise integer dot products as
    one chunked numpy GEMM inside a single applyInPandas stage. Only
    pairs at the threshold survive to the JVM, which makes the exact
    decision on the same IEEE double sim. Each vector ships to exactly
    one task per table, never a candidate pair carrying both quantized
    vectors (guide §2.3 "shuffle keys and metadata instead of payloads"
    + §4.2).
    """
    import numpy as np
    import pandas as pd

    tables = tables or LSH_TABLES
    e = df.select(
        "vec_id",
        quantize(F.col("embedding")).alias("q"),
        *[lsh_bucket(F.col("embedding"), t).alias(f"_b{k}") for k, t in enumerate(tables)],
    ).withColumn("_n2", norm2_int(F.col("q")))  # once per vector, not per pair
    parts = None
    for k in range(len(tables)):
        prior = (
            F.array(*[F.col(f"_b{j}") for j in range(k)])
            if k
            else F.array().cast("array<int>")
        )
        part = e.select(
            F.lit(k).alias("_t"),
            F.col(f"_b{k}").cast("int").alias("_bk"),
            "vec_id",
            "q",
            "_n2",
            prior.cast("array<int>").alias("_prior"),
        )
        parts = part if parts is None else parts.unionByName(part)

    # conservative float prefilter: sim is later recomputed in Spark
    # with the exact same IEEE double ops; the 1e-9 slack only lets a
    # handful of boundary pairs through for Spark to re-judge
    thr = float(threshold) - 1e-9
    chunk = 2048

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", kind="mergesort")
        ids = pdf["vec_id"].to_numpy()
        m = len(ids)
        out = {"id_a": [], "id_b": [], "_dot": [], "_na": [], "_nb": []}
        if m >= 2:
            V = np.vstack(pdf["q"].to_numpy()).astype(np.int64)
            n2 = pdf["_n2"].to_numpy().astype(np.int64)
            priors = (
                np.vstack(pdf["_prior"].to_numpy()).astype(np.int64)
                if len(pdf["_prior"].iloc[0])
                else None
            )
            for i0 in range(0, m, chunk):
                i1 = min(i0 + chunk, m)
                G = V[i0:i1] @ V.T  # exact int64 dots (|q|<=1e3, dim 64)
                simf = G / np.sqrt(
                    n2[i0:i1, None].astype(np.float64) * n2[None, :].astype(np.float64)
                )
                cand = simf >= thr
                # strict upper triangle: id_a < id_b (rows sorted by id)
                cand &= np.arange(m)[None, :] > (np.arange(i0, i1)[:, None])
                if priors is not None:
                    # drop pairs already emitted by an earlier table
                    same_prior = (priors[i0:i1, None, :] == priors[None, :, :]).any(
                        axis=2
                    )
                    cand &= ~same_prior
                ai, bj = np.nonzero(cand)
                if len(ai):
                    out["id_a"].append(ids[ai + i0])
                    out["id_b"].append(ids[bj])
                    out["_dot"].append(G[ai, bj])
                    out["_na"].append(n2[ai + i0])
                    out["_nb"].append(n2[bj])
        cat = {
            c: (np.concatenate(v) if v else np.array([], dtype=np.int64))
            for c, v in out.items()
        }
        return pd.DataFrame(cat)

    found = parts.groupBy("_t", "_bk").applyInPandas(
        kernel, schema="id_a long, id_b long, _dot long, _na long, _nb long"
    )
    sim = F.col("_dot").cast("double") / F.sqrt(
        F.col("_na").cast("double") * F.col("_nb").cast("double")
    )
    return (
        found.withColumn("sim", sim)
        .where(F.col("sim") >= threshold)  # exact decision, JVM doubles
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def kmeans_clusters(
    corpus: DataFrame, k: int = 8, iters: int = 2
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup-style embedding clustering: Lloyd's k-means with fully
    deterministic, engine-replicable arithmetic (the clustering stage of
    semantic dedup — cluster first, then near-dup only within clusters).

    * seeds: the ``k`` hash-min vectors (md5 order — stateless, oracle-
      replicable), cid = seed rank;
    * assignment: argmin INTEGER squared L2 over quantized components,
      (d2, cid)-lexicographic tie-break — no floats anywhere in the
      decision, so membership is bit-identical across engines and
      parallelism levels;
    * update: per-component floor(sum/count) keeps centroids integer
      every round (floor of an exact small-int double ratio is
      deterministic).

    Returns (assignments(vec_id, cid, d2), centroids(cid, ce)).

    Scale shape: assignment joins a BROADCAST k-row centroid relation —
    the corpus never shuffles for it; the update is one (cid, component)
    agg with map-side partials (k*dim groups). ``iters`` is fixed and
    small; at corpus scale checkpoint each round's centroids like
    connected_components does (the lazy plan re-derives round t-1 inside
    round t, fine for small iters, wrong for 20)."""
    from ..functions.hashing import md5_int

    vecs = corpus.select("vec_id", quantize(F.col("embedding")).alias("qe"))
    w0 = Window.orderBy("_h", "vec_id")
    cents = (
        corpus.select("vec_id", "embedding")
        .withColumn("_h", md5_int(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(k)
        .withColumn("cid", (F.row_number().over(w0) - 1).cast("int"))
        .select("cid", quantize(F.col("embedding")).alias("ce"))
    )

    def assign(cents: DataFrame) -> DataFrame:
        d2 = F.aggregate(
            F.zip_with(F.col("qe"), F.col("ce"), lambda x, c: (x - c) * (x - c)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        ww = Window.partitionBy("vec_id").orderBy("d2", "cid")
        return (
            vecs.crossJoin(F.broadcast(cents))  # k-row broadcast product
            .withColumn("d2", d2)
            .withColumn("_rk", F.row_number().over(ww))
            .where(F.col("_rk") == 1)
            .select("vec_id", "qe", "cid", "d2")
        )

    for _ in range(iters):
        comp = assign(cents).select("cid", F.posexplode("qe").alias("i", "v"))
        cents = (
            comp.groupBy("cid", "i")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn(
                "cv", F.floor(F.col("s").cast("double") / F.col("n")).cast("long")
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "cv"))),
                    lambda s: s["cv"],
                ).alias("ce")
            )
        )
    return assign(cents).select("vec_id", "cid", "d2"), cents


def semdedup_prune(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold_bp: int = 4500,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end-to-end: k-means cluster the
    embeddings (``kmeans_clusters`` — the graded clustering stage), then
    detect cosine near-duplicates ONLY within each cluster and keep the
    first (lowest-id) member of every duplicate neighborhood: a row is
    dropped iff some LOWER-id row in its cluster is within the cosine
    threshold ("keep-first" — deterministic, order-free, and exactly
    replicable in SQL, unlike the paper's keep-farthest-from-centroid
    which ties on float distance).

    The membership decision is exact integer arithmetic: with quantized
    vectors, sim >= bp/1e4  <=>  dot > 0 AND dot^2 * 1e8 >= bp^2*n2a*n2b
    — squared cross-multiplication avoids sqrt; the products exceed
    int64 (dot^2*1e8 reaches ~4e23 at QUANT=1000, dim 64), so the kernel
    below re-judges every near-boundary pair in Python ints (the DuckDB
    oracle computes both sides in hugeint). No float ever decides a
    boundary case.

    Returns per-cluster prune summary
    (cluster, n_vecs, n_dropped, sum_kept_id).

    Scale shape: the quadratic pair search is confined to single
    clusters — the SemDeDup design point: k grows with the corpus so the
    expected cluster size (and the per-group GEMM) stays bounded, and
    the pair search is a group-by on cid (one shuffle by cluster, never
    an all-pairs product). A hot (oversized) cluster is visible in the
    k-means stage's group sizes before the pair search runs;
    split it by raising k or salt it (operators/skew.salted_join) —
    same remedy as any skewed key."""
    assignments, _ = kmeans_clusters(corpus, k=k, iters=iters)
    # lazy persist: the assignment relation is referenced twice (the
    # per-cluster vectors + the final census); without it the lazy
    # kmeans sub-plan is inlined and EXECUTED once per reference
    # (measured 5.8 s -> 2.0 s at sf0.1). persist() keeps construction
    # job-free (plan-invariants builds all plans without running them);
    # the k-means rounds run exactly once, at first action.
    assignments = assignments.persist()
    vecs = corpus.select("vec_id", quantize(F.col("embedding")).alias("qe"))
    e = (
        assignments.select("vec_id", "cid")
        .join(vecs, "vec_id")
        .withColumn("n2", norm2_int(F.col("qe")))
    )
    # each cluster's pairwise dots are ONE chunked numpy GEMM inside
    # a single applyInPandas stage: no candidate pair ever carries
    # both 512-byte quantized vectors through a shuffle.  The keep/drop
    # decision stays EXACT integer arithmetic: both sides of
    # dot^2*1e8 >= bp^2*na*nb are <= ~4e23 with at most one float64
    # rounding each when computed from exactly-representable factors
    # (dot^2, na*nb < 2^53), so the float comparison is correct
    # outside a 1e-6 relative band and pairs INSIDE the band are
    # re-judged with Python arbitrary-precision ints — no float ever
    # decides a boundary case.
    import numpy as np
    import pandas as pd

    bp2_i = threshold_bp * threshold_bp
    chunk = 2048

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", kind="mergesort")
        ids = pdf["vec_id"].to_numpy()
        m = len(ids)
        if m < 2:
            return pd.DataFrame({"vec_id": np.array([], dtype=np.int64)})
        V = np.vstack(pdf["qe"].to_numpy()).astype(np.int64)
        n2 = pdf["n2"].to_numpy().astype(np.int64)
        n2f = n2.astype(np.float64)
        is_dropped = np.zeros(m, dtype=bool)
        for i0 in range(0, m, chunk):
            i1 = min(i0 + chunk, m)
            G = V[i0:i1] @ V.T  # exact int64 (|q|<=1e3, dim 64)
            lhs = np.square(G.astype(np.float64)) * 1e8
            rhs = float(bp2_i) * (n2f[i0:i1, None] * n2f[None, :])
            upper = np.arange(m)[None, :] > np.arange(i0, i1)[:, None]
            pos = G > 0
            passing = (lhs >= rhs) & pos & upper
            band = (
                (np.abs(lhs - rhs) <= 1e-6 * np.maximum(lhs, rhs))
                & pos
                & upper
            )
            for ii, jj in zip(*np.nonzero(band)):
                d = int(G[ii, jj])
                passing[ii, jj] = (
                    d * d * 100_000_000 >= bp2_i * int(n2[i0 + ii]) * int(n2[jj])
                )
            is_dropped |= passing.any(axis=0)
        return pd.DataFrame({"vec_id": ids[is_dropped]})

    dropped = (
        e.groupBy("cid")
        .applyInPandas(kernel, schema="vec_id long")
        .withColumn("_dup", F.lit(1))
    )
    return (
        assignments.join(dropped, "vec_id", "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                F.when(F.col("_dup").isNotNull(), 1).otherwise(0)
            ).alias("n_dropped"),
            F.sum(
                F.when(F.col("_dup").isNull(), F.col("vec_id")).otherwise(0)
            ).alias("sum_kept_id"),
        )
        .withColumnRenamed("cid", "cluster")
        .orderBy("cluster")
    )
