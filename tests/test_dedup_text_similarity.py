"""Dedup / text / similarity / kNN operator semantics on tiny goldens."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3, 4],
                "text": [
                    "the cat sat on the mat",
                    "the cat sat on the mat",  # exact dup of 0
                    "the cat sat on a mat",  # near dup
                    "der hund und die katze",
                    "completely different words entirely here now",
                ],
            }
        )
    )


def test_exact_dedup(spark, docs):
    from ds_raster_pipelines_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs).orderBy("keep_id").toPandas()
    assert out["keep_id"].tolist() == [0, 2, 3, 4]
    assert out["n_copies"].tolist() == [2, 1, 1, 1]


def test_jaccard_pairs_golden(spark, docs):
    from ds_raster_pipelines_spark.operators.dedup import jaccard_pairs

    out = jaccard_pairs(docs, threshold=0.5).toPandas()
    pairs = {(a, b): j for a, b, j in out.itertuples(index=False)}
    assert pairs[(0, 1)] == 1.0  # identical word sets
    # {the,cat,sat,on,mat} vs {the,cat,sat,on,a,mat}: 5 shared / 6 union
    assert abs(pairs[(0, 2)] - 5 / 6) < 1e-6
    assert (3, 4) not in pairs and (0, 3) not in pairs


def test_minhash_lsh_finds_near_dups(spark, docs):
    from ds_raster_pipelines_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, strategy="vocab").toPandas()
    assert len(sigs) == 5 * 8  # k=8 per doc
    out = minhash_dedup_pairs(docs, strategy="vocab", threshold=0.5, rows_per_band=1).toPandas()
    got = set(zip(out["doc_a"], out["doc_b"]))
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    assert all(a < b for a, b in got)
    # xxhash64 strategy: same exact-dup guarantees (identical sets collide)
    out2 = minhash_dedup_pairs(docs, strategy="xxhash64", threshold=0.99, rows_per_band=1).toPandas()
    assert (0, 1) in set(zip(out2["doc_a"], out2["doc_b"]))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_md5_strategy_semantics(spark, docs):
    from ds_raster_pipelines_spark.operators.dedup import minhash_dedup_pairs, simhash
    from ds_raster_pipelines_spark.operators.text import fingerprint

    out = minhash_dedup_pairs(docs, strategy="md5", threshold=0.5, rows_per_band=1).toPandas()
    got = set(zip(out["doc_a"], out["doc_b"]))
    assert (0, 1) in got and (0, 2) in got  # exact + near dup found
    jac = out.set_index(["doc_a", "doc_b"])["jaccard"]
    assert jac[(0, 1)] == 1.0
    assert abs(jac[(0, 2)] - 5 / 6) < 1e-6  # candidate-scoped verify is exact
    sh = simhash(docs, hash="md5").toPandas().set_index("doc_id")["simhash"]
    assert sh[0] == sh[1] and 0 <= sh[0] < (1 << 16)
    fp = fingerprint(docs, hash="md5").toPandas().set_index("doc_id")["fp"]
    assert fp[0] == fp[1] and fp[0] != fp[2]  # order/content sensitive


def test_dedup_plans_scale_shape(spark, docs):
    """The scale-path dedup plans must contain no cartesian/nested-loop
    join (verify is candidate-scoped) and no un-partitioned Window
    (md5 word ids need no global vocab)."""
    from ds_raster_pipelines_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signatures,
    )

    plans = {
        "verified": _plan(minhash_dedup_pairs(docs, strategy="md5", threshold=0.5)),
        "candidates": _plan(lsh_candidate_pairs(minhash_signatures(docs), max_bucket=50)),
        "jaccard_capped": _plan(jaccard_pairs(docs, threshold=0.5, max_df=10)),
    }
    for name, p in plans.items():
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoop" not in p, name
        assert "Window" not in p, name  # no global-vocab dense_rank


def test_simhash_identical_docs_equal(spark, docs):
    from ds_raster_pipelines_spark.operators.dedup import simhash

    out = simhash(docs).toPandas().set_index("doc_id")["simhash"]
    assert out[0] == out[1]  # identical content → identical fingerprint
    assert 0 <= out[0] < (1 << 16)
    # near-dup has small hamming distance; unrelated doc differs
    ham = lambda a, b: bin(int(a) ^ int(b)).count("1")
    assert ham(out[0], out[2]) <= ham(out[0], out[4]) + 2


def test_langid_and_quality(spark, docs):
    from ds_raster_pipelines_spark.operators.text import langid, quality_features

    out = langid(docs).toPandas().set_index("doc_id")["lang_pred"]
    assert out[0] == "en" and out[3] == "de" and out[4] == "und"
    q = quality_features(docs).toPandas().set_index("doc_id")
    assert q.loc[0, "n_tokens"] == 6 and q.loc[0, "n_stop"] == 2  # the, the
    assert 0.0 <= q["quality_score"].min() and q["quality_score"].max() <= 1.0


def test_cosine_topk_and_lsh(spark):
    from ds_raster_pipelines_spark.operators.similarity import cosine_topk, lsh_topk

    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2, 3],
                "embedding": [
                    [1.0] + [0.0] * 63,
                    [0.9] + [0.1] * 63,
                    [-1.0] + [0.0] * 63,
                    [1.0] + [0.001] * 63,
                ],
            }
        ),
        schema="vec_id long, embedding array<float>",
    )
    out = cosine_topk(emb.where(F.col("vec_id") == 0), emb, k=3).toPandas()
    assert out["nid"].tolist()[0] == 3  # closest to e1
    assert out["nid"].tolist()[-1] == 2  # anti-parallel is last
    assert out["rank"].tolist() == [1, 2, 3]
    lsh = lsh_topk(emb.where(F.col("vec_id") == 0), emb, k=3).toPandas()
    assert 2 not in lsh["nid"].tolist()  # opposite sign bucket pruned


def test_lsh_near_dup_recall_and_plan(spark):
    """Recall gate for the multi-table sign-LSH near-dup path, on planted
    high-similarity clusters (sim ~0.98), the regime LSH is built for.
    (On the sf0.01 embeddings table the 'near dups' top out at sim 0.51 /
    theta ~65 deg, where ANY sign-LSH has provably low per-table recall —
    measured 0.20 @ 1 table, 0.37 @ 2 tables, matching 1-(1-p)^T theory —
    so the graded query mirrors its bucket prefilter in the oracle instead
    of claiming exactness.)"""
    import numpy as np
    import pandas as pd

    from ds_raster_pipelines_spark.operators.similarity import lsh_near_dup_pairs

    rng = np.random.default_rng(7)
    vecs, truth = [], set()
    vid = 0
    for _ in range(20):  # 20 clusters of 3 near-identical vectors
        base = rng.normal(size=64)
        ids = []
        for _ in range(3):
            v = base + rng.normal(scale=0.05, size=64)  # sim ~0.98
            vecs.append(v / np.linalg.norm(v))
            ids.append(vid)
            vid += 1
        truth.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1 :])
    for _ in range(100):  # background noise vectors
        v = rng.normal(size=64)
        vecs.append(v / np.linalg.norm(v))
        vid += 1
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(vecs)), "embedding": [v.tolist() for v in vecs]}),
        schema="vec_id long, embedding array<float>",
    )
    out = lsh_near_dup_pairs(emb, threshold=0.9)
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    got = set(zip(*[out.toPandas()[c] for c in ("id_a", "id_b")]))
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"planted near-dup recall {recall}"


def test_ivf_topk_recall_planted(spark):
    """IVF ANN on planted clusters: near-identical vectors land in the
    same coarse cell, so probing the query's nearest cells recovers the
    true neighbors; also check n-gram tokenize goldens here."""
    import numpy as np
    import pandas as pd

    from ds_raster_pipelines_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(11)
    vecs = []
    for _ in range(12):  # 12 clusters of 5
        base = rng.normal(size=64)
        for _ in range(5):
            v = base + rng.normal(scale=0.03, size=64)
            vecs.append((v / np.linalg.norm(v)).tolist())
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs}),
        schema="vec_id long, embedding array<float>",
    )
    q = emb.where(F.col("vec_id") < 10)
    truth = cosine_topk(q, emb, k=4).toPandas()
    # DEFAULT quantizer (no centroids arg): farthest-point representatives
    # of a deterministic hash-spread sample. Naive "first N vectors"
    # centroids would be 12 near-identical members of clusters 1-3 and
    # shred each cluster across several cells — the k-center greedy step
    # guarantees at most one centroid per planted cluster, so the default
    # must clear the recall gate on its own.
    got = ivf_topk(q, emb, k=4, nprobe=3).toPandas()
    t = set(zip(truth.qid, truth.nid))
    g = set(zip(got.qid, got.nid))
    assert len(g & t) / len(t) >= 0.9
    # explicit per-cluster representatives (the offline-k-means path)
    # must also pass
    cents = emb.where(F.col("vec_id") % 5 == 0)
    got2 = ivf_topk(q, emb, k=4, nprobe=3, centroids=cents).toPandas()
    assert len(set(zip(got2.qid, got2.nid)) & t) / len(t) >= 0.9
    plan = _plan(ivf_topk(q, emb, k=4, nprobe=3, centroids=cents))
    # the only nested-loop product allowed is the n_cells-row broadcast
    assert "CartesianProduct" not in plan


def test_tokenize_ngrams_golden(spark):
    import pandas as pd

    from ds_raster_pipelines_spark.operators.dedup import jaccard_pairs, tokenize_ngrams

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["abcd", "abcd", "ab"]})
    )
    g = tokenize_ngrams(docs, n=3).toPandas()
    by_doc = g.groupby("doc_id")["w"].apply(set).to_dict()
    assert by_doc[0] == {"abc", "bcd"} and by_doc[1] == {"abc", "bcd"}
    assert 2 not in by_doc  # too short for any 3-gram
    pairs = jaccard_pairs(docs, threshold=0.9, ngram=3).toPandas()
    assert set(zip(pairs.doc_a, pairs.doc_b)) == {(0, 1)}
    assert pairs.jaccard.tolist() == [1.0]


def test_knn_ring_join_golden(spark):
    import numpy as np

    from ds_raster_pipelines_spark import grid
    from ds_raster_pipelines_spark.operators.knn import halo_counts

    # 3 adjacent cells + 1 isolated cell at res 5
    lons = np.array([0.1, 5.8, 11.4, 90.0])
    lats = np.array([0.1, 0.1, 0.1, 45.0])
    cells = grid.encode_np(lons, lats, 5)
    assert len(set(cells)) == 4
    df = spark.createDataFrame(pd.DataFrame({"cell_id": cells}))
    out = halo_counts(df, k=1, res=5).toPandas().set_index("cell_id")["n_neighbors"]
    assert out[cells[0]] == 2 and out[cells[1]] == 3 and out[cells[2]] == 2
    assert out[cells[3]] == 1


def test_connected_components_golden(spark):
    """Chain edges must collapse transitively (A~B, B~C, C~D one group
    without any A~D edge); min node id labels the component."""
    import pandas as pd

    from ds_raster_pipelines_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 3, 10], "doc_b": [2, 3, 5, 11]})
    )
    out = connected_components(edges).toPandas().set_index("node")["component"].to_dict()
    assert out == {1: 1, 2: 1, 3: 1, 5: 1, 10: 10, 11: 10}


def test_phash_near_dup_planted(spark):
    """Planted perceptual-hash clusters: pairs within hamming<=3 must ALL
    be found (pigeonhole: 4 bands, <4 flipped bits leave one band intact
    — exact recall, no LSH luck), far pairs must not appear; hamming
    values are exact. Hot-bucket cap drops a degenerate all-same band."""
    import pandas as pd

    from ds_raster_pipelines_spark.operators.dedup import phash_near_dup_pairs

    base = 0b1011_0110_1001_1100_0101_0011_1010_0110
    rows = [
        (0, base),
        (1, base ^ 0b1),                      # ham 1
        (2, base ^ 0b1000000000),             # ham 1
        (3, base ^ 0b111),                    # ham 3
        (4, base ^ ((1 << 3) | (1 << 11) | (1 << 19) | (1 << 27))),  # ham 4: one flip/band
        (5, 0x2AAAAAAA),                      # far
        (6, 0x15553333),                      # far
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["i", "phash"]),
                               "i long, phash long")
    got = phash_near_dup_pairs(df, max_hamming=3).toPandas()
    pairs = {(a, b): h for a, b, h in zip(got.id_a, got.id_b, got.hamming)}
    assert pairs[(0, 1)] == 1 and pairs[(0, 2)] == 1 and pairs[(0, 3)] == 3
    assert pairs[(1, 2)] == 2 and pairs[(1, 3)] == 2  # within-cluster closure
    assert (0, 4) not in pairs  # ham 4 with NO shared band: beyond guarantee
    assert not any(5 in p or 6 in p for p in pairs)
    # approximate regime: ham<=4 pair appears only if a band survives —
    # id 4 flips one bit in EVERY band, so it stays invisible (documented)
    got5 = phash_near_dup_pairs(df, max_hamming=4).toPandas()
    assert (0, 4) not in set(zip(got5.id_a, got5.id_b))
    # hot-bucket cap: band value shared by ALL docs gets dropped
    same_band = [(k, (k << 8) | 0x55) for k in range(30)]  # band0 identical
    df2 = spark.createDataFrame(pd.DataFrame(same_band, columns=["i", "phash"]),
                                "i long, phash long")
    capped = phash_near_dup_pairs(df2, max_hamming=3, max_bucket=10).toPandas()
    assert len(capped) == 0  # only the hot band collided; cap removes it


def test_cache_scope_isolates_invocations(spark, docs):
    """Two dedup plans built BEFORE either materializes: explicit
    CacheScopes keep the first plan's persisted band_sig/words alive while
    the second builds (the old module-global cache released them last-wins,
    silently recomputing the whole tokenize→minhash pipeline)."""
    from ds_raster_pipelines_spark.operators.dedup import (
        CacheScope,
        minhash_dedup_pairs,
    )

    with CacheScope() as s1, CacheScope() as s2:
        p1 = minhash_dedup_pairs(docs, strategy="md5", threshold=0.5, scope=s1)
        cached_after_first = [df for df in s1._dfs]
        p2 = minhash_dedup_pairs(docs, strategy="md5", threshold=0.5, scope=s2)
        # building the second plan must not touch the first scope's blocks
        assert all(df.storageLevel.useMemory for df in cached_after_first)
        assert p1.count() == p2.count()
    # context exit released everything
    assert not any(df.storageLevel.useMemory for df in s1._dfs + s2._dfs)


_SESSION_RESTART_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from ds_raster_pipelines_spark.operators.dedup import minhash_dedup_pairs
from ds_raster_pipelines_spark.session import get_spark

def pairs(spark):
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over the lazy dog {i // 2}") for i in range(20)],
        "doc_id long, text string",
    )
    return sorted(tuple(r) for r in minhash_dedup_pairs(docs, max_bucket=50).collect())

a = get_spark("session_a", cpus=1)
first = pairs(a)
a.stop()
b = get_spark("session_b", cpus=1)  # no release_cached() in between
second = pairs(b)
b.stop()
assert first and first == second, (first, second)
print("ok")
"""


def test_default_cache_scope_survives_session_restart():
    """The thread-local default CacheScope outlives spark.stop(): the first
    minhash_dedup_pairs in a new session must drop the stopped session's
    cached frames instead of failing in unpersist. Runs in a fresh process
    so the shared test session is never stopped."""
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    out = subprocess.run(
        [sys.executable, "-c", _SESSION_RESTART_SCRIPT, repo],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().endswith("ok")


def test_decontaminate_overlap_constructed(spark):
    """Constructed contamination: an eval doc verbatim in the corpus, a
    paraphrase sharing a long span, an innocent doc, and a boilerplate
    gram capped out by max_df_eval."""
    from ds_raster_pipelines_spark.operators.dedup import decontaminate_overlap

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "prefix words then the quick brown fox jumps over something"),
            (3, "completely unrelated content about spark physical plans"),
            (4, "terms of service apply here"),
        ],
        "doc_id int, text string",
    )
    eval_df = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog tonight"),
            (101, "terms of service apply everywhere else entirely"),
        ],
        "doc_id int, text string",
    )
    out = {
        (r.doc_id, r.eval_id): r.n_shared
        for r in decontaminate_overlap(
            corpus, eval_df, n=3, min_overlap=2, max_df_eval=10
        ).collect()
    }
    assert out[(1, 100)] == 8  # verbatim: all 10-3+1 3-grams of the doc
    assert out[(2, 100)] == 4  # paraphrase: the shared 6-word span
    assert (3, 100) not in out and (3, 101) not in out
    assert out[(4, 101)] == 2  # 'terms of service apply' span -> 2 grams

    # hot-gram cap: a gram present in > max_df_eval eval docs is dropped
    many_eval = spark.createDataFrame(
        [(200 + k, f"common shared gram unique{k} tail{k} word{k}") for k in range(4)],
        "doc_id int, text string",
    )
    probe = spark.createDataFrame(
        [(9, "common shared gram and nothing else")], "doc_id int, text string"
    )
    hits = decontaminate_overlap(
        probe, many_eval, n=3, min_overlap=1, max_df_eval=3
    ).collect()
    assert hits == []  # 'common shared gram' appears in 4 > 3 eval docs


def test_repetition_filter_constructed(spark):
    from ds_raster_pipelines_spark.operators.text import (
        repetition_features,
        repetition_filter,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    # clean: 8 distinct tokens, no repeated bigram
                    "alpha beta gamma delta epsilon zeta eta theta",
                    # modal-token spam: 'spam' is 5/8 > 20%
                    "spam spam spam spam spam one two three",
                    # duplicate-bigram loop: 'a b' bigram repeats heavily
                    "a b a b a b a b a b a b a b a b a b a b",
                    # single token: no bigrams, top_cnt == n (fails top)
                    "solo",
                ],
            }
        )
    )
    feats = {
        r["doc_id"]: r
        for r in repetition_features(df).collect()
    }
    assert feats[0]["n_tok"] == 8 and feats[0]["top_cnt"] == 1
    assert feats[0]["dup_bi"] == 0 and feats[0]["n_bi"] == 7
    assert feats[1]["top_cnt"] == 5  # modal token mass
    assert feats[2]["n_bi"] == 19 and feats[2]["dup_bi"] == 17  # 2 distinct bigrams
    assert feats[3]["n_tok"] == 1 and feats[3]["n_bi"] == 0 and feats[3]["dup_bi"] == 0

    kept = {r["doc_id"] for r in repetition_filter(df).collect()}
    assert kept == {0}  # 1 fails top-word, 2 fails dup-bigram, 3 fails top-word
    # filter drops its scratch columns
    assert set(repetition_filter(df).columns) == {"doc_id", "text"}


def test_ngram_lm_perplexity_filter_constructed(spark):
    from ds_raster_pipelines_spark.operators.text import (
        char_ngrams,
        ngram_lm_scores,
        perplexity_filter,
    )

    normal = "the cat sat on the mat and the dog sat on the log "
    rows = [(i, normal * 3) for i in range(20)]
    rows.append((100, "zqxjkvbwpfzqxjkvbwpfzqxjkvbwpfzqxjkvbwpfzqxjkvbwpf"))
    rows.append((101, "xx"))  # shorter than one trigram -> zero grams
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # gram explosion: n_grams == len-2 for len>=3, 0 otherwise
    counts = {r["doc_id"]: r["count"] for r in char_ngrams(df).groupBy("doc_id").count().collect()}
    assert counts[0] == len(normal) * 3 - 2
    assert 101 not in counts  # empty-array guard (sequence(1,0) would descend)

    s = {r["doc_id"]: r for r in ngram_lm_scores(df, train_rate_pct=100).collect()}
    assert 101 not in s
    # gibberish scores strictly worse per-gram than in-distribution text
    avg_norm = s[0]["logp_micro"] / s[0]["n_grams"]
    avg_gib = s[100]["logp_micro"] / s[100]["n_grams"]
    assert avg_gib < avg_norm

    kept = {r["doc_id"] for r in perplexity_filter(df, max_avg_neg_logp=6.0,
                                                   train_rate_pct=100).collect()}
    assert set(range(20)) <= kept
    assert 100 not in kept and 101 not in kept


def test_pii_redaction_constructed(spark):
    from ds_raster_pipelines_spark.operators.text import pii_flags, redact_pii

    rows = [
        (0, "write to a.b+c@ex-ample.org today"),
        (1, "docs at https://ex.org/a?b=1#c and more"),
        (2, "dial +12345678901 now"),
        (3, "url with mail https://h.io/u@v.com trailing"),
        (4, "clean text no pii at all"),
        (5, "+123456 too short to be a phone"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id",
        redact_pii(F.col("text")).alias("r"),
        *[c.alias(k) for k, c in pii_flags(F.col("text")).items()],
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[0]["r"] == "write to [PII] today" and got[0]["email"] == 1
    assert got[1]["r"] == "docs at [PII] and more" and got[1]["url"] == 1
    assert got[2]["r"] == "dial [PII] now" and got[2]["phone"] == 1
    # email-before-url order: the in-URL email is consumed first, then
    # the remaining scheme prefix is caught by the url pattern
    assert "@" not in got[3]["r"] and "http" not in got[3]["r"]
    assert got[4]["r"] == rows[4][1]  # untouched
    assert got[5]["phone"] == 0  # 6 digits < minimum 7
    # idempotent: redacting redacted text changes nothing
    again = df.select(redact_pii(redact_pii(F.col("text"))).alias("r2")).collect()
    assert [r["r2"] for r in again] == [got[i]["r"] for i in range(6)]


def test_vocab_top_k_deterministic_ties(spark):
    from ds_raster_pipelines_spark.operators.text import oov_rates, vocab_top_k

    df = spark.createDataFrame(
        [(0, "aa bb cc dd"), (1, "aa bb cc"), (2, "aa bb"), (3, "zz zz zz xx")],
        "doc_id long, text string",
    )
    v2 = [r["w"] for r in vocab_top_k(df, k=2).collect()]
    assert v2 == ["aa", "bb"]  # aa/bb/zz all count 3; lexicographic tie-break
    v4 = [r["w"] for r in vocab_top_k(df, k=4).collect()]
    assert v4 == ["aa", "bb", "zz", "cc"]
    rates = {r["doc_id"]: (r["n_tok"], r["n_oov"]) for r in oov_rates(df, vocab_top_k(df, k=2)).collect()}
    assert rates[0] == (4, 2) and rates[3] == (4, 4)


def test_duplicated_spans_constructed(spark):
    """Hand-computable exact-substring spans (n=3, min_count=2):
    - d1/d2 share the 5-token run "a b c d e" -> one island of window
      starts {0,1,2} in each -> span = (2-0)+3 = 5 tokens;
    - d3 repeats "x y z" WITHIN itself at starts 0 and 4 (gap 4 > n=3
      breaks the island) -> two 3-token spans, within-doc repeats count;
    - d4 shares nothing long enough -> absent from the report."""
    import pandas as pd

    from ds_raster_pipelines_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "a b c d e q r s",
                    "p a b c d e t u",
                    "x y z w x y z v",
                    "m n o k l j h g",
                ],
            }
        )
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in duplicated_spans(docs, n=3, min_count=2).collect()
    }
    assert set(out) == {1, 2, 3}
    # d1: "a b c d e" at word 0 -> starts 0,1,2 coalesce (diff 1 <= n)
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 5
    # d2: same run shifted one right -> identical span size
    assert out[2]["n_dup_spans"] == 1 and out[2]["dup_tokens"] == 5
    assert out[2]["max_span_tokens"] == 5
    # d3: "x y z" at starts 0 and 4; 4 - 0 = 4 > n=3 -> two islands
    assert out[3]["n_dup_spans"] == 2 and out[3]["dup_tokens"] == 6
    assert out[3]["max_span_tokens"] == 3


def test_duplicated_spans_coalesce_boundary(spark):
    """Window starts exactly n apart TOUCH (prev covers [p, p+n-1], next
    starts at p+n) -> must coalesce into one span of 2n tokens; n+1 apart
    leaves a 1-token gap -> two spans. Pins the > n (not >= n) break."""
    import pandas as pd

    from ds_raster_pipelines_spark.operators.dedup import duplicated_spans

    # "a b c" at starts 0 and 3 (touching), doc 2 the same pair at 0 and 4
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "a b c a b c q1 r1 s1 t1",  # starts 0,3 -> one 6-token span
                    "a b c w a b c r2 s2 t2",   # starts 0,4 -> two 3-token spans
                    "a b c u3 v3 w3 x3 y3 z3",  # supplies the duplicate copies
                ],
            }
        )
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in duplicated_spans(docs, n=3, min_count=2).collect()
    }
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 6
    assert out[2]["n_dup_spans"] == 2 and out[2]["dup_tokens"] == 6


def _md5i(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


def test_kmeans_planted_clusters_recovered(spark):
    """k=3 k-means over 3 well-separated planted clusters recovers the
    plant exactly when the 3 hash-min seeds (deterministic: md5 of
    vec_id) land in distinct plants — the test ASSIGNS plants by seed
    rank so they do, then asserts bit-deterministic full recovery and
    that every later-round centroid stayed in its plant."""
    import numpy as np
    import pandas as pd

    from ds_raster_pipelines_spark.operators.similarity import kmeans_clusters

    ids = list(range(60))
    by_hash = sorted(ids, key=lambda v: (_md5i(str(v)), v))
    plant = {}
    for rank, vid in enumerate(by_hash):
        plant[vid] = rank % 3  # seeds (ranks 0,1,2) get plants 0,1,2
    centers = {0: np.full(8, 50.0), 1: np.full(8, -50.0),
               2: np.array([50.0, -50.0] * 4)}
    rng = np.random.RandomState(11)
    rows = [
        (vid, (centers[plant[vid]] + rng.uniform(-0.5, 0.5, 8))
              .astype("float32").tolist())
        for vid in ids
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    assign, cents = kmeans_clusters(df, k=3, iters=2)
    got = {r["vec_id"]: r["cid"] for r in assign.collect()}
    assert len(got) == 60
    # cluster ids are seed ranks, and seed rank r was planted to plant r
    assert all(got[vid] == plant[vid] for vid in ids)
    # centroids stay inside their plant's quantized ball
    for r in cents.collect():
        c = np.asarray(r["ce"], dtype=np.float64) / 1000.0
        assert np.linalg.norm(c - centers[r["cid"]]) < 2.0


def test_kmeans_deterministic_across_parallelism(spark):
    import numpy as np
    import pandas as pd

    from ds_raster_pipelines_spark.operators.similarity import kmeans_clusters

    rng = np.random.RandomState(3)
    rows = [(i, rng.uniform(-1, 1, 16).astype("float32").tolist()) for i in range(90)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    outs = []
    for parts in (1, 13):
        df = spark.createDataFrame(pdf).repartition(parts)
        a, _ = kmeans_clusters(df, k=5, iters=2)
        outs.append(sorted((r["vec_id"], r["cid"], r["d2"]) for r in a.collect()))
    assert outs[0] == outs[1]


def test_temperature_mixture_sample(spark):
    """tau=0.5 rebalance: the smallest domain keeps EVERYTHING
    (rate_bp == scale), a domain 4x its size keeps ~sqrt(1/4) = 50%;
    membership is stable under repartition (hash-threshold, no RNG)."""
    import pandas as pd

    from ds_raster_pipelines_spark.operators.text import (
        temperature_mixture_sample,
    )

    rows = [("small", i) for i in range(50)] + [("big", 1000 + i) for i in range(200)]
    pdf = pd.DataFrame(rows, columns=["lang", "doc_id"])
    df = spark.createDataFrame(pdf)
    kept = temperature_mixture_sample(df).collect()
    rates = {r["lang"]: r["rate_bp"] for r in kept}
    assert rates["small"] == 10_000  # n_min domain keeps all
    assert rates["big"] == 5_000     # floor(1e4 * sqrt(50/200))
    n_small = sum(1 for r in kept if r["lang"] == "small")
    n_big = sum(1 for r in kept if r["lang"] == "big")
    assert n_small == 50
    assert 60 <= n_big <= 140  # ~50% of 200, hash-binomial spread
    # repartition invariance
    kept13 = temperature_mixture_sample(df.repartition(13)).collect()
    assert sorted(r["doc_id"] for r in kept13) == sorted(r["doc_id"] for r in kept)


def test_semdedup_planted_dups_dropped(spark):
    """60 scaled unit-basis vectors in dim 64 — every cross pair has
    cosine EXACTLY 0 — plus three planted duplicates of vector 0 (an
    exact copy, a scaled copy, a jittered copy; all cosine ≈ 1). Only
    the three plants clear the threshold, and each quantizes so close to
    its original that k-means puts it in the same cluster, so
    semdedup_prune must drop exactly the plants and keep the lowest-id
    original."""
    import numpy as np
    import pandas as pd

    from ds_raster_pipelines_spark.operators.similarity import semdedup_prune

    rng = np.random.RandomState(7)
    vec = {}
    for vid in range(60):
        v = np.zeros(64)
        v[vid] = 50.0 * (1.0 + 0.3 * rng.uniform())
        vec[vid] = v
    orig, c1, c2, near = 0, 30, 40, 50
    vec[c1] = vec[orig].copy()
    vec[c2] = vec[orig] * 1.05
    vec[near] = vec[orig] + rng.uniform(-0.5, 0.5, 64)
    rows = [(vid, vec[vid].astype("float32").tolist()) for vid in range(60)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    out = semdedup_prune(df, k=3, iters=2, threshold_bp=9000).collect()
    assert sum(r["n_vecs"] for r in out) == 60
    assert sum(r["n_dropped"] for r in out) == 3
    assert sum(r["sum_kept_id"] for r in out) == sum(range(60)) - c1 - c2 - near


def test_semdedup_deterministic_across_parallelism(spark):
    import numpy as np
    import pandas as pd

    from ds_raster_pipelines_spark.operators.similarity import semdedup_prune

    rng = np.random.RandomState(5)
    rows = [(i, rng.uniform(-1, 1, 16).astype("float32").tolist()) for i in range(90)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    outs = []
    for parts in (1, 13):
        df = spark.createDataFrame(pdf).repartition(parts)
        outs.append(sorted(
            tuple(r) for r in
            semdedup_prune(df, k=5, iters=2, threshold_bp=4500).collect()
        ))
    assert outs[0] == outs[1]


EMB_SF001 = "/root/testdata/sf0.01/embeddings.parquet"


def _emb_reference():
    """(ids, raw float32 embeddings, quantized int64 matrix, int norms) of
    the sf0.01 embeddings, quantized like ``similarity.quantize``:
    round(x * 1000) half away from zero (Spark's HALF_UP round). x*1000
    of a float32 is exact in float64, so the +0.5 floor is exact too."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(EMB_SF001, columns=["vec_id", "embedding"]).to_pandas()
    t = t.sort_values("vec_id", kind="mergesort")
    raw = np.vstack(t["embedding"].to_numpy())
    v = raw.astype(np.float64) * 1000
    E = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)
    return t["vec_id"].to_numpy(np.int64), raw, E, (E * E).sum(axis=1)


def _round6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP over its decimal string."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _sims(G, na, nb):
    """The engine's IEEE expression dot / sqrt(na * nb) over int inputs."""
    import numpy as np

    return G.astype(np.float64) / np.sqrt(
        na[:, None].astype(np.float64) * nb[None, :].astype(np.float64)
    )


def test_cosine_topk_matches_numpy_reference(spark):
    """cosine_topk for 50 queries == exact int dots, the same IEEE sim,
    (-sim, nid) order, self excluded, top 5 per query."""
    import numpy as np

    from ds_raster_pipelines_spark.operators.similarity import cosine_topk

    ids, _, E, n2 = _emb_reference()
    qsel = ids < 50
    sim = _sims(E[qsel] @ E.T, n2[qsel], n2)
    want = []
    for qi, qid in enumerate(ids[qsel]):
        cand = np.nonzero(ids != qid)[0]
        order = cand[np.lexsort((ids[cand], -sim[qi, cand]))][:5]
        want += [
            (int(qid), int(ids[j]), r + 1, _round6(sim[qi, j]))
            for r, j in enumerate(order)
        ]

    emb = spark.read.parquet(EMB_SF001)
    got = cosine_topk(emb.where(F.col("vec_id") < 50), emb, k=5).orderBy("qid", "rank")
    assert [tuple(r) for r in got.collect()] == want and len(want) == 250


def test_cosine_topk_zero_queries_empty_without_cartesian(spark):
    from ds_raster_pipelines_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(EMB_SF001)
    out = cosine_topk(emb.where(F.col("vec_id") < 0), emb, k=5)
    assert out.columns == ["qid", "nid", "rank", "sim"]
    assert out.collect() == []
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_lsh_near_dup_matches_numpy_reference(spark):
    """lsh_near_dup_pairs == every id_a < id_b pair whose sign-bit
    buckets over LSH_TABLES match in ANY table and whose IEEE sim clears
    the threshold."""
    import numpy as np

    from ds_raster_pipelines_spark.operators.similarity import (
        LSH_TABLES,
        lsh_near_dup_pairs,
    )

    ids, raw, E, n2 = _emb_reference()
    same_bucket = np.zeros((len(ids), len(ids)), dtype=bool)
    for dims in LSH_TABLES:
        bucket = sum((raw[:, d - 1] >= 0).astype(np.int64) << i for i, d in enumerate(dims))
        same_bucket |= bucket[:, None] == bucket[None, :]
    sim = _sims(E @ E.T, n2, n2)
    upper = ids[:, None] < ids[None, :]
    emb = spark.read.parquet(EMB_SF001)
    n_pairs = {}
    for thr in (0.4, 0.9):
        ai, bj = np.nonzero(same_bucket & upper & (sim >= thr))
        want = sorted(
            (int(ids[a]), int(ids[b]), _round6(sim[a, b])) for a, b in zip(ai, bj)
        )
        got = lsh_near_dup_pairs(emb, threshold=thr).orderBy("id_a", "id_b").collect()
        assert [tuple(r) for r in got] == want, thr
        n_pairs[thr] = len(want)
    assert n_pairs[0.4] > 0


def test_semdedup_matches_python_int_reference(spark):
    """semdedup_prune == keep-first over kmeans_clusters' assignments: a
    vector is dropped iff a lower-id vector of its cluster has dot > 0
    and dot^2 * 1e8 >= bp^2 * na * nb in Python ints."""
    import numpy as np

    from ds_raster_pipelines_spark.operators.similarity import (
        kmeans_clusters,
        semdedup_prune,
    )

    ids, _, E, n2 = _emb_reference()
    row = {int(v): i for i, v in enumerate(ids)}
    emb = spark.read.parquet(EMB_SF001)
    assign, _ = kmeans_clusters(emb)
    members: dict[int, list[int]] = {}
    for r in assign.collect():
        members.setdefault(int(r["cid"]), []).append(int(r["vec_id"]))
    n_dropped = {}
    for bp in (4500, 9000):
        want = []
        for cid in sorted(members):
            vids = sorted(members[cid])
            rows = [row[v] for v in vids]
            G = E[rows] @ E[rows].T
            dropped = set()
            for a, b in zip(*np.nonzero(np.triu(G > 0, 1))):
                d = int(G[a, b])
                na, nb = int(n2[rows[a]]), int(n2[rows[b]])
                if d * d * 100_000_000 >= bp * bp * na * nb:
                    dropped.add(vids[b])
            kept = sum(v for v in vids if v not in dropped)
            want.append((cid, len(vids), len(dropped), kept))
        got = [tuple(r) for r in semdedup_prune(emb, threshold_bp=bp).collect()]
        assert got == want, bp
        n_dropped[bp] = sum(w[2] for w in want)
    assert n_dropped[4500] > 0
