"""Reference answers and output checks, independent of the engine's code paths.

* zonal_requests — a numpy centroid-in-polygon reference over the tile
  lattice built from ``corpus.footprint`` / ``corpus.expected_decoded_mean``
  semantics (tile ``i`` sits on lattice cell ``i % 1440``).
* daily_drop — the registry's closed-form pixel-window oracle
  ``_zps_oracle(offset)`` run in DuckDB over the committed day slots.
* near_dup — the registry's ``_MINHASH_VERIFIED_ORACLE`` split at its
  per-document CTEs: ``words`` and ``band_sig0`` depend on one document
  only, so prepare.py materializes them once for the whole corpus and each
  window runs the remaining (window-dependent) CTEs. ``split_oracle_agrees``
  proves the split equals the registry SQL on a window.

Every ``check_*`` returns a list of error strings; empty means correct.
Nothing here imports Spark.
"""

from __future__ import annotations

import os

import numpy as np

LATTICE = 1440  # lon0 = -180 + 0.25*((i*13) % 1440), lat_top = 90 - 0.25*((i*7) % 720)
EDGE_EPS = 1e-7  # minimum distance of any tile centre from a polygon edge crossing


# ----------------------------------------------------------- zonal lattice ---


class TileLattice:
    """Per-lattice-cell tile aggregates of the corpus: every tile of cell
    ``c`` has the same centroid, so a polygon's zonal answer is a sum over
    the cells whose centroid it contains."""

    def __init__(self, ids: np.ndarray):
        from ds_raster_pipelines_spark import corpus

        ids = np.asarray(ids, dtype=np.int64)
        cells = np.arange(LATTICE)
        fp = np.array([corpus.footprint(int(c)) for c in cells])  # depends on i % 1440 only
        self.lon = (fp[:, 0] + fp[:, 2]) / 2.0
        self.lat = (fp[:, 1] + fp[:, 3]) / 2.0
        means = (ids % corpus.C_MOD) + np.where(ids % 16 == 0, 31.0, 31.5)
        if means[:64].tolist() != [corpus.expected_decoded_mean(int(i)) for i in ids[:64]]:
            raise ValueError("tile means disagree with corpus.expected_decoded_mean")
        cell_of = ids % LATTICE
        self.n = np.bincount(cell_of, minlength=LATTICE).astype(np.int64)
        self.sum = np.bincount(cell_of, weights=means, minlength=LATTICE)
        self.min = np.full(LATTICE, np.inf)
        self.max = np.full(LATTICE, -np.inf)
        np.minimum.at(self.min, cell_of, means)
        np.maximum.at(self.max, cell_of, means)
        self.row_lats = np.unique(self.lat)

    def inside(self, ring: np.ndarray) -> tuple[np.ndarray, float]:
        """Even-odd containment of every cell centroid in a closed ring,
        and the smallest distance between a centroid and an edge crossing
        of its row (or between a vertex and a centroid row). A margin
        below EDGE_EPS means the answer could depend on the edge rule."""
        x1, y1 = ring[:-1, 0][:, None], ring[:-1, 1][:, None]
        x2, y2 = ring[1:, 0][:, None], ring[1:, 1][:, None]
        lon, lat = self.lon[None, :], self.lat[None, :]
        crosses = (y1 > lat) != (y2 > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
        inside = (np.count_nonzero(crosses & (lon < xint), axis=0) % 2) == 1
        gap = np.where(crosses, np.abs(lon - xint), np.inf)
        margin = float(gap.min()) if gap.size else np.inf
        vgap = np.abs(ring[:, 1][:, None] - self.row_lats[None, :]).min()
        return inside, min(margin, float(vgap))

    def expected(self, geoms: list[tuple[str, np.ndarray]]) -> dict[str, tuple]:
        """adm_id -> (n_tiles, sum_value, min_value, max_value) for every
        polygon that contains at least one tile centroid."""
        out = {}
        for adm_id, ring in geoms:
            m, margin = self.inside(ring)
            if margin < EDGE_EPS:
                raise ValueError(f"{adm_id}: polygon edge within {margin:g} deg of a tile centre")
            n = int(self.n[m].sum())
            if n:
                nz = m & (self.n > 0)
                out[adm_id] = (n, float(self.sum[m].sum()), float(self.min[nz].min()),
                               float(self.max[nz].max()))
        return out


def check_zonal(expected: dict[str, tuple], rows: list[dict]) -> list[str]:
    """Engine rows (flagship output) against the lattice reference."""
    errs = []
    got = {r["adm_id"]: r for r in rows}
    if len(got) != len(rows):
        errs.append("duplicate adm_id in output")
    for k in sorted(set(expected) ^ set(got)):
        errs.append(f"{k}: {'missing' if k in expected else 'unexpected'} zone")
    for k in sorted(set(expected) & set(got)):
        n, s, lo, hi = expected[k]
        r = got[k]
        if (r["n_tiles"], r["sum_value"], r["min_value"], r["max_value"]) != (n, s, lo, hi):
            errs.append(f"{k}: got {r['n_tiles']}/{r['sum_value']}/{r['min_value']}/"
                        f"{r['max_value']}, want {n}/{s}/{lo}/{hi}")
        elif abs(r["avg_value"] - s / n) > 1e-6:
            errs.append(f"{k}: avg_value {r['avg_value']} != {s / n}")
    return errs


# ------------------------------------------------------------ daily_drop ---


def zps_expected(con, orders_path: str, slots: list[int], day_slots: int, offset: float) -> dict:
    """adm_id -> (px_count, px_sum) of the closed-form pixel-window oracle
    over the tiles of the committed day slots."""
    from ds_raster_pipelines_spark.queries_registry import _zps_oracle

    in_list = ",".join(str(int(s)) for s in sorted(set(slots))) or "-1"
    con.execute(
        f"CREATE OR REPLACE VIEW orders AS SELECT o_orderkey FROM read_parquet('{orders_path}') "
        f"WHERE (o_orderkey // 32) % {day_slots} IN ({in_list})"
    )
    rows = con.execute(_zps_oracle(offset, lossless=False)).fetchall()
    return {a: (int(c), int(s)) for a, c, s, _m in rows}


def check_view(expected: dict, rows: list[dict]) -> list[str]:
    errs = []
    got = {r["adm_id"]: r for r in rows}
    for k in sorted(set(expected) ^ set(got)):
        errs.append(f"{k}: {'missing' if k in expected else 'unexpected'} zone")
    for k in sorted(set(expected) & set(got)):
        c, s = expected[k]
        r = got[k]
        if (r["px_count"], r["px_sum"]) != (c, s):
            errs.append(f"{k}: got {r['px_count']}/{r['px_sum']}, want {c}/{s}")
        elif abs(r["px_mean"] - s / c) > 1e-9 * max(1.0, abs(s / c)):
            errs.append(f"{k}: px_mean {r['px_mean']} != {s / c}")
    return errs


# --------------------------------------------------------------- near_dup ---

_WINDOW_ORACLE = """
WITH bs0 AS (SELECT doc_id, band, sig FROM band_sig0 WHERE doc_id BETWEEN {lo} AND {hi}),
hot AS (SELECT band, sig FROM bs0 GROUP BY band, sig HAVING count(*) > 50),
band_sig AS (SELECT * FROM bs0 WHERE (band, sig) NOT IN (SELECT (band, sig) FROM hot)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band_sig a JOIN band_sig b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
ww AS (SELECT doc_id, w FROM words WHERE doc_id BETWEEN {lo} AND {hi}),
sizes AS (SELECT doc_id, count(*) AS n_words FROM ww GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, count(*) AS shared
  FROM cand c JOIN ww wa ON wa.doc_id = c.doc_a
              JOIN ww wb ON wb.doc_id = c.doc_b AND wb.w = wa.w
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(cast(shared as double) / (sa.n_words + sb.n_words - shared), 6) AS jaccard
FROM shared JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE cast(shared as double) / (sa.n_words + sb.n_words - shared) >= 0.5
ORDER BY doc_a, doc_b
"""


def build_near_dup_tables(con, docs_path: str) -> None:
    """Materialize the registry oracle's per-document CTEs (words,
    band_sig0) over the whole documents corpus."""
    from ds_raster_pipelines_spark.functions.hashing import md5_int_sql
    from ds_raster_pipelines_spark.queries_registry import _minhash_md5_cte

    cte = _minhash_md5_cte(md5_int_sql("w"))
    con.execute(
        f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs_path}/*.parquet')"
    )
    con.execute(f"CREATE TABLE words AS {cte} SELECT doc_id, w FROM words")
    con.execute(f"CREATE TABLE band_sig0 AS {cte} SELECT doc_id, band, sig FROM band_sig0")


def pairs_expected(con, lo: int, hi: int) -> list[tuple[int, int, float]]:
    """Verified pairs of the doc-id window [lo, hi] (inclusive)."""
    return [tuple(r) for r in con.execute(_WINDOW_ORACLE.format(lo=int(lo), hi=int(hi))).fetchall()]


def split_oracle_agrees(con, docs_path: str, lo: int, hi: int) -> bool:
    """The per-window SQL over the materialized CTEs equals the registry's
    _MINHASH_VERIFIED_ORACLE over the same window of documents."""
    from ds_raster_pipelines_spark.queries_registry import _MINHASH_VERIFIED_ORACLE

    con.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
        f"read_parquet('{docs_path}/*.parquet') WHERE doc_id BETWEEN {int(lo)} AND {int(hi)}"
    )
    want = [tuple(r) for r in con.execute(_MINHASH_VERIFIED_ORACLE).fetchall()]
    return bool(want) and want == pairs_expected(con, lo, hi)


def planted(lo: int, hi: int) -> set[tuple[int, int]]:
    """The corpus's planted near-duplicates inside [lo, hi]: doc i with
    i % 5 == 4 is a mutated copy of doc i - 2 (corpus.synthetic_docs)."""
    first = lo + ((4 - lo) % 5)
    return {(i - 2, i) for i in range(first, hi + 1, 5) if i - 2 >= lo and i >= 2}


def components(pairs) -> dict[int, int]:
    """node -> min node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def check_near_dup(expected, pairs, comps, lo: int, hi: int) -> list[str]:
    """Engine pairs against the oracle, every pair planted, and the
    engine's components against union-find over the oracle pairs."""
    errs = []
    got = sorted((int(a), int(b), float(j)) for a, b, j in pairs)
    want = sorted(expected)
    if got != want:
        g, w = set(got), set(want)
        errs.append(f"pairs differ: {len(w - g)} missing (e.g. {sorted(w - g)[:3]}), "
                    f"{len(g - w)} unexpected (e.g. {sorted(g - w)[:3]})")
    plant = planted(lo, hi)
    stray = [(a, b) for a, b, _ in got if (a, b) not in plant]
    if stray:
        errs.append(f"{len(stray)} verified pairs are not planted (e.g. {stray[:3]})")
    want_cc = components(want)
    got_cc = {int(n): int(c) for n, c in comps}
    if got_cc != want_cc:
        bad = sorted(k for k in set(want_cc) | set(got_cc) if want_cc.get(k) != got_cc.get(k))
        errs.append(f"components differ on {len(bad)} nodes (e.g. {bad[:3]})")
    return errs


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
