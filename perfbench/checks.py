"""Output checks computed without the engine.

Everything here is numpy, DuckDB, hashlib or plain Python over the
generated inputs and the files the engine wrote.  Each ``check_*``
function returns a list of error strings (empty = correct), so the
benchmark counts every wrong answer into ``failed``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DETAIL_ZOOM = 21
MIN_ZOOM = 6
RS_DELTA = 5
MERCATOR_LAT = 85.05112878


# ---------------------------------------------------------------------------
# Tile pyramid recount
# ---------------------------------------------------------------------------


def tile_rc(lat: np.ndarray, lon: np.ndarray, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """Web-Mercator (row, col) at ``zoom`` with the reference operation
    order: floor((1 - ln(tan(φ) + 1/cos(φ))/π)/2 · 2^z) and
    floor((λ + 180)/360 · 2^z)."""
    rad = lat * math.pi / 180.0
    y = (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0
    n = float(2**zoom)
    row = np.floor(y * n).astype(np.int64)
    col = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    return row, col


class Recount:
    """Expanded (user_group × timespan, row21, col21) rows of a set of
    GPS points, built once; every pyramid question is answered from
    these integer arrays.  ``key`` codes a (user_group, timespan) pair;
    ``key_names[key]`` is 'user_group|timespan'."""

    def __init__(self, tables: list[pa.Table], timespans=("alltime", "month")):
        t = pa.concat_tables(tables)
        lat = t.column("latitude").to_numpy()
        lon = t.column("longitude").to_numpy()
        src = t.column("source").to_numpy(zero_copy_only=False)
        ts = t.column("ts").cast(pa.int64()).to_numpy()
        keep = (
            (src != "background")
            & (lat >= -MERCATOR_LAT) & (lat <= MERCATOR_LAT)
            & (lon >= -180.0) & (lon <= 180.0)
        )
        users = t.column("user_id").to_numpy(zero_copy_only=False)[keep]
        lat, lon, ts = lat[keep], lon[keep], ts[keep]
        row, col = tile_rc(lat, lon, DETAIL_ZOOM)
        names, uidx = np.unique(users, return_inverse=True)
        test = np.char.startswith(names.astype(str), "x")
        route = np.char.startswith(names.astype(str), "rt-")
        # group codes: 0 'all', 1 'route', 2 + i the user names[i]
        groups = ["all", "route", *names.tolist()]
        pt = [np.arange(len(users)), np.flatnonzero(route[uidx])]
        gc = [np.zeros(len(users), np.int64), np.ones(len(pt[1]), np.int64)]
        own = np.flatnonzero(~(test | route)[uidx])
        pt.append(own)
        gc.append(2 + uidx[own])
        pt, gc = np.concatenate(pt), np.concatenate(gc)
        months = np.datetime_as_string(ts.astype("datetime64[us]"), unit="M")
        month_names, month_idx = np.unique(months, return_inverse=True)
        spans, span_code, parts = [], 0, []
        for span in timespans:
            if span == "alltime":
                spans.append("alltime")
                parts.append((gc, pt, np.full(len(pt), span_code)))
                span_code += 1
            elif span == "month":
                spans += month_names.tolist()
                parts.append((gc, pt, span_code + month_idx[pt]))
                span_code += len(month_names)
            else:
                raise ValueError(span)
        n_spans = len(spans)
        key = np.concatenate([g * n_spans + c for g, _, c in parts])
        pt = np.concatenate([p for _, p, _ in parts])
        self.row, self.col = row[pt], col[pt]
        used, self.key = np.unique(key, return_inverse=True)
        self.key_names = [f"{groups[k // n_spans]}|{spans[k % n_spans]}" for k in used.tolist()]
        self.key_index = {n: i for i, n in enumerate(self.key_names)}
        self.n_points = int(keep.sum())

    def _tiles(self, zoom: int) -> np.ndarray:
        d = DETAIL_ZOOM - zoom
        return (self.key << 42) | ((self.row >> d) << 21) | (self.col >> d)

    def group_totals(self) -> dict[tuple[str, str, int], tuple[int, float]]:
        """(user_group, timespan, zoom) → (distinct tiles, total visits)
        for zooms 6..21."""
        out = {}
        n = len(self.key_names)
        visits = np.bincount(self.key, minlength=n)
        split = [name.split("|", 1) for name in self.key_names]
        for z in range(MIN_ZOOM, DETAIL_ZOOM + 1):
            n_tiles = np.bincount(np.unique(self._tiles(z)) >> 42, minlength=n)
            for k, (g, t) in enumerate(split):
                out[(g, t, z)] = (int(n_tiles[k]), float(visits[k]))
        return out

    def rs_keys(self, zoom: int) -> list[tuple[str, str, str]]:
        """Every (user_group, timespan, rs_tile_id) result set whose
        detail zoom is ``zoom``."""
        rz = zoom - RS_DELTA
        u = np.unique(self._tiles(rz))
        mask = (1 << 21) - 1
        return [
            (*self.key_names[k >> 42].split("|", 1), f"{rz}_{(k >> 21) & mask}_{k & mask}")
            for k in u.tolist()
        ]

    def rs_map(self, user_group: str, timespan: str, rs_tile_id: str) -> dict[str, float]:
        """The result-set heatmap {detail tile id: visits} for one key
        ({} when the key has no visits)."""
        k = self.key_index.get(f"{user_group}|{timespan}")
        if k is None:
            return {}
        rz, r, c = (int(x) for x in rs_tile_id.split("_"))
        dz = rz + RS_DELTA
        d_rs, d_detail = DETAIL_ZOOM - rz, DETAIL_ZOOM - dz
        sel = (self.key == k) & ((self.row >> d_rs) == r) & ((self.col >> d_rs) == c)
        tiles, counts = np.unique(
            ((self.row[sel] >> d_detail) << 21) | (self.col[sel] >> d_detail), return_counts=True
        )
        mask = (1 << 21) - 1
        return {f"{dz}_{t >> 21}_{t & mask}": float(n) for t, n in zip(tiles.tolist(), counts.tolist())}

    def pyramid_rows(self) -> np.ndarray:
        """The whole pyramid as rows (key, zoom, row, col, visits) sorted
        by key, key coded as in :meth:`key_code`."""
        parts = []
        for z in range(MIN_ZOOM, DETAIL_ZOOM + 1):
            u, cnt = np.unique(self._tiles(z), return_counts=True)
            parts.append((u, cnt, z))
        mask = (1 << 21) - 1
        return _pyramid_table(
            [u >> 42 for u, _, _ in parts],
            [np.full(len(u), z) for u, _, z in parts],
            [(u >> 21) & mask for u, _, _ in parts],
            [u & mask for u, _, _ in parts],
            [cnt.astype(float) for _, cnt, _ in parts],
        )

    def key_code(self, names: list[str]) -> np.ndarray:
        """Codes of 'user_group|timespan' names (-1 when unknown)."""
        return np.array([self.key_index.get(n, -1) for n in names], dtype=np.int64)


def _pyramid_table(keys, zooms, rows, cols, visits) -> np.ndarray:
    """Columns → one (n, 5) float64 array sorted by (key, zoom, row, col).
    Every value is an integer below 2^53 or a visit count, so float64
    holds them exactly."""
    t = np.stack([np.concatenate(c).astype(np.float64) for c in (keys, zooms, rows, cols, visits)], axis=1)
    return t[np.lexsort((t[:, 3], t[:, 2], t[:, 1], t[:, 0]))]


def sink_group_totals(con, sink_dir: str) -> dict[tuple[str, str, int], tuple[int, float]]:
    """(user_group, timespan, zoom) → (tiles, visits) read back from a
    heatmaps sink of (id 'group|span|z_r_c', heatmap JSON) rows."""
    rows = con.execute(
        f"""
        SELECT split_part(id, '|', 1), split_part(id, '|', 2),
               CAST(split_part(split_part(id, '|', 3), '_', 1) AS INTEGER) + {RS_DELTA},
               sum(len(map_keys(m))), sum(list_sum(map_values(m)))
        FROM (SELECT id, json_transform(heatmap, '"MAP(VARCHAR, DOUBLE)"') AS m
              FROM read_parquet('{sink_dir}/*.parquet'))
        GROUP BY ALL
        """
    ).fetchall()
    return {(g, t, int(z)): (int(n), float(v)) for g, t, z, n, v in rows}


def sink_rows(con, sink_dir: str, ids: list[str]) -> dict[str, dict[str, float]]:
    """id → parsed heatmap for the requested sink rows."""
    con.execute("CREATE OR REPLACE TEMP TABLE want(id VARCHAR)")
    con.executemany("INSERT INTO want VALUES (?)", [(i,) for i in ids])
    rows = con.execute(
        f"SELECT s.id, s.heatmap FROM read_parquet('{sink_dir}/*.parquet') s JOIN want USING (id)"
    ).fetchall()
    return {i: json.loads(h) for i, h in rows}


def check_group_totals(observed: dict, expected: dict) -> list[str]:
    if observed == expected:
        return []
    errs = []
    for k in sorted(set(observed) | set(expected), key=str):
        if observed.get(k) != expected.get(k):
            errs.append(f"group {k}: got {observed.get(k)}, want {expected.get(k)}")
    return errs[:20]


def check_maps(label: str, observed: dict[str, float] | None, expected: dict[str, float]) -> list[str]:
    if (observed or {}) != expected:
        return [f"{label}: heatmap differs ({len(observed or {})} vs {len(expected)} tiles)"]
    return []


def read_store_rows(store_dir: str, recount: Recount) -> np.ndarray:
    """The committed pyramid of a bucket-partitioned tile store, read
    through its markers (``bucket=k/_LATEST`` = 'version:batch'), with
    (user_group, timespan) coded as in ``recount``."""
    import pyarrow.compute as pc

    tables = []
    for d in sorted(os.listdir(store_dir)):
        marker = os.path.join(store_dir, d, "_LATEST")
        if not d.startswith("bucket=") or not os.path.exists(marker):
            continue
        with open(marker) as f:
            version = f.read().strip().split(":")[0]
        vdir = os.path.join(store_dir, d, f"v={version}")
        for fn in sorted(os.listdir(vdir)):
            if fn.endswith(".parquet"):
                tables.append(pq.read_table(os.path.join(vdir, fn)))
    cols = ("key", "zoom", "row", "col", "visits")
    if not tables:
        return _pyramid_table(*[[np.array([], dtype=np.int64)] for _ in cols])
    t = pa.concat_tables(tables, promote_options="default")
    names = pc.binary_join_element_wise(t.column("user_group"), t.column("timespan"), "|")
    enc = pc.dictionary_encode(names).combine_chunks()
    codes = recount.key_code(enc.dictionary.to_pylist())
    return _pyramid_table(
        [codes[enc.indices.to_numpy()]],
        [t.column("zoom").to_numpy().astype(np.int64)],
        [t.column("row").to_numpy().astype(np.int64)],
        [t.column("col").to_numpy().astype(np.int64)],
        [t.column("visits").to_numpy().astype(float)],
    )


def check_store(observed: np.ndarray, expected: np.ndarray) -> list[str]:
    if observed.shape != expected.shape:
        return [f"store has {len(observed)} rows, recount {len(expected)}"]
    bad = np.flatnonzero((observed != expected).any(axis=1))
    if len(bad):
        return [f"store differs from recount in {len(bad)} rows, first {observed[bad[0]]} vs {expected[bad[0]]}"]
    return []


# ---------------------------------------------------------------------------
# Corpus curation
# ---------------------------------------------------------------------------


def split_label(doc_id: int) -> str:
    """md5-prefix split: first hex digit ≤ 'c' train, ≤ 'e' val, else test."""
    h = hashlib.md5(str(doc_id).encode()).hexdigest()[0]
    return "train" if h <= "c" else "val" if h <= "e" else "test"


def check_curated(out_ids, out_splits, input_ids, lowq) -> list[str]:
    errs = []
    out = set(out_ids)
    if len(out) != len(out_ids):
        errs.append(f"{len(out_ids) - len(out)} duplicate doc ids in output")
    if not out <= set(input_ids):
        errs.append(f"{len(out - set(input_ids))} output ids not in the input")
    kept_bad = out & set(lowq)
    if kept_bad:
        errs.append(f"{len(kept_bad)} planted low-quality docs survived, e.g. {min(kept_bad)}")
    wrong = [i for i, s in zip(out_ids, out_splits) if s != split_label(i)]
    if wrong:
        errs.append(f"{len(wrong)} split labels differ from md5(doc_id), e.g. doc {wrong[0]}")
    return errs


def dup_recall(out_ids, dup_pairs) -> float:
    """Share of planted near-duplicate pairs with at least one side
    removed (1.0 when nothing was planted)."""
    out = set(out_ids)
    if not dup_pairs:
        return 1.0
    return sum(1 for a, b in dup_pairs if not (a in out and b in out)) / len(dup_pairs)


# ---------------------------------------------------------------------------
# Vector top-k
# ---------------------------------------------------------------------------


def spark_round6(x: float) -> float:
    """ROUND(x, 6) for doubles as the JVM does it: HALF_UP on the
    decimal string of the double."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products folded left to right over dimensions
    (((0 + a0·b0) + a1·b1) + …), the summation order of the engine's
    array fold; vectorized across rows."""
    acc = np.zeros(np.broadcast_shapes(a.shape, b.shape)[:-1])
    for d in range(a.shape[-1]):
        acc = acc + a[..., d] * b[..., d]
    return acc


def exact_topk(ids: np.ndarray, vecs: np.ndarray, query_ids, k: int = 10) -> dict[int, list[tuple[int, float]]]:
    """Brute-force cosine top-k per query (self excluded), cosine
    rounded to 6 decimals, ties broken by ascending neighbour id."""
    norms = np.sqrt(_seq_dot(vecs, vecs))
    pos = {int(i): p for p, i in enumerate(ids.tolist())}
    out = {}
    for q in query_ids:
        p = pos[int(q)]
        cos = _seq_dot(vecs[p][None, :], vecs) / (norms[p] * norms)
        cos[p] = -np.inf
        kth = np.partition(cos, -k)[-k]
        cand = np.flatnonzero(cos >= kth - 1e-6)
        scored = sorted((-spark_round6(cos[c]), int(ids[c])) for c in cand)
        out[int(q)] = [(i, -s) for s, i in scored[:k]]
    return out


def check_topk(observed: dict[int, list[tuple[int, float]]], expected: dict) -> list[str]:
    errs = []
    for q in sorted(set(observed) | set(expected)):
        if observed.get(q) != expected.get(q):
            errs.append(f"query {q}: got {observed.get(q)}, want {expected.get(q)}")
    return errs[:20]


def recall_at_k(observed: dict[int, list[tuple[int, float]]], expected: dict) -> float:
    hit = total = 0
    for q, want in expected.items():
        got = {i for i, _ in observed.get(q, [])}
        hit += len(got & {i for i, _ in want})
        total += len(want)
    return hit / total if total else 1.0


def rows_to_topk(rows) -> dict[int, list[tuple[int, float]]]:
    """(query_id, neighbor_id, cosine, rank) rows → ranked lists."""
    out: dict[int, list] = {}
    for q, n, c, r in sorted((int(a), int(b), float(c), int(d)) for a, b, c, d in rows):
        out.setdefault(q, []).append((r, n, c))
    return {q: [(n, c) for _, n, c in sorted(v)] for q, v in out.items()}
