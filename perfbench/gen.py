"""Seeded input generators for the benchmark.

Every generator is a pure function of (seed, size): the same arguments
give byte-identical parquet files.  Outputs are cached on disk under
``<checkout>/.perfbench/cache/<name>-s<seed>-<size>`` so generation is
never part of a timed phase; a cache entry is written to a temporary
directory and renamed into place only when complete.

The engine only ever sees the parquet files written here.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed city table (lat, lon).  Which cities are popular is decided by
# the seed (Zipf weights over a seeded permutation).
CITIES = (
    (37.7749, -122.4194), (40.7128, -74.0060), (51.5074, -0.1278),
    (48.8566, 2.3522), (35.6762, 139.6503), (52.5200, 13.4050),
    (41.9028, 12.4964), (55.7558, 37.6173), (-33.8688, 151.2093),
    (19.4326, -99.1332), (-23.5505, -46.6333), (28.6139, 77.2090),
    (31.2304, 121.4737), (1.3521, 103.8198), (25.2048, 55.2708),
    (43.6532, -79.3832), (34.0522, -118.2437), (41.8781, -87.6298),
    (47.6062, -122.3321), (59.3293, 18.0686), (60.1699, 24.9384),
    (-34.6037, -58.3816), (30.0444, 31.2357), (6.5244, 3.3792),
    (-1.2921, 36.8219), (39.9042, 116.4074), (37.5665, 126.9780),
    (13.7563, 100.5018), (-37.8136, 144.9631), (45.5017, -73.5673),
    (40.4168, -3.7038), (50.1109, 8.6821),
)

# Common English function words: documents that use them pass the
# stop-word rule of a Gopher-style quality filter.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

YEAR_START_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z
YEAR_US = 365 * 86_400 * 1_000_000

GPS_SCHEMA = pa.schema(
    [
        ("latitude", pa.float64()),
        ("longitude", pa.float64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.string()),
        ("source", pa.string()),
        ("weight", pa.float64()),
    ]
)


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(tag))])


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _user_ids(n_users: int) -> np.ndarray:
    """Zipf rank → user id.  Every 20th rank is a test user ('x…'),
    every 20th (offset 10) a route user ('rt-…'); the rest are regular
    users that get their own per-user heatmap."""
    out = []
    for r in range(n_users):
        if r % 20 == 7:
            out.append(f"x{r:05d}")
        elif r % 20 == 17:
            out.append(f"rt-{r:05d}")
        else:
            out.append(f"u{r:05d}")
    return np.array(out, dtype=object)


def gps_points(
    seed: int,
    n: int,
    cities: np.ndarray | None = None,
    n_users: int = 2000,
    tag: str = "gps",
    city_s: float = 1.1,
    user_s: float = 1.2,
) -> pa.Table:
    """City-clustered GPS points.

    Cities are Zipf-weighted (exponent ``city_s``; 0 weighs them
    evenly) over a seeded permutation of :data:`CITIES` (or over
    ``cities``, a subset of its indices), each with a Gaussian spread
    of 2-8 km.  Users are Zipf-skewed (exponent ``user_s``) and include
    test ('x…') and route ('rt-…') ids; 5% of rows are
    ``background``; timestamps are uniform over 2025 at microsecond
    precision.
    """
    rng = _rng(seed, tag)
    idx = np.arange(len(CITIES)) if cities is None else np.asarray(cities)
    order = rng.permutation(idx)
    city = order[rng.choice(len(order), size=n, p=_zipf_weights(len(order), city_s))]
    centers = np.array(CITIES)[city]
    sigma_km = 2.0 + 6.0 * _rng(seed, "spread").random(len(CITIES))[city]
    dlat = rng.normal(0.0, 1.0, n) * sigma_km / 111.0
    lat = centers[:, 0] + dlat
    dlon = rng.normal(0.0, 1.0, n) * sigma_km / (111.0 * np.cos(np.radians(lat)))
    lon = centers[:, 1] + dlon
    users = _user_ids(n_users)[rng.choice(n_users, size=n, p=_zipf_weights(n_users, user_s))]
    source = np.where(rng.random(n) < 0.05, "background", "gps").astype(object)
    ts = YEAR_START_US + rng.integers(0, YEAR_US, size=n, dtype=np.int64)
    return pa.table(
        [
            pa.array(lat),
            pa.array(lon),
            pa.array(ts, type=pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            pa.array(users, type=pa.string()),
            pa.array(source, type=pa.string()),
            pa.array(np.ones(n)),
        ],
        schema=GPS_SCHEMA,
    )


def gps_batches(seed: int, n_batches: int, batch_points: int, **skew) -> list[pa.Table]:
    """``n_batches`` spatially local micro-batches: batch k draws only
    from the cities with index ≡ k (mod n_batches), so one batch
    touches few coarse cells of a tile store.  ``skew`` goes to
    :func:`gps_points`."""
    return [
        gps_points(
            seed,
            batch_points,
            cities=[c for c in range(len(CITIES)) if c % n_batches == k],
            tag=f"batch{k}",
            **skew,
        )
        for k in range(n_batches)
    ]


def _vocab(seed: int, n_words: int = 2000) -> list[str]:
    rng = _rng(seed, "vocab")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n_words:
        w = "".join(letters[rng.integers(0, 26, size=int(rng.integers(3, 10)))])
        if w not in STOPWORDS:
            words.add(w)
    return sorted(words)


def documents(
    seed: int,
    n_docs: int,
    dup_frac: float = 0.1,
    lowq_frac: float = 0.05,
    edit_rate: float = 0.01,
) -> tuple[pa.Table, dict]:
    """Synthetic documents with planted near-duplicates and planted
    low-quality documents.

    Clean documents are 80-160 tokens: 30% stop words, the rest Zipf
    draws from a seeded 2000-word vocabulary, so they pass a
    Gopher-style filter.  ``dup_frac`` of the corpus are near-duplicate
    copies of clean documents with ``edit_rate`` of their tokens
    replaced; ``lowq_frac`` are low-quality documents of four kinds
    (too short, mostly numbers, one repeated bigram, no stop words).
    Returns the (doc_id, text) table and the truth:
    ``{"dup_pairs": [(src, dup)], "lowq": [doc_id]}``.
    """
    rng = _rng(seed, "docs")
    vocab = np.array(_vocab(seed), dtype=object)
    p_vocab = _zipf_weights(len(vocab), 1.1)
    n_dup = int(n_docs * dup_frac)
    n_lowq = int(n_docs * lowq_frac)
    n_clean = n_docs - n_dup - n_lowq

    def clean_tokens() -> list[str]:
        n = int(rng.integers(80, 161))
        words = vocab[rng.choice(len(vocab), size=n, p=p_vocab)]
        stop = rng.random(n) < 0.3
        words[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), stop.sum())]
        return list(words)

    texts: list[str] = []
    tokens: list[list[str]] = []
    for _ in range(n_clean):
        t = clean_tokens()
        tokens.append(t)
        texts.append(" ".join(t))
    pairs_local = []
    for i in range(n_dup):
        src = int(rng.integers(0, n_clean))
        t = list(tokens[src])
        edits = rng.random(len(t)) < edit_rate
        for j in np.flatnonzero(edits):
            t[j] = vocab[rng.integers(0, len(vocab))]
        pairs_local.append((src, n_clean + i))
        texts.append(" ".join(t))
    lowq_local = []
    for i in range(n_lowq):
        kind = i % 4
        if kind == 0:  # too short
            t = clean_tokens()[: int(rng.integers(15, 40))]
        elif kind == 1:  # mostly numbers
            t = [
                str(int(rng.integers(0, 100_000))) if rng.random() < 0.6 else w
                for w in clean_tokens()
            ]
        elif kind == 2:  # one short phrase repeated
            a, b = vocab[rng.integers(0, len(vocab), 2)]
            t = [a, "the", b, "of"] * int(rng.integers(20, 40))
        else:  # no stop words
            n = int(rng.integers(80, 161))
            t = list(vocab[rng.choice(len(vocab), size=n, p=p_vocab)])
        lowq_local.append(n_clean + n_dup + i)
        texts.append(" ".join(t))
    # doc ids are a seeded permutation, so planted documents are spread
    # over the id range instead of sitting at its end
    ids = rng.permutation(n_docs).astype(np.int64)
    table = pa.table(
        [pa.array(ids), pa.array(texts, type=pa.string())], names=["doc_id", "text"]
    )
    truth = {
        "dup_pairs": [(int(ids[a]), int(ids[b])) for a, b in pairs_local],
        "lowq": [int(ids[i]) for i in lowq_local],
    }
    return table, truth


def embeddings(
    seed: int,
    n: int,
    dim: int = 64,
    n_centroids: int = 256,
    noise: float = 0.35,
    cluster_s: float = 0.0,
) -> pa.Table:
    """Clustered embeddings: unit-norm centroids plus Gaussian noise,
    float64, with vec_id a seeded permutation of 0..n-1 (queries are
    the vectors with the lowest ids, so they spread over clusters).
    Cluster sizes are Zipf-weighted with exponent ``cluster_s`` (0:
    even)."""
    rng = _rng(seed, "emb")
    cents = rng.normal(0.0, 1.0, (n_centroids, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    which = rng.choice(n_centroids, size=n, p=_zipf_weights(n_centroids, cluster_s))
    vecs = cents[which] + rng.normal(0.0, noise / np.sqrt(dim), (n, dim))
    ids = rng.permutation(n).astype(np.int64)
    order = np.argsort(ids, kind="stable")
    flat = pa.array(vecs[order].reshape(-1))
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        [pa.array(ids[order]), pa.ListArray.from_arrays(offsets, flat)],
        names=["vec_id", "vec"],
    )


def _write(table: pa.Table, path: str, n_files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )


def cached(root: str, name: str, build) -> str:
    """Return ``root/name``, running ``build(tmp_dir)`` first if the
    entry is not cached yet.  The entry appears atomically."""
    final = os.path.join(root, name)
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def write_gps(dst: str, seed: int, n: int, n_files: int, **skew) -> None:
    _write(gps_points(seed, n, **skew), os.path.join(dst, "points"), n_files)


def write_gps_batches(dst: str, seed: int, n_batches: int, batch_points: int, **skew) -> None:
    for k, t in enumerate(gps_batches(seed, n_batches, batch_points, **skew)):
        _write(t, os.path.join(dst, f"batch={k}"))


def write_documents(dst: str, seed: int, n_docs: int) -> None:
    import json

    table, truth = documents(seed, n_docs)
    _write(table, os.path.join(dst, "docs"), 2)
    with open(os.path.join(dst, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)


def write_embeddings(dst: str, seed: int, n: int, **skew) -> None:
    _write(embeddings(seed, n, **skew), os.path.join(dst, "emb"), 2)
