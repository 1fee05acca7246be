"""Tests of the benchmark's own code: generators and output checks.

No Spark needed.  Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import PROFILES, WORKLOADS, Ctx  # noqa: E402


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


FLAT = {"city_s": 0.0, "user_s": 0.0}
WRITERS = [
    lambda d, s: gen.write_gps(d, s, 3000, 3),
    lambda d, s: gen.write_gps(d, s, 3000, 3, **FLAT),
    lambda d, s: gen.write_gps_batches(d, s, 3, 500),
    lambda d, s: gen.write_gps_batches(d, s, 3, 500, **FLAT),
    lambda d, s: gen.write_documents(d, s, 200),
    lambda d, s: gen.write_embeddings(d, s, 300),
    lambda d, s: gen.write_embeddings(d, s, 300, cluster_s=1.0),
]


@pytest.mark.parametrize("write", WRITERS)
def test_same_seed_gives_byte_identical_inputs(tmp_path, write):
    write(str(tmp_path / "a"), 7)
    write(str(tmp_path / "b"), 7)
    write(str(tmp_path / "c"), 8)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_flat_profile_spreads_points_over_cities_and_users():
    skewed = gen.gps_points(4, 4000)
    flat = gen.gps_points(4, 4000, **FLAT)

    def top_share(values):
        _, counts = np.unique(values, return_counts=True, axis=0)
        return counts.max() / counts.sum()

    def users(t):
        return t.column("user_id").to_numpy(zero_copy_only=False).astype(str)

    def cells(t):  # 1-degree cells: one or two per city
        return np.round(np.stack([t.column("latitude").to_numpy(), t.column("longitude").to_numpy()], axis=1))

    assert top_share(users(flat)) < top_share(users(skewed)) / 5
    assert top_share(cells(flat)) < top_share(cells(skewed)) / 2


def test_cached_builds_once(tmp_path):
    calls = []

    def build(d):
        calls.append(d)
        open(os.path.join(d, "x"), "w").close()

    p1 = gen.cached(str(tmp_path), "entry", build)
    p2 = gen.cached(str(tmp_path), "entry", build)
    assert p1 == p2 and len(calls) == 1 and os.path.exists(os.path.join(p1, "x"))


def test_documents_plant_what_the_truth_says():
    table, truth = gen.documents(3, 400)
    ids = table.column("doc_id").to_pylist()
    assert sorted(ids) == list(range(400))
    assert len(truth["dup_pairs"]) == 40 and len(truth["lowq"]) == 20
    text = dict(zip(ids, table.column("text").to_pylist()))
    for a, b in truth["dup_pairs"]:
        ta, tb = text[a].split(), text[b].split()
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) <= len(ta) // 10


# ---------------------------------------------------------------------------
# pyramid checks
# ---------------------------------------------------------------------------


def _points():
    return gen.gps_points(5, 2000)


def _write_sink(recount: checks.Recount, path: str, corrupt: bool = False) -> None:
    """A heatmaps sink built from the recount, formatted independently
    of the engine: id 'group|span|z_r_c', heatmap JSON."""
    ids, maps = [], []
    for z in range(checks.MIN_ZOOM, checks.DETAIL_ZOOM + 1):
        for key in recount.rs_keys(z):
            ids.append("|".join(key))
            maps.append(recount.rs_map(*key))
    if corrupt:
        first = next(iter(maps[-1]))
        maps[-1][first] += 1.0
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"id": ids, "heatmap": [json.dumps(m) for m in maps]}),
        os.path.join(path, "part-0.parquet"),
    )


def test_sink_totals_match_recount_and_reject_one_visit_off(tmp_path):
    import duckdb

    rc = checks.Recount([_points()])
    want = rc.group_totals()
    con = duckdb.connect()
    _write_sink(rc, str(tmp_path / "ok"))
    assert checks.check_group_totals(checks.sink_group_totals(con, str(tmp_path / "ok")), want) == []
    _write_sink(rc, str(tmp_path / "bad"), corrupt=True)
    assert checks.check_group_totals(checks.sink_group_totals(con, str(tmp_path / "bad")), want)


def test_sampled_result_set_rejects_one_visit_off(tmp_path):
    import duckdb

    rc = checks.Recount([_points()])
    key = rc.rs_keys(16)[0]
    _write_sink(rc, str(tmp_path / "s"))
    got = checks.sink_rows(duckdb.connect(), str(tmp_path / "s"), ["|".join(key)])["|".join(key)]
    want = rc.rs_map(*key)
    assert checks.check_maps("rs", got, want) == []
    got[next(iter(got))] -= 1.0
    assert checks.check_maps("rs", got, want)


def test_recount_groups_follow_the_user_rules():
    rc = checks.Recount([_points()], ("alltime",))
    groups = {n.split("|")[0] for n in rc.key_names}
    assert "all" in groups and "route" in groups
    assert not any(g.startswith("x") or g.startswith("rt-") for g in groups)
    totals = rc.group_totals()
    # every zoom of 'all' counts every kept point once
    assert {v for (g, _, _), (_, v) in totals.items() if g == "all"} == {float(rc.n_points)}


def _write_store(rows: np.ndarray, rc: checks.Recount, store: str) -> None:
    names = np.array(rc.key_names)[rows[:, 0].astype(int)]
    ug, ts = zip(*(n.split("|", 1) for n in names))
    vdir = os.path.join(store, "bucket=3", "v=2")
    os.makedirs(vdir)
    pq.write_table(
        pa.table({
            "user_group": list(ug), "timespan": list(ts),
            "zoom": rows[:, 1].astype(np.int32), "row": rows[:, 2].astype(np.int64),
            "col": rows[:, 3].astype(np.int64), "visits": rows[:, 4],
        }),
        os.path.join(vdir, "part-0.parquet"),
    )
    with open(os.path.join(store, "bucket=3", "_LATEST"), "w") as f:
        f.write("2:5")


def test_store_check_rejects_one_visit_off(tmp_path):
    rc = checks.Recount([_points()])
    want = rc.pyramid_rows()
    _write_store(want, rc, str(tmp_path / "ok"))
    assert checks.check_store(checks.read_store_rows(str(tmp_path / "ok"), rc), want) == []
    bad = want.copy()
    bad[len(bad) // 2, 4] += 1.0
    _write_store(bad, rc, str(tmp_path / "bad"))
    assert checks.check_store(checks.read_store_rows(str(tmp_path / "bad"), rc), want)


# ---------------------------------------------------------------------------
# corpus checks
# ---------------------------------------------------------------------------


def test_curated_check_rejects_survivors_strangers_and_bad_splits():
    ids = [1, 2, 3, 4]
    splits = [checks.split_label(i) for i in ids]
    assert checks.check_curated(ids, splits, range(10), lowq=[7]) == []
    assert checks.check_curated(ids + [7], splits + [checks.split_label(7)], range(10), lowq=[7])
    assert checks.check_curated(ids + [99], splits + [checks.split_label(99)], range(10), lowq=[])
    wrong = {"train": "val", "val": "test", "test": "train"}
    assert checks.check_curated(ids, [wrong[splits[0]]] + splits[1:], range(10), lowq=[])


def test_dup_recall_counts_pairs_with_one_side_removed():
    assert checks.dup_recall([1, 3], [(1, 2), (3, 4)]) == 1.0
    assert checks.dup_recall([1, 2, 3], [(1, 2), (3, 4)]) == 0.5


# ---------------------------------------------------------------------------
# top-k checks
# ---------------------------------------------------------------------------


def test_round6_is_half_up_on_the_decimal_string():
    assert checks.spark_round6(0.0000005) == 0.000001
    assert checks.spark_round6(-0.0000005) == -0.000001
    assert checks.spark_round6(0.1234564999) == 0.123456


def test_exact_topk_and_rejects_one_neighbour_swapped():
    t = gen.embeddings(2, 200, dim=8, n_centroids=4)
    ids = t.column("vec_id").to_numpy()
    vecs = np.stack(t.column("vec").to_numpy(zero_copy_only=False))
    want = checks.exact_topk(ids, vecs, range(5), k=10)
    # brute force without the tie/rounding shortcut
    for q, got in want.items():
        cos = vecs @ vecs[q] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[q]))
        cos[q] = -np.inf
        assert {i for i, _ in got} <= set(np.argsort(-cos)[:12].tolist())
        assert [c for _, c in got] == sorted((c for _, c in got), reverse=True)
    rows = [(q, n, c, r + 1) for q, lst in want.items() for r, (n, c) in enumerate(lst)]
    assert checks.check_topk(checks.rows_to_topk(rows), want) == []
    swapped = list(rows)
    q, n, c, r = swapped[0]
    swapped[0] = (q, 199 if n != 199 else 198, c, r)
    assert checks.check_topk(checks.rows_to_topk(swapped), want)
    assert checks.recall_at_k(checks.rows_to_topk(swapped), want) < 1.0


# ---------------------------------------------------------------------------
# spans and the benchmark definition
# ---------------------------------------------------------------------------


def test_self_times_sum_to_root_duration():
    s = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 5.0, "end": 9.0},
    ]
    st = spans.self_times(s)
    assert st == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}
    assert sum(st.values()) == 10.0


def test_status_store_delta_filters_by_group():
    before = {"jobs": {1: "a"}, "stages": {(1, 0): ("a", (1,) * len(spans.STAGE_FIELDS))}}
    after = {
        "jobs": {1: "a", 2: "a", 3: "b"},
        "stages": {
            (1, 0): ("a", (3,) * len(spans.STAGE_FIELDS)),
            (2, 0): ("b", (5,) * len(spans.STAGE_FIELDS)),
        },
    }
    a = spans.delta(before, after, "a")
    assert a["jobs"] == 1 and a["stages"] == 0 and a["numTasks"] == 2
    assert spans.delta(before, after, "b")["stages"] == 1
    assert spans.delta(before, after, None)["numTasks"] == 7


def _fake_ops():
    """One finished timed phase's operation records, as the paths'
    ``run`` and ``check`` leave them."""
    ops = []
    for kind, t in (("pyramid", 2.0), ("merge", 2.0), ("curate", 2.0), ("exact", 0.5), ("ivf", 0.8)):
        ops += [{"kind": kind, "time": t, "wall": t, "recall": 0.9} for _ in range(3)]
    ops.append({"kind": "build", "time": 3.0, "wall": 3.0})
    ops += [{"kind": "read", "time": 0.3 + i / 100, "wall": 0.3 + i / 100} for i in range(20)]
    return ops


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_every_workload_reports_every_end_to_end_metric(name):
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
        b = json.load(f)
    ctx = Ctx(None, spans.Tracer(False, ""), "", 1)
    ctx.ops = _fake_ops()
    got = set(WORKLOADS[name]().metrics(ctx)) | {"setup_s", "fail_ratio", "peak_rss_mb"}
    assert got == {m["name"] for m in b["end_to_end"]}
    # rows_per_s: 6000 + 3000 + 600 input rows over 2 + 2 + 2 s
    assert WORKLOADS[name]().metrics(ctx)["rows_per_s"][0] == pytest.approx(9600 / 6.0)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS) == list(PROFILES)
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == list(run.PER_LAYER)
    assert len({m["name"] for m in b["per_layer"] + b["end_to_end"]}) == len(b["per_layer"]) + len(b["end_to_end"])
