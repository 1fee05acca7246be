"""The benchmark's workloads.

Four paths drive the engine's public API on generated parquet inputs,
in one process, with one closed-loop client (the tile-store path adds
one writer thread beside it).  Every workload in :data:`WORKLOADS` runs
all four, one after the other; the workloads differ in the skew of
their inputs (:data:`PROFILES`).  A path object

* ``prepare(cache, seed)`` — generates (or finds cached) inputs;
* ``warmup(ctx)`` — set-up work before the timed phase, one thread per
  path: the batch pyramid and the curation run once on the real input,
  the tile store loads its first batch and serves one read, vector
  search runs one exact query set on the real input and an index build
  on a tiny one (the timed phase builds once, so that must not be the
  cold build);
* ``run(ctx, seconds, traced)`` — the timed phase, spans around every
  layer call (no-ops unless tracing), one record per operation;
* ``check(ctx)`` — compares every output with the independent
  computations in :mod:`checks`;
* ``metrics(ctx)`` / ``layer_metrics(ctx, spans, ops)`` — the reported
  values; ``rows(ctx)`` — input rows of one batch operation and the
  median time of one, for the workload's ``rows_per_s``.

Only the traced run materializes a layer's output between layers
(``persist`` + ``count``), so the untraced run keeps the plans the
engine would build for a user.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import gen

TIMESPANS = ("alltime", "month")

# Input skew of each workload: Zipf exponents of city weights and user
# activity (GPS points and tile-store batches), of read-key popularity
# (tile-store reads) and of cluster sizes (embeddings).  0 is even.
PROFILES = {
    "skewed": {"city_s": 1.1, "user_s": 1.2, "read_s": 1.0, "cluster_s": 1.0},
    "uniform": {"city_s": 0.0, "user_s": 0.0, "read_s": 0.0, "cluster_s": 0.0},
}


def materialize(df):
    """Persist and count: the traced run's layer boundary."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def cpu_steal_s() -> float:
    """Seconds of CPU stolen from this machine by its host so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


CPUS = len(os.sched_getaffinity(0))


def steal_adjusted(wall: float, steal: float) -> float:
    """Wall time less the CPU time the host stole meanwhile, spread
    over this process's CPUs: on a shared VM, a busy neighbour should
    not read as a slower engine.  ``steal`` ≤ wall × CPUs, so the
    result is never negative."""
    return wall - steal / CPUS


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Ctx:
    """Per-run state shared by `run.py` and a workload."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.ops: list[dict] = []
        # operations of each kind a closed loop runs at least: three
        # let the median drop one slow one (the JIT compiler is still at
        # work on the first operations after set-up); the traced run's
        # per-layer figures are per-operation means and need only two
        self.min_ops = 3
        self.errors: list[str] = []

    def fail(self, rec: dict, errs: list[str]) -> None:
        """Count ``rec`` as failed when its check found errors."""
        if errs:
            rec["failed"] = True
            self.errors += errs

    @staticmethod
    def start() -> tuple[float, float]:
        """Mark the start of an operation (for :meth:`op`)."""
        return time.perf_counter(), cpu_steal_s()

    def op(self, kind: str, start: tuple[float, float], **kw) -> dict:
        """Record one finished operation: its wall time, the CPU seconds
        the host stole from this machine meanwhile, and ``time``, the
        wall time less the stolen CPU time per core (see
        :func:`steal_adjusted`)."""
        t0, steal0 = start
        wall, steal = time.perf_counter() - t0, cpu_steal_s() - steal0
        rec = {"kind": kind, "wall": wall, "steal": steal, "time": steal_adjusted(wall, steal), **kw}
        self.ops.append(rec)
        return rec

    def out_dir(self, name: str) -> str:
        p = os.path.join(self.work, "out", name)
        shutil.rmtree(p, ignore_errors=True)
        return p


def _per_op(values, n):
    return sum(values) / n if n else 0.0


def _times(ops, kind):
    """Steal-adjusted times of one kind of operation (set-up already
    ran each kind once, so none of these is the cold one)."""
    return [o["time"] for o in ops if o["kind"] == kind]


def _median(values):
    return statistics.median(values) if values else 0.0


def _rate(ops, kind, units):
    """``units`` per second of the median operation of one kind (the
    median keeps one slow operation from moving the run)."""
    walls = _times(ops, kind)
    return units / statistics.median(walls) if walls else 0.0


def _closed_loop(t_end, min_ops):
    """Closed loop: yields 0, 1, 2, … — the body runs one operation —
    for at least ``min_ops`` operations, then while another one as long
    as the last is expected to end by ``t_end``."""
    i, last = 0, 0.0
    while i < min_ops or time.perf_counter() + last <= t_end:
        t0 = time.perf_counter()
        yield i
        last = time.perf_counter() - t0
        i += 1


def _layer_sum(spans, layer, name=None, field=None, ids=None):
    """Sum of span durations (field None) or of a span counter over the
    spans of one layer (optionally one span name, or a set of span ids)."""
    total = 0.0
    for s in spans:
        if s["layer"] != layer or (name and s["name"] != name) or (ids is not None and s["id"] not in ids):
            continue
        total += (s["end"] - s["start"]) if field is None else s["counters"][field]
    return total


# ---------------------------------------------------------------------------
# pyramid_batch — the paper's job
# ---------------------------------------------------------------------------


class PyramidBatch:
    points = 6_000
    files = 4

    def __init__(self, profile):
        self.profile = profile
        self.skew = {k: PROFILES[profile][k] for k in ("city_s", "user_s")}

    def prepare(self, cache, seed):
        self.dir = gen.cached(
            cache, f"gps-{self.profile}-s{seed}-n{self.points}-f{self.files}",
            lambda d: gen.write_gps(d, seed, self.points, self.files, **self.skew),
        )
        self.points_dir = os.path.join(self.dir, "points")

    def _pipeline(self, ctx, src, out):
        from heatmap_spark.api import Heatmap

        (
            Heatmap(ctx.spark).from_parquet(src).pyramid(timespans=TIMESPANS)
            .resultsets().table().save(out, mode="overwrite")
        )

    def warmup(self, ctx):
        """One run on the real input: the first run of a process is
        several times slower than the next (code generation, JIT)."""
        self._pipeline(ctx, self.points_dir, ctx.out_dir("pyramid-warm"))

    def _traced_pipeline(self, ctx, src, out):
        from heatmap_spark.api import Heatmap, HeatmapBuilder
        from heatmap_spark.operators import pyramid as pyr

        tr = ctx.tracer
        with tr.span("driver", "driver.sources"):
            locs = Heatmap(ctx.spark).from_parquet(src).df()
        with tr.span("sources", "sources.scan"):
            locs, _ = materialize(locs)
        with tr.span("driver", "driver.ingest"):
            ing = pyr.ingest_locations(locs, pyr.DETAIL_MAX_ZOOM, pyr.MIN_PYRAMID_ZOOM)
        with tr.span("pyramid", "pyramid.ingest"):
            ing, _ = materialize(ing)
        with tr.span("driver", "driver.rollup"):
            rolled = pyr.pyramid_explode(pyr.expand_groups_and_timespans(ing, TIMESPANS))
        with tr.span("pyramid", "pyramid.rollup") as a:
            rolled, a["rows_out"] = materialize(rolled)
        with tr.span("driver", "driver.resultsets"):
            rs = pyr.resultsets(rolled)
        with tr.span("pyramid", "pyramid.resultsets"):
            rs, _ = materialize(rs)
        with tr.span("driver", "driver.table"):
            table = HeatmapBuilder(ctx.spark, pyr.heatmap_table(rs), "table")
        with tr.span("sink", "sink.write"):
            table.save(out, mode="overwrite")
        for df in (locs, ing, rolled, rs):
            df.unpersist()

    def run(self, ctx, seconds, traced):
        for i in _closed_loop(time.perf_counter() + seconds, ctx.min_ops):
            out = ctx.out_dir(f"pyramid-{'t' if traced else 'u'}{i}")
            t0 = ctx.start()
            with ctx.tracer.span("bench", "op.pyramid"):
                if traced:
                    self._traced_pipeline(ctx, self.points_dir, out)
                else:
                    self._pipeline(ctx, self.points_dir, out)
            ctx.op("pyramid", t0, out=out)

    def check(self, ctx):
        import duckdb

        recount = checks.Recount([pq.read_table(self.points_dir)], TIMESPANS)
        want = recount.group_totals()
        rng = np.random.default_rng(ctx.seed)
        sample = []
        for z in (8, 12, 16, 21):
            keys = recount.rs_keys(z)
            sample += [keys[i] for i in rng.choice(len(keys), size=min(8, len(keys)), replace=False)]
        ids = ["|".join(k) for k in sample]
        con = duckdb.connect()
        for rec in ctx.ops:
            if rec["kind"] != "pyramid":
                continue
            got = checks.sink_group_totals(con, rec["out"])
            errs = checks.check_group_totals(got, want)
            rows = checks.sink_rows(con, rec["out"], ids)
            for k, i in zip(sample, ids):
                errs += checks.check_maps(f"result set {i}", rows.get(i), recount.rs_map(*k))
            ctx.fail(rec, errs)
            shutil.rmtree(rec["out"], ignore_errors=True)
        con.close()

    def metrics(self, ctx):
        return {}

    def rows(self, ctx):
        return self.points, _median(_times(ctx.ops, "pyramid"))

    def layer_metrics(self, ctx, spans, ops):
        n = sum(o["kind"] == "pyramid" for o in ops)
        rows_out = sum(s["attrs"].get("rows_out", 0) for s in spans if s["name"] == "pyramid.rollup")
        own = {s["id"] for s in spans if s["name"] in ("pyramid.ingest", "pyramid.rollup", "pyramid.resultsets")}
        shuffle_recs = _layer_sum(spans, "pyramid", field="shuffleWriteRecords", ids=own)
        return {
            "pyramid.ingest_s": _per_op([_layer_sum(spans, "pyramid", "pyramid.ingest")], n),
            "pyramid.rollup_s": _per_op([_layer_sum(spans, "pyramid", "pyramid.rollup")], n),
            "pyramid.resultsets_s": _per_op([_layer_sum(spans, "pyramid", "pyramid.resultsets")], n),
            "pyramid.rows_out": _per_op([rows_out], n),
            "pyramid.shuffle_bytes": _per_op([_layer_sum(spans, "pyramid", field="shuffleWriteBytes", ids=own)], n),
            "pyramid.shuffle_records_per_row_out": shuffle_recs / rows_out if rows_out else 0.0,
            "pyramid.exchanges": count_exchanges(ctx, self.points_dir),
        }


def count_exchanges(ctx, src) -> int:
    """Exchange operators in the physical plan of one build_pyramid
    over ``src`` (planning only, no job)."""
    from heatmap_spark.operators.pyramid import build_pyramid

    df = build_pyramid(ctx.spark.read.parquet(src), timespans=TIMESPANS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Exchange " in line)


# ---------------------------------------------------------------------------
# tile_store_mixed — incremental writes beside serving reads
# ---------------------------------------------------------------------------


class TileStoreMixed:
    batches = 12
    batch_points = 3_000
    read_detail_zooms = (11, 14, 17, 21)
    miss_share = 0.1

    def __init__(self, profile):
        self.profile = profile
        self.skew = {k: PROFILES[profile][k] for k in ("city_s", "user_s")}
        self.read_s = PROFILES[profile]["read_s"]

    def prepare(self, cache, seed):
        self.dir = gen.cached(
            cache, f"gpsb-{self.profile}-s{seed}-k{self.batches}-n{self.batch_points}",
            lambda d: gen.write_gps_batches(d, seed, self.batches, self.batch_points, **self.skew),
        )

    def batch_dir(self, root, k):
        return os.path.join(root, f"batch={k}")

    def _merge(self, ctx, src, store, batch_id, traced):
        from heatmap_spark.operators.pyramid import build_pyramid
        from heatmap_spark.streaming.tile_store import merge_delta_into_partitioned_store

        tr = ctx.tracer
        with tr.span("driver", "driver.delta"):
            delta = build_pyramid(ctx.spark.read.parquet(src), timespans=TIMESPANS)
        rows = None
        if traced:
            with tr.span("pyramid", "pyramid.delta"):
                delta, rows = materialize(delta)
        with tr.span("tile_store", "tile_store.merge") as a:
            a["buckets"] = merge_delta_into_partitioned_store(ctx.spark, delta, store, batch_id)
        if traced:
            delta.unpersist()
        return rows

    def _read(self, ctx, key):
        from heatmap_spark.streaming.tile_store import read_resultset

        tr = ctx.tracer
        t0 = time.perf_counter()
        with tr.span("tile_store", "tile_store.read_resolve"):
            df = read_resultset(ctx.spark, self.store, *key)
        t1 = time.perf_counter()
        with tr.span("tile_store", "tile_store.read_exec"):
            rows = df.collect()
        t2 = time.perf_counter()
        files = len(df.inputFiles()) if tr.enabled else 0
        return rows, t1 - t0, t2 - t1, files

    def _schedule(self, seed, recount, n=4000):
        """Seeded read keys: result sets that exist in the first batch,
        popular by visits (Zipf exponent ``read_s``), plus ``miss_share`` misses (an absent
        user group, or a tile in an empty ocean bucket)."""
        rng = np.random.default_rng([seed, 7])
        keys = []
        for z in self.read_detail_zooms:
            keys += recount.rs_keys(z)
        keys = [k for k in keys if k[0] == "all" or rng.random() < 0.05]
        rng.shuffle(keys)
        p = gen._zipf_weights(len(keys), self.read_s)
        out = []
        for _ in range(n):
            if rng.random() < self.miss_share:
                z = self.read_detail_zooms[int(rng.integers(0, 4))] - checks.RS_DELTA
                if rng.random() < 0.5:
                    out.append(("nobody", "alltime", keys[int(rng.integers(0, len(keys)))][2]))
                else:  # South Pacific, far from every city
                    r, c = checks.tile_rc(np.array([-48.0]), np.array([-130.0]), z)
                    out.append(("all", "alltime", f"{z}_{r[0]}_{c[0]}"))
            else:
                out.append(keys[int(rng.choice(len(keys), p=p))])
        return out

    def warmup(self, ctx):
        """Initial load: a fresh store holding the first batch, then one
        read through it."""
        self.store = ctx.out_dir("store")
        self._merge(ctx, self.batch_dir(self.dir, 0), self.store, 0, False)
        self.next_batch = self.merged = 1
        self.recounts = [checks.Recount([pq.read_table(self.batch_dir(self.dir, 0))], TIMESPANS)]
        self.keys = self._schedule(ctx.seed, self.recounts[0])
        self.key_i = 0
        self._read(ctx, self.keys[-1])

    def run(self, ctx, seconds, traced):
        t_end = time.perf_counter() + seconds
        # batches fully merged, and whether a merge is committing buckets
        # now: read together under the lock, so a read is checked against
        # every store state it can have seen
        lock = threading.Lock()
        state = {"merged": self.merged, "inflight": False, "done": False, "error": None}

        def writer():
            ctx.tracer.set_group(ctx.spark, "writer")
            try:
                with ctx.tracer.span("bench", "thread.writer"):
                    last = 0.0  # duration of the previous merge
                    while self.next_batch < self.batches and (
                        self.next_batch - self.merged < ctx.min_ops or time.perf_counter() + last <= t_end
                    ):
                        b = self.next_batch
                        with lock:
                            state["inflight"] = True
                        t0 = ctx.start()
                        rows = self._merge(ctx, self.batch_dir(self.dir, b), self.store, b, traced)
                        last = ctx.op("merge", t0, delta_rows=rows)["wall"]
                        self.next_batch += 1
                        with lock:
                            state["merged"], state["inflight"] = self.next_batch, False
            except Exception as e:  # noqa: BLE001 — counted as a failed operation
                state["error"] = e
            finally:
                state["done"] = True

        w = threading.Thread(target=writer, name="writer")
        w.start()
        # the client reads only while merges run: every read is one
        # beside a writer
        ctx.tracer.set_group(ctx.spark, "reader")
        with ctx.tracer.span("bench", "thread.reader"):
            while not state["done"]:
                key = self.keys[self.key_i % len(self.keys)]
                self.key_i += 1
                with lock:
                    lo = state["merged"]
                t0 = ctx.start()
                rows, resolve, exe, files = self._read(ctx, key)
                with lock:
                    hi = state["merged"] + state["inflight"]
                ctx.op("read", t0, key=key, rows=[r.asDict() for r in rows], lo=lo, hi=hi,
                       resolve=resolve, exec=exe, files=files)
        w.join()
        ctx.tracer.set_group(ctx.spark, "main")
        self.merged = self.next_batch
        if state["error"] is not None:
            rec = ctx.op("merge", ctx.start(), failed=True)
            ctx.fail(rec, [f"merge failed: {state['error']!r}"])

    def _expected(self, key, m):
        out: dict[str, float] = {}
        for rc in self.recounts[:m]:
            for k, v in rc.rs_map(*key).items():
                out[k] = out.get(k, 0.0) + v
        return out

    def check(self, ctx):
        for b in range(len(self.recounts), self.merged):
            self.recounts.append(checks.Recount([pq.read_table(self.batch_dir(self.dir, b))], TIMESPANS))
        for rec in ctx.ops:
            if rec["kind"] != "read":
                continue
            got = rec["rows"][0]["heatmap"] if rec["rows"] else {}
            if len(rec["rows"]) > 1:
                ctx.fail(rec, [f"read {rec['key']}: {len(rec['rows'])} rows"])
            elif not any(got == self._expected(rec["key"], m) for m in range(rec["lo"], rec["hi"] + 1)):
                ctx.fail(rec, [f"read {rec['key']}: heatmap matches no committed prefix"])
        full = checks.Recount(
            [pq.read_table(self.batch_dir(self.dir, b)) for b in range(self.merged)], TIMESPANS
        )
        merges = [o for o in ctx.ops if o["kind"] == "merge"]
        errs = checks.check_store(checks.read_store_rows(self.store, full), full.pyramid_rows())
        if merges:
            ctx.fail(merges[-1], errs)
        else:
            ctx.errors += errs

    def rows(self, ctx):
        return self.batch_points, _median(_times(ctx.ops, "merge"))

    def metrics(self, ctx):
        reads = sorted(w * 1000.0 for w in _times(ctx.ops, "read"))
        # linear interpolation between order statistics (numpy's default):
        # with ~20 reads a single stall does not set the p90
        q = statistics.quantiles(reads, n=10, method="inclusive") if len(reads) > 1 else reads * 9
        return {
            "read_ms_p50": (statistics.median(reads), "ms"),
            "read_ms_p90": (q[8], "ms"),
        }

    def layer_metrics(self, ctx, spans, ops):
        merges = [o for o in ops if o["kind"] == "merge" and not o.get("failed")]
        reads = [o for o in ops if o["kind"] == "read"]
        merge_spans = sorted((s for s in spans if s["name"] == "tile_store.merge"), key=lambda s: s["start"])
        delta_rows = sum(o["delta_rows"] or 0 for o in merges)
        written = sum(s["counters"]["outputRecords"] for s in merge_spans)
        n_m, n_r = len(merge_spans), len(reads)
        return {
            "tile_store.merge_first_s": merge_spans[0]["end"] - merge_spans[0]["start"] if merge_spans else 0.0,
            "tile_store.merge_last_s": merge_spans[-1]["end"] - merge_spans[-1]["start"] if merge_spans else 0.0,
            "tile_store.buckets_rewritten": _per_op([s["attrs"]["buckets"] for s in merge_spans], n_m),
            "tile_store.write_amp": written / delta_rows if delta_rows else 0.0,
            "tile_store.jobs_per_merge": _per_op([s["counters"]["jobs"] for s in merge_spans], n_m),
            "tile_store.store_bytes": dir_bytes(self.store),
            "tile_store.read_resolve_ms": statistics.median([o["resolve"] * 1000 for o in reads]) if reads else 0.0,
            "tile_store.read_exec_ms": statistics.median([o["exec"] * 1000 for o in reads]) if reads else 0.0,
            "tile_store.files_per_read": _per_op([o["files"] for o in reads], n_r),
            "tile_store.jobs_per_read": _per_op(
                [s["counters"]["jobs"] for s in spans if s["name"].startswith("tile_store.read")], n_r
            ),
        }


# ---------------------------------------------------------------------------
# curate_corpus — LLM training-data curation
# ---------------------------------------------------------------------------


class CurateCorpus:
    docs = 600

    def prepare(self, cache, seed):
        import json

        self.dir = gen.cached(cache, f"docs-s{seed}-n{self.docs}", lambda d: gen.write_documents(d, seed, self.docs))
        self.docs_dir = os.path.join(self.dir, "docs")
        with open(os.path.join(self.dir, "truth.json")) as f:
            truth = json.load(f)
        self.pairs = [tuple(p) for p in truth["dup_pairs"]]
        self.lowq = truth["lowq"]

    def _pipeline(self, ctx, src, out):
        from heatmap_spark.api import Corpus

        (
            Corpus(ctx.spark).from_parquet(src).quality_filter().repetition_filter()
            .dedup("minhash").split().save(out)
        )

    def warmup(self, ctx):
        """One run on the real input, as for the batch pyramid."""
        self._pipeline(ctx, self.docs_dir, ctx.out_dir("corpus-warm"))

    def _traced_pipeline(self, ctx, src, out):
        from heatmap_spark.api import Corpus, CorpusBuilder
        from heatmap_spark.operators.dedup import minhash_lsh_candidates_df

        tr = ctx.tracer
        spark = ctx.spark
        with tr.span("driver", "driver.sources"):
            docs = Corpus(spark).from_parquet(src).df()
        with tr.span("sources", "sources.scan") as a:
            docs, a["rows"] = materialize(docs)
        with tr.span("driver", "driver.quality"):
            q = CorpusBuilder(spark, docs).quality_filter().df()
        with tr.span("textops", "textops.quality"):
            q, _ = materialize(q)
        with tr.span("driver", "driver.repetition"):
            r = CorpusBuilder(spark, q).repetition_filter().df()
        with tr.span("textops", "textops.repetition") as a:
            r, a["kept"] = materialize(r)
        with tr.span("driver", "driver.candidates"):
            cand = minhash_lsh_candidates_df(r.select("doc_id", "text"))
        with tr.span("dedup", "dedup.candidates") as a:
            cand, _ = materialize(cand)
            a["pairs"] = [(x.doc_a, x.doc_b) for x in cand.collect()]
        with tr.span("driver", "driver.dedup"):
            d = CorpusBuilder(spark, r).dedup("minhash").df()
        with tr.span("dedup", "dedup.apply"):
            d, _ = materialize(d)
        with tr.span("driver", "driver.split"):
            s = CorpusBuilder(spark, d).split()
        with tr.span("sink", "sink.write"):
            s.save(out)
        for df in (docs, q, r, cand, d):
            df.unpersist()

    def run(self, ctx, seconds, traced):
        for i in _closed_loop(time.perf_counter() + seconds, ctx.min_ops):
            out = ctx.out_dir(f"corpus-{'t' if traced else 'u'}{i}")
            t0 = ctx.start()
            with ctx.tracer.span("bench", "op.curate"):
                if traced:
                    self._traced_pipeline(ctx, self.docs_dir, out)
                else:
                    self._pipeline(ctx, self.docs_dir, out)
            ctx.op("curate", t0, out=out)

    def check(self, ctx):
        input_ids = pq.read_table(self.docs_dir, columns=["doc_id"]).column("doc_id").to_pylist()
        for rec in ctx.ops:
            if rec["kind"] != "curate":
                continue
            t = pq.read_table(rec["out"], columns=["doc_id", "split"])
            ids = t.column("doc_id").to_pylist()
            ctx.fail(rec, checks.check_curated(ids, t.column("split").to_pylist(), input_ids, self.lowq))
            rec["recall"] = checks.dup_recall(ids, self.pairs)
            shutil.rmtree(rec["out"], ignore_errors=True)

    def metrics(self, ctx):
        recalls = [o["recall"] for o in ctx.ops if o["kind"] == "curate" and "recall" in o]
        return {"dup_recall": (_median(recalls), "ratio")}

    def rows(self, ctx):
        return self.docs, _median(_times(ctx.ops, "curate"))

    def layer_metrics(self, ctx, spans, ops):
        n = sum(o["kind"] == "curate" for o in ops)
        planted = set(self.pairs) | {(b, a) for a, b in self.pairs}
        pairs = [p for s in spans if s["name"] == "dedup.candidates" for p in s["attrs"]["pairs"]]
        kept = sum(s["attrs"]["kept"] for s in spans if s["name"] == "textops.repetition")
        return {
            "textops.quality_s": _per_op([_layer_sum(spans, "textops", "textops.quality")], n),
            "textops.repetition_s": _per_op([_layer_sum(spans, "textops", "textops.repetition")], n),
            "textops.kept_frac": kept / (n * self.docs) if n else 0.0,
            "dedup.candidates_s": _per_op([_layer_sum(spans, "dedup", "dedup.candidates")], n),
            "dedup.candidate_pairs": _per_op([len(pairs)], n),
            "dedup.candidate_precision": sum(p in planted for p in pairs) / len(pairs) if pairs else 0.0,
            "dedup.shuffle_bytes": _per_op([_layer_sum(spans, "dedup", field="shuffleWriteBytes")], n),
        }


# ---------------------------------------------------------------------------
# vector_topk — exact and IVF similarity search
# ---------------------------------------------------------------------------


class VectorTopk:
    vectors = 3000
    exact_queries = 16
    ivf_queries = 96
    lists = 32
    nprobe = 4
    train_iters = 2
    k = 10
    exact_share = 0.35  # of the path's share, before the index build

    def __init__(self, profile):
        self.profile = profile
        self.skew = {"cluster_s": PROFILES[profile]["cluster_s"]}

    def prepare(self, cache, seed):
        self.dir = gen.cached(
            cache, f"emb-{self.profile}-s{seed}-n{self.vectors}",
            lambda d: gen.write_embeddings(d, seed, self.vectors, **self.skew),
        )
        self.tiny = gen.cached(cache, f"emb-s{seed}-n300", lambda d: gen.write_embeddings(d, seed, 300))
        self.emb_dir = os.path.join(self.dir, "emb")

    def _emb(self, ctx, src):
        return ctx.spark.read.parquet(src)

    def _exact(self, ctx, emb, n_queries):
        from heatmap_spark.operators.similarity import knn_cosine_df

        tr = ctx.tracer
        with tr.span("driver", "driver.exact"):
            df = knn_cosine_df(emb, n_queries=n_queries, k=self.k)
        with tr.span("similarity", "similarity.exact"):
            return df.collect()

    def _build(self, ctx, emb, lists):
        from heatmap_spark.operators import similarity as sim

        tr = ctx.tracer
        with tr.span("similarity", "similarity.codebook"):
            codebook = sim.ivf_codebook(emb, lists, self.train_iters)
        with tr.span("driver", "driver.assign"):
            assigned = sim._assign_to_codebook(emb, codebook)
        with tr.span("similarity", "similarity.assign"):
            assigned, _ = materialize(assigned)
        return codebook, assigned

    def _ivf(self, ctx, emb, index, n_queries, lists):
        from heatmap_spark.operators.similarity import knn_cosine_ivf_df

        codebook, assigned = index
        tr = ctx.tracer
        with tr.span("driver", "driver.ivf"):
            df = knn_cosine_ivf_df(
                emb, n_queries=n_queries, k=self.k, n_buckets=lists,
                assigned=assigned, nprobe=self.nprobe, codebook=codebook,
            )
        with tr.span("similarity", "similarity.ivf_query"):
            return df.collect()

    def warmup(self, ctx):
        """One exact operation on the real input, then an index build and
        IVF query on a tiny one (the timed phase builds its index once)."""
        self._exact(ctx, self._emb(ctx, self.emb_dir), self.exact_queries)
        emb = self._emb(ctx, os.path.join(self.tiny, "emb"))
        index = self._build(ctx, emb, 4)
        self._ivf(ctx, emb, index, 4, 4)
        index[1].unpersist()

    def run(self, ctx, seconds, traced):
        t_start = time.perf_counter()
        emb = self._emb(ctx, self.emb_dir)
        for _ in _closed_loop(t_start + seconds * self.exact_share, ctx.min_ops):
            t0 = ctx.start()
            with ctx.tracer.span("bench", "op.exact"):
                rows = self._exact(ctx, emb, self.exact_queries)
            ctx.op("exact", t0, rows=rows)
        t0 = ctx.start()
        with ctx.tracer.span("bench", "op.build"):
            index = self._build(ctx, emb, self.lists)
        ctx.op("build", t0, codebook=index[0])
        for _ in _closed_loop(t_start + seconds, ctx.min_ops):
            t0 = ctx.start()
            with ctx.tracer.span("bench", "op.ivf"):
                rows = self._ivf(ctx, emb, index, self.ivf_queries, self.lists)
            ctx.op("ivf", t0, rows=rows)
        if traced:
            self.bucket_sizes = {r["bucket"]: r["count"] for r in index[1].groupBy("bucket").count().collect()}
        index[1].unpersist()

    def check(self, ctx):
        t = pq.read_table(self.emb_dir)
        ids = t.column("vec_id").to_numpy()
        vecs = np.stack(t.column("vec").to_numpy(zero_copy_only=False))
        self.vecs = (ids, vecs)
        want_exact = checks.exact_topk(ids, vecs, range(self.exact_queries), self.k)
        want_ivf = checks.exact_topk(ids, vecs, range(self.ivf_queries), self.k)
        for rec in ctx.ops:
            if rec["kind"] == "exact":
                ctx.fail(rec, checks.check_topk(checks.rows_to_topk(rec.pop("rows")), want_exact))
            elif rec["kind"] == "ivf":
                got = checks.rows_to_topk(rec.pop("rows"))
                rec["recall"] = checks.recall_at_k(got, want_ivf)
                if set(got) != set(want_ivf) or any(len(v) != self.k for v in got.values()):
                    ctx.fail(rec, ["ivf: missing queries or short neighbour lists"])

    def metrics(self, ctx):
        recalls = [o["recall"] for o in ctx.ops if o["kind"] == "ivf"]
        builds = [o["time"] for o in ctx.ops if o["kind"] == "build"]
        return {
            "exact_qps": (_rate(ctx.ops, "exact", self.exact_queries), "queries/s"),
            "ivf_qps": (_rate(ctx.ops, "ivf", self.ivf_queries), "queries/s"),
            "recall_at_10": (_median(recalls), "ratio"),
            "index_build_s": (_median(builds), "s"),
        }

    def layer_metrics(self, ctx, spans, ops):
        n_exact = sum(o["kind"] == "exact" for o in ops)
        n_ivf = sum(o["kind"] == "ivf" for o in ops)
        n_build = sum(o["kind"] == "build" for o in ops)
        codebook = next(o["codebook"] for o in ops if o["kind"] == "build")
        return {
            "similarity.exact_s": _per_op([_layer_sum(spans, "similarity", "similarity.exact")], n_exact),
            "similarity.pairs_scored": float(self.exact_queries * (self.vectors - 1)),
            "similarity.codebook_s": _per_op([_layer_sum(spans, "similarity", "similarity.codebook")], n_build),
            "similarity.assign_s": _per_op([_layer_sum(spans, "similarity", "similarity.assign")], n_build),
            "similarity.ivf_query_s": _per_op([_layer_sum(spans, "similarity", "similarity.ivf_query")], n_ivf),
            "similarity.candidates_per_query": self._candidates_per_query(codebook),
        }

    def _candidates_per_query(self, codebook):
        """Mean corpus vectors in the nprobe buckets each IVF query
        probes (probe order: affinity desc, bucket asc)."""
        ids, vecs = self.vecs
        cents = np.array([codebook[b] for b in sorted(codebook)])
        qs = vecs[np.argsort(ids)[: self.ivf_queries]]
        total = 0
        for q in qs:
            aff = checks._seq_dot(q[None, :], cents)
            probe = sorted(range(len(cents)), key=lambda b: (-aff[b], b))[: self.nprobe]
            total += sum(self.bucket_sizes.get(b, 0) for b in probe)
        return total / len(qs)


class Phases:
    """A workload: the paths run one after the other, each for its
    share of the timed phase."""

    def __init__(self, name, parts, shares):
        self.name, self.parts, self.shares = name, parts, shares

    def prepare(self, cache, seed):
        for p in self.parts:
            p.prepare(cache, seed)

    def warmup(self, ctx):
        """The paths' warm-ups, each in its own thread: they share no
        state, and set-up is not a measured phase."""
        errors = []

        def warm(p):
            t0 = time.perf_counter()
            try:
                p.warmup(ctx)
            except Exception as e:  # noqa: BLE001 — re-raised below
                errors.append(e)
            print(f"perfbench: warm-up {type(p).__name__} {time.perf_counter() - t0:.2f}s", file=sys.stderr)

        threads = [threading.Thread(target=warm, args=(p,)) for p in self.parts]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]

    def run(self, ctx, seconds, traced):
        for p, share in zip(self.parts, self.shares):
            p.run(ctx, seconds * share, traced)

    def check(self, ctx):
        for p in self.parts:
            t0 = time.perf_counter()
            p.check(ctx)
            print(f"perfbench: check {type(p).__name__} {time.perf_counter() - t0:.2f}s", file=sys.stderr)

    def metrics(self, ctx):
        """Each path's metrics, plus ``rows_per_s``: the input rows of one
        operation of every batch path (pyramid, tile-store merge,
        curation) over the sum of their median times."""
        rows = [p.rows(ctx) for p in self.parts if hasattr(p, "rows")]
        total_s = sum(t for _, t in rows)
        out = {"rows_per_s": (sum(n for n, _ in rows) / total_s if total_s else 0.0, "rows/s")}
        for p in self.parts:
            out.update(p.metrics(ctx))
        return out

    def layer_metrics(self, ctx, spans, ops):
        return {k: v for p in self.parts for k, v in p.layer_metrics(ctx, spans, ops).items()}


SHARES = (0.22, 0.36, 0.2, 0.22)

WORKLOADS = {
    name: (
        lambda name=name: Phases(
            name,
            (PyramidBatch(name), TileStoreMixed(name), CurateCorpus(), VectorTopk(name)),
            SHARES,
        )
    )
    for name in PROFILES
}
