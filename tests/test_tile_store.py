"""Streaming tile store: multi-batch merge == batch pyramid; replay guard."""

import pytest
from pyspark.sql import functions as F

from heatmap_spark.operators.pyramid import build_pyramid
from heatmap_spark.sources.locations import load_locations
from heatmap_spark.streaming.tile_store import (
    _read_marker,
    merge_delta_into_store,
    read_tile_store,
    stream_pyramid_to_store,
)

ZOOMS = dict(min_zoom=8, max_zoom=12)


def test_streamed_store_equals_batch_pyramid(spark, sf_smoke, tmp_path):
    """Default (auto) layout: min_zoom=8 >= BUCKET_ZOOM routes to the
    bucket-PARTITIONED store; read_tile_store reads it transparently."""
    from heatmap_spark.streaming.tile_store import _live_buckets, _read_bucket_marker

    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    loc = load_locations(spark, sf_smoke)
    loc.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(loc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_pyramid_to_store(stream, store, ckpt, **ZOOMS)
    q.awaitTermination(timeout=300)

    assert _read_marker(store) == (-1, -1), "auto layout must be partitioned"
    live = _live_buckets(store)
    assert live, "expected live buckets"
    assert max(_read_bucket_marker(store, k)[1] for k in live) >= 2, (
        "expected one merge per input file"
    )

    got = read_tile_store(spark, store)
    want = build_pyramid(spark.read.parquet(src), mode="explode", **ZOOMS)
    # visits are sums of 1.0 weights — integer-valued doubles, exact
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_streamed_flat_store_equals_batch_pyramid(spark, sf_smoke, tmp_path):
    """layout='flat' keeps the whole-store versioned path working."""
    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    loc = load_locations(spark, sf_smoke)
    loc.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(loc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_pyramid_to_store(stream, store, ckpt, layout="flat", **ZOOMS)
    q.awaitTermination(timeout=300)

    version, last_batch = _read_marker(store)
    assert last_batch >= 2, "expected one merge per input file"
    assert version == last_batch

    got = read_tile_store(spark, store)
    want = build_pyramid(spark.read.parquet(src), mode="explode", **ZOOMS)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_replayed_batch_is_skipped(spark, sf_smoke, tmp_path):
    store = str(tmp_path / "store")
    delta = build_pyramid(load_locations(spark, sf_smoke), mode="explode", **ZOOMS)
    assert merge_delta_into_store(spark, delta, store, batch_id=0)
    v1 = _read_marker(store)
    total1 = read_tile_store(spark, store).agg(F.sum("visits")).first()[0]
    # crash-replay of the same micro-batch: must be a no-op
    assert not merge_delta_into_store(spark, delta, store, batch_id=0)
    assert _read_marker(store) == v1
    assert read_tile_store(spark, store).agg(F.sum("visits")).first()[0] == total1
    # the next batch does merge, doubling every tile's count
    assert merge_delta_into_store(spark, delta, store, batch_id=1)
    total2 = read_tile_store(spark, store).agg(F.sum("visits")).first()[0]
    assert total2 == 2 * total1


def test_partitioned_store_equals_batch_and_prunes(spark, sf_smoke, tmp_path):
    """Partitioned store: multi-batch merge equals the one-shot batch
    pyramid; a localized second batch rewrites ONLY its touched
    buckets; replay is a per-bucket no-op; bucket-list reads prune."""
    from heatmap_spark.streaming.tile_store import (
        _live_buckets,
        _read_bucket_marker,
        merge_delta_into_partitioned_store,
        read_partitioned_store,
        spatial_bucket,
    )

    store = str(tmp_path / "pstore")
    loc = load_locations(spark, sf_smoke)
    # batch 0: everything; batch 1: a localized slice (one small bbox)
    b0 = loc
    b1 = loc.where(
        (F.col("latitude").between(10.0, 45.0))
        & (F.col("longitude").between(0.0, 45.0))
    )
    assert b1.count() > 0
    d0 = build_pyramid(b0, mode="explode", **ZOOMS)
    d1 = build_pyramid(b1, mode="explode", **ZOOMS)

    assert merge_delta_into_partitioned_store(spark, d0, store, batch_id=0) > 0
    markers_before = {k: _read_bucket_marker(store, k) for k in _live_buckets(store)}
    touched1 = {r.b for r in d1.select(spatial_bucket().alias("b")).distinct().collect()}
    assert 0 < len(touched1) < len(markers_before), "batch 1 must be localized"

    n1 = merge_delta_into_partitioned_store(spark, d1, store, batch_id=1)
    assert n1 == len(touched1)
    for k, before in markers_before.items():
        after = _read_bucket_marker(store, k)
        if k in touched1:
            assert after == (before[0] + 1, 1)
        else:
            assert after == before, f"untouched bucket {k} was rewritten"

    # replay of batch 1: no bucket advances
    assert merge_delta_into_partitioned_store(spark, d1, store, batch_id=1) == 0

    got = read_partitioned_store(spark, store)
    from heatmap_spark.operators.pyramid import pyramid_merge

    want = pyramid_merge(build_pyramid(b0, mode="explode", **ZOOMS), d1)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    # pruned read: only the requested buckets' rows come back
    some = sorted(touched1)[:1]
    pruned = read_partitioned_store(spark, store, buckets=some)
    assert pruned.select(spatial_bucket().alias("b")).distinct().collect() == [
        pruned.sparkSession.createDataFrame([(some[0],)], "b int").collect()[0]
    ]


def test_partitioned_streaming_face_equals_batch(spark, sf_smoke, tmp_path):
    from heatmap_spark.streaming.tile_store import (
        read_partitioned_store,
        stream_pyramid_to_partitioned_store,
    )

    src = str(tmp_path / "in")
    store = str(tmp_path / "pstore")
    ckpt = str(tmp_path / "ckpt")
    loc = load_locations(spark, sf_smoke)
    loc.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(loc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_pyramid_to_partitioned_store(stream, store, ckpt, **ZOOMS)
    q.awaitTermination(timeout=300)
    got = read_partitioned_store(spark, store)
    want = build_pyramid(spark.read.parquet(src), mode="explode", **ZOOMS)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_vacuum_keeps_latest_versions_readable(spark, sf_smoke, tmp_path):
    """After several merges, vacuum removes superseded version dirs and
    orphaned staging, keeps the latest per bucket, and reads are
    unchanged."""
    import os

    from heatmap_spark.streaming.tile_store import (
        _live_buckets,
        _read_bucket_marker,
        merge_delta_into_partitioned_store,
        read_partitioned_store,
        vacuum_partitioned_store,
    )

    store = str(tmp_path / "pstore")
    delta = build_pyramid(load_locations(spark, sf_smoke), mode="explode", **ZOOMS)
    for b in range(3):
        merge_delta_into_partitioned_store(spark, delta, store, batch_id=b)
    os.makedirs(os.path.join(store, "_staging_99"), exist_ok=True)  # orphan
    before = read_partitioned_store(spark, store).agg(F.sum("visits")).first()[0]

    # Default staging-age guard: a FRESH staging dir (possibly a live
    # merge) must survive a vacuum.
    vacuum_partitioned_store(store, keep=1)
    assert os.path.exists(os.path.join(store, "_staging_99"))
    # Explicit age=0 reclaims genuinely orphaned staging.
    removed = vacuum_partitioned_store(store, keep=1, staging_age_s=0)
    assert removed > 0
    assert not os.path.exists(os.path.join(store, "_staging_99"))
    for k in _live_buckets(store):
        latest, _ = _read_bucket_marker(store, k)
        vdirs = [d for d in os.listdir(os.path.join(store, f"bucket={k}")) if d.startswith("v=")]
        assert vdirs == [f"v={latest}"]
    after = read_partitioned_store(spark, store).agg(F.sum("visits")).first()[0]
    assert after == before


def test_fs_layer_handles_scheme_qualified_uris(spark, tmp_path):
    """The Hadoop-FS metadata layer must treat a scheme-qualified URI
    (file:/...) exactly like a bare path — markers, listing, atomic
    overwrite-rename, mtime, recursive delete — since production
    stores are hdfs://s3a:// URIs, never driver-local paths."""
    from heatmap_spark.streaming.tile_store import _Fs, _join

    base = "file:" + str(tmp_path / "fsprobe")
    fs = _Fs(spark)
    fs.mkdirs(_join(base, "d1"))
    assert fs.is_dir(_join(base, "d1"))
    marker = _join(base, "_LATEST")
    fs.write_text_atomic(marker, "3:7")
    assert fs.exists(marker)
    assert fs.read_text(marker) == "3:7"
    fs.write_text_atomic(marker, "4:9")  # overwrite must be atomic, not fail
    assert fs.read_text(marker) == "4:9"
    assert fs.mtime(marker) is not None
    assert fs.mtime(_join(base, "nope")) is None
    assert sorted(fs.list_names(base)) == ["_LATEST", "d1"]
    assert fs.list_names(_join(base, "missing")) == []
    fs.rename(_join(base, "d1"), _join(base, "d2"))
    assert fs.is_dir(_join(base, "d2")) and not fs.exists(_join(base, "d1"))
    fs.delete(base)
    assert not fs.exists(base)


# a quote and a backslash: key values must reach the SQL as parameter
# markers, never as text
ODD_GROUP = "o'brien\\"


@pytest.fixture(scope="module")
def served_store(spark, sf_smoke, tmp_path_factory):
    """A partitioned store of the zoom 7-12 pyramid at a scheme-qualified
    path, and that pyramid.  Three points belong to ODD_GROUP's user."""
    from heatmap_spark.streaming.tile_store import merge_delta_into_partitioned_store

    loc = load_locations(spark, sf_smoke)
    odd = loc.orderBy("ts", "latitude", "longitude").limit(3)
    pyr = build_pyramid(
        loc.unionByName(odd.withColumn("user_id", F.lit(ODD_GROUP))),
        mode="explode",
        min_zoom=7,
        max_zoom=12,
    ).localCheckpoint()
    store = "file:" + str(tmp_path_factory.mktemp("served") / "pstore")
    merge_delta_into_partitioned_store(spark, pyr, store, batch_id=0)
    return store, pyr


def _hit_tile(pyr) -> str:
    r = pyr.where("zoom = 12 AND user_group = 'all'").orderBy("row", "col").first()
    return f"7_{r['row'] >> 5}_{r['col'] >> 5}"


def test_point_resultset_read_matches_batch(spark, served_store):
    """Serving read: one (user_group, timespan, parent tile) fetched
    from the partitioned store equals the batch resultsets row — for
    parents in one bucket, a parent spanning many buckets, and a user
    group holding SQL metacharacters.  Misses are empty, not errors.
    A one-bucket read is one job with no exchange."""
    import uuid

    from heatmap_spark.operators.pyramid import resultsets
    from heatmap_spark.streaming.tile_store import (
        BUCKET_ZOOM,
        _live_buckets,
        read_resultset,
    )

    store, pyr = served_store
    want_all = resultsets(pyr.where(F.col("zoom").isin(7, 12)), 5)
    keys = want_all.select("user_group", "timespan", "rs_zoom", "rs_tile_id")
    picks = (
        # one-bucket parents, including the aggregate group
        keys.where("rs_zoom = 7").orderBy("user_group", "rs_tile_id").limit(3).collect()
        # a zoom-2 parent over zoom-7 detail: 4^(BUCKET_ZOOM-2) buckets
        + keys.where("rs_zoom = 2 AND user_group = 'all'").orderBy("rs_tile_id").limit(1).collect()
        + keys.where(F.col("user_group") == ODD_GROUP).orderBy("rs_tile_id").collect()
    )
    assert {p["rs_zoom"] for p in picks} == {2, 7} and 2 < BUCKET_ZOOM
    assert ODD_GROUP in {p["user_group"] for p in picks}
    # map columns disallow set ops — compare via deterministic JSON
    ser = lambda df: df.select(
        "user_group", "timespan", "rs_tile_id", F.to_json("heatmap").alias("j")
    ).collect()
    for p in picks:
        got = read_resultset(spark, store, p["user_group"], p["timespan"], p["rs_tile_id"])
        want = want_all.where(
            (F.col("user_group") == p["user_group"])
            & (F.col("timespan") == p["timespan"])
            & (F.col("rs_tile_id") == p["rs_tile_id"])
        )
        assert ser(got) == ser(want), p

    hit = read_resultset(spark, store, "all", "alltime", _hit_tile(pyr))
    # absent key → empty, not an error
    assert read_resultset(spark, store, "no-such-group", "alltime", "7_1_1").count() == 0
    # SQL metacharacters in a key never widen the match
    assert read_resultset(spark, store, "all' OR '1'='1", "alltime", _hit_tile(pyr)).count() == 0
    # a parent in a bucket with no committed version (empty ocean)
    empty = sorted(set(range(1 << (2 * BUCKET_ZOOM))) - set(_live_buckets(store, spark)))
    assert empty
    br, bc = divmod(empty[0], 1 << BUCKET_ZOOM)
    shift = 7 - BUCKET_ZOOM
    ocean = read_resultset(spark, store, "all", "alltime", f"7_{br << shift}_{bc << shift}")
    assert ocean.collect() == [] and ocean.schema == hit.schema

    # one bucket: no exchange in the plan, one Spark job for the read
    assert "Exchange" not in hit._jdf.queryExecution().executedPlan().toString()
    sc = spark.sparkContext
    group = f"point-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        assert len(hit.collect()) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_point_read_off_the_main_thread_uses_the_callers_session(
    spark, served_store, monkeypatch
):
    """A server answers reads from request threads, where
    SparkSession.getActiveSession() is None: the metadata I/O of a read
    (and of a vacuum) must run on the session passed in, which a remote
    store's Hadoop calls need."""
    import threading

    from heatmap_spark.streaming import tile_store as ts

    store, pyr = served_store
    tile = _hit_tile(pyr)
    sessions = []

    class SpyFs(ts._Fs):
        def __init__(self, spark=None):
            super().__init__(spark)
            sessions.append(self._spark)

    monkeypatch.setattr(ts, "_Fs", SpyFs)
    out = {}

    def serve():
        try:
            out["rows"] = ts.read_resultset(spark, store, "all", "alltime", tile).collect()
            out["removed"] = ts.vacuum_partitioned_store(store, spark=spark)
        except Exception as e:  # noqa: BLE001 — re-raised by the asserts below
            out["error"] = e

    t = threading.Thread(target=serve)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    assert "error" not in out, out.get("error")
    assert len(out["rows"]) == 1 and out["removed"] == 0
    assert sessions and all(s is not None for s in sessions)


def test_one_bucket_read_reads_only_its_own_marker(spark, served_store, monkeypatch):
    """A point read makes a constant number of metadata calls — its own
    bucket's marker — not a listing of the store plus every marker."""
    from heatmap_spark.streaming import tile_store as ts

    store, pyr = served_store
    assert len(ts._live_buckets(store, spark)) > 100
    tile = _hit_tile(pyr)
    z, r, c = (int(x) for x in tile.split("_"))
    shift = z - ts.BUCKET_ZOOM
    marker = ts._bucket_marker_path(store, (r >> shift) * (1 << ts.BUCKET_ZOOM) + (c >> shift))
    calls = []

    class CountingFs(ts._Fs):
        def exists(self, path):
            calls.append(("exists", path))
            return super().exists(path)

        def read_text(self, path):
            calls.append(("read_text", path))
            return super().read_text(path)

        def list_names(self, path):
            calls.append(("list_names", path))
            return super().list_names(path)

        def is_dir(self, path):
            calls.append(("is_dir", path))
            return super().is_dir(path)

    monkeypatch.setattr(ts, "_Fs", CountingFs)
    ts.read_resultset(spark, store, "all", "alltime", tile)
    assert calls == [("exists", marker), ("read_text", marker)]


def test_partitioned_store_retraction_and_full_cancellation(spark, sf_smoke, tmp_path):
    """Retraction deltas (negated visits, drop_zeros) make the store
    equal rebuild-without-slice; retracting EVERYTHING commits empty
    (schema-bearing) bucket versions and the read returns zero tiles;
    replaying the retraction batch is a no-op."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators import pyramid as P
    from heatmap_spark.sources.locations import load_locations
    from heatmap_spark.streaming.tile_store import (
        merge_delta_into_partitioned_store,
        read_partitioned_store,
    )

    loc = load_locations(spark, sf_smoke)
    store = str(tmp_path / "s")
    full = P.build_pyramid(loc, mode="explode", min_zoom=8, max_zoom=10)
    merge_delta_into_partitioned_store(spark, full, store, batch_id=0)

    sel = F.substring(F.md5("user_id"), 1, 1) <= "3"
    retract = P.build_pyramid(
        loc.where(sel), mode="explode", min_zoom=8, max_zoom=10
    ).withColumn("visits", -F.col("visits"))
    n = merge_delta_into_partitioned_store(
        spark, retract, store, batch_id=1, drop_zeros=True
    )
    assert n > 0
    got = read_partitioned_store(spark, store)
    want = P.build_pyramid(loc.where(~sel), mode="explode", min_zoom=8, max_zoom=10)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # replay is a no-op
    assert (
        merge_delta_into_partitioned_store(
            spark, retract, store, batch_id=1, drop_zeros=True
        )
        == 0
    )

    # total cancellation: retract everything that remains
    retract_all = read_partitioned_store(spark, store).withColumn(
        "visits", -F.col("visits")
    )
    merge_delta_into_partitioned_store(
        spark, retract_all, store, batch_id=2, drop_zeros=True
    )
    final = read_partitioned_store(spark, store)
    assert final is not None and final.count() == 0
