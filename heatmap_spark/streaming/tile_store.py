"""Streaming pyramid maintenance into a persistent parquet tile store.

The missing production write path: the reference recomputes the whole
pyramid per run and upserts rows into Cassandra (reference
heatmap.py:128-137,156-157).  Here the same outcome is incremental —
each micro-batch of locations becomes a DELTA pyramid, merged into the
stored base with :func:`heatmap_spark.operators.pyramid.pyramid_merge`
(sum is reassociative, so merge = union + re-aggregate), and the new
base is written Z-ordered so bbox reads over the store prune row
groups (operators/layout.py).

Two layouts share one commit protocol (versioned directories + a
``_LATEST`` marker, swapped only after the new version's write
succeeds — readers never observe a partial version):

* **partitioned** (production default): per-spatial-bucket versions, a
  micro-batch rewrites only the coarse cells it touches — per-batch
  cost tracks batch locality, not store size.
* **flat**: one version dir for the whole store — simplest possible
  layout, kept for sub-``BUCKET_ZOOM`` pyramids and as the minimal
  reference implementation of the protocol.  Its merge is O(store)
  per batch, so it is NOT the path for a large store.

All marker/staging metadata I/O goes through the Hadoop FileSystem
API via the JVM gateway (:class:`_Fs`), so the store works on any
Hadoop-supported URI (``hdfs://``, ``s3a://``, ``abfs://``, local
paths) — not just driver-local POSIX.  On rename-as-copy stores
(S3A without a committer) the directory promote is slower but still
correct: the marker swap remains the commit point.

On a real deployment this versioning is what an ACID table format
(Delta/Iceberg/Hudi) provides; the merge/layout logic here is
format-agnostic and would move over unchanged.

Exactly-once: the marker records (version, last merged batch_id).  A
micro-batch replayed after a crash (checkpoint not yet committed but
marker already swapped) is detected by ``batch_id <= last`` and
skipped, so a delta is never merged twice; a crash BEFORE the swap
leaves an orphan version dir the next write simply overwrites.

Scale shape per batch: the delta shuffles only the micro-batch's
aggregates, the merge shuffles (base ∪ delta) AGGREGATE rows — never
raw event history — and the base row count is bounded by the live tile
set, so steady-state cost is O(batch + live tiles of touched buckets),
independent of total history (the property that matters at 100 TB/day).

Serving cost: a point read (:func:`read_resultset`) of a parent at
zoom >= ``BUCKET_ZOOM`` reads the marker of its one bucket (no listing
of the store), scans that bucket's single file with the declared
:data:`STORE_SCHEMA` (no schema-inference job), and packages the result
set with one parameterised SQL statement — ONE Spark job of ONE stage,
no exchange.  Every version is written in :data:`STORE_SCHEMA`.  Pass
the caller's ``spark`` through every metadata helper: a thread other
than the session's creator has no active session to fall back on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from heatmap_spark.operators.layout import cluster_by_zorder
from heatmap_spark.operators.pyramid import build_pyramid, pyramid_merge, resultsets

_LATEST = "_LATEST"

# The schema every store version is written in (the pyramid's output
# contract).  Reads declare it: inferring it from parquet footers
# launches a Spark job per read, more than the read itself costs.
STORE_SCHEMA = StructType(
    [
        StructField("user_group", StringType()),
        StructField("timespan", StringType()),
        StructField("zoom", IntegerType(), nullable=False),
        StructField("row", LongType()),
        StructField("col", LongType()),
        StructField("visits", DoubleType()),
    ]
)


def _in_store_schema(df: DataFrame) -> DataFrame:
    """``df``'s pyramid columns cast to :data:`STORE_SCHEMA`, so a
    delta of any numeric key types is written in the declared schema."""
    return df.select(*[F.col(f.name).cast(f.dataType) for f in STORE_SCHEMA.fields])


def _join(*parts: str) -> str:
    """URI-safe path join (never os.path.join — scheme-qualified URIs
    are not OS paths)."""
    return "/".join(p.rstrip("/") for p in parts)


class _Fs:
    """Driver-side metadata I/O through Hadoop's FileSystem API.

    Every marker read/write, staging promote, and vacuum delete in
    this module routes through here, so the commit protocol is
    storage-agnostic: the same code runs against ``hdfs://``,
    ``s3a://``, ``abfs://`` or a plain local path, resolved per-path
    by Hadoop (FileSystem instances are cached JVM-side, so
    constructing this per call is cheap).

    Atomic marker swap uses FileContext.rename(..., OVERWRITE) — the
    HDFS-atomic overwrite rename (public Hadoop API).  On object
    stores without atomic rename the swap degrades to
    delete+copy-visible semantics; the tiny marker file makes the
    non-atomic window milliseconds, and a reader that catches it
    treats the store as "no version committed" and retries.

    Local-filesystem fast path (r12, guide §4/§5): every JVM-backed op
    here costs 3-8 py4j driver roundtrips; a partitioned-store merge
    does O(touched buckets) of them per batch (measured: the 255-bucket
    commit loop alone was 30-43 s/batch at sf0.01, ~all py4j latency).
    When a path RESOLVES to the local filesystem — an explicit
    ``file:`` scheme, or no scheme while ``fs.defaultFS`` is ``file:``
    (checked once per instance) — the op runs as plain POSIX Python
    (µs, semantically identical: ``os.replace`` is the atomic
    overwrite-rename, ``os.rename`` the same-FS move Hadoop's
    RawLocalFileSystem delegates to).  Scheme-qualified remote paths
    (``hdfs://``, ``s3a://``, ``abfs://``) keep the Hadoop API
    unchanged, so the commit protocol is still storage-agnostic at
    cluster scale.

    Falls back to POSIX os calls when no SparkSession is active (pure
    unit tests, offline vacuum of a local store).
    """

    def __init__(self, spark: SparkSession | None = None):
        self._spark = spark or SparkSession.getActiveSession()
        self._jvm_ready = False
        if self._spark is None:
            self._default_local = True
        else:
            # cache the fs.defaultFS locality probe ON the session
            # object (dies with it) — _Fs() is constructed per marker
            # read and the probe is 2 py4j roundtrips (r12)
            cached = getattr(self._spark, "_heatmap_fs_default_local", None)
            if cached is None:
                sc = self._spark.sparkContext
                cached = str(
                    sc._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
                ).startswith("file:")
                self._spark._heatmap_fs_default_local = cached
            self._default_local = cached

    def _ensure_jvm(self) -> None:
        if not self._jvm_ready:
            sc = self._spark.sparkContext
            self._jvm = sc._jvm
            self._conf = sc._jsc.hadoopConfiguration()
            self._Path = self._jvm.org.apache.hadoop.fs.Path
            self._gateway = sc._gateway
            self._jvm_ready = True

    def _posix(self, path: str) -> str | None:
        """The plain OS path when ``path`` lives on the local
        filesystem (see class docstring), else None → use the JVM."""
        import re

        m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):", path)
        if m is None:
            return path if (self._spark is None or self._default_local) else None
        if m.group(1) != "file":
            return None
        p = path[len("file:") :]
        if p.startswith("//"):  # file:///x or file://host/x → strip authority
            p = "/" + p[2:].split("/", 1)[1] if "/" in p[2:] else "/"
        return p

    # -- JVM-backed implementations -------------------------------------
    def _fs(self, path: str):
        self._ensure_jvm()
        return self._Path(path).getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        lp = self._posix(path)
        if lp is not None:
            import os

            return os.path.exists(lp)
        return self._fs(path).exists(self._Path(path))

    def is_dir(self, path: str) -> bool:
        lp = self._posix(path)
        if lp is not None:
            import os

            return os.path.isdir(lp)
        fs, p = self._fs(path), self._Path(path)
        return fs.exists(p) and fs.getFileStatus(p).isDirectory()

    def read_text(self, path: str) -> str:
        lp = self._posix(path)
        if lp is not None:
            with open(lp, encoding="utf-8") as f:
                return f.read()
        stream = self._fs(path).open(self._Path(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        """Write ``text`` to ``path`` via a sibling temp file + an
        overwriting rename — readers see the old content or the new,
        never a partial write."""
        lp = self._posix(path)
        if lp is not None:
            import os

            tmp = lp + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(text)
            os.replace(tmp, lp)
            return
        tmp = path + ".tmp"
        out = self._fs(path).create(self._Path(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(self._conf)
        Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gateway.new_array(Rename, 1)
        opts[0] = Rename.OVERWRITE
        fc.rename(self._Path(tmp), self._Path(path), opts)

    def list_names(self, path: str) -> list[str]:
        """Child entry names of a directory ([] if missing)."""
        lp = self._posix(path)
        if lp is not None:
            import os

            return os.listdir(lp) if os.path.isdir(lp) else []
        fs, p = self._fs(path), self._Path(path)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]

    def delete(self, path: str) -> None:
        """Recursive delete; missing path is a no-op."""
        lp = self._posix(path)
        if lp is not None:
            import os
            import shutil

            if os.path.isdir(lp) and not os.path.islink(lp):
                shutil.rmtree(lp, ignore_errors=True)
            else:
                try:
                    os.remove(lp)
                except OSError:
                    pass
            return
        self._fs(path).delete(self._Path(path), True)

    def rename(self, src: str, dst: str) -> bool:
        """Move src → dst (dst must not exist).  Directory moves are
        metadata-only on HDFS/local; a copy on S3A — correct either
        way because the marker swap AFTER this is the commit point."""
        lsrc, ldst = self._posix(src), self._posix(dst)
        if lsrc is not None and ldst is not None:
            import os

            os.rename(lsrc, ldst)
            return True
        return self._fs(src).rename(self._Path(src), self._Path(dst))

    def mkdirs(self, path: str) -> None:
        lp = self._posix(path)
        if lp is not None:
            import os

            os.makedirs(lp, exist_ok=True)
            return
        self._fs(path).mkdirs(self._Path(path))

    def mtime(self, path: str) -> float | None:
        """Modification time (epoch seconds), None if missing/racing."""
        lp = self._posix(path)
        if lp is not None:
            import os

            try:
                return os.path.getmtime(lp)
            except OSError:
                return None
        fs, p = self._fs(path), self._Path(path)
        try:
            return fs.getFileStatus(p).getModificationTime() / 1000.0
        except Exception:
            return None  # vanished under a racing writer


def _read_marker(
    store_path: str, spark: SparkSession | None = None
) -> tuple[int, int]:
    """(version, last_batch_id), (-1, -1) if nothing committed."""
    fs = _Fs(spark)
    marker = _join(store_path, _LATEST)
    if not fs.exists(marker):
        return -1, -1
    version, batch = fs.read_text(marker).strip().split(":")
    return int(version), int(batch)


def read_tile_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """Current pyramid in the store, or None if no version committed.

    Layout-dispatching: a flat ``_LATEST`` marker wins; otherwise any
    live ``bucket=`` dirs are read through the partitioned path — so
    readers need not know which layout the writer used."""
    version, _ = _read_marker(store_path, spark)
    if version >= 0:
        return spark.read.schema(STORE_SCHEMA).parquet(_join(store_path, f"v={version}"))
    return read_partitioned_store(spark, store_path)


def merge_delta_into_store(
    spark: SparkSession, delta: DataFrame, store_path: str, batch_id: int = 0
) -> bool:
    """Flat-layout merge: write a new whole-store Z-ordered version
    dir, then atomically swap the marker.  Returns False (no-op) if
    ``batch_id`` was already merged — the replay guard.

    O(store) per batch — use :func:`merge_delta_into_partitioned_store`
    (the production default) unless the pyramid has zoom levels below
    ``BUCKET_ZOOM``."""
    version, last_batch = _read_marker(store_path, spark)
    if batch_id <= last_batch:
        return False
    base = read_tile_store(spark, store_path)
    delta = _in_store_schema(delta)
    merged = delta if base is None else pyramid_merge(base, delta)
    nxt = version + 1
    out = cluster_by_zorder(
        merged, num_partitions=max(2, spark.sparkContext.defaultParallelism // 4)
    )
    out.write.mode("overwrite").parquet(_join(store_path, f"v={nxt}"))
    _Fs(spark).write_text_atomic(_join(store_path, _LATEST), f"{nxt}:{batch_id}")
    return True


def stream_pyramid_to_store(
    locations: DataFrame,
    store_path: str,
    checkpoint_path: str,
    min_zoom: int = 6,
    max_zoom: int = 21,
    layout: str = "auto",
):
    """Maintain the tile store from a locations stream via foreachBatch.

    Returns the started StreamingQuery (availableNow trigger drains all
    pending input then stops — call ``.awaitTermination()``).  Each
    micro-batch runs the BATCH pyramid build on the batch DataFrame and
    merges under the replay guard.

    ``layout``: ``"auto"`` (default) uses the bucket-PARTITIONED store
    whenever ``min_zoom >= BUCKET_ZOOM`` — the production path whose
    per-batch cost tracks batch locality instead of store size — and
    falls back to the flat store only for coarser pyramids;
    ``"partitioned"`` / ``"flat"`` force a layout.
    :func:`read_tile_store` reads either layout transparently.
    """
    if layout not in ("auto", "partitioned", "flat"):
        raise ValueError(f"unknown layout {layout!r}")
    if layout == "partitioned" or (layout == "auto" and min_zoom >= BUCKET_ZOOM):
        return stream_pyramid_to_partitioned_store(
            locations, store_path, checkpoint_path, min_zoom, max_zoom
        )
    spark = locations.sparkSession

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = build_pyramid(batch_df, mode="explode", min_zoom=min_zoom, max_zoom=max_zoom)
        merge_delta_into_store(spark, delta, store_path, batch_id)

    return (
        locations.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Partition-pruned store: per-spatial-bucket versions, so a localized
# micro-batch rewrites only the buckets it touches.
# ---------------------------------------------------------------------------

BUCKET_ZOOM = 4  # 2^4 × 2^4 = 256 coarse cells


def spatial_bucket(bucket_zoom: int = BUCKET_ZOOM):
    """Coarse-cell id of a pyramid row: its zoom-``bucket_zoom``
    ancestor tile, flattened to row*2^B + col.  Pure integer shifts of
    the grouping keys — requires every stored row to have
    zoom >= bucket_zoom (asserted by callers via min_zoom)."""
    from pyspark.sql import functions as F

    b = 1 << bucket_zoom
    # SQL shiftright accepts a column shift amount (the Python helper
    # F.shiftright is literal-only).  A zoom below bucket_zoom would be
    # Java-masked (shiftright(row, -2) == shiftright(row, 30)) and
    # silently collapse rows into bucket 0 — raise per-row instead.
    expr = F.expr(
        f"CAST(shiftright(row, CAST(zoom - {bucket_zoom} AS INT)) * {b}"
        f" + shiftright(col, CAST(zoom - {bucket_zoom} AS INT)) AS INT)"
    )
    return F.when(
        F.col("zoom") < bucket_zoom,
        F.raise_error(
            F.concat(
                F.lit(f"spatial_bucket: zoom "),
                F.col("zoom").cast("string"),
                F.lit(f" < bucket_zoom {bucket_zoom}"),
            )
        ).cast("int"),
    ).otherwise(expr)


def _bucket_marker_path(store_path: str, bucket: int) -> str:
    return _join(store_path, f"bucket={bucket}", _LATEST)


def _read_bucket_marker(
    store_path: str, bucket: int, spark: SparkSession | None = None
) -> tuple[int, int]:
    fs = _Fs(spark)
    marker = _bucket_marker_path(store_path, bucket)
    if not fs.exists(marker):
        return -1, -1
    version, batch = fs.read_text(marker).strip().split(":")
    return int(version), int(batch)


def _bucket_versions(
    store_path: str, buckets: list[int], spark: SparkSession | None = None
) -> dict[int, int]:
    """Committed version of each of ``buckets`` that has one: two
    metadata calls per bucket, none for buckets not asked for."""
    out = {}
    for k in buckets:
        version, _ = _read_bucket_marker(store_path, k, spark)
        if version >= 0:
            out[k] = version
    return out


def _bucket_dirs(store_path: str, spark: SparkSession | None = None) -> list[int]:
    """Every ``bucket=`` directory of the store, committed or not."""
    return sorted(
        int(d.split("=", 1)[1])
        for d in _Fs(spark).list_names(store_path)
        if d.startswith("bucket=")
    )


def _live_buckets(store_path: str, spark: SparkSession | None = None) -> list[int]:
    return list(_bucket_versions(store_path, _bucket_dirs(store_path, spark), spark))


def read_partitioned_store(
    spark: SparkSession, store_path: str, buckets: list[int] | None = None
) -> DataFrame | None:
    """Current pyramid across ``buckets`` (default: all live buckets).

    Passing an explicit bucket list is DIRECTORY-level partition
    pruning: a bbox serving read maps its viewport to coarse cells and
    never opens the other buckets' files (row-group Z-order skipping
    then applies within — operators/layout.py).  Only the requested
    buckets' markers are read (O(len(buckets)) metadata calls, not a
    listing of the store), and the scan declares :data:`STORE_SCHEMA`
    instead of launching a footer-reading job."""
    if buckets is None:
        buckets = _bucket_dirs(store_path, spark)
    versions = _bucket_versions(store_path, buckets, spark)
    if not versions:
        return None
    paths = [_join(store_path, f"bucket={k}", f"v={v}") for k, v in versions.items()]
    return spark.read.schema(STORE_SCHEMA).parquet(*paths)


def merge_delta_into_partitioned_store(
    spark: SparkSession,
    delta: DataFrame,
    store_path: str,
    batch_id: int = 0,
    bucket_zoom: int = BUCKET_ZOOM,
    drop_zeros: bool = False,
) -> int:
    """Merge one delta pyramid, rewriting ONLY the spatial buckets it
    touches.  Returns the number of buckets committed (0 = replay
    no-op).

    This is the steady-state answer to the whole-store rewrite the
    flat store pays per batch: per-batch cost is O(delta + live tiles
    of TOUCHED buckets).  A localized batch (one city) touches a
    handful of the 256 zoom-4 cells, so merge cost tracks batch
    locality instead of store size — the property that makes
    incremental maintenance viable at 100 TB of history.  (An ACID
    table format with MERGE INTO + partition pruning gives the same
    shape; this is the format-agnostic spelling.)

    Exactly-once under crash-replay, per bucket: each bucket dir has
    its own (version, last_batch) marker, swapped atomically AFTER its
    new version directory is in place.  A replayed batch skips buckets
    whose marker already records it and re-merges only the ones that
    had not committed — a bucket is never merged twice and never
    skipped, regardless of where the previous attempt died.  Markers
    move strictly forward because streaming batch ids are monotone.
    """
    from pyspark.storagelevel import StorageLevel

    fs = _Fs(spark)
    # two actions consume the delta (touched-bucket collect + staging
    # write) — cut lineage once so the micro-batch pyramid is built
    # once, not twice (same DISK_ONLY discipline as the cascade)
    d = _in_store_schema(delta).withColumn(
        "bucket", spatial_bucket(bucket_zoom)
    ).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    touched = sorted(r.bucket for r in d.select("bucket").distinct().collect())
    pending = [
        k for k in touched if _read_bucket_marker(store_path, k, spark)[1] < batch_id
    ]
    if not pending:
        return 0
    d_pending = d.where(F.col("bucket").isin(pending))
    base = read_partitioned_store(spark, store_path, buckets=pending)
    # Merge = union + re-aggregate on the pyramid key — but repartition
    # by bucket FIRST and fold bucket into the grouping key (bucket is
    # a pure function of (zoom, row, col), so groups are unchanged):
    # HashPartitioning(bucket) satisfies the aggregation's required
    # distribution AND is exactly the layout partitionBy(bucket) wants,
    # so the whole merge+stage pipeline runs with ONE store-size
    # shuffle instead of two (r12, guide §2.4 — same subtree-prefix
    # trick as the pyramid rollup).
    u = d_pending if base is None else base.withColumn(
        "bucket", spatial_bucket(bucket_zoom)
    ).unionByName(d_pending)
    merged = (
        u.repartition("bucket")
        .groupBy("bucket", "user_group", "timespan", "zoom", "row", "col")
        .agg(F.sum("visits").alias("visits"))
    )
    if drop_zeros:
        # RETRACTION support: a delta carrying negated visits cancels
        # tiles to exactly zero (unit integer weights — exact in
        # double); dropping them makes deletion ≡ rebuild-without-
        # slice, the q_heatmap_retraction algebra flowing through the
        # serving store.
        merged = merged.where(F.col("visits") != 0)
    staging = _join(store_path, f"_staging_{batch_id}")
    (
        merged.sortWithinPartitions("bucket", "zoom", "row", "col")
        .write.mode("overwrite")
        # Committer v2 (task-commit renames straight into the output
        # dir) is safe for the STAGING write because staging is not
        # the commit point — the per-bucket marker swap below is; a
        # partial staging dir after a crash is simply overwritten on
        # replay.  v1's sequential driver-side commitJob renamed all
        # ~256 bucket dirs one by one (measured 13.6 → 7.4 s at
        # sf0.01, r12 guide §6).
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .partitionBy("bucket")
        .parquet(staging)
    )
    committed = 0
    for k in pending:
        src = _join(staging, f"bucket={k}")
        if not fs.is_dir(src):
            if drop_zeros:
                # a fully-cancelled bucket: every tile retracted to
                # zero, so the staged dir legitimately has no rows —
                # commit an EMPTY (schema-bearing) version so readers
                # see zero tiles for this bucket
                ver, _ = _read_bucket_marker(store_path, k, spark)
                dst = _join(store_path, f"bucket={k}", f"v={ver + 1}")
                if fs.is_dir(dst):
                    fs.delete(dst)
                merged.drop("bucket").limit(0).write.mode("overwrite").parquet(dst)
                fs.write_text_atomic(
                    _bucket_marker_path(store_path, k), f"{ver + 1}:{batch_id}"
                )
                committed += 1
                continue
            # Unreachable with the additive delta algebra (visits are
            # sums of positive weights, so a touched bucket's merge is
            # never empty) — if the staged dir is gone, something
            # external removed it (e.g. a concurrent vacuum).  FAIL the
            # batch so the stream restarts and replays it; silently
            # skipping would commit the checkpoint with the delta never
            # merged.
            raise RuntimeError(
                f"staged bucket dir vanished before commit: {src}"
            )
        ver, _ = _read_bucket_marker(store_path, k, spark)
        dstdir = _join(store_path, f"bucket={k}")
        fs.mkdirs(dstdir)
        dst = _join(dstdir, f"v={ver + 1}")
        if fs.is_dir(dst):  # orphan from a crashed attempt
            fs.delete(dst)
        fs.rename(src, dst)
        fs.write_text_atomic(_bucket_marker_path(store_path, k), f"{ver + 1}:{batch_id}")
        committed += 1
    fs.delete(staging)
    return committed


def stream_pyramid_to_partitioned_store(
    locations: DataFrame,
    store_path: str,
    checkpoint_path: str,
    min_zoom: int = 6,
    max_zoom: int = 21,
    bucket_zoom: int = BUCKET_ZOOM,
):
    """Partitioned-store twin of :func:`stream_pyramid_to_store`."""
    if min_zoom < bucket_zoom:
        raise ValueError(
            f"min_zoom {min_zoom} must be >= bucket_zoom {bucket_zoom} "
            "(every stored row needs a zoom-level-B ancestor)"
        )
    spark = locations.sparkSession

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = build_pyramid(batch_df, mode="explode", min_zoom=min_zoom, max_zoom=max_zoom)
        merge_delta_into_partitioned_store(
            spark, delta, store_path, batch_id, bucket_zoom
        )

    return (
        locations.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_resultset(
    spark: SparkSession,
    store_path: str,
    user_group: str,
    timespan: str,
    rs_tile_id: str,
    delta: int = 5,
    bucket_zoom: int = BUCKET_ZOOM,
) -> DataFrame:
    """Point SERVING read: the single result set (user_group, timespan,
    parent tile) a tile UI requests, from the partitioned store — the
    production request path of the reference's heatmaps table
    (reference heatmap.py:120-129 packages these; a UI fetches one per
    viewport tile).

    Pruning story, the whole point: the parent id "z_r_c" resolves
    DRIVER-side to the coarse cell(s) its detail tiles can live in —
    exactly ONE bucket when z >= bucket_zoom (every detail tile shares
    the parent's zoom-B ancestor), 4^(B-z) cells otherwise — so the
    scan opens ONE bucket directory of 256, and inside it the
    zoom/row/col range predicates push to parquet row-group stats
    (the store is written sorted by (bucket, zoom, row, col)).  Cost
    is O(one bucket's row groups), independent of store size.

    Cost of one read: the markers of the requested buckets only (two
    metadata calls each, no listing of the store), a scan that declares
    :data:`STORE_SCHEMA` (no footer-reading job), and one
    :func:`resultsets` statement (one parse and analysis, key values as
    parameter markers).  A one-bucket read is ONE job of ONE stage: the
    bucket's version is a single file (the merge repartitions by
    bucket), so the filtered scan is coalesced to one partition and the
    aggregate needs no exchange.  A multi-bucket parent keeps the
    parallel scan and its exchange.  A parent whose buckets hold no
    version runs the same statement over a scan of zero files: no job.

    Output: one (user_group, timespan, rs_zoom, rs_row, rs_col,
    heatmap, rs_tile_id) row (empty if the key has no visits), plus
    the sink-shape JSON via :func:`heatmap_table` composes on top.
    """
    z, r, c = (int(x) for x in rs_tile_id.split("_"))
    if z >= bucket_zoom:
        buckets = [(r >> (z - bucket_zoom)) * (1 << bucket_zoom) + (c >> (z - bucket_zoom))]
    else:
        span = 1 << (bucket_zoom - z)
        buckets = [
            br * (1 << bucket_zoom) + bc
            for br in range(r * span, (r + 1) * span)
            for bc in range(c * span, (c + 1) * span)
        ]
    base = read_partitioned_store(spark, store_path, buckets=buckets)
    if base is None:  # no committed version: the same scan over zero files
        base = spark.read.schema(STORE_SCHEMA).parquet()
    elif len(buckets) == 1:
        base = base.coalesce(1)
    return resultsets(base, delta, parent=(user_group, timespan, z, r, c))


def vacuum_partitioned_store(
    store_path: str,
    keep: int = 1,
    staging_age_s: float = 3600.0,
    spark: SparkSession | None = None,
) -> int:
    """Delete superseded version directories, keeping the latest
    ``keep`` versions per bucket (the Delta VACUUM analogue for this
    layout).  Returns the number of directories removed.

    Safety: the marker is the commit record — only versions strictly
    below (latest − keep + 1) are removed, so concurrent readers that
    resolved the marker before the vacuum still find their version as
    long as ``keep`` ≥ 1 covers their read window; crash-orphaned
    staging dirs (no marker pointing at them) are also swept.  Pure
    driver-side FileSystem metadata calls — no Spark job.

    Concurrency contract (same as Delta VACUUM's retention caveat):
    run with no ACTIVE writer on this store.  As a belt-and-braces
    guard, staging dirs are only swept when their mtime is older than
    ``staging_age_s`` (default 1 h) — a live merge's fresh staging dir
    survives an accidentally-concurrent vacuum; only genuinely
    crash-orphaned staging is reclaimed.  If a merge DOES outlive the
    age threshold and its staging is swept, it FAILS LOUDLY (raises
    before committing any marker) rather than losing the batch, and
    the failed batch then relies on stream restart/replay.  Pass
    ``staging_age_s=0`` for the old sweep-everything behavior.  Pass
    ``spark`` when calling from a thread other than the one that
    created the session: a remote store's metadata calls need it."""
    import time

    fs = _Fs(spark)
    removed = 0
    now = time.time()
    for d in fs.list_names(store_path):
        p = _join(store_path, d)
        if d.startswith("_staging_") and fs.is_dir(p):
            mt = fs.mtime(p)
            if mt is None:
                continue  # racing writer just committed/removed it
            if now - mt >= staging_age_s:
                fs.delete(p)
                removed += 1
            continue
        if not d.startswith("bucket="):
            continue
        k = int(d.split("=", 1)[1])
        latest, _ = _read_bucket_marker(store_path, k, spark)
        if latest < 0:
            continue
        floor = latest - keep + 1
        for v in fs.list_names(p):
            if not v.startswith("v="):
                continue
            ver = int(v.split("=", 1)[1])
            if ver < floor:
                fs.delete(_join(p, v))
                removed += 1
    return removed
