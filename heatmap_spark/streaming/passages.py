"""Incremental duplicated-passage detection over a document stream.

The batch detector (operators/dedup.py duplicated_passages — the
ExactSubstr signal of Lee et al. 2022) recomputes window document
frequencies over the whole corpus per run.  This module maintains the
same result INCREMENTALLY as documents stream in, so the "which
passages are duplicated" signal stays fresh without ever re-scanning
history — the log-structured design a 100 TB/day ingest needs:

* ``docs/batch=<id>``     — the batch's doc ids (the doc universe).
* ``postings/batch=<id>`` — (doc_id, h, cnt): per-doc window-hash
  multiplicities of THAT batch only — O(batch) to produce, append-only.
* ``df/batch=<id>``       — (h, df): per-batch document frequencies —
  the partial the dup set sums over.
* ``df_base/v=<n>``       — LSM-style compaction target:
  :func:`compact_passage_store` folds all df partials into a new base
  version (marker-committed), so reads touch ≤ (1 base + recent
  partials) regardless of stream age.

Per-batch cost is O(batch) — each micro-batch writes only its own
postings/df partial; nothing per-batch is proportional to history.
The merge work that IS proportional to accumulated distinct hashes
lives in the explicit compaction (amortized, schedulable off-peak),
exactly the LSM trade every log-structured store makes.

Exactly-once under crash/replay: every per-batch directory write is
mode("overwrite") keyed by batch_id (a replayed batch rewrites
byte-identical content), and the ``_LATEST`` marker — swapped
atomically via the same :class:`heatmap_spark.streaming.tile_store._Fs`
protocol, AFTER all three directories land — records the last
committed batch.  Replays of committed batches are skipped; readers
only trust batch dirs ≤ the marker, so a crash mid-write is invisible.

Docs are assumed to arrive EXACTLY ONCE across batches (each doc in
one batch) — the same contract as incremental_dedup; re-ingesting a
doc would double its windows, as it would in any append-only log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.operators.dedup import passage_windows
from heatmap_spark.streaming.tile_store import _Fs, _join

_LATEST = "_LATEST"


def _read_last_batch(store_path: str, spark: SparkSession | None = None) -> int:
    fs = _Fs(spark)
    marker = _join(store_path, _LATEST)
    if not fs.exists(marker):
        return -1
    return int(fs.read_text(marker).strip())


def _batch_id(path: str) -> int:
    return int(path.rsplit("batch=", 1)[1])


def _committed_batches(
    store_path: str, sub: str, min_batch: int = -1, spark: SparkSession | None = None
) -> list[str]:
    """Paths of ``sub``'s per-batch dirs with ``min_batch`` < id ≤ the
    committed marker (uncommitted/partial dirs from a crashed attempt
    are ignored; dirs already folded into a compacted base are skipped
    via ``min_batch`` so a crash between the base-marker swap and the
    partial deletes can never double-count — deletion is pure GC).
    Pass ``spark`` off the main thread, where no session is active."""
    fs = _Fs(spark)
    last = _read_last_batch(store_path, spark)
    out = []
    for d in fs.list_names(_join(store_path, sub)):
        if d.startswith("batch="):
            if min_batch < int(d.split("=", 1)[1]) <= last:
                out.append(_join(store_path, sub, d))
    return sorted(out)


def _parse_base_marker(text: str) -> tuple[int, int]:
    """Base-marker payload ``"<ver>"`` (legacy) or
    ``"<ver>:<folded_batch>"`` → (version, max folded batch id)."""
    parts = text.strip().split(":")
    return int(parts[0]), (int(parts[1]) if len(parts) > 1 else -1)


def merge_batch_into_passage_store(
    spark: SparkSession, batch_docs: DataFrame, store_path: str, batch_id: int,
    w: int = 8,
) -> bool:
    """Ingest one micro-batch of (doc_id, text) rows.  Returns False
    (no-op) when ``batch_id`` was already committed — the replay guard."""
    if batch_id <= _read_last_batch(store_path):
        return False
    fs = _Fs(spark)
    wins = passage_windows(batch_docs, w)
    postings = wins.groupBy("doc_id", "h").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    postings.write.mode("overwrite").parquet(
        _join(store_path, "postings", f"batch={batch_id}")
    )
    # df partial reads the postings JUST WRITTEN (not the lazy window
    # stream), so tokenize+hash runs once per batch
    written = spark.read.parquet(_join(store_path, "postings", f"batch={batch_id}"))
    written.groupBy("h").agg(F.count("*").cast("bigint").alias("df")).write.mode(
        "overwrite"
    ).parquet(_join(store_path, "df", f"batch={batch_id}"))
    batch_docs.select("doc_id").write.mode("overwrite").parquet(
        _join(store_path, "docs", f"batch={batch_id}")
    )
    fs.write_text_atomic(_join(store_path, _LATEST), str(batch_id))
    return True


def stream_duplicated_passages(
    docs_stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    w: int = 8,
):
    """Maintain the passage store from a (doc_id, text) stream via
    foreachBatch.  Returns the started StreamingQuery (availableNow
    trigger — call ``.awaitTermination()``)."""
    spark = docs_stream.sparkSession

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_batch_into_passage_store(spark, batch_df, store_path, batch_id, w)

    return (
        docs_stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _df_base(
    spark: SparkSession, store_path: str
) -> tuple[DataFrame | None, int, int]:
    """(current compacted df base, its version, max batch id folded
    into it) — (None, -1, -1) if never compacted."""
    fs = _Fs()
    marker = _join(store_path, "df_base", _LATEST)
    if not fs.exists(marker):
        return None, -1, -1
    ver, folded = _parse_base_marker(fs.read_text(marker))
    return (
        spark.read.parquet(_join(store_path, "df_base", f"v={ver}")),
        ver,
        folded,
    )


def dup_hashes(spark: SparkSession, store_path: str) -> DataFrame:
    """(h) of every window hash whose ACCUMULATED document frequency is
    ≥ 2 — the live duplicated-passage set: compacted base + the df
    partials written since, summed per hash.  One shuffle over
    (recent partials + base), never over raw postings or text."""
    base, _, folded = _df_base(spark, store_path)
    partials = _committed_batches(store_path, "df", min_batch=folded)
    parts = [spark.read.parquet(p) for p in partials]
    if base is not None:
        parts.append(base)
    if not parts:
        return spark.createDataFrame([], "h string")
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return (
        allp.groupBy("h")
        .agg(F.sum("df").alias("df"))
        .where(F.col("df") >= 2)
        .select("h")
    )


def compact_passage_store(spark: SparkSession, store_path: str) -> int:
    """LSM compaction: fold every committed df partial into a new df
    base version (marker-committed via the tile-store protocol), then
    delete the folded partials.  Returns the number of partials folded.
    Run with no concurrent compactor; safe against a concurrent WRITER
    (a partial written after the fold's listing is simply not folded
    and survives for the next compaction).  Crash-safe against partial
    deletion: the base marker records the max FOLDED batch id, and all
    reads skip df partials ≤ that id — so the deletes below are pure
    GC, and a crash between the marker swap and the deletes can never
    double-count a partial."""
    fs = _Fs(spark)
    base, ver, folded = _df_base(spark, store_path)
    partials = _committed_batches(store_path, "df", min_batch=folded)
    if not partials:
        # nothing new to fold — still GC any ≤-folded stragglers a
        # prior crashed compaction left behind
        for p in _committed_batches(store_path, "df"):
            if _batch_id(p) <= folded:
                fs.delete(p)
        return 0
    new_folded = max(_batch_id(p) for p in partials)
    allp = spark.read.parquet(*partials)
    if base is not None:
        allp = allp.unionByName(base)
    merged = allp.groupBy("h").agg(F.sum("df").cast("bigint").alias("df"))
    merged.write.mode("overwrite").parquet(
        _join(store_path, "df_base", f"v={ver + 1}")
    )
    fs.write_text_atomic(
        _join(store_path, "df_base", _LATEST), f"{ver + 1}:{new_folded}"
    )
    # pure GC from here on — includes any ≤-folded stragglers a prior
    # crashed compaction left behind
    for p in _committed_batches(store_path, "df"):
        if _batch_id(p) <= new_folded:
            fs.delete(p)
    return len(partials)


def read_duplicated_passages(spark: SparkSession, store_path: str) -> DataFrame:
    """Per-document duplicated-passage stats over everything committed
    so far — IDENTICAL output contract to the batch
    ``duplicated_passages`` (doc_id, n_windows, n_dup_windows,
    dup_frac), so the two are interchangeable and one oracle gates
    both.  Cost: one aggregate over stored postings + a hash join with
    the (small) dup set; the raw text is never re-read."""
    doc_dirs = _committed_batches(store_path, "docs")
    post_dirs = _committed_batches(store_path, "postings")
    docs = spark.read.parquet(*doc_dirs)
    postings = spark.read.parquet(*post_dirs)
    dup = dup_hashes(spark, store_path).withColumn("is_dup", F.lit(1))
    agg = (
        postings.join(dup.select("h", "is_dup"), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_windows"),
            F.sum(
                F.when(F.col("is_dup") == 1, F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_dup_windows"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.when(
                    F.col("n_windows") > 0,
                    F.col("n_dup_windows") / F.col("n_windows"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )
