"""Structured Streaming CDC loop: file-based change-feed tail →
``foreachBatch`` merge → LakeTable, checkpoint-resumable.

The reference's outer loop is Airflow-scheduled epochs (SURVEY.md §3.1);
here Structured Streaming provides the epochs: the checkpoint stores
source offsets, ``foreachBatch`` hands us a monotonically increasing
``batch_id``, and the engine's applied-epoch guard makes redelivered
batches no-ops — together that is exactly-once end-to-end. Killing the
query and restarting replays at most one batch, which the guard skips
(reference analog: watermark advanced only after successful run,
SURVEY.md ST2).

In production the source would be ``kafka``/``rate``/cloud-files; the
file source is the sandbox stand-in and exercises identical semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from radiant_portal_pipeline_spark.cdc.merge import MergeStats, TranscriptMergeEngine
from radiant_portal_pipeline_spark.cdc.schemas import CHANGE_EVENT_SCHEMA
from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter


def write_feed_partitions(feed_df, out_dir: str, by_col: str = "commit_epoch") -> int:
    """Materialize a change feed as one flat file-source directory with
    one file per ``by_col`` value (so maxFilesPerTrigger slices
    micro-batches deterministically).

    ONE Spark job total: repartition by the epoch column (every epoch's
    rows land in a single task), ``partitionBy`` a duplicated layout
    column, then flatten the directory tree with driver-side renames —
    metadata ops only. (Round 1 ran one filter+write JOB per epoch:
    fine at 5 epochs, hopeless at the 10^4-batch design point.)
    Returns the number of files written."""
    import os
    import time
    import uuid

    staged = f"{out_dir}-staged-{uuid.uuid4().hex}"
    (
        feed_df.withColumn("_ep", F.col(by_col))
        .repartition(F.col("_ep"))
        .write.mode("overwrite")
        .partitionBy("_ep")
        .parquet(staged)
    )
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    entries = [e for e in os.listdir(staged) if e.startswith("_ep=")]
    # numeric epoch order — and explicit ascending mtimes below, because
    # the file stream source orders by MODIFICATION time and the
    # parallel write finishes tasks in arbitrary order (renames keep
    # task-completion mtimes; lexicographic names wouldn't help either:
    # 'ep-10' < 'ep-2')
    def _key(e):
        v = e.split("=", 1)[1]
        try:
            return (0, float(v))
        except ValueError:
            return (1, v)

    # epoch j gets mtime base - (len-1-j) ms: strictly increasing within
    # this call. ``base`` starts strictly AFTER the previous call's last
    # assigned mtime (tracked in a marker file): two calls landing
    # within n_epochs milliseconds of each other must not interleave
    # epochs in the file source's modification-time order.
    marker = os.path.join(out_dir, "_last_assigned_mtime")
    prev = 0.0
    if os.path.exists(marker):
        try:
            prev = float(open(marker).read().strip() or 0.0)
        except ValueError:
            prev = 0.0
    base = max(time.time(), prev + 0.002 + (len(entries) - 1) * 0.001)
    for j, entry in enumerate(sorted(entries, key=_key)):
        ts = base - (len(entries) - 1 - j) * 0.001
        val = entry.split("=", 1)[1]
        pdir = os.path.join(staged, entry)
        for i, fn in enumerate(sorted(os.listdir(pdir))):
            if fn.endswith(".parquet"):
                dst = os.path.join(
                    out_dir, f"ep-{val}-{i}-{uuid.uuid4().hex}.parquet"
                )
                os.rename(os.path.join(pdir, fn), dst)
                os.utime(dst, (ts, ts))
                n += 1
    if entries:
        with open(marker, "w") as fh:  # leading _ hides it from the source
            fh.write(repr(base))
    import shutil

    shutil.rmtree(staged, ignore_errors=True)
    return n


def tombstone_gc_hook(
    engine: "TranscriptMergeEngine",
    lineage: LineageWriter,
    ooo_window: int,
    min_files_per_bucket: int | None = 4,
    every: int = 1,
):
    """An ``on_batch`` maintenance hook that folds MoR deltas AND GCs
    tombstones below the lineage-derived safe low-watermark
    (min across sources of max applied LSN, minus the out-of-order
    window — LineageWriter.safe_purge_watermark). Guards above the
    watermark stay, so a straggler that can still legally arrive keeps
    being suppressed. ``every`` runs the (partition-scoped) compaction
    on every k-th applied batch.

    The purge ignores consumer positions: a ``changes_since`` consumer
    must read BEFORE this hook in the same batch (call it first in
    ``on_batch``), or it never sees the purged deletes."""
    state = {"applied": 0}

    def hook(stats: MergeStats) -> None:
        if stats.skipped:
            return
        state["applied"] += 1
        if state["applied"] % every:
            return
        wm = lineage.safe_purge_watermark(ooo_window)
        engine.compact(
            purge_tombstones_below=wm,
            min_files_per_bucket=min_files_per_bucket,
        )

    return hook


@dataclass
class StreamResult:
    batches: list[MergeStats] = field(default_factory=list)


def run_cdc_stream(
    spark: SparkSession,
    feed_dir: str | None,
    engine: TranscriptMergeEngine,
    checkpoint_dir: str,
    lineage: LineageWriter | None = None,
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
    on_batch=None,
    source_df=None,
) -> StreamResult | StreamingQuery:
    """Tail ``feed_dir`` and apply every micro-batch through the merge
    engine. ``availableNow`` drains all pending input then stops —
    rerunning with the same checkpoint processes only new files.
    ``on_batch(stats)`` runs after each applied micro-batch — the hook
    downstream incremental aggregates use to refresh only the buckets
    that batch touched.

    ``source_df`` replaces the file tail with ANY streaming DataFrame
    carrying the change-event envelope — e.g. the LSN-offset WAL
    source (cdc/wal_source.py), or a kafka/rate read in a deployment.
    The loop's exactly-once machinery is source-agnostic: Spark's
    checkpoint persists the source's own offsets, and the engine's
    applied-epoch guard absorbs redelivery regardless of offset
    model."""
    if source_df is not None:
        feed = source_df
    else:
        reader = spark.readStream.schema(CHANGE_EVENT_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        feed = reader.parquet(feed_dir)

    result = StreamResult()
    if lineage is not None:
        engine.lineage = lineage

    def apply_batch(batch_df, batch_id: int) -> None:
        stats = engine.merge_batch(batch_df, epoch=batch_id)
        result.batches.append(stats)
        if on_batch is not None:
            on_batch(stats)

    query = (
        feed.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not await_termination:
        return query
    query.awaitTermination()
    return result
