"""Structured Streaming pipeline: change-file tail → fenced MERGE → lineage.

The streaming reimagining of DataX's job lifecycle (JobContainer →
TaskGroup → reader/writer threads, SURVEY §3): Spark's file-stream source
tails a directory of LSN-ordered change files (the stand-in for a
binlog/LogHub/OTS-stream shard set — ``otsstreamreader/.../
OTSStreamReaderMasterProxy.java:82-117`` shard→task assignment becomes
source partitioning), and every micro-batch runs :func:`apply_batch` — the
one batch step the job config's ``lakemerger`` writer shares — inside
``foreachBatch``.

Exactly-once = Spark checkpoint (offset WAL + commit log — the engine-side
equivalent of ``ShardCheckpoint`` persist/resume,
``otsstreamreader/.../model/ShardCheckpoint.java:8-75``) *plus* the lake's
batch-id fence, which makes the one replayed batch after a crash a no-op.

Per-batch lineage/metrics rows (batch id, source LSN range per bucket,
snapshot id, rows/s) are appended to ``<table>/metrics`` — the analogue of
DataX's Communication/PerfTrace counters
(``core/.../communication/CommunicationTool.java:16-50``).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, types as T

from datax_spark.cdc.apply import apply_changes
from datax_spark.hooks import invoke_hooks
from datax_spark.lake.table import LakeTable
from datax_spark.quarantine import ErrorLimits

CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def write_metrics(table_root: str, metrics: dict) -> None:
    """Append one per-batch row to ``<table>/metrics``. Every call writes
    a new file named by its wall-clock time, so a fence-skipped replay,
    a fresh checkpoint epoch (batch ids restart at 0) or an unfenced job
    (no batch id) never overwrites an earlier row."""
    mdir = os.path.join(table_root, "metrics")
    os.makedirs(mdir, exist_ok=True)
    name = (f"batch-{time.time_ns():020d}-{metrics.get('stream_id', 'default')}"
            f"-{metrics.get('batch_id')}.json")
    with open(os.path.join(mdir, name), "w") as f:
        json.dump(metrics, f, default=str)


def read_metrics(table_root: str) -> list[dict]:
    """Every per-batch row of the table, in the order they were written
    (commit order for one writer)."""
    import glob

    out = []
    for p in sorted(glob.glob(os.path.join(table_root, "metrics", "batch-*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def apply_batch(
    table: LakeTable,
    batch: DataFrame,
    batch_id: int | None = None,
    stream_id: str = "default",
    fence_epoch: str | None = None,
    ts_col: str = "warc_ts",
    lsn_col: str = "lsn",
    op_col: str = "op",
    quarantine_dir: str | None = None,
    error_limits: ErrorLimits | None = None,
    transform=None,
    merge_mode: str = "cow",
    canonicalize_key: bool = False,
    scd2_dir: str | None = None,
    scd2_materialize_every: int | None = None,
    compact_every: int | None = None,
    compact_delta_ratio: float | None = None,
) -> dict:
    """The one per-batch step of ``run_stream`` and the job config's
    ``lakemerger`` writer: optional key canonicalization → fenced
    ``apply_changes`` → SCD2 history append → compaction triggers →
    metrics row. Returns the ``apply_changes`` metrics dict.

    ``scd2_dir``: the batch's CLEAN rows also append to the SCD Type 2
    history table there, created on first use with the lake's key
    column. Its fence id is built from what fences the lake —
    ``(stream_id, fence_epoch, batch_id)`` — so the history skips exactly
    the batches the lake skips; an unfenced call (``batch_id=None``)
    always applies on the lake, so it gets a fresh history id too.
    Duplicate delivery across epochs is absorbed by the history's
    (key, lsn) dedupe. ``scd2_materialize_every=N`` fold-materializes the
    history every N batch ids.

    Compaction runs only after an applied batch: ``compact_every=N``
    folds deltas when ``batch_id + 1`` is a multiple of N,
    ``compact_delta_ratio=r`` folds buckets whose delta bytes exceed
    ``r × base bytes``.
    """
    key = table.key_col
    if canonicalize_key:
        # crawl-dedup semantics: merge on the canonical url
        from pyspark.sql import functions as F

        from datax_spark.functions.urls import canonicalize_url

        batch = batch.withColumn(key, canonicalize_url(F.col(key)))
    # looked up through this module's globals, so a wrapper installed on
    # ``pipeline.apply_changes`` sees every batch of both entry points
    metrics = apply_changes(
        table, batch,
        batch_id=batch_id,
        stream_id=stream_id,
        ts_col=ts_col,
        lsn_col=lsn_col,
        op_col=op_col,
        quarantine_dir=quarantine_dir,
        error_limits=error_limits,
        transform=transform,
        fence_epoch=fence_epoch,
        merge_mode=merge_mode,
    )
    if scd2_dir is not None:
        from datax_spark.cdc.scd2 import Scd2Table
        from datax_spark.quarantine import dirty_reason

        if os.path.exists(os.path.join(scd2_dir, "_meta.json")):
            hist = Scd2Table(table.spark, scd2_dir)
        else:
            hist = Scd2Table.create(table.spark, scd2_dir, key_col=key,
                                    ts_col=ts_col, lsn_col=lsn_col, op_col=op_col)
        if batch_id is None:
            hist_id = f"{stream_id}-{uuid.uuid4().hex}"
        else:
            epoch = f"{fence_epoch[:8]}-" if fence_epoch else ""
            hist_id = f"{stream_id}-{epoch}{int(batch_id):08d}"
        # the history sees the same CLEAN rows the merge applied (dirty
        # ops/null keys would corrupt interval derivation). Plain
        # predicate, no observe(): an observed subtree reused across two
        # sink plans can trip Catalyst attribute binding.
        hist.append_changes(batch.filter(dirty_reason(key, op_col, lsn_col).isNull()),
                            hist_id)
        if (scd2_materialize_every and batch_id is not None
                and (batch_id + 1) % scd2_materialize_every == 0):
            hist.materialize(fold=True)
    if not metrics.get("skipped"):
        snap = None
        if compact_every and batch_id is not None and (batch_id + 1) % compact_every == 0:
            snap = table.load().compact_buckets(min_files_per_bucket=2)
        elif compact_delta_ratio is not None:
            snap = table.load().compact_buckets(
                min_files_per_bucket=None, max_delta_ratio=compact_delta_ratio
            )
        if snap is not None:
            metrics["compacted_snapshot"] = snap["snapshot_id"]
    write_metrics(table.root, metrics)
    return metrics


def run_stream(
    spark: SparkSession,
    source_dir: str,
    table_root: str,
    checkpoint_dir: str,
    schema: T.StructType = CHANGE_SCHEMA,
    stream_id: str = "default",
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
    quarantine_dir: str | None = None,
    error_limits: ErrorLimits | None = None,
    available_now: bool = True,
    timeout_sec: float | None = None,
    stop_after_batches: int | None = None,
    transform=None,
    merge_mode: str = "cow",
    compact_every: int | None = None,
    compact_delta_ratio: float | None = None,
    ts_col: str = "warc_ts",
    lsn_col: str = "lsn",
    pre_merge=None,
    source_format: str = "files",
    max_rows_per_trigger: int | None = None,
    canonicalize_key: bool = False,
    hooks: list | None = None,
    pre_hooks: list | None = None,
    scd2_dir: str | None = None,
    scd2_materialize_every: int | None = None,
):
    """Tail parquet change files in ``source_dir`` into the lake table.

    ``available_now=True`` gives a bounded replay (process everything then
    stop) — the analogue of otsstreamreader's left-closed/right-open
    time-window bounded tail (``RecordProcessor.java:152-185``).
    ``stop_after_batches`` force-kills the query mid-stream for the
    resume-from-checkpoint tests.

    Every micro-batch runs :func:`apply_batch` inside ``foreachBatch``
    (compaction included, so a batch counts as done only once its
    compaction has committed).

    ``merge_mode="mor"`` appends delta files per batch instead of
    rewriting buckets (trickle-batch fast path); ``compact_every=N``
    folds deltas into base files every N batch ids (count trigger), and
    ``compact_delta_ratio=r`` folds only buckets whose delta bytes exceed
    ``r × base bytes`` after any batch (size trigger — bounds read
    amplification by data volume, not batch count; manifest-stat check
    per batch, no file scans). The two compose; either alone works.

    ``canonicalize_key=True`` rewrites the table's key column through
    ``functions.urls.canonicalize_url`` before every merge — the
    crawl-dedup semantics where http://A/, HTTPS://a and a?b=1&a=2 /
    a?a=2&b=1 spellings of one page race to ONE lake row (LWW still by
    (ts, lsn) across the canonical group). The raw spelling survives only
    if the caller projects it into a non-key column upstream.

    ``scd2_dir``: dual-sink mode — every micro-batch's CLEAN changes
    also append to an SCD Type 2 history table (``cdc/scd2.py``) at this
    path, created on first use with the lake's key column: one stream
    maintains the current+history table pair. The history fence id
    embeds the checkpoint epoch, as the lake's does (see
    :func:`apply_batch`). ``scd2_materialize_every=N`` fold-materializes
    the history every N batch ids (the compaction knob).

    ``hooks``: job-completion callables ``(job_config, metrics) -> None``
    invoked once after the bounded replay / stop finishes (per-hook error
    isolation — the JobContainer.invokeHooks analog, see
    ``datax_spark.hooks``); outcomes are attached to the returned query
    object as ``q.datax_hook_results``. Unbounded runs (no
    ``available_now``, no ``stop_after_batches``) invoke hooks only if
    ``timeout_sec`` elapses the await — a never-ending tail has no
    completion to hook.
    """
    table = LakeTable(spark, table_root).load()
    seen = {"n": 0}
    applied: list[dict] = []  # THIS run's non-skipped batch metrics, in order
    # Checkpoint epoch: Spark restarts batch ids at 0 when the checkpoint
    # is recreated, so the batch-id fence is only valid WITHIN one
    # checkpoint generation. A uuid marker file inside the checkpoint dir
    # identifies the generation; a new epoch resets the fence (batches
    # re-apply, LWW-convergent) instead of silently skipping new data.
    os.makedirs(checkpoint_dir, exist_ok=True)
    epoch_path = os.path.join(checkpoint_dir, "datax-epoch.txt")
    if os.path.exists(epoch_path):
        with open(epoch_path) as f:
            fence_epoch = f.read().strip()
    else:
        fence_epoch = uuid.uuid4().hex
        with open(epoch_path, "w") as f:
            f.write(fence_epoch)

    def handle(batch_df: DataFrame, batch_id: int):
        if pre_merge is not None:
            # batch-level decode hook (e.g. cells_to_changes for the
            # column-granular multi-version stream)
            batch_df = pre_merge(batch_df)
        metrics = apply_batch(
            table.load(),  # reload metadata each batch (fence freshness)
            batch_df,
            batch_id=batch_id,
            stream_id=stream_id,
            fence_epoch=fence_epoch,
            ts_col=ts_col,
            lsn_col=lsn_col,
            quarantine_dir=quarantine_dir,
            error_limits=error_limits,
            transform=transform,
            merge_mode=merge_mode,
            canonicalize_key=canonicalize_key,
            scd2_dir=scd2_dir,
            scd2_materialize_every=scd2_materialize_every,
            compact_every=compact_every,
            compact_delta_ratio=compact_delta_ratio,
        )
        seen["n"] += 1
        if not metrics.get("skipped"):
            applied.append(metrics)

    if source_format == "shard_tail":
        # the native sharded log-tail source (sources/shardtail.py) —
        # per-shard cursor offsets, one task per advancing shard
        from datax_spark.sources.shardtail import register_shard_tail

        register_shard_tail(spark)
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
        reader = (spark.readStream.format("shard_tail")
                  .option("path", source_dir).option("schema", ddl))
        if max_rows_per_trigger is not None:
            reader = reader.option("maxRowsPerTrigger", max_rows_per_trigger)
        stream = reader.load()
    elif source_format == "files":
        # source_dir may be a LIST of directories — several independent
        # change feeds (shard dirs, per-datacenter binlogs; the DataX
        # multi-reader job.content analog) unioned into ONE fenced merge
        # stream. Each dir is its own file source with its own offsets in
        # the shared checkpoint; the LWW collapse downstream makes the
        # union order-insensitive, so no cross-source coordination is
        # needed beyond the batch fence they already share.
        dirs = source_dir if isinstance(source_dir, (list, tuple)) else [source_dir]
        # The ORDER of the dirs list is part of the checkpoint contract:
        # Spark binds each union leg's file-source offset log to its
        # POSITION (sources/0, sources/1, ...), so restarting with the
        # list reordered / grown / shrunk silently mis-assigns offsets —
        # re-delivery is LWW-absorbed, but a removed or swapped entry can
        # SKIP files another source's log already claims as seen. Persist
        # the list next to the epoch marker and fail loudly on drift; to
        # change the source set, use a fresh checkpoint dir (full
        # re-delivery, LWW-convergent).
        sources_path = os.path.join(checkpoint_dir, "datax-sources.txt")
        dirs_repr = "\n".join(str(d) for d in dirs)
        if os.path.exists(sources_path):
            with open(sources_path) as f:
                prev = f.read()
            if prev != dirs_repr:
                raise ValueError(
                    "source dir list differs from the one this checkpoint "
                    "was created with (order matters: offsets bind by "
                    f"position).\n  checkpoint: {prev.splitlines()}\n  "
                    f"requested: {dirs_repr.splitlines()}\n"
                    "Use a new checkpoint dir to change the source set."
                )
        else:
            with open(sources_path, "w") as f:
                f.write(dirs_repr)

        def _reader():
            r = spark.readStream.schema(schema)
            if max_files_per_trigger is not None:
                r = r.option("maxFilesPerTrigger", max_files_per_trigger)
            if max_bytes_per_trigger is not None:
                # the reference's per-channel byte-rate throttle
                # (Channel.java:176-239) mapped to admission control: size
                # with split.trigger_byte_budget(trigger_interval, ...)
                r = r.option("maxBytesPerTrigger", max_bytes_per_trigger)
            return r

        stream = _reader().parquet(dirs[0])
        for d in dirs[1:]:
            stream = stream.unionByName(_reader().parquet(d))
    else:
        raise ValueError(f"unknown source_format {source_format!r}")
    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    job_doc = {
        "source_dir": source_dir, "table_root": table_root,
        "checkpoint_dir": checkpoint_dir, "stream_id": stream_id,
        "source_format": source_format, "merge_mode": merge_mode,
        "canonicalize_key": canonicalize_key,
    }
    # preHandler analog (JobContainer.java:109-110,312-341): runs before
    # the query starts, same per-hook isolation as completion hooks
    pre_hook_results = None
    if pre_hooks:
        pre_hook_results = invoke_hooks(pre_hooks, job_doc)

    def _finish(q):
        if pre_hook_results is not None:
            q.datax_pre_hook_results = pre_hook_results
        if hooks:
            # THIS run's applied work only: seen['n'] also counts
            # fence-skipped batches, and read_metrics would surface a
            # PREVIOUS run's record when this run applied nothing — a
            # completion-audit hook must not be told work happened
            summary = {
                "batches_applied": len(applied),
                "batches_seen": seen["n"],
                "last_batch": applied[-1] if applied else None,
            }
            q.datax_hook_results = invoke_hooks(hooks, job_doc, summary)
        return q
    if available_now and stop_after_batches is None:
        writer = writer.trigger(availableNow=True)
        q = writer.start()
        q.awaitTermination(timeout_sec)
        if source_format == "shard_tail" and max_rows_per_trigger is not None:
            # the rate-limited simple stream reader drains ONE trigger
            # budget per availableNow run (Spark bounds the run at the
            # prefetched offset) — loop runs until a run applies nothing.
            # awaitTermination can return with the query still active
            # (timeout) — stop() before restarting, or the next start()
            # throws "query with same id already active"; and a deadline
            # exit with backlog remaining must raise, not silently return
            # a partial replay.
            q.stop()  # the initial run may still be active on timeout
            q.awaitTermination(30)
            deadline = time.time() + (timeout_sec or 600)
            while True:
                before = seen["n"]
                q = writer.start()
                q.awaitTermination(timeout_sec)
                q.stop()
                q.awaitTermination(30)
                if seen["n"] == before:
                    break
                if time.time() > deadline:
                    raise TimeoutError(
                        f"bounded shard_tail replay still had backlog after "
                        f"{timeout_sec or 600}s of rate-limited drains "
                        f"({seen['n']} batches applied) — raise timeout_sec "
                        f"or max_rows_per_trigger")
        return _finish(q)
    q = writer.start()
    if stop_after_batches is not None:
        deadline = time.time() + (timeout_sec or 300)
        while seen["n"] < stop_after_batches and time.time() < deadline:
            time.sleep(0.2)
        q.stop()
        q.awaitTermination(30)
        return _finish(q)
    q.awaitTermination(timeout_sec)
    return _finish(q)
