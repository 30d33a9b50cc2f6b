"""Resume-from-checkpoint + exactly-once fencing through real Structured
Streaming (the flow /verify drives; FIXTURES §4)."""

import glob
import os
import shutil

from pyspark.sql import functions as F, types as T

from datax_spark.cdc.generator import changes_df
from datax_spark.cdc.pipeline import CHANGE_SCHEMA, read_metrics, run_stream
from datax_spark.lake.table import LakeTable


def _write_change_files(spark, ch, src, n_files, base):
    os.makedirs(src, exist_ok=True)
    total = ch.count()
    per = total // n_files + 1
    for i in range(n_files):
        stg = f"{base}/stg{i}"
        ch.filter((F.col("lsn") > i * per) & (F.col("lsn") <= (i + 1) * per)) \
            .coalesce(1).write.parquet(stg)
        part = glob.glob(f"{stg}/part-*.parquet")[0]
        shutil.move(part, f"{src}/f{i:03d}.parquet")


def _expected_live(spark, ch):
    ch.createOrReplaceTempView("_sp_ch")
    return spark.sql(
        "SELECT count(*) n FROM (SELECT url, max_by(op, struct(warc_ts, lsn)) fop "
        "FROM _sp_ch GROUP BY url) WHERE fop <> 'D'"
    ).first()["n"]


def test_stream_kill_resume_fence(spark, tmp_path):
    base = str(tmp_path)
    src, root, ckpt = f"{base}/src", f"{base}/table", f"{base}/ckpt"
    ch = changes_df(spark, 6000, n_keys=900, partitions=8).cache()
    _write_change_files(spark, ch, src, 4, base)

    schema = T.StructType([f for f in CHANGE_SCHEMA.fields if f.name not in ("lsn", "op")])
    LakeTable.create(spark, root, schema, key_col="url", num_buckets=8)

    # phase 1: kill after ~2 micro-batches
    run_stream(spark, src, root, ckpt, max_files_per_trigger=1,
               available_now=False, stop_after_batches=2, timeout_sec=180)
    partial = LakeTable(spark, root).load()
    assert 0 < len(partial.snapshots()) < 5

    # phase 2: resume from checkpoint, finish bounded replay
    run_stream(spark, src, root, ckpt, max_files_per_trigger=1,
               available_now=True, timeout_sec=180)
    t = LakeTable(spark, root).load()
    assert t.read().count() == _expected_live(spark, ch)
    batch_ids = [m["batch_id"] for m in read_metrics(root) if not m.get("skipped")]
    assert sorted(set(batch_ids)) == batch_ids  # each applied exactly once

    # phase 3a: same-checkpoint restart with no new files → fence no-ops
    # (the exactly-once property: a replayed committed batch is skipped)
    snaps_before = len(t.snapshots())
    run_stream(spark, src, root, ckpt, available_now=True, timeout_sec=180)
    assert len(LakeTable(spark, root).load().snapshots()) == snaps_before

    # phase 3b: full duplicate delivery under a FRESH checkpoint → new
    # epoch resets the fence (batch ids restart at 0, so skipping would
    # silently drop genuinely new data); batches re-apply and the LWW
    # stale guard makes the final state converge byte-identically.
    run_stream(spark, src, root, f"{base}/ckpt2", available_now=True, timeout_sec=180)
    t2 = LakeTable(spark, root).load()
    assert len(t2.snapshots()) > snaps_before
    assert t2.read().count() == _expected_live(spark, ch)

    # lineage metrics carry per-bucket LSN ranges
    lineages = [m["lineage"] for m in read_metrics(root) if m.get("lineage")]
    assert lineages and all("lsn_min" in v for lin in lineages for v in lin.values())


def test_stream_mor_with_periodic_compaction(spark, tmp_path):
    """MoR trickle path end-to-end: every micro-batch appends deltas only,
    compaction folds them every 2 batches, final state matches the oracle."""
    base = str(tmp_path)
    src, root, ckpt = f"{base}/src", f"{base}/table", f"{base}/ckpt"
    ch = changes_df(spark, 6000, n_keys=900, partitions=8).cache()
    _write_change_files(spark, ch, src, 4, base)

    schema = T.StructType([f for f in CHANGE_SCHEMA.fields if f.name not in ("lsn", "op")])
    LakeTable.create(spark, root, schema, key_col="url", num_buckets=8)
    run_stream(spark, src, root, ckpt, max_files_per_trigger=1,
               available_now=True, timeout_sec=240, merge_mode="mor", compact_every=2)
    t = LakeTable(spark, root).load()
    assert t.read().count() == _expected_live(spark, ch)
    # every merge snapshot was a pure delta append (no bucket rewrites)
    merges = [s for s in t.snapshots() if s["summary"]["operation"] == "merge"
              and s["summary"].get("batch_rows", 0) > 0]
    assert merges and all(s["summary"]["merge_strategy"] == "mor-delta" for s in merges)
    assert any(s["summary"]["operation"] == "compact" for s in t.snapshots())


def test_communication_listener_matches_metrics(spark, tmp_path):
    """Listener-bus counters (CommunicationTool analog) agree with the
    engine's own per-batch lineage rows: sum(numInputRows) == sum(rows_in)
    and batch count matches applied batches."""
    import time

    from datax_spark.cdc.listeners import attach

    base = str(tmp_path)
    src, root, ckpt = f"{base}/src", f"{base}/table", f"{base}/ckpt"
    ch = changes_df(spark, 3000, n_keys=500, partitions=4).cache()
    _write_change_files(spark, ch, src, 3, base)
    schema = T.StructType([f for f in CHANGE_SCHEMA.fields if f.name not in ("lsn", "op")])
    LakeTable.create(spark, root, schema, key_col="url", num_buckets=4)

    listener = attach(spark)
    try:
        run_stream(spark, src, root, ckpt, max_files_per_trigger=1,
                   available_now=True, timeout_sec=180)
        applied = {m["batch_id"]: m["rows_in"]
                   for m in read_metrics(root) if not m.get("skipped")}
        # listener delivery is async — poll briefly for the tail events
        deadline = time.time() + 30
        while time.time() < deadline:
            got = [r for r in listener.rows if r["read_succeed_records"] > 0]
            if len(got) >= len(applied):
                break
            time.sleep(0.5)
        got = {r["batch_id"]: r for r in listener.rows
               if r["read_succeed_records"] > 0}
        assert sorted(got) == sorted(applied) and len(applied) == 3
        assert sum(applied.values()) == 3000
        for b, rows_in in applied.items():
            metered = got[b]["read_succeed_records"]
            # Spark meters scans: k actions over the batch → k × rows_in.
            # The engine's CoW merge makes exactly 2 passes (write + the
            # column-pruned stats scan) — pin that scan factor.
            assert metered == 2 * rows_in, (b, metered, rows_in)
        tot = listener.totals()
        assert tot["total_batches"] >= 3
        assert tot["record_speed"] > 0
        assert tot["wait_writer_time_ms"] > 0  # addBatch time metered
    finally:
        spark.streams.removeListener(listener)


def test_max_bytes_per_trigger_bounds_batches(spark, tmp_path):
    """Byte-budget admission control (Channel.java byte-rate throttle →
    maxBytesPerTrigger): a budget of ~one file per trigger yields one
    micro-batch per file; a huge budget admits everything at once."""
    import glob as _glob

    from datax_spark.sources.split import trigger_byte_budget

    base = str(tmp_path)
    src, root, ckpt = f"{base}/src", f"{base}/table", f"{base}/ckpt"
    ch = changes_df(spark, 3000, n_keys=500, partitions=4).cache()
    _write_change_files(spark, ch, src, 3, base)
    f_bytes = max(os.path.getsize(p) for p in _glob.glob(f"{src}/*.parquet"))
    schema = T.StructType([f for f in CHANGE_SCHEMA.fields if f.name not in ("lsn", "op")])
    LakeTable.create(spark, root, schema, key_col="url", num_buckets=4)
    run_stream(spark, src, root, ckpt, max_bytes_per_trigger=f_bytes,
               available_now=True, timeout_sec=180)
    applied = [m for m in read_metrics(root) if not m.get("skipped")]
    assert len(applied) == 3  # one file per trigger under the byte budget
    assert sum(m["rows_in"] for m in applied) == 3000

    # budget math: explicit global cap wins; else channels × per-channel rate
    assert trigger_byte_budget(10.0, byte_limit_per_sec=1 << 20) == 10 << 20
    assert trigger_byte_budget(2.0, channels=4) == 8 << 20


def test_multi_source_union_ingest(spark, tmp_path):
    """Several change-feed directories (shard/DC binlogs) union into ONE
    fenced merge stream: final state equals the LWW oracle over the
    combined feed, through a mid-stream kill/resume (the checkpoint
    holds per-source offsets)."""
    base = str(tmp_path)
    src_a, src_b, root, ckpt = (f"{base}/a", f"{base}/b",
                                f"{base}/table", f"{base}/ckpt")
    ch = changes_df(spark, 4000, n_keys=500, partitions=4).cache()
    # interleaved slices with OVERLAPPING keys split across the two dirs
    # (sliced by absolute lsn range — the shared helper assumes
    # contiguous lsns and would drop half of a parity-filtered feed)
    import glob as _glob
    import shutil as _sh

    for src, parity in ((src_a, 0), (src_b, 1)):
        os.makedirs(src, exist_ok=True)
        feed = ch.filter(F.col("lsn") % 2 == parity)
        for i, (lo, hi) in enumerate([(0, 2000), (2000, 4001)]):
            stg = f"{base}/stg{parity}_{i}"
            feed.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)) \
                .coalesce(1).write.parquet(stg)
            _sh.move(_glob.glob(f"{stg}/part-*.parquet")[0],
                     f"{src}/f{i:03d}.parquet")

    schema = T.StructType(
        [f for f in CHANGE_SCHEMA.fields if f.name not in ("lsn", "op")])
    LakeTable.create(spark, root, schema, key_col="url", num_buckets=4)

    run_stream(spark, [src_a, src_b], root, ckpt, max_files_per_trigger=1,
               available_now=False, stop_after_batches=2, timeout_sec=180)
    run_stream(spark, [src_a, src_b], root, ckpt, available_now=True,
               timeout_sec=180)

    t = LakeTable(spark, root).load()
    assert t.read().count() == _expected_live(spark, ch)
    ch.createOrReplaceTempView("_ms_ch")
    oracle = spark.sql("""
        SELECT url, max_by(lang, struct(warc_ts, lsn)) AS lang FROM _ms_ch
        GROUP BY url HAVING max_by(op, struct(warc_ts, lsn)) <> 'D'""")
    got = t.read().select("url", "lang")
    assert got.exceptAll(oracle).count() == 0
    assert oracle.exceptAll(got).count() == 0

    # dir-list order is part of the checkpoint contract (offsets bind by
    # position): a reordered / shrunk list against the same checkpoint
    # must fail loudly, not silently mis-assign offset logs
    import pytest as _pt
    with _pt.raises(ValueError, match="source dir list"):
        run_stream(spark, [src_b, src_a], root, ckpt,
                   available_now=True, timeout_sec=60)
    with _pt.raises(ValueError, match="source dir list"):
        run_stream(spark, [src_a], root, ckpt,
                   available_now=True, timeout_sec=60)


def test_apply_batch_fence_skip_keeps_applied_metrics_row(spark, tmp_path):
    """A fence-skipped replay of a batch adds its own metrics row and
    leaves the applied batch's lineage row in place."""
    from datax_spark.cdc.pipeline import apply_batch

    root = str(tmp_path / "table")
    ch = changes_df(spark, 300, n_keys=60, partitions=2)
    schema = T.StructType([f for f in CHANGE_SCHEMA.fields if f.name not in ("lsn", "op")])
    t = LakeTable.create(spark, root, schema, key_col="url", num_buckets=2)
    first = apply_batch(t, ch, batch_id=0, stream_id="s")
    second = apply_batch(LakeTable(spark, root).load(), ch, batch_id=0, stream_id="s")
    assert not first["skipped"] and second["skipped"]
    rows = read_metrics(root)
    assert [(m["batch_id"], m["skipped"]) for m in rows] == [(0, False), (0, True)]
    assert rows[0]["lineage"] and rows[0]["snapshot_id"] == first["snapshot_id"]


def test_metrics_rows_kept_in_commit_order_across_checkpoints(spark, tmp_path):
    """Twelve one-file batches through one checkpoint, then again through
    a fresh one (batch ids restart at 0): every applied batch keeps its
    row, and read_metrics returns them in commit order."""
    base = str(tmp_path)
    src, root = f"{base}/src", f"{base}/table"
    ch = changes_df(spark, 1200, n_keys=200, partitions=2).cache()
    _write_change_files(spark, ch, src, 12, base)
    schema = T.StructType([f for f in CHANGE_SCHEMA.fields if f.name not in ("lsn", "op")])
    LakeTable.create(spark, root, schema, key_col="url", num_buckets=2)
    for ckpt in ("ckpt1", "ckpt2"):
        run_stream(spark, src, root, f"{base}/{ckpt}", max_files_per_trigger=1,
                   available_now=True, timeout_sec=300, merge_mode="mor")
    applied = [m for m in read_metrics(root) if not m["skipped"]]
    assert [m["batch_id"] for m in applied] == list(range(12)) * 2
    snaps = [m["snapshot_id"] for m in applied]
    assert snaps == sorted(snaps) and len(set(snaps)) == 24
