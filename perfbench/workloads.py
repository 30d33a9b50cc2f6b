"""The two workloads, ``backfill`` and ``tail``. Each drives the engine
through its public API only: ``cdc.apply.apply_changes``,
``cdc.pipeline.run_stream``,
``lake.merge.merge_into``, ``LakeTable.read`` / ``lookup`` /
``compact_buckets`` (the latter through ``run_stream``'s size trigger)
and ``lake.feed.sync_incremental``.

A workload sets up (inputs, preload, warm-up), then measures for
``run.seconds`` in whole rounds of the same operations, then checks
every output against the DuckDB oracle. Phases never overlap.
"""

from __future__ import annotations

import calendar
import contextlib
import glob
import os
import threading
import time
from datetime import datetime, timezone

from typing import Iterator

import numpy as np

import gen
from harness import Clock, CpuMeter, dir_bytes
from oracle import FP_ROUNDED

# ---------------------------------------------------------------- sizes
BACKFILL = dict(batch_events=6000, n_keys=4000, paragraphs=20, buckets=8,
                evolve_from_lsn=15001, lookups_live=2, lookups_absent=1, scans=1,
                int_keys=200, int_buckets=8, int_lookup_keys=(3, 11))
TAIL = dict(period_s=2.5, file_events=1000, n_keys=6000, paragraphs=2, buckets=8,
            dirty=0.02, warm_files=2, compact_delta_ratio=1.0, stream_share=0.75,
            lookups_live=4, lookups_absent=1)
# A defect the checks find on every run, reported in the summary instead
# of failing ``correct`` (see README "Known faults"): the enrichment UDF
# stores ``fp`` through float64 whenever its Arrow batch holds a null html.
# Only rows whose ``fp`` is exactly the float64-rounded right value count.
KNOWN_FAULTS = (FP_ROUNDED,)


def _schema(enriched: bool, evolved: bool = False):
    from pyspark.sql import types as T

    f = [T.StructField("url", T.StringType(), False),
         T.StructField("warc_ts", T.TimestampType()),
         T.StructField("html", T.BinaryType()),
         T.StructField("lang", T.StringType())]
    if enriched:
        f += [T.StructField("text", T.StringType()),
              T.StructField("lang_id", T.StringType()),
              T.StructField("n_tokens", T.LongType()),
              T.StructField("quality", T.DoubleType()),
              T.StructField("fp", T.LongType())]
    if evolved:
        f += [T.StructField("fetch_status", T.IntegerType()),
              T.StructField("content_len", T.LongType())]
    return T.StructType(f)


def _row_digest(row) -> tuple:
    ts = row["warc_ts"]
    us = calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
    html = row["html"]
    return (us, bytes(html) if html is not None else None, row["lang"])


class Run:
    """State of one benchmark run: the session, the optional tracer, the
    counters behind the metrics and the correctness failures."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer, oracle):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tracer, self.oracle = tracer, oracle
        self.rng = np.random.default_rng([seed, 99])
        self.cpu = CpuMeter()
        self.attempted = 0
        self.failed = 0
        self.fails: list[str] = []
        self.setup_end = None
        self.measure_end = None
        self.commit_ms: list[float] = []
        self.scan_s: list[float] = []
        self.lookup_ms: list[float] = []
        self.events = 0
        self.input_bytes = 0
        self.bytes_written = 0
        self.info: dict = {}
        self.layer_extra: dict = {}
        self.largest_batch: str | None = None
        self._mark = time.perf_counter()

    def path(self, *p) -> str:
        return os.path.join(self.work, *p)

    def call(self, name: str, fn, *a, **kw):
        if self.tracer is None:
            return fn(*a, **kw)
        return self.tracer.call(name, fn, *a, **kw)

    def mark(self, step: str) -> None:
        """Record the wall time of a set-up step for the summary."""
        now = time.perf_counter()
        self.info.setdefault("setup_steps_s", {})[step] = round(now - self._mark, 2)
        self._mark = now

    def setup_done(self) -> Clock:
        """End of set-up: what warm-up counted is dropped."""
        self.setup_end = time.perf_counter()
        self.attempted = 0
        self.commit_ms, self.scan_s, self.lookup_ms = [], [], []
        return Clock(self.seconds)

    # ------------------------------------------------------------ reads
    def scan(self, table) -> tuple:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        r = self.call("scan", lambda: table.read().agg(
            F.count("*"), F.coalesce(F.sum(F.length("html")), F.lit(0))).collect()[0])
        self.scan_s.append(time.perf_counter() - t0)
        self.attempted += 1
        return (int(r[0]), int(r[1]))

    def lookup(self, table, key, timed: bool = True):
        t0 = time.perf_counter()
        rows = self.call("lookup", lambda: table.lookup(key).collect())
        if timed:
            self.lookup_ms.append((time.perf_counter() - t0) * 1000)
        self.attempted += 1
        return rows

    def lookup_keys(self, n_keys: int, live: int, absent: int) -> list[str]:
        ks = [gen.url_of(int(k), self.seed) for k in self.rng.integers(0, n_keys, live)]
        ks += [gen.url_of(int(k), self.seed) for k in self.rng.integers(n_keys, 2 * n_keys, absent)]
        return ks

    # ----------------------------------------------------------- checks
    def dump(self, table, name: str) -> list[str]:
        out = self.path("dump", name)
        table.read().write.mode("overwrite").parquet(out)
        return sorted(glob.glob(os.path.join(out, "*.parquet")))

    def check_lookups(self, expected_table: str, results: list[tuple[str, list]]) -> None:
        if not results:
            return
        exp = self.oracle.rows(expected_table, sorted({k for k, _ in results}))
        bad = 0
        for key, rows in results:
            want = exp.get(key)
            got = [_row_digest(r) for r in rows]
            if got != ([want] if want is not None else []):
                bad += 1
        if bad:
            self.fails.append(f"{bad}/{len(results)} lookups returned a wrong row")

    def check_scans(self, expected_table: str, results: list[tuple]) -> None:
        want = self.oracle.scan_aggregate(expected_table)
        bad = sum(1 for r in results if r != want)
        if bad:
            self.fails.append(f"{bad}/{len(results)} scans disagree with {want}")

    def check_state(self, table, expected: str, enriched: bool, name: str) -> None:
        for what, n in self.oracle.check_table(expected, self.dump(table, name), enriched).items():
            if what in KNOWN_FAULTS:
                self.info[f"known fault, {name}"] = f"{n} rows: {what}"
            else:
                self.fails.append(f"{name}: {n} rows: {what}")


def _stage_files(run: Run, tab, name: str, n: int) -> tuple[list[str], list[int]]:
    d = run.path("input", name)
    os.makedirs(d, exist_ok=True)
    paths = [os.path.join(d, f"f{i:04d}.parquet") for i in range(n)]
    return paths, gen.write_files(tab, paths)


def _lsn_range(path: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    col = pq.read_table(path, columns=["lsn"])["lsn"]
    return int(col[0].as_py()), int(col[len(col) - 1].as_py())




def _int_table(run: Run):
    """An integer-keyed table whose rows do not depend on the seed:
    key k in 0..int_keys-1 holds v = "int-k"."""
    from pyspark.sql import types as T

    from datax_spark.lake.merge import merge_into
    from datax_spark.lake.table import LakeTable

    p = BACKFILL
    schema = T.StructType([T.StructField("k", T.IntegerType(), False),
                           T.StructField("v", T.StringType()),
                           T.StructField("warc_ts", T.TimestampType())])
    t = LakeTable.create(run.spark, run.path("tables", "int"), schema, key_col="k",
                         num_buckets=p["int_buckets"])
    rows = run.spark.createDataFrame(
        [(k + 1, "I", k, f"int-{k}", datetime.fromtimestamp(gen.BASE_TS + k, timezone.utc))
         for k in range(p["int_keys"])],
        "lsn long, op string, k int, v string, warc_ts timestamp")
    run.call("lake.merge", merge_into, t, rows)
    return t


# ============================================================= backfill
def backfill(run: Run) -> Iterator[None]:
    """A large LSN-ordered change log applied copy-on-write with the
    enrichment transform, one large batch per round, into one table.
    After each batch one ``sync_incremental`` tick carries the change
    into a merge-on-read downstream table. Each round ends with a scan,
    point lookups,
    and lookups on an integer-keyed table, which the engine answers
    wrongly (counted as failed)."""
    from datax_spark.cdc.apply import apply_changes
    from datax_spark.functions.extract import with_enrichment
    from datax_spark.lake.feed import sync_incremental
    from datax_spark.lake.table import LakeTable

    p = BACKFILL
    be = p["batch_events"]
    spark = run.spark
    files: list[str] = []
    ends: list[int] = []

    def batch_file(i: int) -> tuple[str, int]:
        """Batch i of the log (generated on first use; the same seed gives
        the same log whatever the number of rounds)."""
        tab = gen.make_changes(run.seed, 100 + i, be, p["n_keys"], start_lsn=1 + i * be,
                               paragraphs=p["paragraphs"],
                               evolve_from_lsn=p["evolve_from_lsn"])
        path, size = _stage_files(run, tab, f"batch{i:03d}", 1)
        files.append(path[0])
        ends.append((i + 1) * be)
        return path[0], size[0]

    t = LakeTable.create(spark, run.path("tables", "backfill"), _schema(True), key_col="url",
                         num_buckets=p["buckets"])
    d = LakeTable.create(spark, run.path("tables", "feed"), _schema(True), key_col="url",
                         num_buckets=p["buckets"])
    scans, lookups, int_results, ticks = [], [], [], []
    itab = None

    def one_round(i: int, timed: bool) -> None:
        meter = run.cpu if timed else contextlib.nullcontext()
        path, size = batch_file(i)
        df = spark.read.parquet(path)
        b0 = dir_bytes(os.path.join(t.root, "data"))
        t0 = time.perf_counter()
        with meter:
            run.call("cdc.apply", apply_changes, t, df, batch_id=i,
                     transform=with_enrichment, merge_mode="cow")
        if timed:
            run.commit_ms.append((time.perf_counter() - t0) * 1000)
            run.bytes_written += dir_bytes(os.path.join(t.root, "data")) - b0
            run.input_bytes += size
        with meter:
            m = run.call("lake.feed", sync_incremental, t, d, merge_mode="mor")
        rows = int(m.get("batch_rows", 0))
        ticks.append((i, rows))
        run.attempted += 2
        if timed:
            run.events += be + rows
        for _ in range(p["scans"]):
            scans.append((i, run.scan(t)))
        for k in run.lookup_keys(p["n_keys"], p["lookups_live"], p["lookups_absent"]):
            lookups.append((i, k, run.lookup(t, k)))
        if itab is not None:
            for k in p["int_lookup_keys"]:
                int_results.append((timed, k, run.lookup(itab, k, timed=False)))

    run.mark("session and tables")
    # set-up: batch 0 populates the table, bootstraps the downstream copy
    # and warms the session; the integer-keyed table comes after it, so it
    # does not pay the session's first-job costs again
    one_round(0, timed=False)
    itab = _int_table(run)
    run.mark("preload round and integer-keyed table")
    # the first round on a warm table still costs ~40% more CPU per event
    # than later ones; measured, it would make the figures depend on how
    # many rounds fit in the run
    one_round(1, timed=False)
    run.mark("warm-up round")
    clock = run.setup_done()
    rounds = 0
    while clock.another_round(rounds):
        one_round(rounds + 2, timed=True)
        rounds += 1
    run.measure_end = time.perf_counter()
    run.largest_batch = files[-1]
    run.info.update(rounds=rounds, measured_s=round(clock.elapsed(), 2))
    yield  # measured phase over; checks follow

    o = run.oracle
    o.load_changes("ch", files)
    for i, end in enumerate(ends):
        o.expected_state("ch", f"exp{i}", max_lsn=end)
    last = f"exp{len(ends) - 1}"
    run.check_state(t, last, enriched=True, name="backfill table")
    run.check_state(d, last, enriched=True, name="feed downstream")
    want = [o.live_count("exp0")] + [o.changed_keys("ch", ends[i - 1], ends[i])
                                     for i in range(1, len(ends))]
    run.fails += check_ticks(ticks, want)
    for i in range(len(ends)):
        run.check_scans(f"exp{i}", [r for j, r in scans if j == i])
        run.check_lookups(f"exp{i}", [(k, rows) for j, k, rows in lookups if j == i])
    # integer-key lookups: a wrong answer is a failed operation
    measured = [(k, rows) for timed, k, rows in int_results if timed]
    run.failed += sum(1 for k, rows in measured
                      if [(r["k"], r["v"]) for r in rows] != [(k, f"int-{k}")])
    run.info.update(int_lookups=len(measured), int_lookups_failed=run.failed)


def check_ticks(ticks: list[tuple[int, int]], want: list[int]) -> list[str]:
    """Each feed tick (round, rows) must carry ``want[round]`` rows."""
    bad = [(i, rows, want[i]) for i, rows in ticks if rows != want[i]]
    return [f"feed ticks (round, rows, want) {bad} carried the wrong row count"] if bad else []


# ================================================================= tail
def map_commits(commits: list[dict], ranges: list[tuple[int, int]]):
    """Map each stream commit to the change file it applied, by the LSN
    range in the snapshot's lineage (batch ids are not file ids).
    Returns ({file: [snapshots]}, exactly-once failures): every file must
    own exactly one commit and every commit exactly one file."""
    by_file: dict[int, list] = {}
    for s in commits:
        lin = s["summary"].get("lineage") or {}
        lo = min((v["lsn_min"] for v in lin.values()), default=None)
        hi = max((v["lsn_max"] for v in lin.values()), default=None)
        owners = [i for i, (a, b) in enumerate(ranges)
                  if lo is not None and a <= lo and hi <= b]
        by_file.setdefault(owners[0] if len(owners) == 1 else -1, []).append(s)
    bad = len(by_file.get(-1, [])) + sum(1 for i in range(len(ranges))
                                         if len(by_file.get(i, [])) != 1)
    fails = []
    if len(commits) != len(ranges) or bad:
        fails.append(f"exactly-once: {len(commits)} stream commits for {len(ranges)} files, "
                     f"{bad} not one-to-one")
    return by_file, fails


class _Progress:
    """Counts completed stream batches: the listener event fires after
    the ``foreachBatch`` body, compaction included, has returned."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.batches = 0
        self.cond = threading.Condition()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if event.progress.numInputRows > 0:
                    with outer.cond:
                        outer.batches += 1
                        outer.cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def wait_for(self, n: int, deadline: float) -> bool:
        with self.cond:
            while self.batches < n:
                left = deadline - time.time()
                if left <= 0:
                    return False
                self.cond.wait(min(left, 0.5))
        return True

    def close(self):
        self.spark.streams.removeListener(self.listener)


def tail(run: Run) -> Iterator[None]:
    """``run_stream`` in merge-on-read mode with size-triggered compaction
    and quarantine onto a preloaded table, fed by an open-loop generator
    thread that lands one small change file every ``period_s``; then
    the table, now base files plus deltas, is scanned and probed."""
    from datax_spark.cdc.apply import apply_changes
    from datax_spark.cdc.pipeline import run_stream
    from datax_spark.functions.extract import with_enrichment
    from datax_spark.lake.table import LakeTable

    p = TAIL
    n_measured = max(4, int(p["stream_share"] * run.seconds / p["period_s"]))
    n_files = p["warm_files"] + n_measured
    fe = p["file_events"]
    pre = gen.make_changes(run.seed, 10, p["n_keys"], p["n_keys"], paragraphs=p["paragraphs"],
                           insert_only=True)
    pre_files, _ = _stage_files(run, pre, "preload", 1)
    log = gen.make_changes(run.seed, 11, n_files * fe, p["n_keys"], start_lsn=p["n_keys"] + 1,
                           paragraphs=p["paragraphs"], dirty_fraction=p["dirty"])
    staged, sizes = _stage_files(run, log, "stream", n_files)
    ranges = [_lsn_range(f) for f in staged]
    src, root = run.path("src"), run.path("tables", "tail")
    landed_paths = [os.path.join(src, os.path.basename(f)) for f in staged]
    run.largest_batch = landed_paths[0]
    os.makedirs(src)
    spark = run.spark
    run.mark("generate")
    t = LakeTable.create(spark, root, _schema(True), key_col="url", num_buckets=p["buckets"])
    run.call("cdc.apply", apply_changes, t, spark.read.parquet(pre_files[0]),
             transform=with_enrichment, merge_mode="cow")
    run.mark("preload")
    progress = _Progress(spark)
    landed: dict[int, float] = {}
    due: dict[int, float] = {}
    go = threading.Event()
    stop = threading.Event()

    def land(i: int) -> None:
        os.rename(staged[i], landed_paths[i])
        landed[i] = time.time()

    def lander():
        for i in range(p["warm_files"]):
            land(i)
        go.wait()
        t_sched = time.time() + 0.05
        for j, i in enumerate(range(p["warm_files"], n_files)):
            due[i] = t_sched + j * p["period_s"]
            while not stop.is_set() and time.time() < due[i]:
                stop.wait(due[i] - time.time())
            if stop.is_set():
                return
            land(i)

    th = threading.Thread(target=lander, name="lander", daemon=True)
    th.start()
    ok = False
    # timeout_sec=0.05: run_stream returns the running query at once;
    # the listener says when every file's batch has finished
    q = run_stream(spark, src, root, run.path("ckpt"), stream_id="tail",
                   max_files_per_trigger=1, available_now=False, timeout_sec=0.05,
                   merge_mode="mor", compact_delta_ratio=p["compact_delta_ratio"],
                   quarantine_dir=run.path("quarantine"), transform=with_enrichment)
    try:
        if not progress.wait_for(p["warm_files"], time.time() + 120):
            raise RuntimeError("warm-up batches did not complete")
        bytes0 = dir_bytes(os.path.join(root, "data"))
        run.mark("warm-up files")
        clock = run.setup_done()
        with run.cpu:
            go.set()
            ok = progress.wait_for(n_files, time.time() + n_measured * p["period_s"] + 120)
        stream_s = clock.elapsed()
    finally:
        stop.set()
        go.set()
        q.stop()
        q.awaitTermination(60)
        th.join(timeout=10)
        progress.close()
    if not ok:
        raise RuntimeError(f"stream applied {progress.batches}/{n_files} files")
    run.events += n_measured * fe
    run.input_bytes += sum(sizes[p["warm_files"]:])
    run.bytes_written += dir_bytes(os.path.join(root, "data")) - bytes0
    run.attempted += n_measured

    t = LakeTable(spark, root).load()
    scans, lookups = [], []
    reads = Clock(max(0.0, run.seconds - clock.elapsed()))
    read_rounds = 0
    while clock.running() and reads.another_round(read_rounds) or not scans:
        scans.append(run.scan(t))
        for k in run.lookup_keys(p["n_keys"], p["lookups_live"], p["lookups_absent"]):
            lookups.append((k, run.lookup(t, k)))
        read_rounds += 1
    run.measure_end = time.perf_counter()

    commits = [s for s in t.snapshots()
               if s["summary"].get("stream_id") == "tail" and s["summary"].get("operation") == "merge"]
    by_file, mapping_fails = map_commits(commits, ranges)
    fresh = {i: by_file[i][0]["timestamp_ms"] / 1000 - due[i]
             for i in due if len(by_file.get(i, [])) == 1}
    run.commit_ms += [v * 1000 for v in fresh.values()]
    late = [landed[i] - due[i] for i in due if i in landed]
    run.info.update(files=n_measured, stream_s=round(stream_s, 2),
                    freshness_ms=[round(fresh[i] * 1000) for i in sorted(fresh)],
                    generator_late_ms_max=round(max(late) * 1000, 1) if late else None,
                    compactions=sum(1 for s in t.snapshots()
                                    if s["summary"].get("operation") == "compact"))
    run.layer_extra["fresh_by_file"] = fresh
    run.layer_extra["file_ranges"] = ranges
    yield

    run.fails += mapping_fails
    o = run.oracle
    o.load_changes("ch", pre_files + landed_paths)
    o.expected_state("ch", "exp")
    run.check_state(t, "exp", enriched=True, name="tail table")
    run.check_scans("exp", scans)
    run.check_lookups("exp", lookups)
    qfiles = sorted(glob.glob(run.path("quarantine", "**", "*.parquet"), recursive=True))
    run.fails += o.check_quarantine("ch", qfiles)


WORKLOADS = {"backfill": backfill, "tail": tail}
