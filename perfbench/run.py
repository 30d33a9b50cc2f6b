"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload {backfill,tail} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Lines before it are a human-readable summary. See
``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "cpu_s_per_kevent": "s",
    "bytes_written_per_input_byte": "B/B",
}
# Latencies: printed in every summary, but in the JSON only by the traced
# run, as per-layer metrics without a bound — on a host with hypervisor
# steal their run-to-run spread (0.2-0.6 over ten runs) is wider than any
# bound a regression gate could use.
LATENCY_UNITS = {"commit_latency_ms_p50": "ms", "scan_s_p50": "s", "lookup_ms_p50": "ms"}
LAYER_UNITS = {
    **LATENCY_UNITS,
    "session.start_s": "s",
    "pipeline.overhead_ms_p50": "ms",
    "apply.self_ms_p50": "ms",
    "merge.self_ms_p50": "ms",
    "merge.dedup_events_per_s": "events/s",
    "extract.us_per_page": "us",
    "table.write_ms_p50": "ms",
    "table.commit_ms_p50": "ms",
    "table.manifest_entries_max": "count",
    "table.compact_ms_p50": "ms",
    "table.compact_bytes_rewritten": "B",
    "table.bytes_written_per_event": "B",
    "table.files_written_per_batch": "count",
    "lookup.input_bytes_p50": "B",
    "scan.input_bytes": "B",
    "bloom.build_ms_p50": "ms",
    "feed.read_ms_p50": "ms",
    "feed.apply_ms_p50": "ms",
    "feed.rows_per_tick": "count",
    "spark.jobs_per_batch": "count",
    "spark.shuffle_write_bytes_per_event": "B",
    "spark.spill_bytes": "B",
    "spark.executor_cpu_s_per_kevent": "s",
}
WRITE_SPANS = ("cdc.apply", "lake.merge", "lake.feed")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["backfill", "tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1),
                    help="Spark task threads, local[N] (default: min(4, cpu count))")
    return ap.parse_args(argv)


def e2e_metrics(run, setup_s: float, peak_rss_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "cpu_s_per_kevent": run.cpu.cpu_s / (run.events / 1000),
        "bytes_written_per_input_byte": run.bytes_written / run.input_bytes,
    }


def latency_metrics(run) -> dict:
    from harness import median

    return {
        "commit_latency_ms_p50": median(run.commit_ms),
        "scan_s_p50": median(run.scan_s),
        "lookup_ms_p50": median(run.lookup_ms),
    }


def micro_layers(run) -> dict:
    """Isolated per-layer throughput over the workload's largest input
    file, each written to Spark's noop sink; second of two runs."""
    from pyspark.sql import functions as F

    from datax_spark.functions.extract import with_enrichment
    from datax_spark.lake.merge import lww_dedup

    df = run.spark.read.parquet(run.largest_batch)
    n = df.count()
    pages = df.where(F.col("html").isNotNull()).select("html")
    n_pages = pages.count()
    out = {}
    for name, plan, count in (
        ("merge.dedup_events_per_s", lww_dedup(df, "url", "warc_ts", "lsn"), n),
        ("extract.us_per_page", with_enrichment(pages), n_pages),
    ):
        for _ in range(2):
            t0 = time.perf_counter()
            plan.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
        out[name] = count / dt if name.endswith("per_s") else dt / count * 1e6
    return out


def layer_metrics(run, tracer, session_start_s: float) -> dict:
    from harness import median

    tracer.spark_metrics()
    spans = tracer.spans
    named = tracer.named

    def p50_ms(xs):
        return median([x * 1000 for x in xs])

    writes = [s for s in spans if s.name in WRITE_SPANS and s.parent is None]
    # only spans inside the measured phase count
    t_lo, t_hi = run.setup_end, run.measure_end
    inside = [s for s in spans if t_lo <= s.t0 <= t_hi]
    w_in = [s for s in writes if s in inside]
    ids = {s.id for s in inside}

    def in_phase(name):
        return [s for s in named(name) if s.id in ids]

    writes_under_merge = []
    for s in in_phase("lake.merge"):
        writes_under_merge += [c for c in s.children if c.name == "table.write"]
    compact_writes = []
    compacts = [s for s in in_phase("table.compact") if s.result is not None]
    for s in compacts:
        compact_writes += [c for c in s.children if c.name == "table.write"]
    kev = run.events / 1000
    feeds = in_phase("lake.feed")
    feed_applies = [c for s in feeds for c in s.children if c.name == "cdc.apply"]

    overhead = []
    fresh = run.layer_extra.get("fresh_by_file", {})
    ranges = run.layer_extra.get("file_ranges", [])
    for s in in_phase("cdc.apply"):
        lin = (s.result or {}).get("lineage") or {}
        if not lin:
            continue
        lo = min(v["lsn_min"] for v in lin.values())
        for i, (a, b) in enumerate(ranges):
            if a <= lo <= b and i in fresh:
                overhead.append(fresh[i] - s.dur)

    m = {
        "session.start_s": session_start_s,
        "pipeline.overhead_ms_p50": p50_ms(overhead),
        "apply.self_ms_p50": p50_ms([s.self_time for s in in_phase("cdc.apply")]),
        "merge.self_ms_p50": p50_ms([s.self_time for s in in_phase("lake.merge")]),
        "table.write_ms_p50": p50_ms([s.dur for s in in_phase("table.write")]),
        "table.commit_ms_p50": p50_ms([s.dur for s in in_phase("table.commit")]),
        "table.manifest_entries_max": max(
            [s.result["summary"]["total_files"] for s in in_phase("table.commit")], default=0),
        "table.compact_ms_p50": p50_ms([s.dur for s in compacts]),
        "table.compact_bytes_rewritten": sum(e["bytes"] for s in compact_writes for e in s.result),
        "table.bytes_written_per_event": sum(
            e["bytes"] for s in writes_under_merge for e in s.result) / run.events,
        "table.files_written_per_batch": (
            sum(len(s.result) for s in writes_under_merge) / len(in_phase("lake.merge"))
            if in_phase("lake.merge") else 0),
        "lookup.input_bytes_p50": median([s.spark["input_b"] for s in in_phase("lookup")]),
        "scan.input_bytes": median([s.spark["input_b"] for s in in_phase("scan")]),
        "bloom.build_ms_p50": p50_ms([s.dur for s in in_phase("bloom.build")]),
        "feed.read_ms_p50": p50_ms([s.self_time for s in feeds]),
        "feed.apply_ms_p50": p50_ms([s.dur for s in feed_applies]),
        "feed.rows_per_tick": median([(s.result or {}).get("batch_rows", 0) for s in feeds]),
        "spark.jobs_per_batch": median([s.spark["jobs"] for s in w_in]),
        "spark.shuffle_write_bytes_per_event": sum(
            s.spark["shuffle_w_b"] for s in w_in) / run.events,
        "spark.spill_bytes": sum(s.spark["spill_b"] for s in inside if s.parent is None),
        "spark.executor_cpu_s_per_kevent": sum(
            s.spark["cpu_s"] for s in inside if s.parent is None and s.name != "scan"
            and s.name != "lookup") / kev,
    }
    m.update(micro_layers(run))
    calls: dict[str, int] = {}
    for s in inside:
        calls[s.name] = calls.get(s.name, 0) + 1
    run.info["calls"] = dict(sorted(calls.items()))
    return m


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM (closing its stdin makes it exit,
    taking the Python workers with it) and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse(argv)
    # SIGTERM unwinds like an exception, so the session, the JVM and the
    # work dir are still cleaned up when the run is stopped from outside
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    try:
        import datax_spark  # noqa: F401  — the engine under test, from this checkout
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    from harness import RssSampler, cpu_steal, start_spark
    from oracle import Oracle
    from spans import Tracer
    from workloads import WORKLOADS, Run

    sampler = RssSampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, args.cores)
        session_start_s = time.perf_counter() - t0
        tracer = Tracer(spark) if args.trace else None
        if tracer:
            tracer.install()
        oracle = Oracle()
        run = Run(spark, work, args.seed, args.seconds, tracer, oracle)
        steps = WORKLOADS[args.workload](run)
        steal0 = cpu_steal()
        next(steps)  # set-up and the measured phase
        peak = sampler.stop()
        steal1 = cpu_steal()
        run.info["cpu_steal_share"] = round(
            (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4)
        run.info["peak_rss_mb_by_process"] = {k: round(v) for k, v in sampler.parts.items()}
        if tracer:
            tracer.uninstall()
        t_checks = time.perf_counter()
        for _ in steps:  # correctness checks
            pass
        run.info["checks_s"] = round(time.perf_counter() - t_checks, 2)
        e2e = e2e_metrics(run, run.setup_end - T_START, peak)
        latency = latency_metrics(run)
        if tracer:
            metrics = {**latency, **layer_metrics(run, tracer, session_start_s)}
            units = LAYER_UNITS
        else:
            metrics = e2e
            units = E2E_UNITS
        oracle.close()
        print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} local[{args.cores}]")
        for k, v in run.info.items():
            print(f"  {k}: {v}")
        for k in ("commit_ms", "scan_s", "lookup_ms"):
            xs = sorted(getattr(run, k))
            if xs:
                q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
                print(f"  {k}: n={len(xs)} q1={q[0]:.4g} median={q[1]:.4g} q3={q[2]:.4g}")
        for k, v in metrics.items():
            print(f"  {k:40s} {v:14.4f} {units[k]}")
        for f in run.fails:
            print(f"  FAIL: {f}")
        print("e2e " + json.dumps({**e2e, **latency}))
        result = {
            "correct": not run.fails,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        sampler.stop()
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"  wall_s: {time.perf_counter() - T_START:.1f}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
