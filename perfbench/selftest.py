"""Self-test of the benchmark's checks: each must fail on damaged output.

    python3 perfbench/selftest.py

Builds a correct table for a generated change log without the engine
(expected state from the DuckDB oracle, enrichment columns from a plain
Python reference of the checked properties), confirms every check
passes on it, then feeds each check a copy with one row dropped or one
value changed and confirms the check reports it. Every ``fp`` rounded
through float64 (the engine's known defect) must be reported apart and
fail nothing else. Also damages the quarantine rows, a lookup answer, a
scan aggregate, a feed tick's row count and the stream commit to file
mapping, and compares the oracle's feed tick rows with a plain Python
reference. Exits 1 if any damage goes unnoticed or the intact data fails
a check.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from oracle import FP_ROUNDED, Oracle  # noqa: E402
from workloads import Run, check_ticks, map_commits  # noqa: E402


def enrich(html: bytes | None) -> tuple:
    """(text, n_tokens, fp) with the checked properties, independent of
    the engine's extractor: any whitespace-normalized text will do."""
    if html is None:
        return None, None, None
    text = " ".join(html.decode("latin-1").split())
    fp = int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big", signed=True)
    return text, len(text.lower().split()), fp


def py_changed_keys(log: pa.Table, lo: int, hi: int) -> int:
    """Keys whose last-writer-wins winner differs between the prefixes
    of ``log`` ending at LSN ``lo`` and ``hi`` (plain Python)."""
    def winners(upto):
        w = {}
        for r in log.to_pylist():
            if r["lsn"] <= upto and r["url"] is not None and r["op"] in ("I", "U", "D"):
                if r["url"] not in w or (r["warc_ts"], r["lsn"]) > w[r["url"]]:
                    w[r["url"]] = (r["warc_ts"], r["lsn"])
        return w
    a, b = winners(lo), winners(hi)
    return sum(1 for u, v in b.items() if a.get(u) != v)


def table_files(tab: pa.Table, d: str, name: str) -> list[str]:
    path = os.path.join(d, f"{name}.parquet")
    pq.write_table(tab, path)
    return [path]


def main() -> int:
    bad: list[str] = []

    def expect(what: str, fails, should_fail: bool) -> None:
        ok = bool(fails) == should_fail
        print(f"  {'ok  ' if ok else 'MISS'} {what}: {fails if fails else 'no failure'}")
        if not ok:
            bad.append(what)

    with tempfile.TemporaryDirectory(dir=os.getcwd(), prefix=".perfbench_selftest_") as d:
        log = gen.make_changes(7, 1, 3000, 1500, paragraphs=3, evolve_from_lsn=1500,
                               dirty_fraction=0.04)
        files = [os.path.join(d, f"f{i}.parquet") for i in range(3)]
        gen.write_files(log, files)
        o = Oracle()
        o.load_changes("ch", files)
        o.expected_state("ch", "exp")
        exp = o.con.execute("SELECT * EXCLUDE (lsn) FROM exp ORDER BY url").arrow()
        e = [enrich(h) for h in exp["html"].to_pylist()]
        good = (exp.append_column("text", pa.array([x[0] for x in e], pa.string()))
                .append_column("n_tokens", pa.array([x[1] for x in e], pa.int64()))
                .append_column("fp", pa.array([x[2] for x in e], pa.int64())))

        def damaged(col: str, value) -> pa.Table:
            vals = good[col].to_pylist()
            i = next(j for j, v in enumerate(vals) if v is not None and good["html"][j].as_py())
            vals[i] = value(vals[i])
            return good.set_column(good.schema.get_field_index(col), col,
                                   pa.array(vals, good.schema.field(col).type))

        def table_fails(tab: pa.Table, name: str) -> dict:
            fails = o.check_table("exp", table_files(tab, d, name), True)
            return {k: n for k, n in fails.items() if k != FP_ROUNDED}

        print("table state and enrichment properties")
        expect("intact table", table_fails(good, "good"), False)
        fps = [None if v is None else int(float(v)) for v in good["fp"].to_pylist()]
        rounded = good.set_column(good.schema.get_field_index("fp"), "fp",
                                  pa.array(fps, pa.int64()))
        known = o.check_table("exp", table_files(rounded, d, "rounded"), True)
        expect("every fp rounded through float64 (reported apart, fails nothing)",
               {k: n for k, n in known.items() if k != FP_ROUNDED}, False)
        expect("fp rounded through float64 is reported",
               {k: n for k, n in known.items() if k == FP_ROUNDED}, True)
        cases = [
            ("one row dropped", good.slice(1)),
            ("html payload changed", damaged("html", lambda v: v + b" ")),
            ("lang changed", damaged("lang", lambda v: v + "x")),
            ("warc_ts changed", damaged("warc_ts", lambda v: v.replace(year=v.year + 1))),
            ("evolved content_len changed", damaged("content_len", lambda v: v + 1)),
            ("fp lowest bit flipped", damaged("fp", lambda v: v ^ 1)),
            ("fp off by more than float64 rounding", damaged("fp", lambda v: v ^ (1 << 40))),
            ("fp nulled", damaged("fp", lambda v: None)),
            ("n_tokens changed", damaged("n_tokens", lambda v: v + 1)),
            ("text nulled", damaged("text", lambda v: None)),
            ("text whitespace doubled", damaged("text", lambda v: v.replace(" ", "  ", 1))),
        ]
        for i, (what, tab) in enumerate(cases):
            expect(what, table_fails(tab, f"bad{i}"), True)

        print("quarantine")
        dirty = o.con.execute(
            "SELECT lsn, CASE WHEN url IS NULL THEN 'null key' ELSE 'invalid op' END AS "
            "_dirty_reason FROM ch WHERE NOT (op IN ('I','U','D') AND url IS NOT NULL)").arrow()
        if dirty.num_rows < 2:
            raise SystemExit("the generator made too few dirty rows for the self-test")
        expect("intact quarantine", o.check_quarantine("ch", table_files(dirty, d, "q")), False)
        expect("quarantine row dropped",
               o.check_quarantine("ch", table_files(dirty.slice(1), d, "q1")), True)
        reasons = dirty["_dirty_reason"].to_pylist()
        reasons[0] = "null lsn"
        expect("quarantine reason changed", o.check_quarantine("ch", table_files(
            dirty.set_column(1, "_dirty_reason", pa.array(reasons)), d, "q2")), True)

        print("lookups, scans, feed ticks")
        run = Run(None, d, 7, 1, None, o)
        live = good.slice(0, 3).to_pylist()
        answers = [(r["url"], [r]) for r in live] + [("https://absent/", [])]
        run.check_lookups("exp", answers)
        expect("intact lookups", run.fails, False)
        run.fails = []
        wrong = dict(live[0], html=live[0]["html"] + b"x")
        run.check_lookups("exp", [(live[0]["url"], [wrong])] + answers[1:])
        expect("lookup payload changed", run.fails, True)
        run.fails = []
        run.check_lookups("exp", [(live[0]["url"], [])])
        expect("lookup row missing", run.fails, True)
        run.fails = []
        run.check_scans("exp", [o.scan_aggregate("exp")])
        expect("intact scan", run.fails, False)
        run.fails = []
        n, b = o.scan_aggregate("exp")
        run.check_scans("exp", [(n - 1, b)])
        expect("scan count changed", run.fails, True)
        ends = [int(pq.read_table(f)["lsn"][-1].as_py()) for f in files]
        want = py_changed_keys(log, ends[0], ends[1])
        got = o.changed_keys("ch", ends[0], ends[1])
        expect("feed tick rows match a Python LWW reference",
               [] if got == want else [f"oracle {got} != reference {want}"], False)
        want_ticks = [o.live_count("exp"), got]
        expect("intact feed ticks", check_ticks([(0, want_ticks[0]), (1, got)], want_ticks), False)
        expect("feed tick row count changed",
               check_ticks([(0, want_ticks[0]), (1, got - 1)], want_ticks), True)

        print("stream commits to files")
        ranges = [(int(pq.read_table(f)["lsn"][0].as_py()), e) for f, e in zip(files, ends)]

        def snap(lo, hi):
            return {"summary": {"lineage": {"0": {"lsn_min": lo, "lsn_max": hi}}}}

        one_each = [snap(a + 1, b) for a, b in ranges]
        expect("one commit per file", map_commits(one_each, ranges)[1], False)
        expect("file applied twice", map_commits(one_each + one_each[:1], ranges)[1], True)
        expect("file never applied", map_commits(one_each[1:], ranges)[1], True)
        expect("commit spanning two files",
               map_commits([snap(ranges[0][0], ranges[1][1]), one_each[2]], ranges)[1], True)
        o.close()

    print("self-test:", "every check caught its damage" if not bad else f"MISSED {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
