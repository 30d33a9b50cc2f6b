"""Independent expected results, computed by DuckDB from the change files.

Nothing here imports the engine. The expected table state is the
last-writer-wins winner per key by ``(warc_ts, lsn)`` over the clean
events, minus keys whose winner is a delete; columns a winner's event
did not carry (events before the schema evolution point) are NULL. The
engine's enrichment columns have no independent implementation here;
they are checked against properties of the method instead: ``fp`` is
the first 8 bytes of md5(``text``) read as a signed big-endian integer,
``n_tokens`` counts the whitespace tokens of lower(``text``), and
``text`` is NULL exactly when ``html`` is NULL. An ``fp`` that equals
the right value rounded through float64 is counted apart (``FP_ROUNDED``);
any other ``fp`` mismatch is a failure.

Every check returns its failures (empty = pass), so the self-test can
feed it a damaged table and see each check fail.
"""

from __future__ import annotations

import duckdb

CLEAN = "op IN ('I', 'U', 'D') AND url IS NOT NULL AND lsn IS NOT NULL"
PAYLOAD = ("warc_ts", "html", "lang")
EVOLVED = ("fetch_status", "content_len")
# Reported apart from other failures: a known engine defect (README,
# "Known faults") that stores ``fp`` through float64.
FP_ROUNDED = "fp == md5(text)[:8] rounded through float64"


def _files_sql(files: list[str]) -> str:
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{quoted}], union_by_name = true)"


class Oracle:
    def __init__(self, threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")

    def close(self) -> None:
        self.con.close()

    # -------------------------------------------------- expected state
    def load_changes(self, name: str, files: list[str]) -> None:
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM {_files_sql(files)}")
        cols = {r[0] for r in self.con.execute(f"DESCRIBE {name}").fetchall()}
        for c, t in (("fetch_status", "INTEGER"), ("content_len", "BIGINT")):
            if c not in cols:
                self.con.execute(f"ALTER TABLE {name} ADD COLUMN {c} {t}")

    def expected_state(self, changes: str, name: str, max_lsn: int | None = None) -> None:
        """LWW winner per url over ``changes`` (events up to ``max_lsn``),
        deletes dropped."""
        cut = f" AND lsn <= {int(max_lsn)}" if max_lsn is not None else ""
        self.con.execute(
            f"""CREATE OR REPLACE TABLE {name} AS
            SELECT url, lsn, {", ".join(PAYLOAD + EVOLVED)} FROM (
              SELECT *, row_number() OVER (
                PARTITION BY url ORDER BY warc_ts DESC NULLS LAST, lsn DESC) AS rn
              FROM {changes} WHERE {CLEAN}{cut})
            WHERE rn = 1 AND op <> 'D'"""
        )

    def rows(self, name: str, urls: list[str]) -> dict[str, tuple]:
        """Expected (warc_ts µs, html, lang) per url present in ``name``."""
        self.con.execute("CREATE OR REPLACE TEMP TABLE _q (url VARCHAR)")
        self.con.executemany("INSERT INTO _q VALUES (?)", [[u] for u in urls])
        got = self.con.execute(
            f"""SELECT e.url, epoch_us(e.warc_ts), e.html, e.lang
            FROM {name} e JOIN _q USING (url)"""
        ).fetchall()
        return {r[0]: tuple(r[1:]) for r in got}

    def scan_aggregate(self, name: str) -> tuple[int, int]:
        return tuple(
            self.con.execute(
                f"SELECT count(*), coalesce(sum(octet_length(html)), 0) FROM {name}"
            ).fetchone()
        )

    def live_count(self, name: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]

    # ----------------------------------------------------------- checks
    def check_table(self, expected: str, actual_files: list[str], enriched: bool) -> dict[str, int]:
        """Compare a table dump (parquet written from ``LakeTable.read()``)
        with the expected state, value by value, both directions. Returns
        {failure: rows}."""
        self.con.execute(
            f"CREATE OR REPLACE TABLE _actual AS SELECT * FROM {_files_sql(actual_files)}"
        )
        acols = {r[0] for r in self.con.execute("DESCRIBE _actual").fetchall()}
        cols = ["url"] + [c for c in PAYLOAD + EVOLVED if c in acols]
        missing = [c for c in EVOLVED if c not in acols and self._has_values(expected, c)]
        fails = {f"column {c} missing": self.live_count(expected) for c in missing}
        sel = ", ".join(cols)
        for a, b, what in (("_actual", expected, "unexpected"), (expected, "_actual", "missing")):
            n = self.con.execute(
                f"SELECT count(*) FROM (SELECT {sel} FROM {a} EXCEPT ALL SELECT {sel} FROM {b})"
            ).fetchone()[0]
            if n:
                fails[f"{what} rows"] = n
        if enriched:
            fails.update(self.check_enrichment("_actual"))
        return fails

    def _has_values(self, name: str, col: str) -> bool:
        return self.con.execute(f"SELECT count({col}) FROM {name}").fetchone()[0] > 0

    def check_enrichment(self, name: str) -> dict[str, int]:
        fp = "CAST(('0x' || left(md5(text), 16))::UBIGINT AS HUGEINT)"
        signed = (f"CASE WHEN {fp} >= (CAST(1 AS HUGEINT) << 63) "
                  f"THEN {fp} - (CAST(1 AS HUGEINT) << 64) ELSE {fp} END")
        # the one tolerated fp defect: the right value rounded through float64
        # (via BIGINT: DuckDB's HUGEINT -> DOUBLE cast rounds twice)
        rounded = f"CAST(CAST(CAST({signed} AS BIGINT) AS DOUBLE) AS HUGEINT)"
        wrong_fp = f"text IS NOT NULL AND fp IS DISTINCT FROM {signed}"
        tokens = "CASE WHEN text = '' THEN 0 ELSE len(string_split(lower(text), ' ')) END"
        fails = {}
        for what, cond in (
            ("text null xor html null", "(text IS NULL) <> (html IS NULL)"),
            (FP_ROUNDED, f"{wrong_fp} AND fp = {rounded}"),
            ("fp != md5(text)[:8]", f"{wrong_fp} AND fp IS DISTINCT FROM {rounded}"),
            ("n_tokens != tokens(lower(text))", f"text IS NOT NULL AND n_tokens IS DISTINCT FROM {tokens}"),
            ("text not whitespace-normalized", "text IS NOT NULL AND (text LIKE '%  %' OR text <> trim(text))"),
        ):
            n = self.con.execute(f"SELECT count(*) FROM {name} WHERE {cond}").fetchone()[0]
            if n:
                fails[what] = n
        return fails

    def check_quarantine(self, changes: str, quarantine_files: list[str]) -> list[str]:
        """Every dirty event, and nothing else, lands in quarantine once,
        with its reason."""
        expected = (
            f"SELECT lsn, CASE WHEN url IS NULL THEN 'null key' ELSE 'invalid op' END AS reason "
            f"FROM {changes} WHERE NOT ({CLEAN})"
        )
        if not quarantine_files:
            n = self.con.execute(f"SELECT count(*) FROM ({expected})").fetchone()[0]
            return [f"{n} dirty rows never quarantined"] if n else []
        actual = f"SELECT lsn, _dirty_reason AS reason FROM {_files_sql(quarantine_files)}"
        fails = []
        for a, b, what in ((actual, expected, "unexpected"), (expected, actual, "missing")):
            n = self.con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
            if n:
                fails.append(f"quarantine: {n} {what} rows")
        return fails

    def changed_keys(self, changes: str, lo_lsn: int, hi_lsn: int) -> int:
        """Keys whose LWW winner differs between the event prefixes ending
        at ``lo_lsn`` and ``hi_lsn`` — the rows one feed tick must carry."""
        w = (
            "SELECT url, lsn FROM (SELECT url, lsn, op, row_number() OVER (PARTITION BY url "
            "ORDER BY warc_ts DESC NULLS LAST, lsn DESC) rn FROM {c} WHERE {clean} AND lsn <= {hi}) "
            "WHERE rn = 1"
        )
        a = w.format(c=changes, clean=CLEAN, hi=int(lo_lsn))
        b = w.format(c=changes, clean=CLEAN, hi=int(hi_lsn))
        return self.con.execute(
            f"SELECT count(*) FROM ({b}) nb LEFT JOIN ({a}) ob USING (url) "
            "WHERE ob.lsn IS DISTINCT FROM nb.lsn"
        ).fetchone()[0]
