"""Dirty-record quarantine + error limits.

Re-expresses DataX's out-of-band dirty-record channel
(``common/.../plugin/TaskPluginCollector.java:1-57``, stdout impl
``core/.../plugin/task/StdoutPluginCollector.java``) and the job-failing
thresholds of ``ErrorRecordChecker``
(``core/.../util/ErrorRecordChecker.java:18-81``: fail if dirty count >
``errorLimit.record`` or dirty ratio > ``errorLimit.percentage``; the
record limit takes precedence) as a DataFrame split + dead-letter parquet
sink. Validation is declarative (a Column predicate), evaluated JVM-side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from datax_spark.lake.table import PARQUET_CODEC

VALID_OPS = ("I", "U", "D")


class ErrorLimitExceeded(Exception):
    pass


@dataclass
class ErrorLimits:
    """record: absolute max dirty rows (None=off); percentage: max dirty
    ratio 0..1 (None=off). Record limit checked first, like the reference."""

    record: int | None = None
    percentage: float | None = None

    def check(self, dirty: int, total: int) -> None:
        if self.record is not None and dirty > self.record:
            raise ErrorLimitExceeded(
                f"dirty record count {dirty} > errorLimit.record {self.record}"
            )
        if self.percentage is not None and total > 0 and (dirty / total) > self.percentage:
            raise ErrorLimitExceeded(
                f"dirty ratio {dirty / total:.4f} > errorLimit.percentage {self.percentage}"
            )


def dirty_reason(key_col: str, op_col: str, lsn_col: str):
    """NULL ⇒ clean; else a reason string. Extend per-source as needed."""
    return (
        F.when(F.col(key_col).isNull(), F.lit("null key"))
        .when(F.col(lsn_col).isNull(), F.lit("null lsn"))
        .when(~F.col(op_col).isin(*VALID_OPS), F.lit("invalid op"))
        .otherwise(F.lit(None).cast("string"))
    )


def split_dirty_lazy(
    batch: DataFrame,
    key_col: str,
    op_col: str,
    lsn_col: str,
):
    """Zero-extra-job variant: returns (clean_df, observation, tagged_df).

    The dirty count rides as an ``observe()`` metric collected during the
    merge's own first action — no separate count scan (the reference
    similarly checks error limits at report ticks, not per record:
    ``AbstractScheduler.java:89``). Read the count AFTER the merge with
    ``observation.get["dirty"]``; write quarantine rows from ``tagged_df``
    only when it is non-zero.
    """
    from pyspark.sql import Observation

    reason = dirty_reason(key_col, op_col, lsn_col)
    tagged = batch.withColumn("_dirty_reason", reason)
    obs = Observation()
    observed = tagged.observe(
        obs,
        F.count(F.when(F.col("_dirty_reason").isNotNull(), 1)).alias("dirty"),
        F.count(F.lit(1)).alias("total"),
    )
    clean = observed.filter(F.col("_dirty_reason").isNull()).drop("_dirty_reason")
    return clean, obs, tagged


def write_quarantine(tagged: DataFrame, quarantine_dir: str, batch_id: int | None) -> None:
    (
        tagged.filter(F.col("_dirty_reason").isNotNull())
        .withColumn("_batch_id", F.lit(batch_id).cast("bigint"))
        .write.mode("append")
        .option("compression", PARQUET_CODEC)
        .parquet(quarantine_dir)
    )


def _split_on_reason(
    batch: DataFrame,
    reason,
    quarantine_dir: str | None,
    limits: ErrorLimits | None,
    batch_id: int | None,
) -> tuple[DataFrame, int]:
    tagged = batch.withColumn("_dirty_reason", reason)
    dirty_count = tagged.filter(F.col("_dirty_reason").isNotNull()).count()
    if dirty_count:
        if quarantine_dir:
            write_quarantine(tagged, quarantine_dir, batch_id)
        if limits is not None:
            total = batch.count()
            limits.check(dirty_count, total)
    clean = tagged.filter(F.col("_dirty_reason").isNull()).drop("_dirty_reason")
    return clean, dirty_count


def split_dirty(
    batch: DataFrame,
    key_col: str,
    op_col: str,
    lsn_col: str,
    quarantine_dir: str | None = None,
    limits: ErrorLimits | None = None,
    batch_id: int | None = None,
) -> tuple[DataFrame, int]:
    """Split a batch into (clean_df, dirty_count); write dirty rows (with
    reason) to the dead-letter dir. Cheap path: one aggregate to count,
    and the dirty side is only materialized when rows exist."""
    reason = dirty_reason(key_col, op_col, lsn_col)
    return _split_on_reason(batch, reason, quarantine_dir, limits, batch_id)


def cast_failure_reason(casts: dict[str, str]):
    """NULL ⇒ every column casts cleanly; else the first failing column's
    reason string. ``try_cast`` keeps the check ANSI-safe (ANSI mode is ON
    in this engine's sessions — a plain cast would fail the whole job on
    one malformed cell)."""
    clauses = []
    for c, t in casts.items():
        bad = F.col(c).isNotNull() & F.expr(f"try_cast(`{c}` AS {t})").isNull()
        clauses.append(F.when(bad, F.lit(f"cast failure: {c} as {t}")))
    return F.coalesce(*clauses, F.lit(None).cast("string")) if clauses else F.lit(None).cast("string")


def salvage_casts(
    batch: DataFrame,
    casts: dict[str, str],
    quarantine_dir: str | None = None,
    limits: ErrorLimits | None = None,
    batch_id: int | None = None,
) -> tuple[DataFrame, int]:
    """Permissive-parse salvage: the reference reader converts column
    values per record and routes conversion failures to the dirty-record
    channel instead of failing the task
    (``plugin-rdbms-util/.../reader/CommonRdbmsReader.java:338-348``,
    ``UnstructuredStorageReaderUtil.java:408-429``). Spark ANSI mode
    would instead kill the job on the first bad cell — this splits rows
    whose columns fail ``try_cast`` into the dead letter (with the
    failing column in the reason), then applies the casts to survivors.

    Returns (typed_clean_df, dirty_count). Untouched columns pass through.
    """
    reason = cast_failure_reason(casts)
    clean, dirty = _split_on_reason(batch, reason, quarantine_dir, limits, batch_id)
    typed = clean.select(
        *[
            F.expr(f"try_cast(`{c}` AS {casts[c]})").alias(c) if c in casts else F.col(c)
            for c in clean.columns
        ]
    )
    return typed, dirty


def replay_quarantine(
    spark,
    quarantine_dir: str,
    table,
    fix,
    ts_col: str = "warc_ts",
    lsn_col: str = "lsn",
    op_col: str = "op",
    batch_id: int | None = None,
    archive: bool = True,
    **apply_kwargs,
):
    """Dead-letter replay: read the quarantine table, run the caller's
    ``fix(df) -> df`` repair (e.g. default a null key, map a vendor op
    code to I/U/D), and re-apply the repaired rows through the normal
    validate → quarantine → fenced MERGE path (``cdc.apply
    .apply_changes``). Rows the fix did NOT cure are re-quarantined by
    that same path, so the repair loop is safe to run repeatedly.

    The reference's ErrorRecordChecker stops at *collecting* dirty
    records (``core/.../util/ErrorRecordChecker.java``; taskPluginCollector
    writes them aside) — re-ingest after repair is the operational step
    every pipeline ends up scripting, so it is first-class here.

    ``archive=True`` moves the consumed quarantine files into
    ``<quarantine_dir>/_replayed-<batch_id>/`` after a successful apply —
    at-most-once consumption of the dead letters (the apply itself is
    fenced by ``batch_id``, so a crash between apply and archive
    re-applies idempotently). Returns the apply metrics dict, or None if
    the quarantine is empty.
    """
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from datax_spark.cdc.apply import apply_changes

    files = sorted(_glob.glob(_os.path.join(quarantine_dir, "*.parquet")))
    if not files:
        return None
    dead = spark.read.parquet(*files)
    repaired = fix(dead.drop("_dirty_reason", "_batch_id"))
    metrics = apply_changes(
        table,
        repaired,
        batch_id=batch_id,
        ts_col=ts_col,
        lsn_col=lsn_col,
        op_col=op_col,
        quarantine_dir=quarantine_dir,
        **apply_kwargs,
    )
    if archive:
        dest = _os.path.join(quarantine_dir, f"_replayed-{batch_id}")
        _os.makedirs(dest, exist_ok=True)
        for f in files:
            _shutil.move(f, _os.path.join(dest, _os.path.basename(f)))
    return metrics
