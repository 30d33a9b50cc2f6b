"""Key-partitioned MERGE INTO for LakeTable (copy-on-write, bucket-pruned).

Semantics follow the reference's change-op algebra — upsert + row delete
(``otsstreamreader/.../core/MultiVerModeRecordSender.java:23-28`` opTypes,
``SingleVerAndUpOnlyModeRecordSender.java:40-53`` PUT/UPDATE→upsert,
DELETE→row delete) combined with the upsert templates DataX delegates to
sinks (``plugin-rdbms-util/.../writer/util/WriterUtil.java:111-168``
REPLACE / ON DUPLICATE KEY UPDATE). Expressed as SQL it is::

    MERGE INTO t USING c ON t.key = c.key
    WHEN MATCHED AND c.op = 'D' AND c_newer           THEN DELETE   (tombstone)
    WHEN MATCHED AND c.op IN ('I','U') AND c_newer    THEN UPDATE *
    WHEN NOT MATCHED AND c.op <> 'D'                  THEN INSERT *

where ``c_newer`` is the cross-batch last-writer-wins guard
``(c.warc_ts, c.lsn) > (t.warc_ts, t._lsn)`` — stale replays are no-ops,
which is what makes batch retries + out-of-order arrival convergent
(SURVEY §7.4 risks 1-2).

Scale design (round 3 — ONE exchange per copy-on-write merge):
- changes are LWW-deduped to one row per key with a *hash aggregate*
  (``max_by``-style struct max), not a window sort — partial map-side
  combine absorbs hot-key skew before any shuffle (salting is implicit in
  partial aggregation; AQE covers residual skew).
- only buckets containing changed keys are read and rewritten
  (manifest-driven copy-on-write); merge cost ∝ batch + touched buckets,
  never table size.
- the merge itself is NOT a join: the touched-bucket target scan and the
  deduped change batch are unioned and collapsed with the SAME LWW
  struct-max aggregate the merge-on-read path uses at read time
  (byte-identical ordering, pinned by the CoW/MoR convergence suite).
  The union is repartitioned by the table's bucket id BEFORE the
  aggregate; because the bucket id is part of the grouping key, Catalyst
  proves the partitioning satisfies the aggregate's distribution AND the
  bucket-partitioned file write — so dedup-collapse and write share ONE
  exchange of (touched target + batch) rows. No merge-join, no
  driver-built broadcast hash relations, no separate insert anti-join,
  no second repartition for the writer. (Round 2 shipped a key-broadcast
  semi/anti target split here; it double-scanned the target and built two
  multi-million-row driver relations per bulk batch — the round-2 replay
  regression.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from datax_spark.lake.table import (
    BUCKET_COL,
    DELETED_COL,
    LSN_COL,
    LakeTable,
    bucket_expr,
)

OP_COL = "op"
# buckets hash into 4× as many shuffle partitions so two large buckets
# rarely collide into one task (balls-in-bins: ~12% collision at 4×
# instead of ~37% at 1×); any count works for correctness because the
# bucket id is the partitioning key either way.
BUCKET_PARTITION_FACTOR = 4


def lww_dedup(changes: DataFrame, key_col: str, ts_col: str, lsn_col: str) -> DataFrame:
    """Last-writer-wins: keep the single newest event per key by
    ``(ts, lsn)``.

    Implemented as an aggregate of ``max(struct(ts, lsn, payload...))``
    rather than ``row_number() OVER`` — the hash aggregate gets map-side
    partial combine (each task reduces its own slice of a hot key first),
    so a key with 10M updates in one batch costs ~one row per task in the
    shuffle instead of 10M rows into one window partition. ``lsn`` is a
    unique total order, so ties cannot reach the payload fields.
    """
    payload = [c for c in changes.columns if c not in (key_col,)]
    ordered = [ts_col, lsn_col] + [c for c in payload if c not in (ts_col, lsn_col)]
    packed = changes.groupBy(key_col).agg(
        F.max(F.struct(*[F.col(c) for c in ordered])).alias("_w")
    )
    return packed.select(key_col, *[F.col(f"_w.{c}").alias(c) for c in ordered])


def bulk_load(
    table: LakeTable,
    df: DataFrame,
    lsn: int = 0,
    operation: str = "append",
) -> dict:
    """Initial/bulk append of unique-keyed rows (no merge join).

    The DataX analogue is a plain ``insert`` writeMode load
    (``WriterUtil.java:111-146``); keys must not collide with existing
    live rows — use ``merge_into`` otherwise.
    """
    tschema = table.schema()
    out = df
    if LSN_COL not in out.columns:
        out = out.withColumn(LSN_COL, F.lit(lsn).cast("bigint"))
    if DELETED_COL not in out.columns:
        out = out.withColumn(DELETED_COL, F.lit(False))
    out = out.select(*[F.col(f.name).cast(f.type).alias(f.name) for f in tschema.fields])
    entries = table.write_data_files(out, tschema)
    return table.commit(entries, set(), operation=operation)


def cow_union_plan(
    table: LakeTable,
    delta: DataFrame,
    touched: list[int],
    tschema,
    ts_col: str,
) -> DataFrame:
    """The single-exchange copy-on-write merge plan (exposed for plan
    tests): union the touched-bucket target scan with the aligned change
    delta, repartition by bucket id, and collapse to the LWW winner per
    key with the same struct-max ordering as the MoR read-time collapse.

    Output carries ``_bucket`` and is partitioned by it — feed straight
    to ``write_data_files(..., prepartitioned=True)`` so the write adds
    no further shuffle.
    """
    key = table.key_col
    nb = table.num_buckets
    names = tschema.field_names()

    target = table.read(buckets=sorted(touched), include_deleted=True, include_system=True)
    t_cols = []
    for f in tschema.fields:
        if f.name in target.columns:
            t_cols.append(F.col(f.name).cast(f.type).alias(f.name))
        else:
            t_cols.append(F.lit(None).cast(f.type).alias(f.name))
    target = target.select(*t_cols)

    merged = target.unionByName(delta.select(*names))
    ordered = [ts_col, LSN_COL] + [n for n in names if n not in (key, ts_col, LSN_COL)]
    npart = max(1, min(nb, len(touched)) * BUCKET_PARTITION_FACTOR)
    return (
        merged.withColumn(BUCKET_COL, bucket_expr(key, nb))
        .repartition(npart, F.col(BUCKET_COL))
        .groupBy(BUCKET_COL, key)
        .agg(F.max(F.struct(*[F.col(c) for c in ordered])).alias("_w"))
        .select(
            *[
                (F.col(key) if n == key else F.col(f"_w.{n}").alias(n))
                for n in names
            ],
            F.col(BUCKET_COL),
        )
    )


def merge_into(
    table: LakeTable,
    changes: DataFrame,
    ts_col: str = "warc_ts",
    lsn_col: str = "lsn",
    op_col: str = OP_COL,
    stream_id: str | None = None,
    batch_id: int | None = None,
    dedup: bool = True,
    summary_extra: dict | None = None,
    new_schema=None,
    post_dedup_transform=None,
    fence_epoch: str | None = None,
    merge_mode: str = "cow",
) -> dict:
    """Apply a batch of change events to ``table``; returns the snapshot.

    ``changes`` columns: key, op ('I'|'U'|'D'), ts_col, lsn_col, payload...
    Null keys must be routed to quarantine upstream (cdc.apply does); the
    collapse groups by key, so a null key is not a valid change identity.
    Schema evolution (``new_schema``) is resolved by the caller
    (cdc.apply) so quarantine can intercept incompatible rows first.

    ``post_dedup_transform`` (df → df) runs on the LWW winners only — the
    placement for expensive per-row work like html→text extraction: cost
    scales with unique keys per batch, not raw events (a hot key updated
    10^6 times in a batch is extracted once). CONTRACT: the transform is
    an enrichment — it must preserve rows 1:1 and must not modify the
    key/ts/lsn columns (the CoW path derives touched buckets and lineage
    from a pre-transform column-pruned projection; a key-rewriting
    transform would desynchronize them). Enforced structurally below.

    ``merge_mode``:
    - ``cow`` (copy-on-write): touched buckets are read, union-collapsed
      with the batch (one exchange — see module docstring), and
      rewritten. Reads stay collapse-free; write cost ∝ bucket size.
      Right for backfills and low-frequency large batches.
    - ``mor`` (merge-on-read): the deduped batch is appended as DELTA
      files only — no target read, no bucket rewrite; ``table.read()``
      collapses versions by (ts, lsn) and ``compact_buckets`` folds
      deltas back into base files. Right for trickle batches, where CoW
      would rewrite whole buckets for a handful of keys. Both modes
      produce byte-identical table state (same LWW ordering).
    - ``cow-latemat``: the cow plan with the pre-dedup payload exchange
      replaced by late materialization — winners elected on a narrow
      (key, ts, lsn) scan, broadcast as ids, payload scan filtered to
      winner rows (see the inline comment). Byte-identical state;
      A/B-gated prototype, not the default.
    """
    key = table.key_col
    nb = table.num_buckets

    if merge_mode == "cow-latemat" and dedup:
        # LATE MATERIALIZATION (round-4 A/B prototype, VERDICT r3 #10):
        # lww_dedup's hash aggregate shuffles the multi-KB payload once
        # just to elect winners; here winners are elected on a narrow
        # (key, ts, lsn) projection (the parquet scan reads ONLY those
        # columns — same pushdown as the stats job below), broadcast as
        # an id set, and the payload scan is FILTERED to winner rows —
        # loser payload bytes never enter any exchange, and the merge's
        # single bucket exchange (cow_union_plan) carries winners only.
        # Trade-off: a second narrow source scan + a driver broadcast of
        # one (key, lsn) row per unique batch key — right when payloads
        # dwarf keys (web pages); wrong when the per-batch key set
        # approaches driver memory (use "cow" there). Opt-in via
        # merge_mode until the interleaved A/B proves a default win.
        # Winner election uses the RAW (ts, lsn) column values — the
        # exact ordering lww_dedup applies — so the two modes cannot
        # diverge on e.g. string-typed timestamps where a cast would
        # reorder; the join is null-SAFE on lsn so a null-lsn winner is
        # fetched rather than silently dropped (a null-rejecting
        # equality would erase that key's change entirely).
        winner_ids = (
            changes.select(
                F.col(key).alias("_wk"),
                F.col(ts_col).alias("_wts"),
                F.col(lsn_col).alias("_wl"),
            )
            .groupBy("_wk")
            .agg(F.max(F.struct("_wts", "_wl")).alias("_w"))
            .select("_wk", F.col("_w._wl").alias("_wl"))
        )
        c = changes.join(
            F.broadcast(winner_ids),
            (F.col(key) == F.col("_wk"))
            & F.col(lsn_col).eqNullSafe(F.col("_wl")),
        ).drop("_wk", "_wl")
    elif dedup:
        c = lww_dedup(changes, key, ts_col, lsn_col)
    else:
        c = changes
    if post_dedup_transform is not None:
        before = set(c.columns)
        c = post_dedup_transform(c)
        dropped = before - set(c.columns)
        if dropped:
            raise ValueError(
                "post_dedup_transform must be a 1:1 enrichment that keeps "
                f"all input columns; it dropped {sorted(dropped)}"
            )

    tschema = new_schema if new_schema is not None else table.schema()
    user_cols = [f.name for f in tschema.fields if f.name not in (LSN_COL, DELETED_COL)]

    # align the change payload to the (possibly evolved) table user schema
    tmap = {f.name: f for f in tschema.fields}
    aligned_cols = []
    for name in user_cols:
        if name in c.columns:
            aligned_cols.append(F.col(name).cast(tmap[name].type).alias(name))
        else:
            aligned_cols.append(F.lit(None).cast(tmap[name].type).alias(name))

    # the changes in full table-schema shape: op → _deleted, lsn → _lsn
    delta = c.select(
        F.col(op_col).alias("_cop"),
        F.col(ts_col).cast("timestamp").alias("_cts"),
        F.col(lsn_col).cast("bigint").alias("_clsn"),
        *aligned_cols,
    ).select(
        *[
            (
                F.col("_clsn").alias(LSN_COL)
                if f.name == LSN_COL
                else (F.col("_cop") == F.lit("D")).alias(DELETED_COL)
                if f.name == DELETED_COL
                else F.col(f.name)
            )
            for f in tschema.fields
        ]
    )

    if merge_mode == "mor":
        # Append-only delta write: ONE Spark job — dedup/enrichment flow
        # straight into the bucket-partitioned write, with no target
        # scan, no bucket rewrite, no persist, and no separate stats job
        # (per-bucket lineage = the _lsn min/max + row counts the writer
        # already reads from the parquet footers). Stale/duplicate
        # versions simply lose at read-time collapse — no guard needed.
        entries = table.write_data_files(delta, tschema, kind="delta")
        batch_rows = sum(e["records"] for e in entries)
        lineage: dict[int, dict] = {}
        for e in entries:
            b = lineage.setdefault(e["bucket"], {"rows": 0, "lsn_min": None, "lsn_max": None})
            b["rows"] += e["records"]
            if e.get("lsn_min") is not None:
                b["lsn_min"] = e["lsn_min"] if b["lsn_min"] is None else min(b["lsn_min"], e["lsn_min"])
                b["lsn_max"] = e["lsn_max"] if b["lsn_max"] is None else max(b["lsn_max"], e["lsn_max"])
        extra = {"lineage": lineage, "batch_rows": batch_rows, "merge_strategy": "mor-delta"}
        extra.update(summary_extra or {})
        return table.commit(
            entries,
            replaced_buckets=set(),
            operation="merge",
            stream_id=stream_id,
            batch_id=batch_id,
            summary_extra=extra,
            new_schema=new_schema,
            fence_epoch=fence_epoch,
            # pin the read-time collapse ordering column on first use
            properties_update={"lww_ts_col": ts_col},
        )
    if merge_mode not in ("cow", "cow-latemat"):
        raise ValueError(f"unknown merge_mode {merge_mode!r} (cow|mor|cow-latemat)")

    # ---- copy-on-write: bucket pruning requires the touched-bucket set
    # BEFORE the target scan, so one stats job precedes the write. It
    # runs over a COLUMN-PRUNED (key, ts, lsn) projection of the raw
    # changes — the parquet scan reads only those columns (pushdown-
    # verified), the stats shuffle carries ~24 B rows, and the multi-KB
    # payload + Arrow enrichment run exactly once inside the write job.
    narrow = changes.select(
        F.col(key), F.col(ts_col).cast("timestamp").alias("_ts"),
        F.col(lsn_col).cast("bigint").alias("_l"),
    )
    if dedup:
        narrow = (
            narrow.groupBy(key)
            .agg(F.max(F.struct("_ts", "_l")).alias("_w"))
            .select(key, F.col("_w._l").alias("_l"))
        )
    stats_rows = (
        narrow.withColumn("_cbucket", bucket_expr(key, nb))
        .groupBy("_cbucket")
        .agg(F.count("*").alias("n"), F.min("_l").alias("lmin"), F.max("_l").alias("lmax"))
        .collect()
    )
    touched = {int(r["_cbucket"]) for r in stats_rows}
    batch_rows = sum(int(r["n"]) for r in stats_rows)
    lineage = {
        # lmin/lmax are None when every lsn in the bucket's batch slice
        # is NULL (SQL min/max skip nulls) — keep the lineage row, null
        # range, rather than crashing the merge
        int(r["_cbucket"]): {
            "rows": int(r["n"]),
            "lsn_min": int(r["lmin"]) if r["lmin"] is not None else None,
            "lsn_max": int(r["lmax"]) if r["lmax"] is not None else None,
        }
        for r in stats_rows
    }

    if batch_rows == 0:
        return table.commit([], set(), operation="merge", stream_id=stream_id,
                            batch_id=batch_id, summary_extra=summary_extra,
                            new_schema=new_schema, fence_epoch=fence_epoch)

    final = cow_union_plan(table, delta, sorted(touched), tschema, ts_col)
    entries = table.write_data_files(final, tschema, prepartitioned=True)
    strategy = "cow-union" if merge_mode == "cow" else "cow-latemat"
    extra = {"lineage": lineage, "batch_rows": batch_rows, "merge_strategy": strategy}
    extra.update(summary_extra or {})
    return table.commit(
        entries,
        replaced_buckets=touched,
        operation="merge",
        stream_id=stream_id,
        batch_id=batch_id,
        summary_extra=extra,
        new_schema=new_schema,
        fence_epoch=fence_epoch,
    )

