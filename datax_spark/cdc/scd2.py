"""SCD Type 2 history tracking over a CDC change feed.

Every CDC ingest engine that feeds a warehouse needs the *history*
shape, not just the LWW live state: one row per (key, version) with a
``[valid_from, valid_to)`` interval, ``is_current`` on the open row, and
point-in-time (``AS OF``) queries. The reference's writer surface stops
at insert/replace/update per row (RDBMS writer modes,
``plugin-rdbms-util/.../WriterUtil.java`` insert/replace/on-duplicate
templates); interval maintenance is engine-added surface on top of the
same change algebra (I/U/D ops, order by (ts, lsn)) the lake MERGE uses
(``datax_spark/lake/merge.py``).

Two layers:

- :func:`scd2_snapshot` — the pure derivation: change feed in, interval
  table out. One hash exchange on the key, then a per-key window; no
  state, composable with any feed (including ``LakeTable.incremental``).
- :class:`Scd2Table` — an incrementally-maintained history store:
  append-only bucketed change log with batch-id fencing, a materialized
  interval cache, and MoR-style read fix-up: only keys touched since
  the last materialization are recomputed at read; untouched keys come
  straight from the cache via an anti-join against the (small,
  broadcast) affected-key set.

**The cache is lossless.** ``materialize(fold=True)`` deletes the
covered log directories, so the original change feed must be exactly
reconstructible from the cache alone (late, out-of-order changes can
rewrite any key's intervals later). Reconstruction:

- every interval row is its own opening change (ts/lsn/attrs intact);
- every interval's closer is a change at (valid_to_ts, valid_to_lsn) —
  either the next version's open (already reconstructed) or a delete;
  the split is an anti-join of closers against opens on (key, lsn);
- deletes that close NOTHING (a D following another D, or a D on a key
  never seen) leave no interval trace, so they live in a side file —
  compacted at each materialize to only the still-dangling ones (a
  dangling D becomes interval-recoverable the moment a late change
  opens a version under it, and vice versa a closing D can go dangling
  when a later-delivered earlier D slots in front of it; both are
  handled by recomputing the dangling set against the NEW intervals).

Convergence under arbitrary batch splits / delivery orders / fold
points is pinned by tests/test_scd2.py against the pure full-feed
snapshot.

Scale shape: appends are pass-through writes (zero shuffle, bucket-
labeled for downstream locality); ``history()`` costs one window
shuffle over only the affected keys' rows; ``materialize`` is the one
full pass — the compaction analog, cost ∝ table, cadence operator-
chosen. The dangling-deletes file is bounded by deletes-with-no-prior-
row, typically ≈ 0.

Interval semantics (left-closed, right-open):
- each non-D change opens a version at its (ts, lsn);
- the next change of the same key (any op) closes it at that change's
  (ts, lsn);
- a D closes the previous version and opens nothing — a key deleted at
  t has NO interval covering t;
- ordering is (ts, lsn); at-least-once delivery is absorbed by a
  (key, lsn) dedupe before the window.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from datax_spark.lake.table import PARQUET_CODEC, bucket_expr

__all__ = ["scd2_snapshot", "scd2_lookup_join", "Scd2Table"]

_V_COLS = ["valid_from_ts", "valid_from_lsn", "valid_to_ts", "valid_to_lsn", "is_current"]


def scd2_snapshot(
    changes: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    lsn_col: str = "lsn",
    op_col: str = "op",
) -> DataFrame:
    """Derive the SCD2 interval table from a change feed.

    Output: key + every attribute column + ``valid_from_ts``,
    ``valid_from_lsn``, ``valid_to_ts``, ``valid_to_lsn`` (NULL on the
    open version), ``is_current`` (int 1/0 — int, not boolean, so the
    column stringifies identically across engines in the oracle gate).
    Attribute columns are all input columns except key/ts/lsn/op.
    Duplicate (key, lsn) deliveries collapse to one change.

    Per-key skew ceiling (measured r6, ``bench_extra.py scd2_hotkey``):
    one key with 10^5 versions beside 10^5 single-version keys derives
    in 1.4 s at local[32] — the window's lag/lead state is O(1) per row,
    so a hot key costs one task sorting its own versions, linear in that
    key's depth. The honest ceiling is a SINGLE key whose version rows
    exceed one task's spill-friendly sort (~10^8 rows); past that, split
    the feed by lsn range and fold via ``Scd2Table`` batches.
    """
    attr_cols = [c for c in changes.columns if c not in (key_col, ts_col, lsn_col, op_col)]
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc(), F.col(lsn_col).asc())
    # At-least-once dedupe via lag over the SAME window rather than
    # dropDuplicates: (a) identical redeliveries sort adjacent under
    # (ts, lsn), so lag(lsn)==lsn marks them with no extra exchange
    # (dropDuplicates/groupBy would add a (key,lsn) shuffle); (b) a
    # Deduplicate node under a Window on the LEFT of exceptAll trips a
    # Spark 4.1 optimizer bug (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in the
    # RewriteExceptAll sum aggregate — minimal repro in the session
    # notes), which this shape avoids. Contract: duplicates are
    # identical WAL redeliveries of one (key, lsn) change.
    marked = changes.select(key_col, ts_col, lsn_col, op_col, *attr_cols).withColumn(
        "_redelivery", F.lag(lsn_col).over(w) == F.col(lsn_col)
    )
    v = (
        marked.where(~F.coalesce(F.col("_redelivery"), F.lit(False)))
        .drop("_redelivery")
        .withColumns(
            {
                "valid_to_ts": F.lead(ts_col).over(w),
                "valid_to_lsn": F.lead(lsn_col).over(w),
            }
        )
    )
    return (
        v.where(F.col(op_col) != "D")
        .select(
            key_col,
            *attr_cols,
            F.col(ts_col).alias("valid_from_ts"),
            F.col(lsn_col).alias("valid_from_lsn"),
            "valid_to_ts",
            "valid_to_lsn",
            F.col("valid_to_ts").isNull().cast("int").alias("is_current"),
        )
    )


def scd2_lookup_join(
    facts: DataFrame,
    history: DataFrame,
    key_col: str,
    fact_ts_col: str,
    how: str = "inner",
    fact_key_col: str | None = None,
) -> DataFrame:
    """Enrich a fact stream with the dimension version IN FORCE at each
    fact's event time — the consumption pattern SCD2 exists for.

    ``history`` is interval rows (``scd2_snapshot`` output /
    ``Scd2Table.history()``). Each fact matches the unique version with
    ``valid_from_ts <= fact_ts < valid_to_ts`` (open intervals match to
    ∞); facts during a deletion hole (or before the first version) get
    no match — NULLs under ``how="left"``.

    Scale shape: a plain EQUI-join on the key (co-partitionable,
    broadcastable when the dimension is small) with the interval test as
    a join-level filter — per key there are only as many candidate rows
    as versions, so the pre-filter fan-out is bounded by version count,
    never a range-join blow-up. Uniqueness of the match is structural
    (intervals of one key never overlap).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    fk = fact_key_col or key_col
    clash = (set(facts.columns) & set(history.columns)) - {key_col}
    if clash:
        raise ValueError(
            f"fact/history column collision {sorted(clash)}: rename or "
            f"project one side first (the join would produce ambiguous "
            f"duplicate columns)"
        )
    h = history.select(
        F.col(key_col).alias("_hk"),
        *[F.col(c) for c in history.columns if c != key_col],
    )
    ts = facts[fact_ts_col]
    cond = (
        (facts[fk] == h["_hk"])
        & (h["valid_from_ts"] <= ts)
        & (h["valid_to_ts"].isNull() | (h["valid_to_ts"] > ts))
    )
    return facts.join(h, cond, "inner" if how == "inner" else "leftOuter").drop("_hk")


class Scd2Table:
    """Incrementally-maintained SCD2 history store on a directory.

    Layout::

        root/_meta.json        applied/folded batch ids, cache pointer
        root/log/b<id>/        one parquet dir per applied change batch
        root/hist/v<n>/        interval cache + dangling-deletes side file

    Appends are fenced by ``batch_id`` (re-delivery of a committed batch
    is a no-op — the stream-load-label pattern the lake MERGE uses,
    SURVEY §2.3). The batch write is idempotent (overwrite into the
    batch's own directory, meta recorded after), so a crash between
    write and record replays cleanly.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ---------------------------------------------------------- meta
    @property
    def _meta_path(self) -> str:
        return os.path.join(self.root, "_meta.json")

    def _meta(self) -> dict:
        with open(self._meta_path) as f:
            return json.load(f)

    def _write_meta(self, m: dict) -> None:
        tmp = f"{self._meta_path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._meta_path)

    # ---------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        key_col: str,
        ts_col: str = "ts",
        lsn_col: str = "lsn",
        op_col: str = "op",
        num_buckets: int = 8,
    ) -> "Scd2Table":
        os.makedirs(os.path.join(root, "log"), exist_ok=True)
        t = cls(spark, root)
        t._write_meta(
            {
                "key_col": key_col,
                "ts_col": ts_col,
                "lsn_col": lsn_col,
                "op_col": op_col,
                "num_buckets": num_buckets,
                "applied": [],       # batch ids with live log dirs
                "folded": [],        # batch ids folded into hist, logs gone
                "hist_version": None,
                "hist_covers": [],   # live batch ids the cache also covers
            }
        )
        return t

    # ---------------------------------------------------------- append
    @staticmethod
    def _bdir(batch_id) -> str:
        # int ids zero-pad for stable sort; string ids (e.g. the stream
        # pipeline's "<epoch>-<batch>" keys) pass through verbatim
        return f"b{batch_id:08d}" if isinstance(batch_id, int) else f"b{batch_id}"

    def append_changes(self, changes: DataFrame, batch_id) -> bool:
        """Fenced append of one change batch (int or string id). Returns
        False if the batch id was already committed (fence no-op).

        When a retention horizon is set (``materialize(retain_closed_
        after=...)``), changes at or before the horizon are refused: the
        expired history they would interleave with is gone, so accepting
        them could fabricate wrong intervals (e.g. a pre-horizon late
        insert going "current" on a key whose closing delete was
        expired). The refused range (``ts <= horizon``) coincides
        exactly with the expired range — materialize drops closed
        intervals with ``valid_to_ts <= horizon`` and GCs dangling
        deletes at ``ts <= horizon``, so a late change at exactly
        ``ts == horizon`` can no longer interleave with an expired
        same-timestamp closer/delete. The retention contract is the
        standard pair: horizon-expiry + an append watermark at the same
        horizon.
        """
        m = self._meta()
        if batch_id in m["applied"] or batch_id in m["folded"]:
            return False
        horizon = m.get("retention_horizon")
        if horizon is not None:
            ts = m["ts_col"]
            too_old = changes.where(
                F.col(ts) <= F.lit(horizon).cast("timestamp")
            ).limit(1).count()
            if too_old:
                raise ValueError(
                    f"batch contains changes at or before the retention "
                    f"horizon {horizon}; expired history cannot be "
                    f"consistently re-interleaved"
                )
        path = os.path.join(self.root, "log", self._bdir(batch_id))
        changes.withColumn(
            "_bucket", bucket_expr(m["key_col"], m["num_buckets"])
        ).write.mode("overwrite").option("compression", PARQUET_CODEC).parquet(path)
        m = self._meta()
        if batch_id not in m["applied"]:
            m["applied"] = sorted(m["applied"] + [batch_id])
            self._write_meta(m)
        return True

    # ---------------------------------------------------------- internals
    def _log_df(self, batch_ids: list[int]) -> DataFrame | None:
        """Union of the batch logs, schema-evolution-safe: each batch dir
        is read under its own schema and united by name with missing
        columns as NULL (a later batch may carry attribute columns an
        earlier one lacked — a single multi-path parquet read would
        silently pick one file's schema)."""
        paths = [os.path.join(self.root, "log", self._bdir(b)) for b in batch_ids]
        if not paths:
            return None
        dfs = [self.spark.read.parquet(p).drop("_bucket") for p in paths]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def _hist_paths(self, m: dict) -> tuple[str, str] | None:
        if m["hist_version"] is None:
            return None
        base = os.path.join(self.root, "hist", f"v{m['hist_version']}")
        return os.path.join(base, "intervals"), os.path.join(base, "deletes")

    def _changes_from_cache(self, m: dict, keys_df: DataFrame | None) -> DataFrame | None:
        """Exact reconstruction of every cached change (optionally only
        for keys in ``keys_df``): interval opens ∪ interval closers that
        are not opens (those are deletes) ∪ the dangling-deletes file."""
        paths = self._hist_paths(m)
        if paths is None:
            return None
        k, ts, lsn, op = m["key_col"], m["ts_col"], m["lsn_col"], m["op_col"]
        hist = self.spark.read.parquet(paths[0])
        if keys_df is not None:
            hist = hist.join(F.broadcast(keys_df), k, "left_semi")
        attr_cols = [c for c in hist.columns if c not in (k, *_V_COLS)]
        null_attrs = [
            F.lit(None).cast(hist.schema[c].dataType).alias(c) for c in attr_cols
        ]
        opens = hist.select(
            F.col(k),
            F.col("valid_from_ts").alias(ts),
            F.col("valid_from_lsn").alias(lsn),
            F.lit("U").alias(op),
            *attr_cols,
        )
        closers = hist.where(F.col("valid_to_ts").isNotNull()).select(
            F.col(k),
            F.col("valid_to_ts").alias(ts),
            F.col("valid_to_lsn").alias(lsn),
            F.lit("D").alias(op),
            *null_attrs,
        )
        closing_deletes = closers.join(opens.select(k, lsn), [k, lsn], "left_anti")
        out = opens.unionByName(closing_deletes)
        dangling = self.spark.read.parquet(paths[1])
        if keys_df is not None:
            dangling = dangling.join(F.broadcast(keys_df), k, "left_semi")
        return out.unionByName(dangling, allowMissingColumns=True)

    # ---------------------------------------------------------- reads
    def history(self) -> DataFrame:
        """The full interval table: cache rows for untouched keys, window
        recompute for keys with post-cache changes."""
        m = self._meta()
        k = m["key_col"]
        fresh_ids = [b for b in m["applied"] if b not in m["hist_covers"]]
        fresh = self._log_df(fresh_ids)
        paths = self._hist_paths(m)

        if paths is None:
            if fresh is None:
                raise ValueError("empty Scd2Table: no batches appended")
            return scd2_snapshot(fresh, k, m["ts_col"], m["lsn_col"], m["op_col"])
        hist = self.spark.read.parquet(paths[0])
        if fresh is None:
            return hist

        affected = fresh.select(k).distinct()
        untouched = hist.join(F.broadcast(affected), k, "left_anti")
        cached = self._changes_from_cache(m, affected)
        all_ch = fresh if cached is None else fresh.unionByName(
            cached, allowMissingColumns=True
        )
        recomputed = scd2_snapshot(all_ch, k, m["ts_col"], m["lsn_col"], m["op_col"])
        # attribute columns added by fresh batches surface as NULL on
        # cached untouched rows (schema evolution at read)
        return untouched.unionByName(recomputed, allowMissingColumns=True)

    def current(self) -> DataFrame:
        return self.history().where(F.col("is_current") == 1)

    def as_of(self, ts) -> DataFrame:
        """Point-in-time snapshot: versions whose interval covers ``ts``
        (left-closed, right-open; deleted keys absent)."""
        at = F.lit(ts).cast("timestamp")
        return self.history().where(
            (F.col("valid_from_ts") <= at)
            & (F.col("valid_to_ts").isNull() | (F.col("valid_to_ts") > at))
        )

    # ---------------------------------------------------------- maintain
    def materialize(self, fold: bool = False, retain_closed_after=None) -> int:
        """Write the current full history as the new cache version and
        recompute the dangling-deletes file against it. ``fold=True``
        additionally deletes the covered log directories — the
        compaction that bounds log growth.

        ``retain_closed_after`` (a timestamp/ISO string) sets/advances
        the retention horizon: CLOSED intervals with ``valid_to_ts`` at
        or before it are dropped from the cache (open/current rows are
        never dropped, whatever their age), dangling deletes at or
        before it are garbage-collected, and future appends older than
        the horizon are refused (see ``append_changes``). ``as_of`` at
        times under the horizon is then explicitly incomplete — that is
        the point of retention."""
        m = self._meta()
        k, ts, lsn, op = m["key_col"], m["ts_col"], m["lsn_col"], m["op_col"]
        ver = 0 if m["hist_version"] is None else m["hist_version"] + 1
        base = os.path.join(self.root, "hist", f"v{ver}")
        ipath, dpath = os.path.join(base, "intervals"), os.path.join(base, "deletes")

        horizon = retain_closed_after if retain_closed_after is not None \
            else m.get("retention_horizon")
        hist_df = self.history()
        if horizon is not None:
            cut = F.lit(str(horizon)).cast("timestamp")
            hist_df = hist_df.where(
                F.col("valid_to_ts").isNull() | (F.col("valid_to_ts") > cut)
            )
        hist_df.write.mode("overwrite").option("compression", PARQUET_CODEC).parquet(ipath)
        new_hist = self.spark.read.parquet(ipath)

        # every delete in the table = cached deletes ∪ fresh-log deletes;
        # dangling = those not closing any interval of the NEW history
        fresh_ids = [b for b in m["applied"] if b not in m["hist_covers"]]
        fresh = self._log_df(fresh_ids)
        cached = self._changes_from_cache(m, None)
        d_parts = []
        if cached is not None:
            d_parts.append(cached.where(F.col(op) == "D"))
        if fresh is not None:
            d_parts.append(fresh.where(F.col(op) == "D").dropDuplicates([k, lsn]))
        attr_cols = [c for c in new_hist.columns if c not in (k, *_V_COLS)]
        if d_parts:
            all_d = d_parts[0]
            for p in d_parts[1:]:
                all_d = all_d.unionByName(p, allowMissingColumns=True)
            all_d = all_d.dropDuplicates([k, lsn]).select(
                k, ts, lsn, op,
                *[F.lit(None).cast(new_hist.schema[c].dataType).alias(c) for c in attr_cols],
            )
            closers = new_hist.where(F.col("valid_to_ts").isNotNull()).select(
                F.col(k), F.col("valid_to_lsn").alias(lsn)
            )
            dangling = all_d.join(closers, [k, lsn], "left_anti")
            if horizon is not None:
                dangling = dangling.where(
                    F.col(ts) > F.lit(str(horizon)).cast("timestamp")
                )
        else:
            dangling = None
        if dangling is None:
            # typed empty frame with the reconstruction-change schema
            sample = new_hist.select(
                F.col(k),
                F.col("valid_from_ts").alias(ts),
                F.col("valid_from_lsn").alias(lsn),
                F.lit("D").alias(op),
                *[F.lit(None).cast(new_hist.schema[c].dataType).alias(c) for c in attr_cols],
            )
            dangling = sample.limit(0)
        dangling.write.mode("overwrite").option(
            "compression", PARQUET_CODEC).parquet(dpath)

        m = self._meta()
        covered = list(m["applied"])
        prev_ver = m["hist_version"]
        m["hist_version"] = ver
        if horizon is not None:
            m["retention_horizon"] = str(horizon)
        if fold:
            m["folded"] = sorted(set(m["folded"]) | set(covered))
            m["applied"] = []
            m["hist_covers"] = []
        else:
            m["hist_covers"] = covered
        self._write_meta(m)
        if fold:
            for b in covered:
                shutil.rmtree(
                    os.path.join(self.root, "log", self._bdir(b)), ignore_errors=True
                )
        if prev_ver is not None:
            shutil.rmtree(
                os.path.join(self.root, "hist", f"v{prev_ver}"), ignore_errors=True
            )
        return ver
