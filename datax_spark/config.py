"""Job-config surface — the DataX JSON job shape, executed on Spark.

The reference's entire user interface is one JSON document:
``job.content[] = {reader, transformer[], writer}`` plus
``job.setting`` (speed/channel, errorLimit) — parsed by
``core/.../util/ConfigParser.java`` into a path-addressed Configuration
(``common/.../util/Configuration.java:67-664``) and validated before the
run (``Engine.java:166``). This module accepts the same *shape* (not a
byte-compatible parser) so a DataX user's mental model carries over:

```json
{"job": {
   "setting": {"speed": {"channel": 8},
               "errorLimit": {"record": 0, "percentage": 0.02}},
   "content": [{
      "reader": {"name": "parquetreader", "parameter": {"path": "..."}},
      "transformer": [{"name": "dx_substr", "parameter":
                       {"columnIndex": 0, "paras": ["0", "5"]}}],
      "writer": {"name": "lakemerger", "parameter": {"path": "...",
                 "keyColumn": "url", "numBuckets": 64,
                 "clusterBy": "warc_ts"}}}]}}
```

``clusterBy`` (optional) pins a zone column at table creation so every
merge write records per-file min/max in the manifest (scan_zone file
skipping; see ``lake/table.py::cluster_by``).

Readers: parquetreader, txtfilereader (csv), streamreader (synthetic),
changereader (CDC parquet tail). Writers: parquetwriter, txtfilewriter,
lakemerger (MERGE INTO the lake table), streamwriter (show/noop).
dryRun mode validates + explains without moving data
(``JobContainer.preCheck``, ``JobContainer.java:103-106``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from datax_spark.hooks import invoke_hooks
from datax_spark.quarantine import ErrorLimits


@dataclass
class JobConfig:
    reader: dict
    writer: dict
    transformers: list[dict] = field(default_factory=list)
    channels: int = 8
    error_limits: ErrorLimits | None = None
    dry_run: bool = False
    cast_defaults: object | None = None  # ColumnCast matrix (common.column.*)

    @staticmethod
    def from_json(path_or_str: str) -> "JobConfig":
        if path_or_str.strip().startswith("{"):
            doc = json.loads(path_or_str)
        else:
            with open(path_or_str) as f:
                doc = json.load(f)
        job = doc["job"]
        content = job["content"][0]
        setting = job.get("setting", {})
        speed = setting.get("speed", {})
        el = setting.get("errorLimit")
        limits = None
        if el is not None:
            limits = ErrorLimits(record=el.get("record"), percentage=el.get("percentage"))
        # ColumnCast defaults: the reference merges core.json's
        # common.column.* under the job (ColumnCast.bind); accept the
        # block at the document top level or inside job/setting.
        common = doc.get("common") or job.get("common") or setting.get("common")
        cast_defaults = None
        if common:
            from datax_spark.functions.column_cast import CastDefaults

            cast_defaults = CastDefaults.from_config({"common": common})
        return JobConfig(
            reader=content["reader"],
            writer=content["writer"],
            transformers=content.get("transformer", []),
            channels=int(speed.get("channel", 8)),
            error_limits=limits,
            dry_run=bool(setting.get("dryRun", False)),
            cast_defaults=cast_defaults,
        )


def _read(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    name = cfg.reader["name"]
    p = cfg.reader.get("parameter", {})
    if name == "parquetreader":
        return spark.read.parquet(*_aslist(p["path"]))
    if name == "txtfilereader":
        from datax_spark.sources.files import read_csv

        return read_csv(
            spark,
            _aslist(p["path"]),
            field_delimiter=p.get("fieldDelimiter", ","),
            encoding=p.get("encoding", "UTF-8"),
            skip_header=bool(p.get("skipHeader", False)),
            null_format=p.get("nullFormat", r"\N"),
            columns=p.get("column"),
            cast_defaults=cfg.cast_defaults,
        )
    if name == "streamreader":
        from datax_spark.sources.synthetic import stream_source

        return stream_source(
            spark,
            slice_record_count=int(p.get("sliceRecordCount", 10)),
            columns=p["column"],
            channels=cfg.channels,
        )
    if name == "changereader":
        return spark.read.parquet(*_aslist(p["path"]))
    if name == "jdbcreader":
        from datax_spark.sources.files import read_jdbc_partitioned

        # reference reader modes (CommonRdbmsReader): querySql = free-form
        # SQL replaces table+column+where; else optional where clause
        table = p.get("table")
        if p.get("querySql"):
            table = f"({p['querySql']}) dx_q"
        elif p.get("where"):
            table = f"(SELECT * FROM {table} WHERE {p['where']}) dx_q"
        return read_jdbc_partitioned(
            spark,
            url=p["jdbcUrl"],
            table=table,
            split_col=p.get("splitPk"),
            lower=p.get("lowerBound"),
            upper=p.get("upperBound"),
            num_partitions=int(p.get("numPartitions", cfg.channels)),
            predicates=p.get("predicates"),
            **p.get("options", {}),
        )
    if name in ("loghubreader", "shardtailreader"):
        # sharded log tail (loghub/datahub/OTS-stream analog) — batch
        # (bounded) read of the shard set via the native Python source
        from datax_spark.sources.shardtail import register_shard_tail

        register_shard_tail(spark)
        r = spark.read.format("shard_tail").option("path", p["path"])
        if p.get("schema"):
            r = r.option("schema", p["schema"])
        return r.load()
    raise ValueError(f"unknown reader {name!r}")


def _transform(df: DataFrame, cfg: JobConfig) -> DataFrame:
    if not cfg.transformers:
        return df
    from datax_spark.functions.transformers import apply_chain

    chain = []
    for t in cfg.transformers:
        par = t.get("parameter", {})
        col = par.get("column")
        if col is None and "columnIndex" in par:
            col = df.columns[int(par["columnIndex"])]
        chain.append({"name": t["name"], "column": col,
                      "paras": [_coerce(x) for x in par.get("paras", [])]})
    return apply_chain(df, chain)


def _write(df: DataFrame, spark: SparkSession, cfg: JobConfig) -> dict:
    name = cfg.writer["name"]
    p = cfg.writer.get("parameter", {})
    mode = p.get("writeMode", "append")
    if name == "parquetwriter":
        from datax_spark.sources.files import write_files

        write_files(df.repartition(cfg.channels), p["path"], "parquet", mode)
        return {"writer": name, "path": p["path"]}
    if name == "txtfilewriter":
        # emit-option parity with the reference's unstructured writer
        # (UnstructuredStorageWriterUtil.java): header is a LIST of column
        # labels written as line 1; compress gzip/bzip2; fieldDelimiter /
        # encoding / nullFormat / dateFormat as configured
        from datax_spark.sources.files import write_files

        out = df.repartition(cfg.channels)
        opts = {
            "sep": p.get("fieldDelimiter", ","),
            "encoding": p.get("encoding", "UTF-8"),
            "nullValue": p.get("nullFormat", r"\N"),
        }
        hdr = p.get("header")
        if isinstance(hdr, (list, tuple)):
            out = out.toDF(*hdr)
            opts["header"] = "true"
        elif hdr is not None:
            opts["header"] = str(hdr).lower()
        if p.get("compress"):
            opts["compression"] = p["compress"]
        if p.get("dateFormat"):
            opts["dateFormat"] = p["dateFormat"]
        write_files(out, p["path"], "csv", mode, **opts)
        return {"writer": name, "path": p["path"]}
    if name == "streamwriter":
        n = df.count()
        if p.get("print"):
            df.show(int(p.get("limit", 20)), truncate=False)
        return {"writer": name, "rows": n}
    if name == "lakemerger":
        from datax_spark.cdc.pipeline import apply_batch
        from datax_spark.lake.table import LakeTable
        from pyspark.sql import types as T

        root = p["path"]
        if p.get("clusterBy") and p["clusterBy"] not in df.columns:
            # a typo'd zone column would otherwise be silent twice over:
            # write_data_files nulls unknown zone cols, and an existing
            # table ignores clusterBy entirely — fail at config time
            raise ValueError(
                f"lakemerger clusterBy={p['clusterBy']!r} is not a writer "
                f"column (have: {sorted(df.columns)})")
        if not LakeTable.exists(root):
            user_schema = T.StructType(
                [f for f in df.schema.fields if f.name not in (
                    p.get("lsnColumn", "lsn"), p.get("opColumn", "op"))]
            )
            table = LakeTable.create(
                spark, root, user_schema,
                key_col=p.get("keyColumn", "url"),
                num_buckets=int(p.get("numBuckets", 64)),
                # "clusterBy": zone column pinned from birth — every
                # merge write records per-file min/max of it in the
                # manifest, so scan_zone file skipping works without a
                # rewrite (cluster_by() later narrows the zones)
                properties=(
                    {"zone_col": p["clusterBy"]} if p.get("clusterBy") else None
                ),
            )
        else:
            table = LakeTable(spark, root).load()
            want = p.get("clusterBy")
            have = table.meta["properties"].get("zone_col")
            if want and want != have:
                # on an existing table clusterBy cannot take effect (the
                # zone column is a pinned table property) — warn loudly
                # instead of silently ignoring the mismatch
                import warnings

                warnings.warn(
                    f"lakemerger clusterBy={want!r} ignored: existing table "
                    f"at {root} pins zone_col={have!r}; run cluster_by() to "
                    f"change it", stacklevel=2)
        # the stream's per-batch step: canonicalizeKey merges on the
        # canonical url, scd2Dir keeps the history table beside the lake
        m = apply_batch(
            table, df,
            batch_id=p.get("batchId"),
            stream_id=p.get("streamId", "job"),
            ts_col=p.get("tsColumn", "warc_ts"),
            lsn_col=p.get("lsnColumn", "lsn"),
            op_col=p.get("opColumn", "op"),
            quarantine_dir=p.get("quarantineDir"),
            error_limits=cfg.error_limits,
            merge_mode=p.get("mergeMode", "cow"),
            canonicalize_key=bool(p.get("canonicalizeKey")),
            scd2_dir=p.get("scd2Dir"),
        )
        return {"writer": name, **{k: v for k, v in m.items() if k != "lineage"}}
    if name == "jdbcwriter":
        from datax_spark.sources.files import write_jdbc_batched
        from datax_spark.sources.jdbc_sql import jdbc_executor

        write_jdbc_batched(
            df,
            url=p["jdbcUrl"],
            table=p["table"],
            write_mode=p.get("writeMode", "insert"),
            batch_size=int(p.get("batchSize", 2048)),
            num_partitions=cfg.channels,
            pre_sql=p.get("preSql"),
            post_sql=p.get("postSql"),
            key_cols=p.get("keyColumns"),
            dialect=p.get("dialect", "mysql"),
            sql_executor=jdbc_executor(
                spark, p["jdbcUrl"], user=p.get("username"), password=p.get("password")
            ),
            # credentials reach the Spark bulk INSERT too, not just the
            # pre/post executor (a DataX-style top-level username/password
            # config must authenticate the data load)
            user=p.get("username"),
            password=p.get("password"),
            **{k: v for k, v in p.get("options", {}).items()},
        )
        return {"writer": name, "table": p["table"]}
    raise ValueError(f"unknown writer {name!r}")


def _aslist(x):
    return x if isinstance(x, list) else [x]


def _coerce(x):
    if isinstance(x, str):
        try:
            return int(x)
        except ValueError:
            return x
    return x


def pre_check(spark: SparkSession, cfg: JobConfig) -> dict:
    """``JobContainer.preCheck`` analog (``core/src/main/java/com/alibaba/
    datax/core/job/JobContainer.java:184-213``): probe reader/writer
    connectivity, permissions, and splitPk validity BEFORE moving data.

    Probes actually connect (JDBC: ``SELECT ... WHERE 1=0`` against the
    real table via DriverManager; files: glob + read/write access), they
    don't just re-validate config shape. Returns {"ok", "checks": [...]}
    with one row per probe; never raises — a failed probe is a result."""
    import glob as _glob

    checks: list[dict] = []

    def add(side: str, check: str, ok: bool, detail: str = "") -> None:
        checks.append({"side": side, "check": check, "ok": bool(ok), "detail": detail})

    def _probe_sql(url: str, sql: str, user, password) -> tuple[bool, str]:
        from datax_spark.sources.jdbc_sql import jdbc_executor

        try:
            jdbc_executor(spark, url, user=user, password=password)(sql)
            return True, ""
        except Exception as e:  # noqa: BLE001 — the failure IS the result
            return False, str(e).splitlines()[0][:200]

    r, rp = cfg.reader["name"], cfg.reader.get("parameter", {})
    if r in ("parquetreader", "txtfilereader", "changereader"):
        for path in _aslist(rp.get("path", [])):
            hits = _glob.glob(path) or ([path] if os.path.exists(path) else [])
            ok = bool(hits) and all(os.access(h, os.R_OK) for h in hits)
            add("reader", f"readable path {path}", ok, f"{len(hits)} match(es)")
    elif r == "jdbcreader":
        url = rp["jdbcUrl"]
        user, pw = rp.get("username"), rp.get("password")
        if rp.get("querySql"):
            probe = f"SELECT * FROM ({rp['querySql']}) dx_pre WHERE 1=0"
        else:
            probe = f"SELECT * FROM {rp['table']} WHERE 1=0"
        ok, detail = _probe_sql(url, probe, user, pw)
        add("reader", f"jdbc connect+select {rp.get('table', 'querySql')}", ok, detail)
        split_pk = rp.get("splitPk")
        if ok and split_pk and not rp.get("querySql"):
            # the reference validates splitPk by running the bounds query
            ok2, d2 = _probe_sql(
                url, f"SELECT MIN({split_pk}), MAX({split_pk}) FROM {rp['table']}", user, pw
            )
            add("reader", f"splitPk bounds {split_pk}", ok2, d2)

    w, wp = cfg.writer["name"], cfg.writer.get("parameter", {})
    if w in ("parquetwriter", "txtfilewriter", "lakemerger"):
        path = wp.get("path", "")
        parent = path
        while parent and not os.path.exists(parent):
            parent = os.path.dirname(parent)
        ok = bool(parent) and os.access(parent, os.W_OK)
        add("writer", f"writable path {path}", ok, f"nearest existing: {parent or '(none)'}")
    elif w == "jdbcwriter":
        url = wp["jdbcUrl"]
        user, pw = wp.get("username"), wp.get("password")
        ok, detail = _probe_sql(url, f"SELECT * FROM {wp['table']} WHERE 1=0", user, pw)
        add("writer", f"jdbc connect+select {wp['table']}", ok, detail)

    return {"ok": all(c["ok"] for c in checks), "checks": checks}


def run_job(spark: SparkSession, config: str | JobConfig,
            hooks: list | None = None, pre_hooks: list | None = None) -> dict:
    """Execute a job config; returns a result/metrics dict.

    Lifecycle mirrors JobContainer phases: parse/validate → (dryRun:
    explain + stop) → ``pre_hooks`` (each ``callable(job_config_dict)``,
    the ``preHandler`` plugin analog — ``JobContainer.java:109-110,
    312-341``; outcomes land in ``result["pre_hooks"]``) → read →
    transform chain → write → report → ``hooks`` (each
    ``callable(job_config_dict, result_dict)``, invoked after the write
    with per-hook error isolation — ``JobContainer.java:971-975`` /
    ``Hook.java:17-25``; outcomes land in ``result["hooks"]``). The
    dryRun path stops before write and invokes no hooks of either kind,
    like the reference's preCheck exit.
    """
    cfg = config if isinstance(config, JobConfig) else JobConfig.from_json(config)
    if cfg.dry_run:
        # JobContainer.preCheck: live connectivity/permission/splitPk
        # probes first, then the plan explanation — both without moving data
        probes = pre_check(spark, cfg)
        df = _read(spark, cfg)
        df = _transform(df, cfg)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        return {"dryRun": True, "preCheck": probes,
                "schema": df.schema.simpleString(), "plan": plan}
    job_doc = {"reader": cfg.reader, "writer": cfg.writer,
               "transformers": cfg.transformers, "channels": cfg.channels}
    pre_results = None
    if pre_hooks:
        pre_results = invoke_hooks(pre_hooks, job_doc)
    df = _read(spark, cfg)
    df = _transform(df, cfg)
    result = _write(df, spark, cfg)
    if pre_results is not None:
        result["pre_hooks"] = pre_results
    if hooks:
        result["hooks"] = invoke_hooks(hooks, job_doc, result)
    return result
