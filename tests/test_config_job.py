"""DataX-shaped job config execution (reader → transformer chain → writer)."""

import json

from datax_spark.config import JobConfig, run_job


def test_stream_to_streamwriter(spark):
    cfg = JobConfig.from_json(json.dumps({
        "job": {
            "setting": {"speed": {"channel": 4}},
            "content": [{
                "reader": {"name": "streamreader", "parameter": {
                    "sliceRecordCount": 10,
                    "column": [
                        {"type": "string", "value": "DataX", "name": "c0"},
                        {"type": "long", "random": "0, 9", "name": "c1"},
                    ]}},
                "writer": {"name": "streamwriter", "parameter": {}},
            }],
        }
    }))
    out = run_job(spark, cfg)
    assert out["rows"] == 40  # sliceRecordCount × channels


def test_transform_chain_and_parquet_writer(spark, tmp_path):
    dst = str(tmp_path / "out")
    cfg = JobConfig.from_json(json.dumps({
        "job": {
            "setting": {"speed": {"channel": 2}},
            "content": [{
                "reader": {"name": "streamreader", "parameter": {
                    "sliceRecordCount": 5,
                    "column": [{"type": "string", "value": "DataX", "name": "c0"}]}},
                "transformer": [
                    {"name": "dx_pad", "parameter": {"column": "c0", "paras": ["r", 8, "_"]}},
                    {"name": "dx_digest", "parameter": {"column": "c0", "paras": ["md5", "toUpperCase"]}},
                ],
                "writer": {"name": "parquetwriter", "parameter": {"path": dst, "writeMode": "nonConflict"}},
            }],
        }
    }))
    run_job(spark, cfg)
    import hashlib

    rows = spark.read.parquet(dst).collect()
    assert len(rows) == 10
    assert rows[0]["c0"] == hashlib.md5(b"DataX___").hexdigest().upper()


def test_lakemerger_writer(spark, tmp_path):
    src = str(tmp_path / "changes")
    root = str(tmp_path / "table")
    from datax_spark.cdc.generator import changes_df

    changes_df(spark, 500, n_keys=100, partitions=2).write.parquet(src)
    cfg = JobConfig.from_json(json.dumps({
        "job": {
            "setting": {"errorLimit": {"record": 0}},
            "content": [{
                "reader": {"name": "changereader", "parameter": {"path": src}},
                "writer": {"name": "lakemerger", "parameter": {
                    "path": root, "keyColumn": "url", "numBuckets": 4, "batchId": 0}},
            }],
        }
    }))
    out = run_job(spark, cfg)
    assert out["batch_rows"] > 0
    from datax_spark.lake.table import LakeTable

    t = LakeTable(spark, root).load()
    assert t.read().count() > 0
    # re-running the same job (same batchId) is fenced to a no-op
    out2 = run_job(spark, cfg)
    assert out2["skipped"] is True


def test_lakemerger_cluster_by_zone_capture(spark, tmp_path):
    # "clusterBy" pins the zone column at create time: merge writes
    # carry per-file min/max in the manifest with NO rewrite, and
    # scan_zone matches a plain filter
    src = str(tmp_path / "changes")
    root = str(tmp_path / "table")
    from datax_spark.cdc.generator import changes_df

    changes_df(spark, 500, n_keys=100, partitions=2).write.parquet(src)
    cfg = JobConfig.from_json(json.dumps({
        "job": {
            "setting": {"errorLimit": {"record": 0}},
            "content": [{
                "reader": {"name": "changereader", "parameter": {"path": src}},
                "writer": {"name": "lakemerger", "parameter": {
                    "path": root, "keyColumn": "url", "numBuckets": 4,
                    "batchId": 0, "clusterBy": "warc_ts"}},
            }],
        }
    }))
    run_job(spark, cfg)
    from pyspark.sql import functions as F

    from datax_spark.lake.table import LakeTable

    t = LakeTable(spark, root).load()
    ents = t.manifest()
    assert ents and all(e["zone_col"] == "warc_ts" for e in ents)
    lo, hi = t.read().agg(F.min("warc_ts"), F.max("warc_ts")).first()
    mid = lo + (hi - lo) / 2
    got = t.scan_zone(lo, mid).count()
    want = t.read().filter(F.col("warc_ts").between(lo, mid)).count()
    assert got == want > 0


def test_dry_run_returns_plan(spark):
    cfg = JobConfig.from_json(json.dumps({
        "job": {
            "setting": {"dryRun": True},
            "content": [{
                "reader": {"name": "streamreader", "parameter": {
                    "sliceRecordCount": 3,
                    "column": [{"type": "long", "random": "0, 5", "name": "c0"}]}},
                "writer": {"name": "streamwriter", "parameter": {}},
            }],
        }
    }))
    out = run_job(spark, cfg)
    assert out["dryRun"] is True and "c0" in out["schema"]


def test_job_lakemerger_mor(spark, tmp_path):
    """job.json CDC path in merge-on-read mode: deltas append, reads collapse."""
    import json

    from datax_spark.config import run_job
    from datax_spark.lake.table import LakeTable
    from pyspark.sql import functions as F

    src = str(tmp_path / "changes")
    spark.range(100).select(
        F.col("id").alias("lsn"), F.lit("I").alias("op"),
        F.concat(F.lit("https://x/"), (F.col("id") % 40).cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("warc_ts"),
        F.lit("en").alias("lang"),
    ).write.parquet(src)
    root = str(tmp_path / "lake")
    job = {
        "job": {
            "setting": {"speed": {"channel": 4}},
            "content": [{
                "reader": {"name": "changereader", "parameter": {"path": src}},
                "writer": {"name": "lakemerger", "parameter": {
                    "path": root, "keyColumn": "url", "numBuckets": 4,
                    "tsColumn": "warc_ts", "mergeMode": "mor", "batchId": 0}},
            }],
        }
    }
    out = run_job(spark, json.dumps(job))
    assert out["batch_rows"] == 40  # LWW winners (40 keys)
    t = LakeTable(spark, root).load()
    assert t.read().count() == 40
    assert any(e.get("kind") == "delta" for e in t.manifest())


def test_txtfilewriter_emit_option_parity(spark, tmp_path):
    """UnstructuredStorageWriterUtil emit options: header LIST as line 1,
    gzip compress, custom delimiter + nullFormat."""
    import glob
    import gzip
    import json

    from datax_spark.config import run_job

    src = tmp_path / "in.csv"
    src.write_text("1,alpha\n2,\\N\n")
    out_dir = str(tmp_path / "out")
    doc = {
        "job": {"content": [{
            "reader": {"name": "txtfilereader", "parameter": {
                "path": str(src),
                "column": [{"index": 0, "type": "long", "name": "id"},
                           {"index": 1, "type": "string", "name": "word"}],
            }},
            "writer": {"name": "txtfilewriter", "parameter": {
                "path": out_dir,
                "fieldDelimiter": ";",
                "header": ["ID", "WORD"],
                "compress": "gzip",
                "nullFormat": "\\N",
            }},
        }], "setting": {"speed": {"channel": 1}}},
    }
    run_job(spark, json.dumps(doc))
    files = glob.glob(f"{out_dir}/*.csv.gz")
    assert files, "expected gzip csv part files"
    lines = []
    for f in sorted(files):
        with gzip.open(f, "rt") as fh:
            lines += [ln.rstrip("\n") for ln in fh if ln.strip()]
    header = [ln for ln in lines if ln == "ID;WORD"]
    data = sorted(ln for ln in lines if ln != "ID;WORD")
    assert header  # the header list is written as the first line
    assert data == ["1;alpha", "2;\\N"]  # delimiter + nullFormat parity


def test_lakemerger_canonicalize_key(spark, tmp_path):
    """Config-layer crawl-dedup: canonicalizeKey=True merges two raw
    spellings of one page into a single lake row keyed canonically."""
    import datetime

    from datax_spark.lake.table import LakeTable

    src = str(tmp_path / "changes")
    root = str(tmp_path / "table")
    rows = [
        (1, "I", "HTTP://Site.Example/a/", datetime.datetime(2024, 1, 1, 0, 0), "v1"),
        (2, "U", "http://site.example/a#f", datetime.datetime(2024, 1, 1, 0, 1), "v2"),
    ]
    spark.createDataFrame(
        rows, "lsn long, op string, url string, warc_ts timestamp, lang string"
    ).write.parquet(src)
    cfg = JobConfig.from_json(json.dumps({
        "job": {"content": [{
            "reader": {"name": "parquetreader", "parameter": {"path": src}},
            "writer": {"name": "lakemerger", "parameter": {
                "path": root, "keyColumn": "url", "numBuckets": 2,
                "batchId": 0, "canonicalizeKey": True}},
        }]}
    }))
    run_job(spark, cfg)
    got = LakeTable(spark, root).load().read().collect()
    assert len(got) == 1
    assert got[0]["url"] == "http://site.example/a"
    assert got[0]["lang"] == "v2"


def test_lakemerger_scd2_dual_sink_from_config(spark, tmp_path):
    """scd2Dir in the lakemerger job config maintains the history table
    alongside the lake; current() equals the lake live state, and the
    composite job/batch fence key no-ops a re-run."""
    src = str(tmp_path / "changes")
    root = str(tmp_path / "table")
    hist_dir = str(tmp_path / "hist")
    from datax_spark.cdc.generator import changes_df

    changes_df(spark, 600, n_keys=120, partitions=2).write.parquet(src)
    cfg = JobConfig.from_json(json.dumps({
        "job": {
            "setting": {"errorLimit": {"record": 0}},
            "content": [{
                "reader": {"name": "changereader", "parameter": {"path": src}},
                "writer": {"name": "lakemerger", "parameter": {
                    "path": root, "keyColumn": "url", "numBuckets": 4,
                    "batchId": 0, "scd2Dir": hist_dir}},
            }],
        }
    }))
    run_job(spark, cfg)
    from datax_spark.cdc.scd2 import Scd2Table
    from datax_spark.lake.table import LakeTable

    t = LakeTable(spark, root).load()
    hist = Scd2Table(spark, hist_dir)
    live = t.read().select("url", "lang")
    cur = hist.current().select("url", "lang")
    assert live.exceptAll(cur).count() == 0 and cur.exceptAll(live).count() == 0

    n_hist = hist.history().count()
    run_job(spark, cfg)  # fenced on both sinks
    assert hist.history().count() == n_hist


def test_lakemerger_scd2_unfenced_runs_all_reach_history(spark, tmp_path):
    """Without a batchId the lake applies every run, so the history must
    too: a second run with new changes lands in both sinks, current()
    still equals the lake's live state, and each run keeps its own
    metrics row."""
    from datax_spark.cdc.generator import changes_df
    from datax_spark.cdc.pipeline import read_metrics
    from datax_spark.cdc.scd2 import Scd2Table
    from datax_spark.lake.table import LakeTable

    root = str(tmp_path / "table")
    hist_dir = str(tmp_path / "hist")
    ch = changes_df(spark, 600, n_keys=120, partitions=2)
    srcs = [str(tmp_path / "c1"), str(tmp_path / "c2")]
    ch.filter("lsn <= 300").write.parquet(srcs[0])
    ch.filter("lsn > 300").write.parquet(srcs[1])

    def cfg(src):
        return JobConfig.from_json(json.dumps({
            "job": {"content": [{
                "reader": {"name": "changereader", "parameter": {"path": src}},
                "writer": {"name": "lakemerger", "parameter": {
                    "path": root, "keyColumn": "url", "numBuckets": 4,
                    "scd2Dir": hist_dir}},
            }]}
        }))

    run_job(spark, cfg(srcs[0]))
    hist = Scd2Table(spark, hist_dir)
    n1 = hist.history().count()
    run_job(spark, cfg(srcs[1]))
    assert hist.history().count() > n1

    live = LakeTable(spark, root).load().read().select("url", "lang")
    cur = hist.current().select("url", "lang")
    assert live.exceptAll(cur).count() == 0 and cur.exceptAll(live).count() == 0

    rows = read_metrics(root)
    assert [(m["batch_id"], m["skipped"]) for m in rows] == [(None, False), (None, False)]
    assert [m["rows_in"] for m in rows] == [300, 300]
