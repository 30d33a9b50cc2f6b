"""The lake table owns its Parquet codec.

Every data file (CoW merge, MoR delta, compaction, bulk load) and every
manifest the engine writes carries a ZSTD footer, whatever the session's
``spark.sql.parquet.compression.codec`` says — checked under the engine
session, under that session switched to snappy, and in a subprocess with
a bare ``getOrCreate()`` session pinned to snappy. Tables that still hold
older snappy files read, look up, feed and compact exactly like
all-zstd ones, and compaction leaves zstd files only.
"""

import datetime
import glob
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
from pyspark.sql import functions as F, types as T

from datax_spark.lake.merge import bulk_load, merge_into
from datax_spark.lake.table import LakeTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("lang", T.StringType(), True),
])
ROW = "url string, warc_ts timestamp, lang string, lsn long, op string"
T0 = datetime.datetime(2024, 1, 1)


def file_codecs(path: str) -> set[str]:
    """Codecs of every column chunk in one parquet file's footer."""
    md = pq.ParquetFile(path).metadata
    return {
        md.row_group(rg).column(c).compression
        for rg in range(md.num_row_groups) for c in range(md.num_columns)
    }


def _changes(spark, keys, lang, ts, lsn0, op="U"):
    rows = [(f"https://x/{k}", ts, lang, lsn0 + i, op) for i, k in enumerate(keys)]
    return spark.createDataFrame(rows, ROW)


def codecs_by_operation(spark, root: str) -> dict[str, list[str]]:
    """Run every write path a stream and its maintenance use on a fresh
    table; return each operation's data-file codecs, plus the manifest's."""
    t = LakeTable.create(spark, root, SCHEMA, key_col="url", num_buckets=4)
    out = {}

    def added(op: str, before: set[str]) -> None:
        new = [e["path"] for e in t.manifest() if e["path"] not in before]
        assert new, op
        out[op] = sorted(set().union(*(file_codecs(os.path.join(root, p)) for p in new)))

    def paths() -> set[str]:
        return {e["path"] for e in t.manifest()}

    pages = spark.range(40).select(
        F.concat(F.lit("https://x/"), F.col("id").cast("string")).alias("url"),
        F.lit(T0).cast("timestamp").alias("warc_ts"), F.lit("a").alias("lang"))
    before = paths()
    bulk_load(t, pages)
    added("bulk_load", before)
    before = paths()
    merge_into(t, _changes(spark, range(5), "cow", T0 + datetime.timedelta(days=1), 100),
               batch_id=0, merge_mode="cow")
    added("cow_merge", before)
    before = paths()
    merge_into(t, _changes(spark, range(3, 9), "mor", T0 + datetime.timedelta(days=2), 200),
               batch_id=1, merge_mode="mor")
    added("mor_delta", before)
    before = paths()
    assert t.compact_buckets(min_files_per_bucket=2) is not None
    added("compact_buckets", before)
    out["manifest"] = sorted(
        file_codecs(os.path.join(root, t.current_snapshot()["manifest"])))
    return out


def _assert_all_zstd(by_op: dict) -> None:
    assert set(by_op) == {"bulk_load", "cow_merge", "mor_delta", "compact_buckets", "manifest"}
    assert all(c == ["ZSTD"] for c in by_op.values()), by_op


def test_every_write_is_zstd_under_engine_session(spark, tmp_path):
    _assert_all_zstd(codecs_by_operation(spark, str(tmp_path / "t")))


def test_every_write_is_zstd_when_session_says_snappy(spark, tmp_path):
    key = "spark.sql.parquet.compression.codec"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "snappy")
    try:
        _assert_all_zstd(codecs_by_operation(spark, str(tmp_path / "t")))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


BARE_RUNNER = """
import json, sys
from pyspark.sql import SparkSession

# deliberately BARE: no engine factory; the codec conf left at snappy
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.parquet.compression.codec", "snappy").getOrCreate())
sys.path.insert(0, %(repo)r)
from tests.test_parquet_codec import codecs_by_operation
print("BARE_CODECS " + json.dumps(codecs_by_operation(spark, sys.argv[1])))
"""


def test_every_write_is_zstd_under_bare_snappy_session(tmp_path):
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK")}
    proc = subprocess.run(
        [sys.executable, "-c", BARE_RUNNER % {"repo": REPO}, str(tmp_path / "t")],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("BARE_CODECS ")]
    assert line, proc.stdout[-2000:]
    _assert_all_zstd(json.loads(line[0].split(" ", 1)[1]))


def test_side_outputs_are_zstd(spark, tmp_path):
    """Quarantine dead letters and the SCD2 change log / history use the
    table's codec too."""
    from datax_spark.cdc.scd2 import Scd2Table
    from datax_spark.quarantine import write_quarantine

    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
    try:
        qdir = str(tmp_path / "q")
        bad = spark.createDataFrame([("u", "X")], "url string, op string").withColumn(
            "_dirty_reason", F.lit("invalid op"))
        write_quarantine(bad, qdir, batch_id=3)
        qfiles = glob.glob(os.path.join(qdir, "*.parquet"))
        assert set().union(*map(file_codecs, qfiles)) == {"ZSTD"}, qfiles

        h = Scd2Table.create(spark, str(tmp_path / "scd2"), key_col="url",
                             ts_col="warc_ts", num_buckets=2)
        h.append_changes(_changes(spark, range(4), "a", T0, 1), batch_id=0)
        h.append_changes(_changes(spark, range(2), "b", T0 + datetime.timedelta(hours=1),
                                  10, op="D"), batch_id=1)
        h.materialize()
        files = glob.glob(os.path.join(str(tmp_path / "scd2"), "**", "*.parquet"),
                          recursive=True)
        assert set().union(*map(file_codecs, files)) == {"ZSTD"}, files
    finally:
        spark.conf.unset("spark.sql.parquet.compression.codec")


def _mixed_and_zstd_tables(spark, tmp_path, monkeypatch):
    """Two tables with identical history: one whose base and first delta
    are snappy (as written before the codec moved into the table), one
    written by the current engine throughout."""
    import datax_spark.lake.table as table_mod

    def write(t, df, codec, kind="base"):
        with monkeypatch.context() as mp:
            mp.setattr(table_mod, "PARQUET_CODEC", codec)
            return t.write_data_files(df, t.schema(), kind=kind)

    tables = {}
    for name in ("mixed", "zstd"):
        t = LakeTable.create(spark, str(tmp_path / name), SCHEMA, key_col="url",
                             num_buckets=4, properties={"lww_ts_col": "warc_ts"})
        base = spark.range(30).select(
            F.concat(F.lit("https://x/"), F.col("id").cast("string")).alias("url"),
            F.lit(T0).cast("timestamp").alias("warc_ts"), F.lit("a").alias("lang"),
            F.col("id").alias("_lsn"), F.lit(False).alias("_deleted"))
        delta = base.where(F.col("_lsn") < 10).select(
            "url", F.lit(T0 + datetime.timedelta(days=1)).cast("timestamp").alias("warc_ts"),
            F.lit("old-delta").alias("lang"), (F.col("_lsn") + 1000).alias("_lsn"),
            (F.col("_lsn") == 4).alias("_deleted"))
        codec = "snappy" if name == "mixed" else "zstd"
        t.commit(write(t, base, codec), operation="append")
        t.commit(write(t, delta, codec, kind="delta"), operation="merge")
        # then the same zstd MoR batch on both
        merge_into(t, _changes(spark, range(8, 14), "new", T0 + datetime.timedelta(days=2),
                               2000), batch_id=0, merge_mode="mor")
        tables[name] = t
    return tables["mixed"], tables["zstd"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_mixed_snappy_and_zstd_table_reads_unchanged(spark, tmp_path, monkeypatch):
    mixed, pure = _mixed_and_zstd_tables(spark, tmp_path, monkeypatch)
    codecs = lambda t: set().union(*(  # noqa: E731
        file_codecs(os.path.join(t.root, e["path"])) for e in t.manifest()))
    assert codecs(mixed) == {"SNAPPY", "ZSTD"} and codecs(pure) == {"ZSTD"}

    live = _rows(mixed.read())
    assert live == _rows(pure.read())
    assert len(live) == 29  # key 4 deleted by the old delta
    for k in (0, 4, 9, 12, 29, 99):
        key = f"https://x/{k}"
        want = [r for r in live if r[0] == key]
        assert _rows(mixed.lookup(key)) == _rows(pure.lookup(key)) == want, key
    first = mixed.snapshots()[0]["snapshot_id"]
    assert first == pure.snapshots()[0]["snapshot_id"]
    assert _rows(mixed.read_incremental(first)) == _rows(pure.read_incremental(first))

    for t in (mixed, pure):
        assert t.compact_buckets(min_files_per_bucket=1) is not None
    assert codecs(mixed) == codecs(pure) == {"ZSTD"}
    assert _rows(mixed.read(include_deleted=True, include_system=True)) == _rows(
        pure.read(include_deleted=True, include_system=True))
