"""The benchmark's tracer keeps seeing the stream's batch step: it wraps
``datax_spark.cdc.pipeline.apply_changes`` by name, so a traced bounded
``run_stream`` must record one ``cdc.apply`` span per batch with the
``lake.merge`` span under it."""

import glob
import os
import shutil

from pyspark.sql import types as T

import datax_spark.cdc.pipeline as pipeline
from datax_spark.cdc.generator import changes_df
from datax_spark.cdc.pipeline import CHANGE_SCHEMA, run_stream
from datax_spark.lake.table import LakeTable
from perfbench.spans import Tracer


def test_traced_stream_records_apply_and_merge_spans(spark, tmp_path):
    base = str(tmp_path)
    src, root, ckpt = f"{base}/src", f"{base}/table", f"{base}/ckpt"
    changes_df(spark, 200, n_keys=50, partitions=1).coalesce(1).write.parquet(f"{base}/stg")
    os.makedirs(src)
    shutil.move(glob.glob(f"{base}/stg/part-*.parquet")[0], f"{src}/f000.parquet")
    schema = T.StructType([f for f in CHANGE_SCHEMA.fields if f.name not in ("lsn", "op")])
    LakeTable.create(spark, root, schema, key_col="url", num_buckets=2)

    original = pipeline.apply_changes
    tracer = Tracer(spark)
    tracer.install()
    try:
        run_stream(spark, src, root, ckpt, available_now=True, timeout_sec=120)
    finally:
        tracer.uninstall()
    assert pipeline.apply_changes is original

    applies = tracer.named("cdc.apply")
    assert len(applies) == 1
    assert [c.name for c in applies[0].children].count("lake.merge") == 1
