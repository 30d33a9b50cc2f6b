"""Bloom-filter semi-join pruning — the classic big-join reducer.

At 100 TB the expensive part of ``fact JOIN dim`` on a selective dim is
shuffling fact rows that can never match. A Bloom filter built from the
dim side's keys (KBs–MBs for millions of keys) prunes those rows AT THE
SCAN, before any exchange: only might-match rows (true matches + the
fpp false-positive sliver) reach the shuffle, and the exact join then
removes the false positives — the final result is byte-identical to the
plain join, which is exactly what makes the operator oracle-checkable.

Spark's own runtime bloom (``spark.sql.optimizer.runtime.bloomFilter``)
fires only under cost heuristics and can't be applied across stages /
persisted; this explicit operator is the deterministic, composable form
(build once, prune many scans — e.g. every shard of an ingest).

Design:
- **build** is fully distributed: each key sets ``num_hashes`` bit
  positions (xxhash64 double-hashing h1 + i·h2, the standard Kirsch-
  Mitzenmacher construction); positions fold to (word, mask) pairs and a
  ``bit_or`` hash-aggregate produces the filter's 64-bit words. The only
  driver materialization is the finished filter (num_bits/8 bytes —
  1 MiB for 8M bits), the same size any engine must broadcast.
- **probe** computes the ``num_hashes`` positions JVM-side (codegen),
  then a vectorized Arrow UDF tests bits against the numpy word array
  from the closure (one gather + compare per hash, no per-row python).

DataX has no cross-reader reduction at all (readers are independent
channels, reference ``core/.../taskgroup/TaskGroupContainer.java``) —
engine-added surface for the lake/join layer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from datax_spark.oracle.xxh64 import key_hash_arg, spark_xxhash64

__all__ = [
    "BloomFilter",
    "bloom_build",
    "bloom_prune",
    "bloom_semi_join",
    "bucket_blooms",
    "bucket_blooms_local",
    "might_contain_python",
]


class BloomFilter:
    """Immutable bloom filter over xxhash64 double-hashing.

    ``words`` is a numpy uint64 array of length ``num_bits // 64``.
    """

    def __init__(self, words: np.ndarray, num_bits: int, num_hashes: int):
        assert num_bits % 64 == 0 and len(words) == num_bits // 64
        self.words = words
        self.num_bits = num_bits
        self.num_hashes = num_hashes

    @property
    def size_bytes(self) -> int:
        return self.num_bits // 8


def _positions(key: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """Kirsch-Mitzenmacher: pos_i = (h1 + i*h2) mod num_bits, with h1/h2
    independent xxhash64 draws folded non-negative. i*h2 under ANSI mode
    must not overflow: h2 is reduced mod num_bits first (num_hashes ·
    num_bits ≪ 2^63 for any sane filter size)."""
    h1 = F.pmod(F.xxhash64(key, F.lit(0x5EED1)), F.lit(num_bits))
    h2 = F.pmod(F.xxhash64(key, F.lit(0x5EED2)), F.lit(num_bits))
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits)).cast("long")
        for i in range(num_hashes)
    ]


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = 1 << 23,
    num_hashes: int = 5,
) -> BloomFilter:
    """Build a BloomFilter from ``df[key_col]`` distributively.

    One narrow pass: key → num_hashes bit positions → (word, mask) →
    ``bit_or`` hash aggregate (map-side combine; the exchange carries at
    most num_bits/64 rows regardless of input size). fpp ≈
    (1 - e^{-k·n/m})^k — defaults give <1% at ~1M keys.
    """
    key = F.col(key_col)
    pos = F.explode(F.array(*_positions(key, num_bits, num_hashes))).alias("pos")
    # Arrow collect (toPandas), not Row-object collect: a 2^23-bit
    # filter can return up to 131k (word, bits) rows and the Row path
    # deserializes each into a python object — columnar transport +
    # one vectorized scatter is ~10x lighter, identical bits (r6).
    pdf = (
        df.where(key.isNotNull())
        .select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            # shiftleft's python wrapper wants a literal int shift; use
            # the SQL form for a column-valued shift amount
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .toPandas()
    )
    words = np.zeros(num_bits // 64, dtype=np.uint64)
    words[pdf["word"].to_numpy()] = pdf["bits"].to_numpy().astype(np.uint64)
    return BloomFilter(words, num_bits, num_hashes)


def bloom_might_contain(bf: BloomFilter, key: Column) -> Column:
    """Boolean column: may ``key`` be in the filter? JVM computes the
    ``num_hashes`` positions (codegen); a vectorized Arrow UDF does the
    bit tests against the closure's numpy words (whole-batch gathers)."""
    words = bf.words  # captured by closure; broadcast with the task

    @F.pandas_udf(T.BooleanType())
    def _test(pos_arr: pd.Series) -> pd.Series:
        if len(pos_arr) == 0:
            return pd.Series([], dtype=bool)
        mat = np.vstack(pos_arr.to_numpy())            # (rows, num_hashes)
        w = words[mat >> 6]                            # gather words
        bits = (w >> (mat & 63).astype(np.uint64)) & np.uint64(1)
        return pd.Series(bits.all(axis=1))

    return _test(F.array(*_positions(key, bf.num_bits, bf.num_hashes)))


def bloom_prune(df: DataFrame, bf: BloomFilter, key_col: str) -> DataFrame:
    """Rows of ``df`` that MIGHT match the filter (plus null-key rows
    dropped — a null key cannot equi-join). Apply before the shuffle."""
    key = F.col(key_col)
    return df.where(key.isNotNull()).where(bloom_might_contain(bf, key))


def bucket_blooms(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    num_bits: int = 1 << 16,
    num_hashes: int = 5,
) -> dict[int, bytes]:
    """One bloom filter per bucket, built in a single distributed pass:
    positions explode → (bucket, word, mask) → ``bit_or`` hash-aggregate
    (map-side combine; the exchange carries ≤ buckets × num_bits/64
    rows). Returns {bucket: words-as-little-endian-bytes} — the payload
    the lake manifest stores per delta file for point-read file skipping.
    An over-full bloom saturates toward all-ones: pruning degrades to
    zero, correctness never does."""
    key = F.col(key_col)
    pos = F.explode(F.array(*_positions(key, num_bits, num_hashes))).alias("pos")
    pdf = (
        df.where(key.isNotNull())
        .select(F.col(bucket_col).alias("_bb"), pos)
        .select(
            "_bb",
            (F.col("pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))").alias("mask"),
        )
        .groupBy("_bb", "word")
        .agg(F.bit_or("mask").alias("bits"))
        .toPandas()  # Arrow transport; see bloom_build
    )
    out: dict[int, np.ndarray] = {}
    bb = pdf["_bb"].to_numpy()
    word = pdf["word"].to_numpy()
    bits = pdf["bits"].to_numpy().astype(np.uint64)
    for b in np.unique(bb):
        w = np.zeros(num_bits // 64, dtype=np.uint64)
        sel = bb == b
        w[word[sel]] = bits[sel]
        out[int(b)] = w
    return {b: w.tobytes() for b, w in out.items()}


def bucket_blooms_local(
    file_buckets: list[tuple[str, int]],
    key_col: str,
    num_bits: int = 1 << 16,
    num_hashes: int = 5,
) -> dict[int, bytes]:
    """Driver-side :func:`bucket_blooms` for SMALL delta writes: read the
    key column of each just-written local parquet file with pyarrow and
    replay ``_positions`` through the bit-verified pure-python xxh64
    (oracle/xxh64.py) — byte-identical filters (pinned by
    tests/test_lake.py) with ZERO Spark jobs. A trickle batch otherwise
    pays a whole scan+shuffle job to index a few hundred keys; at
    ~13us/key the driver builds these in milliseconds. Callers gate on
    total row count (see ``LakeTable._attach_delta_blooms``) so the
    driver never loops over a bulk batch. Raises TypeError on key types
    the python hash does not cover (callers fall back to the
    distributed build)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    out: dict[int, np.ndarray] = {}
    for path, bucket in file_buckets:
        col = pq.read_table(path, columns=[key_col])[key_col]
        # hash as the Spark type the distributed build reads the column as
        key_type = from_arrow_type(col.type).simpleString()
        w = out.setdefault(bucket, np.zeros(num_bits // 64, dtype=np.uint64))
        for v in col.to_pylist():
            if v is None:
                continue
            for p in _positions_python(v, key_type, num_bits, num_hashes):
                w[p >> 6] |= np.uint64(1 << (p & 63))
    return {b: w.tobytes() for b, w in out.items()}


def _positions_python(key_value, key_type: str, num_bits: int, num_hashes: int):
    """:func:`_positions` for one key on the driver, through the pure-python
    xxh64 (bit-verified against Spark) and the lake's key-hash rule."""
    arg = key_hash_arg(key_value, key_type)
    h1 = spark_xxhash64(arg, ("int", 0x5EED1)) % num_bits
    h2 = spark_xxhash64(arg, ("int", 0x5EED2)) % num_bits
    return [(h1 + i * h2) % num_bits for i in range(num_hashes)]


def might_contain_python(
    words: bytes, num_bits: int, num_hashes: int, key_value,
    key_type: str = "string",
) -> bool:
    """Driver-side probe of a stored bloom, bit-identical to the JVM
    build: the pure-python xxh64 (oracle/xxh64.py, bit-verified against
    Spark) replays ``_positions`` exactly, hashing ``key_value`` as a
    column of Spark type ``key_type`` (the lake passes its key column's
    type). Used by manifest-level file skipping where no Spark job should
    run at all (a point lookup's planning step)."""
    arr = np.frombuffer(words, dtype=np.uint64)
    return all(
        (int(arr[p >> 6]) >> (p & 63)) & 1
        for p in _positions_python(key_value, key_type, num_bits, num_hashes)
    )


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    num_bits: int = 1 << 23,
    num_hashes: int = 5,
) -> DataFrame:
    """``big LEFT SEMI JOIN small`` with a bloom prune before the join.

    Result is EXACTLY the plain semi join (false positives are removed
    by the join itself) — but only the might-match sliver of ``big``
    reaches the exchange. The filter build reads ``small`` once.
    """
    bf = bloom_build(small, small_key, num_bits, num_hashes)
    pruned = bloom_prune(big, bf, big_key)
    return pruned.join(
        small.select(F.col(small_key).alias("__bk")).distinct(),
        pruned[big_key] == F.col("__bk"),
        "left_semi",
    )
