"""Independent pure-Python reference implementations ("pyrefs") used as
correctness oracles for operators whose semantics are not expressible in
DuckDB SQL (hash-family-specific MinHash/SimHash, hyperplane LSH, the
multimodal stub math).

These are NOT engine code paths, with one exception: ``xxh64`` (Spark's
``xxhash64`` in pure Python) also serves the lake's driver-side key math
— the bucket of a key and the delta key blooms — through
``xxh64.key_hash_arg``, the one rule for how a key hashes. The driver's
correctness gate runs DuckDB SQL, so the pyrefs are materialized into
literal ``VALUES`` relations by ``__spark_entry__.oracle_sql()`` — the
comparison is still value-by-value against an implementation that
shares no code with the Spark plans.
"""
