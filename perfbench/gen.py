"""Seeded change-log generator for the benchmark (numpy + pyarrow only).

The benchmark owns its inputs: nothing here calls into ``datax_spark``,
so the same ``--seed`` gives byte-identical change files whatever the
engine under test does. The shape follows the engine's own fixture
conventions: LSN-ordered I/U/D events (~60/30/10), a hot-key slice of
the U/D traffic, ~5% of events stamped 2 h in the past (out-of-order
``warc_ts``), Common-Crawl-weight html with a latin-1 slice, and an
optional schema evolution point after which events carry two more
columns (``fetch_status`` int, ``content_len`` bigint past int range).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = 1_704_067_200  # 2024-01-01T00:00:00Z
LANGS = ("en", "zh", "de", "fr", "es")
WORDS = ("the", "and", "of", "der", "und", "le", "la", "el", "y", "data",
         "page", "crawl", "index", "lake", "table", "merge")
TS_TYPE = pa.timestamp("us", tz="UTC")
HOT_FRACTION = 0.10  # share of U/D events that hit a hot key
N_HOT = 5
OOO_FRACTION = 0.05  # share of events stamped 2 h in the past

BASE_FIELDS = [
    pa.field("lsn", pa.int64()),
    pa.field("op", pa.string()),
    pa.field("url", pa.string()),
    pa.field("warc_ts", TS_TYPE),
    pa.field("html", pa.binary()),
    pa.field("lang", pa.string()),
]
EVOLVED_FIELDS = [pa.field("fetch_status", pa.int32()), pa.field("content_len", pa.int64())]


def url_of(k: int, salt: int) -> str:
    return f"https://site{(k * 2654435761 + salt) % 50}.example/p/{k}"


def _html(url: str, payload: str, paragraphs: int, words: np.ndarray, latin1: bool) -> bytes:
    cs = "latin-1" if latin1 else "utf-8"
    marker = "contenté" if latin1 else "content"
    parts = [
        f'<html><head><title>Page {url}</title><meta charset="{cs}">'
        f"<style>.c{{color:red}}</style></head><body><h1>Doc&nbsp;{payload}</h1>"
        f"<p>{marker} {payload} of {url}</p>"
    ]
    for i in range(paragraphs):
        w = WORDS[words[i] % len(WORDS)]
        parts.append(
            f"<p>paragraph {i} {w} page body with filler words and <b>markup</b> "
            f'plus a <a href="/l/{words[i]}">link {words[i]}</a> &amp; trailing text.</p>'
        )
    parts.append("<script>var x=1;</script><!-- c --></body></html>")
    return "".join(parts).encode(cs)


def make_changes(
    seed: int,
    tag: int,
    n_events: int,
    n_keys: int,
    start_lsn: int = 1,
    paragraphs: int = 20,
    evolve_from_lsn: int | None = None,
    dirty_fraction: float = 0.0,
    insert_only: bool = False,
) -> pa.Table:
    """One LSN-ordered change log as an Arrow table.

    ``tag`` separates independent logs drawn from one seed. I events walk
    the key space in order and U/D events hit random keys,
    ``HOT_FRACTION`` of them one of ``N_HOT`` hot keys. ``dirty_fraction``
    of the events are made invalid for the engine's quarantine: half carry
    op ``X``, half a null url.
    """
    rng = np.random.default_rng([seed, tag])
    i = np.arange(n_events, dtype=np.int64)
    lsn = start_lsn + i
    u = rng.random(n_events)
    if insert_only:
        ops = np.full(n_events, "I", dtype=object)
        keys = (start_lsn - 1 + i) % n_keys
    else:
        ops = np.where(u < 0.6, "I", np.where(u < 0.9, "U", "D")).astype(object)
        rand_keys = rng.integers(0, n_keys, n_events)
        hot = (u >= 0.6) & (rng.random(n_events) < HOT_FRACTION)
        keys = np.where(u < 0.6, (start_lsn - 1 + i) % n_keys,
                        np.where(hot, rand_keys % N_HOT, rand_keys))
    ooo = rng.random(n_events) < OOO_FRACTION
    ts_s = BASE_TS + lsn - np.where(ooo, 7200, 0)
    salts = rng.integers(0, 1 << 40, n_events)
    words = rng.integers(0, 100_000, (n_events, max(paragraphs, 1)))
    latin1 = rng.random(n_events) < 0.05
    urls = [url_of(int(k), seed) for k in keys]
    langs = [LANGS[int(k) % len(LANGS)] for k in keys]
    htmls: list[bytes | None] = []
    for j in range(n_events):
        if ops[j] == "D":
            htmls.append(None)
            langs[j] = None
        else:
            htmls.append(_html(urls[j], f"v{lsn[j]}-{salts[j]}", paragraphs, words[j], bool(latin1[j])))
    if dirty_fraction:
        d = rng.random(n_events)
        for j in np.nonzero(d < dirty_fraction / 2)[0]:
            ops[j] = "X"
        for j in np.nonzero((d >= dirty_fraction / 2) & (d < dirty_fraction))[0]:
            urls[j] = None
    cols = [
        pa.array(lsn, pa.int64()),
        pa.array(list(ops), pa.string()),
        pa.array(urls, pa.string()),
        pa.array(ts_s * 1_000_000, pa.int64()).cast(TS_TYPE),
        pa.array(htmls, pa.binary()),
        pa.array(langs, pa.string()),
    ]
    fields = list(BASE_FIELDS)
    if evolve_from_lsn is not None:
        late = lsn >= evolve_from_lsn
        status = [int(k % 3) if late[j] else None for j, k in enumerate(keys)]
        clen = [
            (len(htmls[j] or b"") + 2 * 2**31) if late[j] else None for j in range(n_events)
        ]
        cols += [pa.array(status, pa.int32()), pa.array(clen, pa.int64())]
        fields += EVOLVED_FIELDS
    return pa.Table.from_arrays(cols, schema=pa.schema(fields))


def write_files(table: pa.Table, paths: list[str]) -> list[int]:
    """Split ``table`` into ``len(paths)`` consecutive LSN slices, one
    parquet file each; drop columns that are all-null in a slice (so a
    slice that predates the evolution point has the base schema). Returns
    the file sizes in bytes."""
    import os

    n = table.num_rows
    sizes = []
    for f, path in enumerate(paths):
        lo, hi = n * f // len(paths), n * (f + 1) // len(paths)
        part = table.slice(lo, hi - lo)
        for name in [x.name for x in EVOLVED_FIELDS]:
            if name in part.column_names and part[name].null_count == part.num_rows:
                part = part.drop_columns([name])
        tmp = path + ".tmp"
        pq.write_table(part, tmp, compression="snappy")
        os.rename(tmp, path)
        sizes.append(os.path.getsize(path))
    return sizes
