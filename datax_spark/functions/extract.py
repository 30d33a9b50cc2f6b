"""Deterministic HTML → text extraction, Arrow-vectorized.

The engine's heavy per-record transform — the role dx_groovy plays in the
reference (``core/.../transformer/GroovyTransformer.java:24-88``: arbitrary
user code on the reader thread). Per the input_hint, the hot path is a
**vectorized pandas UDF** (Arrow batches, no per-row Python dispatch) and
the extraction itself is a pure, dependency-free, byte-deterministic
function so the "byte-identical extracted text per url" invariant holds
across replays, partitionings, and cluster sizes.

Pipeline: charset sniff (meta tag, else utf-8) → decode with
``errors='replace'`` (deterministic U+FFFD substitution) → drop
script/style/comment blocks → strip tags → decode HTML entities → collapse
whitespace. All regex-based; no random, no locale, no time dependence.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F, types as T
from pyspark.sql.functions import pandas_udf

_CHARSET_RE = re.compile(rb'charset=["\']?([A-Za-z0-9_\-]+)', re.IGNORECASE)
_SCRIPT_RE = re.compile(r"<(script|style)\b.*?</\1\s*>", re.IGNORECASE | re.DOTALL)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")

# small fixed entity table (deterministic; html.unescape would also work but
# we pin the exact subset so the contract is explicit and stable)
_ENTITIES = {
    "&nbsp;": " ",
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
}
_ENTITY_RE = re.compile("|".join(re.escape(k) for k in _ENTITIES))

_KNOWN_CODECS = {"utf-8", "utf8", "latin-1", "latin1", "iso-8859-1", "ascii", "windows-1252", "cp1252"}


def sniff_charset(raw: bytes) -> str:
    """Charset from the first meta tag; unknown/absent → utf-8."""
    m = _CHARSET_RE.search(raw[:2048])
    if m:
        cs = m.group(1).decode("ascii", "replace").lower()
        if cs in _KNOWN_CODECS:
            return cs
    return "utf-8"


def extract_text(raw: bytes | None) -> str | None:
    """Pure-python reference extractor — the invariant oracle."""
    if raw is None:
        return None
    cs = sniff_charset(raw)
    s = raw.decode(cs, errors="replace")
    s = _SCRIPT_RE.sub(" ", s)
    s = _COMMENT_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    s = _ENTITY_RE.sub(lambda m: _ENTITIES[m.group(0)], s)
    # whitespace collapse: " ".join(s.split()) is byte-identical to
    # _WS_RE.sub(" ", s).strip() — regex \s and str.split() agree on the
    # whitespace set for every Unicode codepoint (exhaustively verified,
    # pinned by tests/test_extract.py) — and runs ~10x faster on
    # tag-stripped text, whose space runs dominate the page (this single
    # sub was a third of the whole enrichment CPU, measured r6).
    return " ".join(s.split())


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched wrapper; order-preserving within each batch."""
    return html.map(extract_text)


def with_extracted_text(df, html_col: str = "html", out_col: str = "text"):
    """Attach extracted text column. Stays a projection — no shuffle."""
    return df.withColumn(out_col, extract_text_udf(F.col(html_col)))


# -------------------------------------------------------------- enrichment

# Single source of truth for the lang-id lexicons: functions/text.py's
# STOPWORDS (the JVM lang_id expression uses the same table). Hit
# semantics match text.lang_id exactly: a token scores every language
# whose lexicon contains it; ties break by fixed order en,de,fr,es,zh.
from datax_spark.functions.text import STOPWORDS as _STOPWORDS

_LANG_ORDER = ["en", "de", "fr", "es", "zh"]
_LANG_SETS = {lg: frozenset(_STOPWORDS[lg]) for lg in _LANG_ORDER}

_NON_ALPHA_RE = re.compile(r"[^A-Za-zÀ-ÿ]+")
_PUNCT_RE = re.compile(r"[.,;:!?'\"()\[\]{}\-]")

# Codepoint-table equivalents of the two per-char regex counts above —
# exact by construction (the regex class A-Za-zÀ-ÿ IS codepoints 65-90,
# 97-122, 0xC0-0xFF, incl. ×/÷; the punct table IS the punct class —
# both pinned against the regexes in tests/test_extract.py) and ~10x
# faster per page: the two regex counts were two-thirds of the
# non-extract enrichment CPU (measured r6). ASCII pages (the common
# case) count via bytes.translate in pure C; anything else goes through
# a utf-32 numpy table lookup, with index 256 as the "codepoint > 255 —
# neither class" sentinel.
import numpy as _np

_PUNCT_CHARS = ".,;:!?'\"()[]{}-"
_ALPHA_TR = bytes(
    1 if (65 <= i <= 90 or 97 <= i <= 122 or 0xC0 <= i <= 0xFF) else 0
    for i in range(256)
)
_PUNCT_BYTES = _PUNCT_CHARS.encode("ascii")
_ALPHA_TAB = _np.zeros(257, dtype=_np.uint8)
_ALPHA_TAB[: 256] = _np.frombuffer(_ALPHA_TR, dtype=_np.uint8)
_PUNCT_TAB = _np.zeros(257, dtype=_np.uint8)
for _c in _PUNCT_CHARS:
    _PUNCT_TAB[ord(_c)] = 1


def _char_class_counts(text: str) -> tuple[int, int]:
    """(n_alpha, n_punct) over the text's codepoints, C-speed."""
    if text.isascii():
        b = text.encode()
        return (
            b.translate(_ALPHA_TR).count(1),
            len(b) - len(b.translate(None, _PUNCT_BYTES)),
        )
    c = _np.frombuffer(text.encode("utf-32-le"), dtype=_np.uint32)
    idx = _np.minimum(c, 256)
    return int(_ALPHA_TAB[idx].sum()), int(_PUNCT_TAB[idx].sum())


def _enrich_one(raw: bytes | None):
    """extract + language-id + token count + quality + fingerprint.

    Everything per-character runs in C (regex/str builtins/hashlib/
    numpy masks). Language scoring iterates the small FIXED lexicons
    against a token Counter — O(Σ|lexicon|) dict lookups per document (a
    few hundred) instead of the round-2 O(tokens × languages) python
    loop, and sum-over-lexicon-of-counts ≡ sum-over-tokens-of-membership,
    so the scores (and the byte-identical text invariant) are unchanged.
    """
    text = extract_text(raw)
    if text is None:
        return None, None, None, None, None
    toks = text.lower().split()
    n_tok = len(toks)
    cnt = Counter(toks)
    hits = {
        lg: sum(cnt[w] for w in _LANG_SETS[lg] if w in cnt) for lg in _LANG_ORDER
    }
    best = max(_LANG_ORDER, key=lambda lg: (hits[lg], -_LANG_ORDER.index(lg)))
    lang = best if hits[best] > 0 else "und"
    n_alpha, n_punct = _char_class_counts(text)
    alpha_ratio = n_alpha / len(text) if text else 0.0
    sw_ratio = (hits[best] / n_tok) if n_tok else 0.0
    punct_ratio = (n_punct / len(text)) if text else 0.0
    # same weights as functions/text.py::quality_score (one formula across
    # the engine); the stopword term here uses the DETECTED language's
    # hit ratio rather than the fixed-language column variant
    quality = round(
        0.4 * min(n_tok / 100.0, 1.0)
        + 0.3 * alpha_ratio
        + 0.2 * min(sw_ratio * 4, 1.0)
        + 0.1 * (1.0 - min(punct_ratio * 5, 1.0)),
        4,
    )
    # deterministic 64-bit fingerprint: first 8 bytes of md5 (C-speed)
    fp = int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big", signed=True)
    return text, lang, n_tok, quality, fp


_ENRICH_TYPE = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("lang_id", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("quality", T.DoubleType()),
        T.StructField("fp", T.LongType()),
    ]
)


# pandas dtype per enrichment column type. bigint is nullable Int64: a
# frame built from row tuples turns an int column holding a None (a null
# html, e.g. a delete winner) into float64, which rounds the 64-bit fp.
_PD_DTYPES = {"string": object, "bigint": "Int64", "double": "float64"}


@pandas_udf(_ENRICH_TYPE)
def enrich_udf(html: pd.Series) -> pd.DataFrame:
    rows = [_enrich_one(None if h is None else bytes(h)) for h in html]
    cols = list(zip(*rows)) if rows else [()] * len(_ENRICH_TYPE.fields)
    return pd.DataFrame({
        f.name: pd.array(list(col), dtype=_PD_DTYPES[f.dataType.simpleString()])
        for f, col in zip(_ENRICH_TYPE.fields, cols)
    })


def with_enrichment(df, html_col: str = "html"):
    """Attach (text, lang_id, n_tokens, quality, fp) in ONE Arrow pass —
    the post-dedup transform for the flagship pipeline. Still a pure
    projection: no shuffle, cost ∝ rows × page size."""
    e = enrich_udf(F.col(html_col))
    return df.select("*", e.alias("_e")).select(
        *df.columns,
        F.col("_e.text").alias("text"),
        F.col("_e.lang_id").alias("lang_id"),
        F.col("_e.n_tokens").alias("n_tokens"),
        F.col("_e.quality").alias("quality"),
        F.col("_e.fp").alias("fp"),
    )
