"""Extractor determinism: byte-identical text per url (the input_hint
per-row invariant) — pandas_udf output must equal the pure-python
reference function on every row, including non-UTF8 pages."""

from pyspark.sql import functions as F

from datax_spark.cdc.generator import pages_df
from datax_spark.functions.extract import extract_text, sniff_charset, with_extracted_text


def test_charset_sniff():
    assert sniff_charset(b'<meta charset="latin-1">') == "latin-1"
    assert sniff_charset(b'<meta charset="UTF-8">') == "utf-8"
    assert sniff_charset(b"no meta at all") == "utf-8"
    assert sniff_charset(b'<meta charset="klingon">') == "utf-8"


def test_extract_pure():
    html = b"<html><body><h1>A&nbsp;B</h1><script>x</script><p> c  d </p><!-- z --></body></html>"
    assert extract_text(html) == "A B c d"
    assert extract_text(None) is None


def test_extract_latin1_deterministic():
    raw = '<html><meta charset="latin-1"><body>caf\xe9</body></html>'.encode("latin-1")
    assert extract_text(raw) == "café"


def test_udf_matches_pure_python_byte_identical(spark):
    pages = pages_df(spark, 300, partitions=4)
    out = with_extracted_text(pages).select("url", "html", "text").collect()
    assert len(out) == 300
    mismatches = [r["url"] for r in out if extract_text(bytes(r["html"])) != r["text"]]
    assert mismatches == []
    # non-UTF8 slice exists and decodes deterministically
    assert any("contenté" in r["text"] for r in out)


def test_udf_stable_across_partitionings(spark):
    a = with_extracted_text(pages_df(spark, 200, partitions=2)).select("url", "text")
    b = with_extracted_text(pages_df(spark, 200, partitions=16)).select("url", "text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_fast_paths_match_regex_reference():
    """r6 optimization pins: the whitespace collapse swapped
    _WS_RE.sub+strip for " ".join(split()), and the alpha/punct counts
    swapped per-char regexes for numpy codepoint masks — all three must
    stay EXACTLY equivalent to the original regex formulations."""
    import random

    from datax_spark.functions.extract import (
        _NON_ALPHA_RE, _PUNCT_RE, _WS_RE, _char_class_counts)

    # whitespace set: regex \s vs str.split(), every BMP codepoint
    for cp in list(range(0x3000)) + [0x2028, 0x2029, 0x205F, 0x3000]:
        c = chr(cp)
        assert (("a" + c + "b").split() == ["a", "b"]) == bool(
            _WS_RE.fullmatch(c)), hex(cp)
    rnd = random.Random(7)
    ws = [" ", "\t", "\n", "\r", "\x0b", "\x0c", "\xa0", " "]
    for _ in range(500):
        s = "".join(rnd.choice(ws + list("abzé×÷日,.<>&;'\"-"))
                    for _ in range(rnd.randint(0, 80)))
        assert _WS_RE.sub(" ", s).strip() == " ".join(s.split()), repr(s)
        n_alpha, n_punct = _char_class_counts(s)
        assert n_alpha == len(_NON_ALPHA_RE.sub("", s)), repr(s)
        assert n_punct == len(_PUNCT_RE.findall(s)), repr(s)


def test_enrich_fp_exact_when_batch_holds_null_html(spark):
    """One Arrow batch mixing null and non-null html (a delete winner
    beside live pages) must keep ``fp`` and ``n_tokens`` 64-bit exact:
    ``fp`` is the signed first 8 bytes of md5(text), not that value
    rounded through float64."""
    import hashlib

    from datax_spark.functions.extract import with_enrichment

    pages = pages_df(spark, 120, partitions=1).select(
        "url",
        F.when(F.col("url").endswith("7"), F.lit(None)).otherwise(F.col("html")).alias("html"),
    )
    rows = with_enrichment(pages).select("url", "html", "text", "n_tokens", "fp").collect()
    nulls = [r for r in rows if r["html"] is None]
    live = [r for r in rows if r["html"] is not None]
    assert nulls and live
    assert all(r["fp"] is None and r["n_tokens"] is None for r in nulls)
    for r in live:
        want = int.from_bytes(hashlib.md5(r["text"].encode("utf-8")).digest()[:8],
                              "big", signed=True)
        assert r["fp"] == want, (r["url"], r["fp"], want)
        assert r["n_tokens"] == len(r["text"].split())
