"""Hypothesis differential tests: the engine's column expressions vs
independent Python re-implementations of the reference semantics
(fetch_legal_docs.py:21-38 behavior, written from SURVEY.md §2.C —
not copied). Random inputs catch edge cases fixtures miss."""

from __future__ import annotations

import re
from urllib.parse import urlparse
from os.path import basename, splitext

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.functions.text import base_name_from_url, extract_year

# Python reference for A-13 (semantics per fetch_legal_docs.py:21-30)
YEAR_RE = re.compile(r"\b(19[5-9]\d|20\d{2})\b")


def ref_extract_year(text: str) -> str:
    m = YEAR_RE.search(text[:1000])
    return m.group(1) if m else ""


def ref_base_name(url: str) -> str:
    base = basename(urlparse(url).path)
    stem, _ = splitext(base)
    return stem.replace("%20", "_")


text_strategy = st.text(
    alphabet=st.characters(
        codec="utf-8", categories=("L", "N", "P", "Zs")
    ),
    max_size=1200,
)

url_strategy = st.builds(
    lambda host, segs, name, ext, q: (
        "https://" + host + "/" + "/".join(segs + [name + ext]) + q
    ),
    host=st.sampled_from(["x.example", "fsc.example.et"]),
    segs=st.lists(
        st.text(
            st.characters(codec="ascii", exclude_characters="/?#\\ \t\r\n"),
            min_size=1,
            max_size=8,
        ),
        max_size=3,
    ),
    # names with dot runs ('0..0', 'a.' + '.pdf') exercise splitext's
    # last-dot rule
    name=st.text(
        st.characters(codec="ascii", exclude_characters="/?#\\ "),
        min_size=1,
        max_size=20,
    ),
    ext=st.sampled_from([".pdf", ".PDF", ".docx", "", ".tar.gz"]),
    q=st.sampled_from(["", "?download=1", "#frag"]),
)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(text_strategy, min_size=1, max_size=50))
def test_year_extract_matches_python_reference(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t: string")
    got = [
        r["y"] for r in df.select(extract_year(F.col("t")).alias("y")).collect()
    ]
    want = [ref_extract_year(t) for t in texts]
    assert got == want


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(urls=st.lists(url_strategy, min_size=1, max_size=50))
@example(urls=["https://x.example/0..0", "https://x.example/a..pdf"])
def test_base_name_matches_python_reference(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "u: string")
    got = [
        r["b"] for r in df.select(base_name_from_url(F.col("u")).alias("b")).collect()
    ]
    want = [ref_base_name(u) for u in urls]
    assert got == want


# Python reference for FNV-1a 64 (the simhash UDF's token hash,
# operators/dedup.py) — re-stated here independently
def _fnv1a64(s: str) -> int:
    h = 1469598103934665603
    for ch in s.encode("utf-8"):
        h = ((h ^ ch) * 1099511628211) & ((1 << 64) - 1)
    return h


@given(
    st.lists(
        st.text(
            # any codepoint except surrogates (not utf-8 encodable)
            alphabet=st.characters(blacklist_categories=("Cs",)),
            max_size=24,
        ),
        min_size=1,
        max_size=32,
    )
)
@settings(max_examples=60, deadline=None)
def test_fnv1a_sql_fold_matches_python_reference(tokens):
    """The dedup_simhash_band / dedup_cluster_components oracles rest
    on fnv1a64_sql reproducing the UDF's FNV-1a EXACTLY — including
    multi-byte utf-8, where a codepoint-based (rather than byte-based)
    SQL transcription would silently diverge. Fuzz the SQL fold vs an
    independent Python byte fold over arbitrary unicode."""
    import duckdb
    import pandas as pd

    from ethiopia_legal_etl_spark.operators.dedup import fnv1a64_sql

    con = duckdb.connect()
    toks_df = pd.DataFrame({"tok": tokens})  # noqa: F841 (registered)
    con.register("toks", toks_df)
    got = [
        int(r[0])
        for r in con.sql(
            f"SELECT {fnv1a64_sql('tok')} AS h FROM toks"
        ).fetchall()
    ]
    want = [_fnv1a64(t) for t in tokens]
    assert got == want
