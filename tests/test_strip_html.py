"""HTML stripping (pipeline.text.strip_html): semantics, entity decode
order, paragraph survival, and DuckDB regexp parity."""

from pathlib import Path

import pytest

from sed_binning_spark.pipeline.text import strip_html

CASES = [
    (1, "<p>Hello <b>world</b></p>", "Hello world"),
    (2, "<script>var x = '<p>no</p>';</script>after", "after"),
    (3, "<STYLE type='x'>h1 { color: red }</STYLE>kept", "kept"),
    (4, "<!-- secret --><div>shown</div>", "shown"),
    (5, "a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;end", 'a & b <tag> "q" \'s\' end'),
    # amp-last: double-encoded stays single-decoded
    (6, "&amp;lt;", "&lt;"),
    (7, "<p>one</p>\n\n\n\n<p>two</p>", "one\n\ntwo"),  # paragraphs survive
    (8, "no markup at all", "no markup at all"),
    (9, None, None),
    (10, "", ""),
    (11, "<br/>line1<br/>line2", "line1\nline2"),  # br = line break
    # block tags carry the paragraph structure a crawl page actually has
    (20, "<p>body</p><p>footer</p>", "body\n\nfooter"),
    (21, "<div>a</div><span>b</span><div>c</div>", "a\n\nb\n\nc"),
    (12, "5 < 6 and x > y", "5 < 6 and x > y"),  # bare comparators: not tags
    # comments strip BEFORE scripts: a commented-out opener must not
    # start a script span that swallows real body text
    (13, "<!-- <script> note -->keep me<script>x()</script>done", "keep me done"),
    # an unclosed script (truncated crawl capture) must not leak raw JS
    (14, "<p>truncated</p><script>var secret=1;", "truncated"),
    (15, "seen<style>b{}", "seen"),  # unclosed style strips to EOF
    # declarations and CDATA
    (16, "<!DOCTYPE html><p>hi</p>", "hi"),
    (17, "a<![CDATA[ <b>raw</b> ]]>b", "a b"),
    # CR handling: CRLF and old-Mac line endings become \n (so paragraph
    # and line structure survive), and trim strips every whitespace class
    (18, "l1\r\nl2\r\rl3", "l1\nl2\n\nl3"),
    (19, "  hello\n", "hello"),
]


def test_strip_html_semantics(spark):
    df = spark.createDataFrame([(i, h) for i, h, _ in CASES], "doc_id long, text string")
    got = {r.doc_id: r.text_clean for r in strip_html(df).collect()}
    for i, _, want in CASES:
        assert got[i] == want, (i, got[i], want)


def test_strip_html_validation(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="text column"):
        strip_html(df, text_column="nope")


def test_strip_html_duckdb_parity(spark):
    """Cross-engine: the same pattern chain (shared Java-regex ∩ RE2
    dialect) over an HTML-laden twin of the driver documents table."""
    import duckdb

    path = "/root/testdata/sf0.001/documents.parquet"
    if not Path(path).exists():
        pytest.skip("driver testdata not present")
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, "/root/repo")

    df = spark.read.parquet(path).select(
        "doc_id",
        F.concat(
            F.lit("<html><head><style>b{}</style></head><body><h1>T&amp;C</h1><p>"),
            F.col("text"),
            F.lit("</p><script>if (1 > 0) { x(); }</script>&nbsp;<i>tail "),
            F.col("doc_id").cast("string"),
            F.lit("</i></body></html>"),
        ).alias("text"),
    )
    got = {r.doc_id: r.text_clean for r in strip_html(df).collect()}

    # ONE source of truth for the SQL twin: the driver oracle's builder
    from queries.text import _strip_html_sql

    expr = _strip_html_sql("text")
    sql = (
        f"SELECT doc_id, {expr} AS text_clean FROM "
        f"(SELECT doc_id, '<html><head><style>b{{}}</style></head><body><h1>T&amp;C</h1><p>' "
        f"|| text || '</p><script>if (1 > 0) {{ x(); }}</script>&nbsp;<i>tail ' "
        f"|| CAST(doc_id AS VARCHAR) || '</i></body></html>' AS text "
        f"FROM read_parquet('{path}'))"
    )
    want = {row[0]: row[1] for row in duckdb.connect().execute(sql).fetchall()}
    assert set(got) == set(want)
    for did in got:
        assert got[did] == want[did], did
