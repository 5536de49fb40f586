"""Corpus telemetry (pipeline.report.corpus_report): counts, totals,
exact-percentile parity with DuckDB, approx-path sanity, stratification."""

from pathlib import Path

import pytest

from sed_binning_spark.pipeline.report import corpus_report

DOCS = [
    (1, "a b c", "crawl"),
    (2, "d e", "crawl"),
    (3, None, "crawl"),
    (4, "", "curated"),
    (5, "   \t ", "curated"),
    (6, "one two three four five six", "curated"),
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def _rows(df):
    return {(r.stratum, r.metric): r.value for r in df.collect()}


def test_global_counts_and_totals(spark):
    got = _rows(corpus_report(_df(spark), exact=True))
    a = "__all__"
    assert got[(a, "n_docs")] == 6.0
    assert got[(a, "n_null_text")] == 1.0
    assert got[(a, "n_blank_text")] == 2.0
    assert got[(a, "total_tokens")] == 11.0
    assert got[(a, "total_chars")] == 5 + 3 + 0 + 5 + 27
    assert abs(got[(a, "mean_tokens")] - 11 / 5) < 1e-12
    # exact interpolated percentiles over [3, 2, 0, 0, 6]
    import numpy as np

    toks = [3, 2, 0, 0, 6]
    for p, name in [(50, "tokens_p50"), (90, "tokens_p90"), (99, "tokens_p99")]:
        want = float(np.percentile(toks, p, method="linear"))
        assert abs(got[(a, name)] - want) < 1e-9, name


def test_stratified_and_null_stratum(spark):
    from pyspark.sql import functions as F

    df = _df(spark).withColumn(
        "source", F.when(F.col("doc_id") == 6, None).otherwise(F.col("source")),
    )
    got = _rows(corpus_report(df, strata_column="source", exact=True))
    assert got[("crawl", "n_docs")] == 3.0
    assert got[("curated", "n_docs")] == 2.0
    assert got[("__null__", "n_docs")] == 1.0
    assert got[("__null__", "total_tokens")] == 6.0


def test_approx_path_is_sane(spark):
    """The t-digest path must bracket the exact percentiles on a corpus
    large enough to exercise sketch merging."""
    rows = [(i, " ".join("w" for _ in range(i % 97 + 1)), "s") for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    exact = _rows(corpus_report(df, exact=True))
    approx = _rows(corpus_report(df.repartition(13)))
    for name in ("tokens_p50", "tokens_p90", "tokens_p99"):
        e, ap = exact[("__all__", name)], approx[("__all__", name)]
        assert ap is not None and abs(ap - e) <= 2.0, (name, e, ap)
    for m in ("n_docs", "total_tokens", "mean_tokens"):
        assert approx[("__all__", m)] == pytest.approx(exact[("__all__", m)])


def test_report_validation(spark):
    df = _df(spark)
    with pytest.raises(ValueError, match="text column"):
        corpus_report(df, text_column="nope")
    with pytest.raises(ValueError, match="strata column"):
        corpus_report(df, strata_column="nope")
    with pytest.raises(ValueError, match="accuracy"):
        corpus_report(df, accuracy=0)


def test_exact_percentiles_duckdb_parity(spark):
    """Cross-engine: Spark's exact percentile (linear interpolation)
    equals DuckDB quantile_cont over the driver documents table."""
    import duckdb

    path = "/root/testdata/sf0.001/documents.parquet"
    if not Path(path).exists():
        pytest.skip("driver testdata not present")
    df = spark.read.parquet(path)
    got = _rows(corpus_report(df, strata_column="lang", exact=True))
    from queries.text import _WS_SQL

    toks = _WS_SQL
    sql = f"""
    SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS stratum,
           count(*) AS n_docs,
           CAST(sum(len({toks})) AS DOUBLE) AS total_tokens,
           quantile_cont(len({toks}), 0.5) AS p50,
           quantile_cont(len({toks}), 0.99) AS p99
    FROM read_parquet('{path}') GROUP BY 1
    """
    for stratum, n, tot, p50, p99 in duckdb.connect().execute(sql).fetchall():
        assert got[(stratum, "n_docs")] == float(n), stratum
        assert got[(stratum, "total_tokens")] == tot, stratum
        assert got[(stratum, "tokens_p50")] == pytest.approx(p50, abs=1e-9), stratum
        assert got[(stratum, "tokens_p99")] == pytest.approx(p99, abs=1e-9), stratum


def test_null_stratum_sentinel_is_configurable(spark):
    """A corpus whose stratum column contains the literal '__null__' can
    pick a non-colliding sentinel for the NULL group."""
    df = spark.createDataFrame(
        [(1, "a b", "__null__"), (2, "c", None)],
        "doc_id long, text string, source string",
    )
    got = _rows(corpus_report(df, strata_column="source", exact=True,
                              null_stratum="<NULL>"))
    assert got[("__null__", "n_docs")] == 1.0   # the real value, unmerged
    assert got[("<NULL>", "n_docs")] == 1.0     # the NULL group
