"""Blocklist / badword filtering (pipeline.filters) and temperature
mixing rates (pipeline.sample.temperature_rates)."""

from pathlib import Path

import pytest

from sed_binning_spark.pipeline.filters import (
    LITERAL_WORDLIST_MAX,
    badword_stats,
    filter_badwords,
    filter_by_blocklist,
)
from sed_binning_spark.pipeline.sample import stratified_sample, temperature_rates

DOCS = [
    (1, "the quick brown fox", "crawl"),
    (2, "BAD word and another bad WORD", "crawl"),
    (3, "clean text only", "curated"),
    (4, None, "crawl"),
    (5, "", "blockedsrc"),
    (6, "bad", "curated"),
]
BAD = ["bad", "word"]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def test_blocklist_filter_and_audit(spark):
    df = _df(spark)
    kept = filter_by_blocklist(df, ["blockedsrc"], "source")
    assert {r.doc_id for r in kept.collect()} == {1, 2, 3, 4, 6}
    blocked = filter_by_blocklist(df, ["blockedsrc"], "source", keep="blocked")
    assert {r.doc_id for r in blocked.collect()} == {5}
    # DataFrame-shaped blocklist behaves identically
    bl = spark.createDataFrame([("blockedsrc",)], "v string")
    assert filter_by_blocklist(df, bl, "source").count() == 5
    # NULL key never matches: the row survives the filter form
    withnull = spark.createDataFrame(
        [(9, "t", None)], "doc_id long, text string, source string",
    )
    assert filter_by_blocklist(withnull, ["x"], "source").count() == 1


@pytest.mark.parametrize("method", ["literal", "join"])
def test_badword_stats(spark, method):
    got = {
        r.doc_id: (r.n_badword_tokens, r.badword_frac)
        for r in badword_stats(_df(spark), BAD, method=method).collect()
    }
    assert got[1] == (0, 0.0)
    assert got[2] == (4, 4 / 6)     # case-folded: BAD, word, bad, WORD
    assert got[3] == (0, 0.0)
    assert got[4] == (None, None)   # NULL text -> NULL stats
    assert got[5] == (0, 0.0)       # blank: no tokens, no evidence
    assert got[6] == (1, 1.0)


def test_methods_agree_and_are_layout_independent(spark):
    df = _df(spark)
    a = {tuple(r) for r in badword_stats(df, BAD, method="literal").collect()}
    b = {tuple(r) for r in badword_stats(df.repartition(5), BAD, method="join").collect()}
    assert a == b


def test_filter_badwords(spark):
    df = _df(spark)
    kept = {r.doc_id for r in filter_badwords(df, BAD).collect()}
    assert kept == {1, 3, 4, 5}     # any hit blocks; NULL text passes
    loose = {r.doc_id for r in filter_badwords(df, BAD, max_frac=0.7).collect()}
    assert loose == {1, 2, 3, 4, 5}  # doc 2 at 0.667 passes, doc 6 at 1.0 not


def test_filters_validation(spark):
    df = _df(spark)
    with pytest.raises(ValueError, match="column"):
        filter_by_blocklist(df, ["x"], "nope")
    with pytest.raises(ValueError, match="keep"):
        filter_by_blocklist(df, ["x"], "source", keep="both")
    with pytest.raises(ValueError, match="one column"):
        filter_by_blocklist(df, df, "source")
    with pytest.raises(ValueError, match="empty"):
        badword_stats(df, [])
    with pytest.raises(ValueError, match="literal method refused"):
        badword_stats(df, [f"w{i}" for i in range(LITERAL_WORDLIST_MAX + 1)],
                      method="literal")
    with pytest.raises(ValueError, match="max_frac"):
        filter_badwords(df, BAD, max_frac=1.5)


def test_badwords_duckdb_parity(spark):
    """Cross-engine badword counts over the driver documents table, with
    list words injected into every 3rd document by expression."""
    import duckdb

    path = "/root/testdata/sf0.001/documents.parquet"
    if not Path(path).exists():
        pytest.skip("driver testdata not present")
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" BAD word bad")),
        ).otherwise(F.col("text")).alias("text"),
    )
    got = {
        r.doc_id: (r.n_badword_tokens, r.badword_frac)
        for r in badword_stats(df, BAD).collect()
    }
    from queries.text import _toks_sql

    toks = _toks_sql("text")
    sql = f"""
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE
             len(list_filter({toks}, t -> t IN ('bad', 'word'))) END AS n_bad,
           CASE WHEN text IS NULL THEN NULL
                WHEN len({toks}) = 0 THEN 0.0e0 ELSE
             len(list_filter({toks}, t -> t IN ('bad', 'word')))
             / CAST(len({toks}) AS DOUBLE) END AS frac
    FROM (SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN text || ' BAD word bad'
                      ELSE text END AS text
          FROM read_parquet('{path}'))
    """
    want = {row[0]: (row[1], row[2]) for row in duckdb.connect().execute(sql).fetchall()}
    assert set(got) == set(want)
    for did in got:
        assert got[did] == want[did], did


def test_temperature_rates(spark):
    rows = [(i, "big") for i in range(90)] + [(1000 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    # alpha=1: natural distribution -> every stratum keeps everything at
    # the maximal no-upsampling T (=N)
    r1 = temperature_rates(df, "source", alpha=1.0)
    assert r1 == {"big": 1.0, "small": 1.0}

    # alpha=0: uniform target -> the small stratum is the binding
    # constraint; big is downsampled to match it
    r0 = temperature_rates(df, "source", alpha=0.0)
    assert r0["small"] == 1.0
    assert abs(r0["big"] - 10 / 90) < 1e-12

    # explicit target: expected output size ~= target_rows
    rt = temperature_rates(df, "source", alpha=0.5, target_rows=50)
    expected = sum(rt[s] * n for s, n in [("big", 90), ("small", 10)])
    assert expected <= 50 + 1e-9
    kept = stratified_sample(df, "source", rt, key_columns=("doc_id",), seed=7)
    assert 0 < kept.count() <= 100

    # capping is visible: a tiny stratum at a huge target saturates at 1.0
    rcap = temperature_rates(df, "source", alpha=0.0, target_rows=10_000)
    assert rcap["small"] == 1.0

    with pytest.raises(ValueError, match="alpha"):
        temperature_rates(df, "source", alpha=-1)
    with pytest.raises(ValueError, match="target_rows"):
        temperature_rates(df, "source", alpha=1.0, target_rows=0)
    with pytest.raises(ValueError, match="strata column"):
        temperature_rates(df, "nope", alpha=1.0)
    empty = spark.createDataFrame([], "doc_id long, source string")
    assert temperature_rates(empty, "source", alpha=1.0) == {}


def test_null_id_stats_identical_across_methods(spark):
    """NULL-id rows get NULL stats under BOTH methods, so the 'auto'
    list-size flip can never change which documents pass the gate."""
    df = spark.createDataFrame(
        [(None, "bad bad bad"), (1, "bad")], "doc_id long, text string",
    )
    for method in ("literal", "join"):
        got = {
            r.doc_id: (r.n_badword_tokens, r.badword_frac)
            for r in badword_stats(df, BAD, method=method).collect()
        }
        assert got[None] == (None, None), method
        assert got[1] == (1, 1.0), method
        kept = {r.doc_id for r in filter_badwords(df, BAD, method=method).collect()}
        assert kept == {None}, method  # unscored passes, scored hit drops


def test_temperature_rates_underflow(spark):
    """A stratum whose weight underflows at huge alpha samples at 0.0
    rather than crashing the rate computation; all-underflow raises."""
    rows = (
        [(i, "big") for i in range(99999)] + [(-1, "tiny")]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    r = temperature_rates(df, "source", alpha=5000.0)
    assert r["tiny"] == 0.0 and r["big"] == 1.0


def test_blocklist_domain_suffix_matching(spark):
    """Domain mode blocks a host when any label suffix hits the list —
    the standard URL-blocklist semantics — case-folded, and never
    matching on partial labels ('notevil.com' is not 'evil.com')."""
    rows = [
        (1, "WWW.Evil.COM"),
        (2, "evil.com"),
        (3, "notevil.com"),
        (4, "evil.com.safe.org"),   # 'evil.com' is NOT a label suffix here
        (5, "sub.deep.evil.com"),
        (6, None),
        (7, "good.org"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    kept = {
        r.doc_id
        for r in filter_by_blocklist(df, ["evil.com"], "host", match="domain").collect()
    }
    assert kept == {3, 4, 6, 7}
    audit = {
        r.doc_id
        for r in filter_by_blocklist(
            df, ["evil.com"], "host", keep="blocked", match="domain",
        ).collect()
    }
    assert audit == {1, 2, 5}
    with pytest.raises(ValueError, match="match"):
        filter_by_blocklist(df, ["x"], "host", match="regex")


def test_domain_mode_normalizes_fqdn_dots_and_methods_agree(spark):
    """Trailing-dot (FQDN) hosts and blocklist entries match each other,
    and the literal map-only path agrees with the DataFrame
    broadcast-join path row for row."""
    rows = [
        (1, "evil.com."),            # FQDN form of a blocked host
        (2, "www.evil.com"),
        (3, "good.org."),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    for bl in (["evil.com"], ["EVIL.com."]):
        via_literal = {
            r.doc_id
            for r in filter_by_blocklist(df, bl, "host", match="domain").collect()
        }
        bdf = spark.createDataFrame([(v,) for v in bl], "v string")
        via_df = {
            r.doc_id
            for r in filter_by_blocklist(df, bdf, "host", match="domain").collect()
        }
        assert via_literal == via_df == {3, 4}, bl


def test_domain_dataframe_path_is_hash_join_and_matches_literal(spark):
    """The DataFrame/large-list domain path must plan BroadcastHashJoin
    equi-joins (one per distinct entry depth), never a
    BroadcastNestedLoopJoin scanning the whole list per row — and must
    agree with the literal path row for row on NULL / FQDN / nested
    subdomain / odd-whitespace corpora."""
    rows = [
        (1, "www.evil.com"),
        (2, "evil.com"),
        (3, "notevil.com"),
        (4, "evil.com.safe.org"),
        (5, "a.b.deep.sub.evil.com"),
        (6, None),
        (7, "good.org."),
        (8, "ADS.Tracker.NET"),
        (9, ""),
        (10, "tracker.net"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    bl = ["evil.com", "ads.tracker.net.", " Good.ORG ", "evil.com..", ""]
    bdf = spark.createDataFrame([(v,) for v in bl], "v string")

    out = filter_by_blocklist(df, bdf, "host", match="domain")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan

    via_df = {r.doc_id for r in out.collect()}
    via_lit = {
        r.doc_id
        for r in filter_by_blocklist(df, bl, "host", match="domain").collect()
    }
    # evil.com blocks 1,2,5; ads.tracker.net blocks 8 (depth 3, not 10);
    # good.org (trimmed) blocks 7 (FQDN); 'evil.com..' normalizes to
    # 'evil.com.' and matches nothing; '' is dropped from the list
    assert via_df == via_lit == {3, 4, 6, 9, 10}
    audit_df = {
        r.doc_id
        for r in filter_by_blocklist(
            df, bdf, "host", keep="blocked", match="domain",
        ).collect()
    }
    audit_lit = {
        r.doc_id
        for r in filter_by_blocklist(
            df, bl, "host", keep="blocked", match="domain",
        ).collect()
    }
    assert audit_df == audit_lit == {1, 2, 5, 7, 8}
    # row count preserved exactly (filter + audit partition the corpus)
    assert len(via_df) + len(audit_df) == len(rows)


def test_domain_paths_normalize_entries_identically(spark):
    """ADVICE r7: tab-padded entries and multi-trailing-dot entries must
    match the same rows on both plan paths (trim spaces only, remove
    exactly one trailing dot) — the list-size plan flip can never change
    results."""
    rows = [(1, "evil.com"), (2, "evil.com."), (3, "x.evil.com"), (4, "\tevil.com")]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    for entry in ["evil.com", " evil.com. ", "evil.com..", "\tevil.com"]:
        bdf = spark.createDataFrame([(entry,)], "v string")
        via_lit = {
            r.doc_id
            for r in filter_by_blocklist(df, [entry], "host", match="domain").collect()
        }
        via_df = {
            r.doc_id
            for r in filter_by_blocklist(df, bdf, "host", match="domain").collect()
        }
        assert via_lit == via_df, entry


def test_badword_join_method_raises_on_duplicate_ids(spark):
    """ADVICE r7: the join path's groupBy(id) would credit a duplicated
    id's rows with the combined count — it must raise instead, so the
    'auto' plan flip can never silently change scores."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException, SparkRuntimeException

    df = spark.createDataFrame(
        [(1, "bad text"), (1, "clean here"), (2, "fine")],
        "doc_id long, text string",
    )
    with pytest.raises(
        (Py4JJavaError, SparkRuntimeException, PythonException),
        match="duplicate document id",
    ):
        badword_stats(df, BAD, method="join").collect()
    # the literal path scores per row and accepts the same corpus
    got = badword_stats(df, BAD, method="literal").collect()
    assert len(got) == 3


def test_blocklist_survives_colliding_temp_column(spark):
    """A corpus frame that already has a '__bl' column must not break the
    qualified join references."""
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "blockedsrc", "y")],
        "doc_id long, source string, __bl string",
    )
    kept = {r.doc_id for r in filter_by_blocklist(df, ["blockedsrc"], "source").collect()}
    assert kept == {1}


def test_domain_blocklist_empty_after_normalization_raises_on_both_paths(spark):
    """A list that normalizes to nothing raises on the literal AND the
    join path — the plan flip must not turn a loud error into a silent
    match-nothing filter."""
    df = spark.createDataFrame([(1, "a.example")], "doc_id long, host string")
    garbage = [" ", ".", "", None]
    with pytest.raises(ValueError, match="empty"):
        filter_by_blocklist(df, garbage, "host", match="domain")
    big_garbage = garbage * 200  # > LITERAL_WORDLIST_MAX entries
    assert len(big_garbage) > LITERAL_WORDLIST_MAX
    with pytest.raises(ValueError, match="empty"):
        filter_by_blocklist(df, big_garbage, "host", match="domain")
    bdf = spark.createDataFrame([(v,) for v in garbage], "v string")
    with pytest.raises(ValueError, match="empty"):
        filter_by_blocklist(df, bdf, "host", match="domain")


def test_domain_paths_agree_on_hostile_hostnames_property(spark):
    """Property: on arbitrary host/entry strings (dots in odd places,
    whitespace, case, empty labels, FQDN dots), the literal codegen path
    and the per-depth hash-join path keep exactly the same rows."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    label = st.text(
        alphabet="aB.  \t-0", min_size=0, max_size=6,  # '.' inside entries too
    )

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        hosts=st.lists(label, min_size=1, max_size=8),
        entries=st.lists(label, min_size=1, max_size=5),
    )
    def run(hosts, entries):
        norm = []
        for v in entries:
            w = v.strip(" ").lower()
            if w.endswith("."):
                w = w[:-1]
            if w:
                norm.append(w)
        if not norm:
            return  # both paths raise on empty-after-norm (pinned elsewhere)
        df = spark.createDataFrame(
            [(i, h) for i, h in enumerate(hosts)], "doc_id long, host string",
        )
        bdf = spark.createDataFrame([(v,) for v in entries], "v string")
        for keep in ("unblocked", "blocked"):
            via_lit = {
                r.doc_id
                for r in filter_by_blocklist(
                    df, entries, "host", keep=keep, match="domain",
                ).collect()
            }
            via_df = {
                r.doc_id
                for r in filter_by_blocklist(
                    df, bdf, "host", keep=keep, match="domain",
                ).collect()
            }
            assert via_lit == via_df, (hosts, entries, keep)

    run()
