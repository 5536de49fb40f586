"""Unigram LM scoring (pipeline.lm): reference parity, OOV pricing,
pruning, determinism across partitionings, and DuckDB cross-engine
parity on the driver documents table."""

import math
from pathlib import Path

import pytest

from sed_binning_spark.pipeline.lm import unigram_logprob, unigram_model

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat"),
    (3, "zzz unseen token soup"),
    (4, None),
    (5, ""),
    (6, "  \t "),
    (7, "THE The the"),  # case folding: all one LM event
]


def _ref_scores(corpus, docs, alpha=1.0, min_count=1):
    """Pure-Python reference: add-alpha unigram LM, micro-nat exact mean."""
    from collections import Counter

    counts = Counter()
    for _, text in corpus:
        if text:
            counts.update(text.lower().split())
    counts = {t: n for t, n in counts.items() if n >= min_count}
    total, vocab = sum(counts.values()), len(counts)
    denom = total + alpha * (vocab + 1)
    out = {}
    for did, text in docs:
        toks = text.lower().split() if text else []
        if text is None or not toks:
            out[did] = None
            continue
        micro = [
            round(math.log((counts.get(t, 0) + alpha) / denom) * 1e6)
            for t in toks
        ]
        out[did] = sum(micro) / (len(micro) * 1e6)
    return out


def test_self_scoring_matches_reference(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r.doc_id: r.unigram_logprob for r in unigram_logprob(df).collect()}
    want = _ref_scores(DOCS, DOCS)
    assert set(got) == set(want)
    for did in got:
        if want[did] is None:
            assert got[did] is None, did
        else:
            assert abs(got[did] - want[did]) < 1e-12, did


def test_external_model_prices_oov(spark):
    """Scoring against a model from a DIFFERENT corpus: unseen tokens get
    the alpha/denom OOV mass, so an all-OOV document scores strictly
    below any in-vocabulary one."""
    corpus = [(100, "aa bb aa bb aa")]
    model = unigram_model(
        spark.createDataFrame(corpus, "doc_id long, text string"),
    )
    docs = [(1, "aa bb"), (2, "qq ww")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.unigram_logprob
        for r in unigram_logprob(df, model=model).collect()
    }
    want = _ref_scores(corpus, docs)
    for did in got:
        assert abs(got[did] - want[did]) < 1e-12, did
    assert got[2] < got[1]


def test_min_count_prunes_to_oov(spark):
    """min_count drops hapax tokens from the model; they then score as
    OOV — matching a reference model pruned the same way."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        r.doc_id: r.unigram_logprob
        for r in unigram_logprob(df, min_count=2).collect()
    }
    want = _ref_scores(DOCS, DOCS, min_count=2)
    for did in got:
        if want[did] is None:
            assert got[did] is None, did
        else:
            assert abs(got[did] - want[did]) < 1e-12, did


def test_partitioning_invariance(spark):
    """Integer micro-nat sums make the score exactly layout-independent."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    a = {r.doc_id: r.unigram_logprob for r in unigram_logprob(df).collect()}
    b = {
        r.doc_id: r.unigram_logprob
        for r in unigram_logprob(df.repartition(7), broadcast_model=False).collect()
    }
    assert a == b


def test_validation(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError, match="text column"):
        unigram_logprob(df, text_column="nope")
    with pytest.raises(ValueError, match="id column"):
        unigram_logprob(df, id_column="nope")
    with pytest.raises(ValueError, match="alpha"):
        unigram_logprob(df, alpha=0.0)
    with pytest.raises(ValueError, match="min_count"):
        unigram_model(df, min_count=0)
    with pytest.raises(ValueError, match="model must have"):
        unigram_logprob(df, model=df)


def test_duckdb_parity(spark):
    """Cross-engine: the Spark score equals a DuckDB twin built from the
    same micro-nat formulation over the driver documents table."""
    import duckdb

    path = "/root/testdata/sf0.001/documents.parquet"
    if not Path(path).exists():
        pytest.skip("driver testdata not present")
    df = spark.read.parquet(path)
    got = {r.doc_id: r.unigram_logprob for r in unigram_logprob(df).collect()}
    from queries.text import _toks_sql

    toks = _toks_sql("text")
    sql = f"""
    WITH tk AS (SELECT doc_id, unnest({toks}) AS token
                FROM read_parquet('{path}')),
    model AS (SELECT token, count(*) AS n FROM tk GROUP BY token),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS vocab FROM model),
    lut AS (SELECT token,
                   CAST(round(ln((n + 1.0) / (total + 1.0 * (vocab + 1))) * 1e6, 0)
                        AS BIGINT) AS lm
            FROM model, tot),
    agg AS (SELECT doc_id, CAST(sum(lm) AS BIGINT) AS s, count(*) AS m
            FROM tk JOIN lut USING (token) GROUP BY doc_id)
    SELECT d.doc_id, CAST(s AS DOUBLE) / (m * 1e6) AS lp
    FROM read_parquet('{path}') d LEFT JOIN agg ON agg.doc_id = d.doc_id
    """
    want = {row[0]: row[1] for row in duckdb.connect().execute(sql).fetchall()}
    assert set(got) == set(want)
    for did in got:
        if want[did] is None:
            assert got[did] is None, did
        else:
            assert got[did] == want[did], did


# ---------------------------------------------------------------------------
# property test (hypothesis): fuzzed corpora vs the pure-Python reference
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SET = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_WORD = st.sampled_from(["aa", "bb", "cc", "dd", "AA", "Bb"])
_TEXT = st.lists(_WORD, min_size=0, max_size=8).map(" ".join)


@_SET
@given(
    texts=st.lists(st.one_of(st.none(), _TEXT), min_size=1, max_size=8),
    min_count=st.integers(1, 3),
)
def test_logprob_property(spark, texts, min_count):
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.unigram_logprob
        for r in unigram_logprob(df, min_count=min_count).collect()
    }
    want = _ref_scores(docs, docs, min_count=min_count)
    assert set(got) == set(want)
    for did in got:
        if want[did] is None:
            assert got[did] is None, did
        else:
            assert abs(got[did] - want[did]) < 1e-12, did


# ---------------------------------------------------------------------------
# n-gram models (n > 1)
# ---------------------------------------------------------------------------
def _ref_ngram_scores(corpus, docs, n, alpha=1.0, min_count=1):
    from collections import Counter

    def grams(text):
        toks = text.lower().split() if text else []
        if len(toks) < n:
            return []
        return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]

    counts = Counter(g for _, t in corpus for g in grams(t))
    counts = {g: c for g, c in counts.items() if c >= min_count}
    total, vocab = sum(counts.values()), len(counts)
    denom = total + alpha * (vocab + 1)
    out = {}
    for did, text in docs:
        gs = grams(text)
        if text is None or not gs:
            out[did] = None
            continue
        micro = [
            round(math.log((counts.get(g, 0) + alpha) / denom) * 1e6) for g in gs
        ]
        out[did] = sum(micro) / (len(micro) * 1e6)
    return out


def test_bigram_scoring_matches_reference(spark):
    """n=2: repeated bigrams score high, novel word orders score low, and
    docs without a full bigram (or NULL) get NULL — the shorter-than-n
    partial shingle is not an LM event."""
    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat again"),
        (3, "mat the on sat cat the"),   # same unigrams, novel bigrams
        (4, "single"),                    # no full bigram -> NULL
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.unigram_logprob for r in unigram_logprob(df, n=2).collect()
    }
    want = _ref_ngram_scores(docs, docs, n=2)
    assert set(got) == set(want)
    for did in got:
        if want[did] is None:
            assert got[did] is None, did
        else:
            assert abs(got[did] - want[did]) < 1e-12, did
    assert got[3] < got[2]  # novel word order is less probable

    with pytest.raises(ValueError, match="n must be"):
        unigram_logprob(df, n=0)
    with pytest.raises(ValueError, match="n must be"):
        unigram_model(df, n=0)


def test_rowwise_scoring_matches_the_aggregation_path(spark):
    """unigram_logprob_rowwise (map-only, broadcast-LUT UDF) must equal
    unigram_logprob (explode + join + groupBy) bit-for-bit on the same
    external model — unigrams and bigrams, text and token-array paths,
    NULL/short docs included."""
    from sed_binning_spark.pipeline.lm import (
        unigram_logprob,
        unigram_logprob_rowwise,
        unigram_model,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", [3, 1, 4, 1, 5]),
            (2, "the dog", [9, 2]),
            (3, "zz unseen words only", [42]),
            (4, None, None),
            (5, "", []),
            (6, "single", [7]),
        ],
        "doc_id long, text string, ids array<int>",
    )
    ref = spark.createDataFrame(
        [(1, "the cat sat on the mat and the dog sat", [3, 1, 4, 1, 5, 9, 2, 3, 1])],
        "doc_id long, text string, ids array<int>",
    )
    for kwargs in (
        {"n": 1},
        {"n": 2},
        {"n": 1, "token_array_column": "ids"},
        {"n": 2, "token_array_column": "ids"},
    ):
        model = unigram_model(
            ref, n=kwargs["n"],
            token_array_column=kwargs.get("token_array_column"),
        )
        agg = {
            r.doc_id: r.unigram_logprob
            for r in unigram_logprob(docs, model=model, **kwargs).collect()
        }
        row = {
            r.doc_id: r.unigram_logprob
            for r in unigram_logprob_rowwise(docs, model, **kwargs).collect()
        }
        assert agg == row, kwargs


def test_rowwise_requires_a_model_frame(spark):
    from sed_binning_spark.pipeline.lm import unigram_logprob_rowwise

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    bad = spark.createDataFrame([("a", 1)], "word string, cnt long")
    with pytest.raises(ValueError, match="token"):
        unigram_logprob_rowwise(docs, bad)


def test_perplexity_buckets_ccnet_split(spark):
    """CCNet head/middle/tail: thresholds are LM-score quantiles fit
    driver-side; the assign half is one map-only CASE — the best-scored
    third lands in 'head', NULL scores (token-less docs) get a NULL
    bucket, thresholds transfer to ANY frame (the stream posture), and
    degenerate inputs refuse loudly."""
    import pytest
    from pyspark.sql import functions as F

    from sed_binning_spark.pipeline.lm import (
        assign_perplexity_buckets,
        perplexity_bucket_thresholds,
        unigram_logprob,
    )

    # crisp boundary semantics on EXPLICIT distinct scores: nine docs
    # with logprobs 1..9 (plus two NULLs) tercile into 3/3/3
    scored = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 10)] + [(200, None), (201, None)],
        "doc_id long, unigram_logprob double",
    )
    cuts = perplexity_bucket_thresholds(scored, fractions=(1 / 3, 2 / 3))
    assert len(cuts) == 2 and cuts[0] <= cuts[1]
    out = assign_perplexity_buckets(scored, cuts)
    got = {r["doc_id"]: r["ppl_bucket"] for r in out.collect()}
    # highest logprob = lowest perplexity = head; cut membership is <=
    assert got[9] == "head" and got[1] == "tail"
    ordered = [got[i] for i in range(1, 10)]
    assert ordered == sorted(ordered, key=("tail", "middle", "head").index)
    assert ordered.count("tail") == 3 and ordered.count("head") == 3
    assert got[200] is None and got[201] is None

    # integration: self-scored corpus ranks rare-word docs strictly below
    # the repeated-template docs
    rows = [(i, "common words appear in every document here") for i in range(12)]
    rows += [(100 + i, f"rare{i} tokens rare{i} singular oddity{i}")
             for i in range(6)]
    docs = unigram_logprob(spark.createDataFrame(rows, "doc_id long, text string"))
    c2 = perplexity_bucket_thresholds(docs, fractions=(0.2,))
    lab = {r["doc_id"]: r["b"] for r in assign_perplexity_buckets(
        docs, c2, buckets=("keep", "drop"), output_column="b",
    ).collect()}
    # the bottom-quintile cut catches only rare-word docs
    assert all(lab[i] == "keep" for i in range(12))
    assert any(lab[100 + i] == "drop" for i in range(6))
    assert all(lab[100 + i] in ("keep", "drop") for i in range(6))

    # the CASE is engine-side and stream-safe: no shuffle, no Python
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("Scan")[0]

    with pytest.raises(ValueError, match="sorted cut points"):
        perplexity_bucket_thresholds(scored, fractions=(0.9, 0.1))
    with pytest.raises(ValueError, match="bucket"):
        assign_perplexity_buckets(scored, cuts, buckets=("a", "b"))
    # tied quantiles (a low-cardinality score distribution) make the
    # middle bucket unreachable — refuse loudly, don't split into two
    with pytest.raises(ValueError, match="tied adjacent thresholds"):
        assign_perplexity_buckets(scored, [3.0, 3.0])
    with pytest.raises(ValueError, match="run unigram_logprob"):
        perplexity_bucket_thresholds(
            spark.createDataFrame([(1, "x")], "doc_id long, text string"),
        )
