"""Sequence packing (pipeline.pack) and benchmark decontamination
(pipeline.decontam): manifest invariants against a pure-Python packing
reimplementation, fill accounting, determinism across partition layouts,
and GPT-3-style n-gram overlap semantics incl. blank/NULL/short-document
edges."""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sed_binning_spark.pipeline.decontam import (
    contamination_pairs,
    contamination_stats,
    decontaminate,
)
from sed_binning_spark.pipeline.pack import pack_chunks, pack_stats


# ---------------------------------------------------------------------------
# pure-Python reference of the packing layout
# ---------------------------------------------------------------------------
def _ref_uniform(key, seed, domain="pack"):
    s = str(key)
    hx = hashlib.md5(f"{len(s)}:{s};{domain}:{seed}".encode()).hexdigest()
    return int(hx[:13], 16) / float(1 << 52)


def _ref_pack(docs, budget, n_shards, seed=0):
    """docs: list[(id, n_tokens)] -> set of manifest tuples."""
    shards = {}
    for did, nt in docs:
        if did is None or nt is None or nt <= 0:
            continue
        sh = int(_ref_uniform(did, seed) * n_shards)
        shards.setdefault(sh, []).append((did, nt))
    out = set()
    for sh, members in shards.items():
        pos = 0
        for did, nt in sorted(members):
            start, end = pos, pos + nt
            for s in range(start // budget, (end - 1) // budget + 1):
                lo, hi = max(start, s * budget), min(end, (s + 1) * budget)
                out.add((sh, s, did, nt, lo - start, hi - lo, lo - s * budget))
            pos = end
    return out


def _docs_df(spark, rows, num_partitions=None):
    df = spark.createDataFrame(rows, "doc_id long, text string, n_tok long")
    return df.repartition(num_partitions) if num_partitions else df


ROWS = [
    (1, "a b c d e", 5),
    (2, "one two three", 3),
    (3, " ".join(f"t{i}" for i in range(23)), 23),
    (4, "x", 1),
    (5, None, None),       # NULL text -> no tokens -> no manifest rows
    (6, "   ", 0),         # blank -> zero tokens -> no manifest rows
    (7, "p q r s t u v w", 8),
    (8, " ".join(f"z{i}" for i in range(40)), 40),
]


@pytest.mark.parametrize(
    "budget,n_shards,seed",
    [(8, 4, 0), (5, 1, 0), (64, 16, 0), (8, 4, 7), (1, 3, 1)],
)
def test_pack_matches_reference_layout(spark, budget, n_shards, seed):
    got = {
        tuple(r)
        for r in pack_chunks(
            _docs_df(spark, ROWS), seq_tokens=budget, n_shards=n_shards, seed=seed,
        ).collect()
    }
    want = _ref_pack(
        [(r[0], r[2]) for r in ROWS], budget=budget, n_shards=n_shards, seed=seed,
    )
    assert got == want
    assert got  # non-degenerate


def test_pack_token_column_equals_text_count(spark):
    df = _docs_df(spark, ROWS)
    via_text = {tuple(r) for r in pack_chunks(df, 8, n_shards=4).collect()}
    via_col = {
        tuple(r)
        for r in pack_chunks(df, 8, token_column="n_tok", n_shards=4).collect()
    }
    assert via_text == via_col


def test_pack_layout_independent_of_partitioning(spark):
    a = {tuple(r) for r in pack_chunks(_docs_df(spark, ROWS), 8, n_shards=4).collect()}
    b = {
        tuple(r)
        for r in pack_chunks(_docs_df(spark, ROWS, num_partitions=7), 8, n_shards=4).collect()
    }
    assert a == b


def test_pack_stream_invariants(spark):
    """Within every shard: slices tile the token stream exactly — every
    sequence before the tail is full, slices of one doc cover [0, n_tokens),
    and per-sequence offsets+lengths tile [0, budget)."""
    budget = 8
    man = pack_chunks(_docs_df(spark, ROWS), budget, n_shards=2).collect()
    by_doc = {}
    by_seq = {}
    for r in man:
        by_doc.setdefault(r.doc_id, []).append(r)
        by_seq.setdefault((r.shard, r.seq_id), []).append(r)
    for did, rows in by_doc.items():
        rows = sorted(rows, key=lambda r: r.slice_start)
        assert rows[0].slice_start == 0
        for a, b in zip(rows, rows[1:]):
            assert a.slice_start + a.slice_len == b.slice_start
        assert rows[-1].slice_start + rows[-1].slice_len == rows[0].n_tokens
    for (sh, sq), rows in by_seq.items():
        rows = sorted(rows, key=lambda r: r.seq_offset)
        assert rows[0].seq_offset == 0
        for a, b in zip(rows, rows[1:]):
            assert a.seq_offset + a.slice_len == b.seq_offset
        filled = sum(r.slice_len for r in rows)
        tail = sq == max(s for (s2, s) in by_seq if s2 == sh)
        assert filled == budget or tail


def test_pack_stats_full_except_tail(spark):
    budget = 8
    man = pack_chunks(_docs_df(spark, ROWS), budget, n_shards=2)
    stats = pack_stats(man, budget).collect()
    by_shard_last = {}
    for r in stats:
        by_shard_last[r.shard] = max(by_shard_last.get(r.shard, -1), r.seq_id)
    for r in stats:
        if r.seq_id != by_shard_last[r.shard]:
            assert r.filled_tokens == budget and r.fill_ratio == 1.0
        else:
            assert 0 < r.filled_tokens <= budget


def test_pack_validation(spark):
    df = _docs_df(spark, ROWS)
    with pytest.raises(ValueError, match="seq_tokens"):
        pack_chunks(df, 0)
    with pytest.raises(ValueError, match="n_shards"):
        pack_chunks(df, 8, n_shards=0)
    with pytest.raises(ValueError, match="id column"):
        pack_chunks(df, 8, id_column="nope")
    with pytest.raises(ValueError, match="token column"):
        pack_chunks(df, 8, token_column="nope")
    with pytest.raises(ValueError, match="text column"):
        pack_chunks(df.drop("text"), 8)


def test_pack_duplicate_ids_fail_loudly(spark):
    """The unique-id layout contract is enforced at execution time: a
    duplicate id raises instead of silently producing a tie-dependent
    (and overlap-corrupted) layout."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException, SparkRuntimeException

    df = spark.createDataFrame(
        [("a", "one two three"), ("a", "four five"), ("b", "six")],
        "doc_id string, text string",
    )
    with pytest.raises(
        (Py4JJavaError, SparkRuntimeException, PythonException),
        match="duplicate document id",
    ):
        pack_chunks(df, 4, n_shards=1).collect()


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------
BENCH = [
    (100, "the quick brown fox jumps over the lazy dog"),
    (101, "pack my box with five dozen liquor jugs"),
    (102, None),
]

TRAIN = [
    # contains bench 100's exact 5-gram "quick brown fox jumps over"
    (1, "intro text then the QUICK Brown fox jumps over and more"),
    # clean
    (2, "completely unrelated content about spark window functions"),
    # contains two distinct 5-grams of bench 101
    (3, "pack my box with five dozen liquor jugs it said"),
    (4, None),
    (5, "short doc"),  # shorter than n -> full-string shingle, no match
]


def test_contamination_stats_flags_overlaps(spark):
    docs = spark.createDataFrame(TRAIN, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "bench_id long, text string")
    got = {
        r.doc_id: (r.n_grams, r.n_matched, r.contaminated)
        for r in contamination_stats(docs, bench, n=5).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}  # every doc reports, incl. NULL text
    assert got[1][2] and got[1][1] >= 1          # case-folded 5-gram hit
    assert got[2] == (got[2][0], 0, False)
    assert got[3][1] >= 2 and got[3][2]
    assert got[4] == (0, 0, False)               # NULL text: 0 grams
    assert got[5] == (1, 0, False)               # short doc: 1 full-string gram


def test_contamination_pairs_attribution(spark):
    docs = spark.createDataFrame(TRAIN, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "bench_id long, text string")
    pairs = {
        (r.doc_id, r.bench_id): r.n_matched
        for r in contamination_pairs(docs, bench, n=5).collect()
    }
    assert all(did in (1, 3) for did, _ in pairs)
    assert pairs[(1, 100)] >= 1
    assert pairs[(3, 101)] >= 2
    assert (3, 100) not in pairs


def test_decontaminate_drops_only_flagged(spark):
    docs = spark.createDataFrame(TRAIN, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "bench_id long, text string")
    kept = sorted(
        r.doc_id for r in decontaminate(docs, bench, n=5).collect()
    )
    assert kept == [2, 4, 5]
    # min_matches=2 spares doc 1 (single shared gram region < 2 grams is
    # possible; recompute expectation from the stats instead of guessing)
    stats = {
        r.doc_id: r.n_matched
        for r in contamination_stats(docs, bench, n=5).collect()
    }
    kept2 = sorted(
        r.doc_id for r in decontaminate(docs, bench, n=5, min_matches=2).collect()
    )
    assert kept2 == sorted(d for d, m in stats.items() if m < 2)


def test_decontaminate_validation(spark):
    docs = spark.createDataFrame(TRAIN, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "bench_id long, text string")
    with pytest.raises(ValueError, match="docs text column"):
        contamination_stats(docs.drop("text"), bench)
    with pytest.raises(ValueError, match="benchmark id column"):
        contamination_pairs(docs, bench, bench_id_column="nope")
    with pytest.raises(ValueError, match="min_matches"):
        contamination_stats(docs, bench, min_matches=0)


# ---------------------------------------------------------------------------
# Gopher repetition signals (pipeline.text.repetition_stats)
# ---------------------------------------------------------------------------
from collections import Counter

from sed_binning_spark.pipeline.text import repetition_stats


def _ref_repetition(text, n, kind):
    if text is None:
        return None
    toks = text.lower().split()
    # Gopher/DataTrove convention: no full n-gram -> no repetition evidence
    if len(toks) < n or len(text) == 0:
        return 0.0
    grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
    counts = Counter(grams)
    if kind == "top":
        best = max(counts.values())
        # tie-break: first in sort order = min gram string among argmax
        blen = len(min(g for g, c in counts.items() if c == best))
        chars = best * blen
    else:
        # repeat occurrences only: (count - 1) * len
        chars = sum((c - 1) * len(g) for g, c in counts.items() if c > 1)
    return min(float(chars), float(len(text))) / len(text)


REP_DOCS = [
    (1, "spam spam spam spam spam"),
    (2, "the cat sat on the mat and the cat sat on the rug"),
    (3, "all distinct words here today"),
    (4, None),
    (5, ""),
    (6, "  \t "),
    (7, "tie tie bye bye zz"),     # 2-gram tie: 'bye bye' vs 'tie tie'
    (8, "short"),                   # shorter than every n
]


def test_repetition_stats_matches_reference(spark):
    df = spark.createDataFrame(REP_DOCS, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in repetition_stats(df).collect()}
    for did, text in REP_DOCS:
        for n in (2, 3, 4):
            want = _ref_repetition(text, n, "top")
            have = got[did][f"top_{n}gram_char_frac"]
            assert (have is None) == (want is None), (did, n)
            if want is not None:
                assert abs(have - want) < 1e-12, (did, n, have, want)
        for n in (5, 6, 7, 8, 9, 10):
            want = _ref_repetition(text, n, "dup")
            have = got[did][f"dup_{n}gram_char_frac"]
            assert (have is None) == (want is None), (did, n)
            if want is not None:
                assert abs(have - want) < 1e-12, (did, n, have, want)


def test_word_shingles_pretokenized_equivalence(spark):
    """The shared-tokenizer path (repetition_stats materializes _tokens
    once and passes it to every word_shingles call) must shingle exactly
    like the self-tokenizing form, including NULL and sub-window docs."""
    from pyspark.sql import functions as F

    from sed_binning_spark.pipeline.dedup import _tokens, word_shingles

    df = spark.createDataFrame(REP_DOCS, "doc_id long, text string")
    for n in (2, 5):
        rows = (
            df.withColumn("tk", _tokens(F.col("text")))
            .select(
                word_shingles(F.col("text"), n).alias("a"),
                word_shingles(F.col("text"), n, tokens=F.col("tk")).alias("b"),
            )
            .collect()
        )
        for r in rows:
            assert r.a == r.b, (n, r.a, r.b)


@pytest.mark.parametrize("kind,n", [("top", 2), ("dup", 5)])
def test_repetition_stats_duckdb_parity(spark, kind, n):
    """Cross-engine: the fold's (count, tie-broken length / dup chars)
    equals a DuckDB group-by formulation over the driver documents table."""
    import duckdb

    path = "/root/testdata/sf0.001/documents.parquet"
    if not Path(path).exists():
        pytest.skip("driver testdata not present")
    df = spark.read.parquet(path)
    col = f"{kind}_{n}gram_char_frac"
    got = {
        r.doc_id: r[col]
        for r in repetition_stats(df, top_ns=(n,), dup_ns=(n,)).collect()
    }
    from queries.text import _toks_sql

    toks = _toks_sql("text")
    grams = (
        f"CASE WHEN len({toks}) < {n} THEN [] ELSE "
        f"list_transform(range(1, len({toks}) - {n - 1} + 1), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')) END"
    )
    if kind == "top":
        # tie-break = first gram in sort order among the argmax counts
        chars = (
            "(SELECT max(cnt) * length(min(g) FILTER (cnt = max_cnt)) FROM "
            "(SELECT g, count(*) AS cnt, max(count(*)) OVER () AS max_cnt "
            "FROM unnest(grams) AS t(g) GROUP BY g))"
        )
    else:
        # repeat occurrences only: (count - 1) * len
        chars = (
            "(SELECT coalesce(sum((cnt - 1) * length(g)), 0) FROM "
            "(SELECT g, count(*) AS cnt FROM unnest(grams) AS t(g) GROUP BY g) "
            "WHERE cnt > 1)"
        )
    sql = (
        f"SELECT doc_id, CASE WHEN text IS NULL THEN NULL "
        f"WHEN length(text) = 0 OR len(grams) = 0 THEN 0.0 "
        f"ELSE least(CAST({chars} AS DOUBLE), length(text)) / length(text) END AS frac "
        f"FROM (SELECT doc_id, text, {grams} AS grams FROM read_parquet('{path}'))"
    )
    want = {row[0]: row[1] for row in duckdb.connect().execute(sql).fetchall()}
    assert set(got) == set(want)
    for did in got:
        if want[did] is None:
            assert got[did] is None, did
        else:
            assert got[did] is not None and abs(got[did] - want[did]) < 1e-12, did


# ---------------------------------------------------------------------------
# sequence assembly (pipeline.pack.pack_sequences)
# ---------------------------------------------------------------------------
from sed_binning_spark.pipeline.pack import pack_sequences


def test_pack_sequences_rebuilds_the_exact_stream(spark):
    """Concatenating each shard's sequences in seq_id order must equal
    concatenating its documents' tokens in id order — the manifest and
    the assembly agree token-for-token; every non-tail sequence is
    exactly full."""
    budget = 7
    df = _docs_df(spark, ROWS)
    man = pack_chunks(df, budget, n_shards=3)
    seqs = pack_sequences(man, df).collect()

    # rebuild each shard stream from the assembled sequences
    got_streams = {}
    max_seq = {}
    for r in sorted(seqs, key=lambda r: (r.shard, r.seq_id)):
        got_streams.setdefault(r.shard, []).extend(r.tokens)
        max_seq[r.shard] = max(max_seq.get(r.shard, -1), r.seq_id)
        assert r.n_tokens == len(r.tokens)
    for r in seqs:
        if r.seq_id != max_seq[r.shard]:
            assert r.n_tokens == budget, (r.shard, r.seq_id)
        else:
            assert 0 < r.n_tokens <= budget

    # reference stream: per-shard doc order by id, whitespace tokens
    shard_of = {
        r[0]: r[1] for r in man.select("doc_id", "shard").distinct().collect()
    }
    want_streams = {}
    for did, text, _ in sorted(ROWS):
        toks = (text or "").split()
        if did in shard_of and toks:
            want_streams.setdefault(shard_of[did], []).extend(toks)
    assert got_streams == want_streams


def test_pack_sequences_token_array_column(spark):
    """A precomputed token array (the real-tokenizer path) assembles
    identically when pack_chunks laid out with the matching counts."""
    from pyspark.sql import functions as F

    df = _docs_df(spark, ROWS).withColumn(
        "toks", F.split(F.trim(F.col("text")), "\\s+",),
    ).withColumn(
        "toks", F.filter(F.col("toks"), lambda x: x != ""),
    ).withColumn("n_tok", F.size("toks"))
    man = pack_chunks(df, 8, token_column="n_tok", n_shards=2)
    via_text = {
        (r.shard, r.seq_id, tuple(r.tokens))
        for r in pack_sequences(man, df).collect()
    }
    via_array = {
        (r.shard, r.seq_id, tuple(r.tokens))
        for r in pack_sequences(man, df, token_array_column="toks").collect()
    }
    assert via_text == via_array and via_text


def test_pack_sequences_validation(spark):
    df = _docs_df(spark, ROWS)
    man = pack_chunks(df, 8)
    with pytest.raises(ValueError, match="token array column"):
        pack_sequences(man, df, token_array_column="nope")
    with pytest.raises(ValueError, match="text column"):
        pack_sequences(man, df.drop("text"))
    with pytest.raises(ValueError, match="slice_start"):
        pack_sequences(df, df)


def test_pack_sequences_guards_fail_loudly(spark):
    """Manifest/docs mismatches must raise, never ship corrupt sequences:
    a doc missing from docs, a token array shorter OR longer than the
    layout (mismatched tokenization in either direction), and a
    duplicated doc id."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException, SparkRuntimeException

    SparkErrs = (Py4JJavaError, SparkRuntimeException, PythonException)
    df = _docs_df(spark, ROWS)
    man = pack_chunks(df, 8, n_shards=2)

    with pytest.raises(SparkErrs, match="missing from docs"):
        pack_sequences(man, df.where("doc_id <> 3"), ).collect()

    from pyspark.sql import functions as F
    short = df.withColumn(
        "toks", F.slice(F.split(F.trim("text"), r"\s+"), 1, 2),
    )
    with pytest.raises(SparkErrs, match="does not match the manifest"):
        pack_sequences(man, short, token_array_column="toks").collect()

    # LONGER than the layout must raise too: the old one-sided size(cut)
    # check passed silently and dropped each document's tail tokens
    longer = df.withColumn(
        "toks",
        F.concat(F.split(F.trim("text"), r"\s+"), F.array(F.lit("x"), F.lit("y"))),
    )
    with pytest.raises(SparkErrs, match="does not match the manifest"):
        pack_sequences(man, longer, token_array_column="toks").collect()

    with pytest.raises(SparkErrs, match="duplicate document id"):
        pack_sequences(man, df.union(df.where("doc_id = 1"))).collect()


def test_pack_sequences_check_unique_ids_flag(spark):
    """check_unique_ids=False skips the id-only guard aggregation (no
    groupBy over docs ids in the plan) but assembles identically on a
    valid corpus; the other guards stay on."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException, SparkRuntimeException

    df = _docs_df(spark, ROWS)
    man = pack_chunks(df, 8, n_shards=2)
    guarded = pack_sequences(man, df)
    unguarded = pack_sequences(man, df, check_unique_ids=False)
    assert sorted(
        (r.shard, r.seq_id, tuple(r.tokens), r.n_docs, r.n_tokens)
        for r in guarded.collect()
    ) == sorted(
        (r.shard, r.seq_id, tuple(r.tokens), r.n_docs, r.n_tokens)
        for r in unguarded.collect()
    )
    # the guard is one extra aggregate pair (partial+final) over ids —
    # absent when disabled
    on = guarded._jdf.queryExecution().executedPlan().toString()
    off = unguarded._jdf.queryExecution().executedPlan().toString()
    assert on.count("HashAggregate") > off.count("HashAggregate")
    # missing-doc guard still fires without the dup check
    with pytest.raises(
        (Py4JJavaError, SparkRuntimeException, PythonException),
        match="missing from docs",
    ):
        pack_sequences(
            man, df.where("doc_id <> 3"), check_unique_ids=False,
        ).collect()


# ---------------------------------------------------------------------------
# duplicate-segment fractions (pipeline.text.dup_segment_stats)
# ---------------------------------------------------------------------------
from sed_binning_spark.pipeline.text import dup_segment_stats

DUPSEG_DOCS = [
    (1, "a\na\nb\n\nc c\n\na\na"),     # lines: a,a,b,c c,a,a ; paras: 'a\na\nb', 'c c', 'a\na'
    (2, "x\n\nx\n\ny"),                 # para 'x' duplicated once
    (3, "only one line"),
    (4, None),
    (5, ""),
    (6, "p\np"),                        # one para, two dup lines
]


def _ref_dupseg(text, granularity):
    import re
    from collections import Counter

    if text is None:
        return (None, None)
    sep = r"\n{2,}" if granularity == "paragraph" else r"\n"
    segs = [
        s for s in re.split(sep, text)
        if re.sub(r"[ \t\x0B\f\r\n]", "", s) != ""
    ]
    if len(segs) < 2:
        return (0.0, 0.0)
    counts = Counter(segs)
    dupn = sum(c - 1 for c in counts.values() if c > 1)
    dupc = sum((c - 1) * len(s) for s, c in counts.items() if c > 1)
    cf = 0.0 if len(text) == 0 else min(float(dupc), float(len(text))) / len(text)
    return (dupn / len(segs), cf)


def test_dup_segment_stats_matches_reference(spark):
    df = spark.createDataFrame(DUPSEG_DOCS, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in dup_segment_stats(df).collect()}
    for did, text in DUPSEG_DOCS:
        for g, tag in [("line", "line"), ("paragraph", "para")]:
            wf, wc = _ref_dupseg(text, g)
            hf = got[did][f"dup_{tag}_frac"]
            hc = got[did][f"dup_{tag}_char_frac"]
            if wf is None:
                assert hf is None and hc is None, (did, g)
            else:
                assert abs(hf - wf) < 1e-12, (did, g, hf, wf)
                assert abs(hc - wc) < 1e-12, (did, g, hc, wc)
    with pytest.raises(ValueError, match="granularities"):
        dup_segment_stats(df, granularities=("sentence",))


def test_dup_segment_stats_duckdb_parity(spark):
    """Cross-engine over a line/paragraph-laden twin of the driver
    documents table."""
    import duckdb

    path = "/root/testdata/sf0.001/documents.parquet"
    if not Path(path).exists():
        pytest.skip("driver testdata not present")
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).select(
        "doc_id",
        F.concat(
            F.lit("header\n"), F.col("text"), F.lit("\nheader\n\nP\n\nP\n\n"),
            F.col("text"),
        ).alias("text"),
    )
    got = {
        r.doc_id: (r.dup_line_frac, r.dup_line_char_frac,
                   r.dup_para_frac, r.dup_para_char_frac)
        for r in dup_segment_stats(df).collect()
    }
    blank = "[ \t\x0B\f\r\n]"

    def segs(sep):
        return (
            f"list_filter(regexp_split_to_array(text, '{sep}'), "
            f"s -> regexp_replace(s, '{blank}', '', 'g') != '')"
        )

    def dual(seglist):
        return (
            f"(SELECT coalesce(sum(cnt - 1), 0) FROM (SELECT s, count(*) AS cnt "
            f"FROM unnest({seglist}) AS t(s) GROUP BY s) WHERE cnt > 1)",
            f"(SELECT coalesce(sum((cnt - 1) * length(s)), 0) FROM (SELECT s, "
            f"count(*) AS cnt FROM unnest({seglist}) AS t(s) GROUP BY s) WHERE cnt > 1)",
        )

    cols = []
    for sep, tag in [(r"\n", "line"), (r"\n{2,}", "para")]:
        dn, dc = dual("l_" + tag)
        cols.append(
            f"CASE WHEN text IS NULL THEN NULL WHEN len(l_{tag}) < 2 THEN 0.0e0 "
            f"ELSE CAST({dn} AS DOUBLE) / len(l_{tag}) END AS dup_{tag}_frac",
        )
        cols.append(
            f"CASE WHEN text IS NULL THEN NULL "
            f"WHEN len(l_{tag}) < 2 OR length(text) = 0 THEN 0.0e0 "
            f"ELSE least(CAST({dc} AS DOUBLE), length(text)) / length(text) "
            f"END AS dup_{tag}_char_frac",
        )
    sql = (
        f"SELECT doc_id, {', '.join(cols)} FROM (SELECT doc_id, text, "
        f"{segs(chr(92) + 'n')} AS l_line, {segs(chr(92) + 'n{2,}')} AS l_para "
        f"FROM (SELECT doc_id, 'header' || chr(10) || text || chr(10) || 'header' "
        f"|| chr(10) || chr(10) || 'P' || chr(10) || chr(10) || 'P' || chr(10) || chr(10) "
        f"|| text AS text FROM read_parquet('{path}')))"
    )
    want = {row[0]: tuple(row[1:]) for row in duckdb.connect().execute(sql).fetchall()}
    assert set(got) == set(want)
    for did in got:
        for a, b in zip(got[did], want[did]):
            if b is None:
                assert a is None, did
            else:
                assert a is not None and abs(a - b) < 1e-12, (did, a, b)


def test_pack_sequences_rejects_inconsistent_manifest_rows(spark):
    """A manifest row whose slice exceeds its own token array (or whose
    n_tokens is NULL) must raise — the length check alone would pass a
    corrupted row whose n_tokens still matches the array."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException, SparkRuntimeException
    from pyspark.sql import functions as F

    SparkErrs = (Py4JJavaError, SparkRuntimeException, PythonException)
    df = _docs_df(spark, ROWS)
    man = pack_chunks(df, 8, n_shards=2)

    # shift slice_start beyond the array's tail: size matches n_tokens,
    # but the slice cannot be served in full
    corrupted = man.withColumn("slice_start", F.col("slice_start") + 3)
    with pytest.raises(SparkErrs, match="out of the token array's bounds"):
        pack_sequences(corrupted, df).collect()

    # NULL n_tokens must raise, not skip both guards
    nulled = man.withColumn(
        "n_tokens", F.lit(None).cast("bigint"),
    )
    with pytest.raises(SparkErrs, match="does not match the manifest"):
        pack_sequences(nulled, df).collect()


def test_pack_chunks_shuffled_order(spark):
    """order='shuffled' lays each shard's stream in a seeded md5 order:
    a deterministic permutation of the id-order layout (same documents,
    same per-shard token accounting, same reassembled token mass) that
    actually differs from id order, differs across seeds, and replays
    identically for one seed — the global randomization a trainer wants
    without any extra shuffle."""
    from pyspark.sql import functions as F

    from sed_binning_spark.pipeline.pack import pack_chunks, pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(3 + i % 5)))
         for i in range(40)],
        "doc_id long, text string",
    )
    base = pack_chunks(docs, seq_tokens=16, n_shards=2)
    shuf = pack_chunks(docs, seq_tokens=16, n_shards=2, order="shuffled")
    again = pack_chunks(docs, seq_tokens=16, n_shards=2, order="shuffled")
    other = pack_chunks(docs, seq_tokens=16, n_shards=2, order="shuffled",
                        seed=1)

    def rows(m):
        return sorted(tuple(r) for r in m.collect())

    assert rows(shuf) == rows(again)          # seed-deterministic replay
    assert rows(shuf) != rows(base)           # actually permuted
    # seed=1 changes BOTH the shard hash and the order draw
    assert rows(other) != rows(shuf)

    # same accounting: per-document token counts and per-shard totals
    def totals(m):
        per_doc = {r["doc_id"]: r["n_tokens"] for r in m.collect()}
        per_shard = {
            r["shard"]: r["tot"] for r in m.groupBy("shard").agg(
                F.sum("slice_len").alias("tot"),
            ).collect()
        }
        return per_doc, per_shard

    assert totals(shuf)[0] == totals(base)[0]
    assert totals(shuf)[1] == totals(base)[1]

    # reassembly is offset-driven and order-independent: the shuffled
    # manifest rebuilds the exact token mass
    seqs = pack_sequences(shuf, docs)
    n_total = seqs.agg(F.sum(F.size("tokens"))).collect()[0][0]
    expect = docs.agg(
        F.sum(F.size(F.split("text", " "))),
    ).collect()[0][0]
    assert n_total == expect

    import pytest

    with pytest.raises(ValueError, match="order must be"):
        pack_chunks(docs, seq_tokens=16, order="random")
