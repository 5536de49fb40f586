"""BPE tokenizer: driver-trained merge tables, cluster-applied encoding
(pipeline/bpe.py) — determinism, the Sennrich reference behavior, exact
pre-token round-trips, and the token_array_column integration the
packing/LM operators consume."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sed_binning_spark.pipeline.bpe import (
    _encode_word,
    bpe_encode,
    bpe_train,
    bpe_vocab,
)
from sed_binning_spark.pipeline.text import BPE_TOKEN_RE


def test_bpe_train_learns_the_classic_example(spark):
    """The Sennrich worked example: over {low, lower, newest, widest}-ish
    frequencies, early merges capture the shared suffixes, training is
    deterministic (count-then-lexicographic tie-break), and it stops
    early when no pair repeats."""
    rows = [(i, "low low low lower lower newest newest newest "
                "newest widest") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train(df, num_merges=50, sample_size=100, seed=1)
    assert merges == bpe_train(df, num_merges=50, sample_size=100, seed=1)
    # 'est</w>' must assemble within the first few merges (newest+widest
    # dominate the pair counts)
    merged = [a + b for a, b in merges]
    assert any(v.endswith("est</w>") for v in merged[:6]), merged
    assert any(v == "low" or v == "lo" for v in merged[:8]), merged
    # early stop: far fewer merges than requested on this tiny corpus
    assert len(merges) < 50
    # the induced vocabulary = base symbols (sorted) then merges in rank
    # order — an id table sized by it covers every trained symbol
    vocab = bpe_vocab(merges)
    assert vocab[len(vocab) - len(merged):] == merged
    bases = vocab[: len(vocab) - len(merged)]
    assert bases == sorted(bases)
    assert all(len(b) == 1 or b.endswith("</w>") for b in bases), bases


def test_bpe_encode_round_trips_and_matches_training(spark):
    """concat(tokens).replace('</w>', ' ') reconstructs the pre-token
    stream exactly; a trained word re-encodes to one whole-word token
    once its merges exist; unknown characters pass through as singles;
    NULL text encodes to a NULL array."""
    corpus = [(i, "the quick brown fox the quick brown the quick the")
              for i in range(8)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    merges = bpe_train(df, num_merges=60, sample_size=100)
    test_rows = [
        (1, "the quick brown fox jumps"),
        (2, "unseen Zoé! tokens"),
        (3, None),
        (4, ""),
    ]
    tdf = spark.createDataFrame(test_rows, "doc_id long, text string")
    got = {r.doc_id: r.bpe_tokens
           for r in bpe_encode(tdf, merges).collect()}
    for did, text in test_rows:
        if text is None:
            assert got[did] is None
            continue
        pre = re.findall(BPE_TOKEN_RE, text)
        joined = "".join(got[did]).replace("</w>", " ").rstrip(" ")
        assert joined == " ".join(pre), (did, got[did])
    assert "the</w>" in got[1]  # fully merged training word


def test_bpe_encode_word_applies_lowest_rank_first():
    """Greedy application follows training rank order, so segmentation is
    independent of scan position (the classic BPE contract)."""
    ranks = {("a", "b"): 0, ("ab", "c</w>"): 1, ("b", "c</w>"): 2}
    assert _encode_word("abc", ranks) == ["abc</w>"]
    # without the first-rank merge available, the later one applies
    assert _encode_word("bc", {("b", "c</w>"): 2}) == ["bc</w>"]
    assert _encode_word("x", {}) == ["x</w>"]


def test_bpe_feeds_packing_and_lm(spark):
    """The encoded arrays drive pack_chunks/pack_sequences (token_column
    + token_array_column) and unigram_model — the integration the
    curation pipeline composes."""
    from sed_binning_spark.pipeline import (
        pack_chunks, pack_sequences, unigram_model,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = bpe_train(docs, num_merges=80, sample_size=300)
    enc = (bpe_encode(docs, merges)
           .where(F.col("text").isNotNull())
           .withColumn("n_bpe", F.size("bpe_tokens")))
    manifest = pack_chunks(enc, seq_tokens=32, token_column="n_bpe")
    seqs = pack_sequences(manifest, enc, token_array_column="bpe_tokens")
    pdf = seqs.toPandas()
    assert len(pdf) > 0
    full = pdf[pdf.n_tokens == 32]
    assert len(full) >= len(pdf) - pdf.shard.nunique()  # only tails short
    total_in = enc.agg(F.sum("n_bpe")).first()[0]
    assert pdf.n_tokens.sum() == total_in  # packing loses nothing
    model = unigram_model(enc, token_array_column="bpe_tokens")
    assert model.count() > 0


def test_bpe_validation(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="num_merges"):
        bpe_train(df, num_merges=0)
    with pytest.raises(ValueError, match="text column"):
        bpe_train(df, text_column="nope")
    with pytest.raises(ValueError, match="text column"):
        bpe_encode(df, [], text_column="nope")



def test_bpe_train_counts_rows_under_a_loose_limit(spark):
    """A ``limit`` above the row count over a non-nullable text column must
    not stand in for the row count: a corpus smaller than ``sample_size``
    trains on every row, as the same corpus does without the limit."""
    words = ["low", "lower", "newest", "widest", "wider", "lowest", "new"]
    rows = [(i, " ".join(words[(i + k) % len(words)] for k in range(i % 5 + 2)))
            for i in range(150)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = bpe_train(docs, num_merges=40, sample_size=200, seed=3)
    limited = docs.select(F.coalesce("text", F.lit("")).alias("text")).limit(500)
    assert not limited.schema["text"].nullable
    assert bpe_train(limited, num_merges=40, sample_size=200, seed=3) == full
