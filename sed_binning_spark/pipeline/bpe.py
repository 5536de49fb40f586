"""Byte-pair-encoding tokenizer: driver-trained, cluster-applied.

The engine's packing/LM/token-budget operators all accept precomputed
token arrays (``token_array_column``), so any external tokenizer plugs
in — but a pipeline should also be self-sufficient when no tokenizer
artifact exists yet. This module provides the classic BPE of Sennrich et
al. 2016 ("Neural Machine Translation of Rare Words with Subword
Units") in the repo's standard estimation split:

- :func:`bpe_train` fits the merge table DRIVER-SIDE on a bounded seeded
  sample (the :func:`~sed_binning_spark.pipeline.similarity.
  ivf_train_centroids` posture: model estimation is small-data, the
  corpus itself never leaves the cluster). The sample is a deterministic
  content-keyed threshold filter (``hash_uniform(text) < n/N`` — map-only,
  no sort, layout/retry-independent) — NOT a bare ``limit()``, which
  would train the vocabulary on whatever partitions happen to come first
  in a source-clustered corpus, and NOT a random top-k, whose
  TakeOrdered merge task collects every partition's k candidates.
- :func:`bpe_encode` applies the merges cluster-side as one map-only
  Arrow-batched ``pandas_udf`` over the shared regex pre-tokenizer
  (:data:`~sed_binning_spark.pipeline.text.BPE_TOKEN_RE`): merge ranks
  broadcast with the closure, a per-batch word→subwords memo exploits
  the Zipfian word distribution (cache hits dominate on real text), no
  shuffle, no driver traffic. This is a legitimate Python crossing under
  the §2.9 UDF policy — iterative rank-ordered pair merging is not
  expressible as Catalyst expressions.

Token convention (Sennrich): each pre-token's character sequence gets an
``</w>`` end-of-word marker appended to its last symbol before merging,
so subwords like ``"ing</w>"`` mark word ends and
``concat(tokens).replace("</w>", " ")`` reconstructs the pre-token
stream exactly — pinned by the round-trip property test. Determinism:
merge selection breaks count ties by lexicographic pair order, so a
(sample, seed, num_merges) triple always yields the same table on any
machine; the output token arrays feed ``pack_sequences`` /
``unigram_model`` via their ``token_array_column`` hook.

No reference counterpart (LLM-curation extension surface, like
pipeline.dedup / pipeline.lm).
"""

from __future__ import annotations

import heapq
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sed_binning_spark.pipeline.text import bpe_tokens

_EOW = "</w>"


def bpe_train(
    df: DataFrame,
    text_column: str = "text",
    num_merges: int = 1000,
    sample_size: int = 50_000,
    seed: int = 42,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from a seeded bounded sample of the
    corpus; returns the ordered merge list (rank = position). Training
    stops early when no pair occurs twice — merging hapax pairs would
    just memorize the sample.

    A corpus of more than ``sample_size`` non-null texts is sampled by a
    threshold on a hash of the text itself, so duplicate texts are sampled
    all-in or all-out, and the sample size is binomial around
    ``sample_size``, not exact. The threshold needs the exact non-null
    text count, which costs one column-pruned count job."""
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    if text_column not in df.columns:
        raise ValueError(
            f"text column {text_column!r} not in dataframe "
            f"(columns: {df.columns})",
        )
    # the corpus never leaves the cluster: the seeded sample explodes and
    # aggregates to a (word, count) histogram CLUSTER-SIDE, and only that
    # few-MB unique-word table reaches the driver — a naive toPandas of
    # the token arrays would ship GBs for the documented 200k-doc sample
    src = df.select(F.col(text_column).alias("t")).where(F.col("t").isNotNull())
    n_rows = src.count()  # column-pruned scan, one cheap job
    if n_rows > int(sample_size):
        # content-keyed threshold filter (hash_uniform: a deterministic
        # per-row U[0,1)) instead of the old ``orderBy(rand(seed)).limit``:
        # the top-N-by-random-key form compiles to TakeOrderedAndProject,
        # whose single merge task receives every partition's N candidates —
        # at a million input splits that task drowns — while the threshold
        # filter is map-only (guide §2.4: remove the sort outright). The
        # draw keys on the text itself, so sample membership is layout-,
        # retry- and engine-independent; the sample size is binomial
        # around ``sample_size`` (like df.sample), and a corpus at or
        # under ``sample_size`` still trains on everything — identical to
        # the old seeded top-N there (every test SF takes this path, so
        # the trained table is bit-identical where the oracle looks).
        from sed_binning_spark.core.dfops import hash_uniform

        u = hash_uniform(src, ["t"], seed, "bpe_train")
        src = src.where(u < F.lit(float(sample_size) / float(n_rows)))
    pdf = (
        src.select(F.explode(bpe_tokens(F.col("t"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )

    # word index -> (mutable symbol list, freq); incremental pair stats
    # (pair -> count, pair -> containing-word set) with a lazy max-heap:
    # the Sennrich reference structure. A rescan-everything loop is
    # O(num_merges x total symbols) — hours of driver time at the
    # documented 32k merges; this is O(touched words) per merge.
    words: list[list[str]] = []
    freqs: list[int] = []
    for word, freq in zip(pdf["w"], pdf["n"]):
        words.append(list(word[:-1]) + [word[-1] + _EOW])
        freqs.append(int(freq))

    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(words):
        f = freqs[wi]
        for p in zip(syms, syms[1:]):
            pair_counts[p] += f
            pair_words.setdefault(p, set()).add(wi)
    # heap entries are (-count, pair); stale entries are skipped lazily
    # by checking against the live count. Determinism: highest count,
    # ties to the lexicographically smallest pair — (sample, seed,
    # num_merges) pins the table.
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    while len(merges) < int(num_merges) and heap:
        negc, best = heapq.heappop(heap)
        if pair_counts.get(best, 0) != -negc:
            continue  # stale
        if -negc < 2:
            break  # merging hapax pairs would just memorize the sample
        merges.append(best)
        merged = best[0] + best[1]
        touched: set[tuple[str, str]] = set()
        for wi in list(pair_words.get(best, ())):
            syms, f = words[wi], freqs[wi]
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= f
                touched.add(p)
                s = pair_words.get(p)
                if s is not None:
                    s.discard(wi)
            out = []
            i = 0
            while i < len(syms):
                if (i + 1 < len(syms)
                        and syms[i] == best[0] and syms[i + 1] == best[1]):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[wi] = out
            for p in zip(out, out[1:]):
                pair_counts[p] += f
                touched.add(p)
                pair_words.setdefault(p, set()).add(wi)
        for p in touched:
            c = pair_counts.get(p, 0)
            if c <= 0:
                pair_counts.pop(p, None)
                pair_words.pop(p, None)
            else:
                heapq.heappush(heap, (-c, p))
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one pre-token, lowest-rank pair first (the classic
    greedy BPE application order — identical to training order, so a
    trained word re-encodes to its training-time segmentation)."""
    syms = list(word[:-1]) + [word[-1] + _EOW]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_column: str = "text",
    output_column: str = "bpe_tokens",
) -> DataFrame:
    """Append ``output_column`` (``array<string>`` subword tokens, word
    ends marked ``</w>``) — map-only: regex pre-tokenization is a
    Catalyst expression, the merge application an Arrow-batched
    ``pandas_udf`` with a per-batch word memo. NULL text encodes to a
    NULL array. Feed the result to ``pack_sequences(...,
    token_array_column=...)`` or ``unigram_model(...,
    token_array_column=...)``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if text_column not in df.columns:
        raise ValueError(
            f"text column {text_column!r} not in dataframe "
            f"(columns: {df.columns})",
        )
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    pre = bpe_tokens(F.col(text_column))

    def _encode_fn(words):
        memo: dict[str, list[str]] = {}
        out = []
        for ws in words:
            if ws is None:
                out.append(None)
                continue
            toks: list[str] = []
            for w in ws:
                got = memo.get(w)
                if got is None:
                    got = memo[w] = _encode_word(w, ranks)
                toks.extend(got)
            out.append(toks)
        return pd.Series(out)

    _encode_fn.__annotations__ = {"words": pd.Series, "return": pd.Series}
    _encode = pandas_udf(_encode_fn, "array<string>")
    return df.withColumn(output_column, _encode(pre))


def bpe_vocab(merges: list[tuple[str, str]]) -> list[str]:
    """The vocabulary a merge table induces: the BASE symbols its merges
    were built from (single characters and their ``</w>`` forms, sorted)
    followed by the merged symbols in rank order. Coverage contract: the
    encoder's MULTI-character outputs are exactly the merged symbols, but
    SINGLE-symbol outputs are open-class — characters the sample never
    saw, and also in-sample symbols that never participated in any merge
    (a high-frequency standalone word like ``"a"`` emits ``"a</w>"``,
    which forms zero pairs and so never enters the merge table unless
    some longer word merges it). An id table built from this list
    therefore needs a character-level fallback for single-symbol tokens
    generally, not just an UNK row for unseen characters."""
    results = {a + b for a, b in merges}
    bases = sorted({
        s for pair in merges for s in pair if s not in results
    })
    return bases + [a + b for a, b in merges]
