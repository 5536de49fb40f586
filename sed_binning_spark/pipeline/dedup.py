"""Deduplication operators over document tables.

Scale design notes (the point of this module):

- **Exact dedup** is one hash aggregation: ``groupBy(md5(text))`` with
  ``min(doc_id)`` as the keeper. At 100 TB the shuffle key is the 32-byte
  digest, never the document body; AQE handles skew (identical boilerplate
  documents land in one reducer but only their ids travel).
- **MinHash + LSH** never computes all pairs: per-row signature expressions
  (no shuffle), then an equi-join on the *band key* so only same-bucket
  documents meet. Candidate pairs are then verified with true n-gram
  Jaccard. This is the standard shingle→minhash→band→bucket-join cascade.
- **SimHash** is a per-row 64-bit expression pipeline; near-dup candidates
  come from equality on rotated bit-blocks (again an equi-join).

MinHash here is the standard universal-hashing construction: every shingle
is hashed ONCE (md5 hex prefix -> 28-bit int, engine-portable), and the k
MinHash values derive from k affine maps ``(a_i*h + b_i) mod p`` over the
Mersenne prime p = 2^31 - 1 — the same Jaccard guarantee as k independent
hashes at 1/k of the digest cost (one md5 per shingle instead of k; md5
was ~60% of the whole sf0.1 benchmark wall-time in the k-digest form).
The 28-bit base keeps ``a*h + b < 2^59``, exact in int64 on any engine, so
the DuckDB oracle reproduces it bit-for-bit.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sed_binning_spark.pipeline.text import whitespace_tokens

# Universal-hash family parameters: p Mersenne prime; (a_i, b_i) drawn once
# from a fixed-seed PRNG so Spark and the SQL oracle share the same plan-time
# constants.
MINHASH_PRIME = 2_147_483_647
_MINHASH_PARAM_SEED = 8191


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) coefficients of the affine MinHash family."""
    rng = random.Random(_MINHASH_PARAM_SEED)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def duplicate_id_frame(
    df: DataFrame, id_column: str, count_column: str = "__n_rows",
) -> DataFrame:
    """The shared unique-id-contract detector (dedup_segments,
    dedup_substrings, pack_sequences): ids occurring on more than one row.
    Id-only aggregation — map-side combined, shuffles distinct ids, never
    payloads — and ``limit()``-bounded so a pervasively-duplicated corpus
    still fails by RAISING on the first broadcast-joined hit rather than
    OOMing the guard broadcast itself. NULL ids are not duplicates (they
    are excluded or NULL-scored by every caller's own contract)."""
    return (
        df.where(F.col(id_column).isNotNull())
        .groupBy(id_column)
        .agg(F.count(F.lit(1)).alias(count_column))
        .where(F.col(count_column) > 1)
        .limit(1000)
    )


def _tokens(text: Column) -> Column:
    # one tokenizer for the whole package: text.whitespace_tokens strips
    # the empty tokens a leading '\n'/'\t' would inject (which would change
    # the shingle set, demoting whitespace-variant exact duplicates to weak
    # near-dups); dedup additionally case-folds
    return whitespace_tokens(F.lower(text))


def word_shingles(text: Column, n: int = 3, tokens: Column | None = None) -> Column:
    """Word n-gram shingles: array of space-joined n-token windows.

    Built with n-1 array-level zips against shifted copies — O(tokens)
    work total with every ``toks`` reference at PROJECTION level, where
    Spark's subexpression elimination applies. Inside a higher-order
    lambda it does not: an index-window `slice(toks, i, n)` form re-splits
    the text once per window and measured 2.6x slower end-to-end on the
    MinHash cascade despite looking simpler (re-verified; do not "clean
    this up" into the slice form). zip_with pads the shorter (shifted)
    side with NULL; keeping the left value reproduces the short-document
    partial windows, which the final slice drops except for the
    shorter-than-n full-token-string case. Documents shorter than ``n``
    tokens yield their full token string as the single shingle.

    ``tokens``: optionally the ALREADY-tokenized array (must equal
    ``_tokens(text)``, normally a materialized temp column) — callers
    shingling the same text at several ``n`` tokenize once instead of
    once per ``n`` (see ``repetition_stats``).
    """
    from sed_binning_spark.pipeline.text import shifted_zip_fold

    toks = _tokens(text) if tokens is None else tokens
    sh = shifted_zip_fold(
        toks, n, lambda a, b: F.concat(a, F.lit(" "), b),
    )
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.slice(sh, 1, k)


def shingle_hash_expr(shingles: Column, hash_function: str = "md5") -> Column:
    """28-bit integer base hash per shingle.

    One digest per shingle — the expensive step, computed exactly once; all
    k MinHash values derive from this array via cheap integer arithmetic.

    ``hash_function``:

    - ``"md5"`` (default) — hex-prefix of md5, reproducible in any engine
      with an md5 function; this is what the cross-engine oracle pins.
    - ``"xxhash64"`` — Spark's native non-cryptographic hash, several times
      cheaper per shingle; the 100 TB production choice when cross-engine
      bit-reproducibility of the SIGNATURES is not required (pair/cluster
      results remain deterministic within Spark).
    """
    if hash_function == "md5":
        return F.transform(
            shingles,
            lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("bigint"),
        )
    if hash_function == "xxhash64":
        # fold to the same 28-bit non-negative domain the affine maps expect
        return F.transform(
            shingles,
            lambda s: F.pmod(F.xxhash64(s), F.lit(1 << 28)).cast("bigint"),
        )
    raise ValueError(
        f"hash_function must be 'md5' or 'xxhash64', got {hash_function!r}",
    )


def minhash_expr(shingle_hashes: Column, a: int, b: int) -> Column:
    """One MinHash value: min over shingles of ``(a*h + b) mod p``."""
    return F.array_min(
        F.transform(
            shingle_hashes,
            lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME),
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    num_hashes: int = 8,
    shingle_size: int = 3,
    hash_function: str = "md5",
) -> DataFrame:
    """Append ``mh_0..mh_{k-1}`` (bigint) MinHash signature columns (per-row
    expressions only — scales linearly, no shuffle). ``hash_function``:
    see :func:`shingle_hash_expr` — ``"xxhash64"`` is the cheap production
    choice, ``"md5"`` the engine-portable default."""
    hs = shingle_hash_expr(
        word_shingles(F.col(text_column), shingle_size), hash_function,
    )
    out = df.withColumn("__hs", hs)
    for i, (a, b) in enumerate(minhash_params(num_hashes)):
        out = out.withColumn(f"mh_{i}", minhash_expr(F.col("__hs"), a, b))
    return out.drop("__hs")


def minhash_lsh_pairs(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_size: int = 3,
    max_bucket_size: int = 1024,
    oversized: str = "star",
    hash_function: str = "md5",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    rows/bands hashes per band are concatenated into a band key; documents
    sharing ANY band key become a candidate pair. The only join is an
    equi-join on (band index, band key) — bucket-local, never all-pairs.
    Returns distinct (id_a, id_b) with id_a < id_b.

    ``max_bucket_size`` is the skew guard: a bucket larger than it (e.g.
    thousands of near-identical boilerplate documents sharing every band
    key) would expand O(n²) pairs inside one task. Such buckets fall back
    to STAR pairs by default (``oversized="star"``): every member pairs
    with the bucket's smallest id only — O(n) pairs that still place the
    whole cluster in one connected component for downstream union-find /
    keep-one semantics. ``oversized="drop"`` restores the old skip
    behavior. Byte-identical duplicate classes are cheaper to collapse
    with :func:`exact_dedup` first; use :func:`minhash_lsh_bucket_stats`
    to see how many buckets the cap affected.
    """
    stacked = _band_keys_stacked(
        df, text_column, id_column, num_hashes, bands, shingle_size,
        hash_function,
    )
    return _bucket_pairs(stacked, ["band", "key"], id_column, max_bucket_size, oversized)


def _has_content(text_column: str):
    """Non-NULL text with at least one non-whitespace character."""
    return F.col(text_column).isNotNull() & (
        # explicit class == Java \s (RE2 \s excludes \x0B)
        F.regexp_replace(F.col(text_column), "[ \t\n\x0B\f\r]", "") != ""
    )


def append_band_keys(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_size: int = 3,
    hash_function: str = "md5",
) -> DataFrame:
    """Append wide-form LSH band keys ``band_0..band_{bands-1}`` — pure
    per-row expressions (no shuffle, no explode), so the frame is
    stream-safe. NULL/blank documents get NULL keys (an equi-join on a
    NULL key matches nothing, which is the correct "no content signal"
    reading); batch bucketing filters them out before stacking instead.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, text_column, id_column, num_hashes, shingle_size, hash_function,
    )
    has_content = _has_content(text_column)
    out = sigs.withColumns({
        f"band_{b}": F.when(
            has_content,
            F.concat_ws("#", *[
                F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)
            ]),
        )
        for b in range(bands)
    })
    return out.drop(*[f"mh_{i}" for i in range(num_hashes)])


def _band_keys_stacked(
    df: DataFrame,
    text_column: str,
    id_column: str,
    num_hashes: int,
    bands: int,
    shingle_size: int,
    hash_function: str = "md5",
) -> DataFrame:
    """Long-form (id, band, key) frame of LSH band keys — one shuffle covers
    all bands; signatures are computed ONCE (a self-join would evaluate the
    md5 pipeline twice)."""
    # NULL/blank documents carry no content signal; without this filter
    # they all share the NULL-propagated band key (concat_ws skips NULLs),
    # forming one degenerate mega-bucket whose members would be
    # "deduplicated" against each other despite having no text at all.
    # Strip ALL whitespace for the emptiness test — F.trim removes spaces
    # only, so a '\n'- or '\t'-only document (a routine scraping artifact)
    # would slip past a trim-based guard and re-form the mega-bucket.
    df = df.where(_has_content(text_column))
    keyed = append_band_keys(
        df, text_column, id_column, num_hashes, bands, shingle_size,
        hash_function,
    ).select(F.col(id_column), *[f"band_{b}" for b in range(bands)])
    return keyed.select(
        id_column,
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("key"))
                for b in range(bands)
            ]),
        ).alias("bk"),
    ).select(id_column, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_bucket_stats(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_size: int = 3,
    max_bucket_size: int = 1024,
    hash_function: str = "md5",
) -> DataFrame:
    """Skew-guard observability on the PUBLIC corpus surface: one row with
    total bucket count, the number of buckets over ``max_bucket_size``
    (these emit star pairs instead of full pair expansion), their member
    total, and the largest bucket. Same parameters as
    :func:`minhash_lsh_pairs` — INCLUDING ``hash_function``, since an
    xxhash64 run forms different buckets than the md5 default and the
    stats must describe the bucketing the pairs call actually used."""
    stacked = _band_keys_stacked(
        df, text_column, id_column, num_hashes, bands, shingle_size,
        hash_function,
    )
    return oversized_bucket_stats(stacked, ["band", "key"], id_column, max_bucket_size)


def oversized_bucket_stats(
    stacked: DataFrame,
    bucket_cols: list[str],
    id_column: str,
    max_bucket_size: int,
) -> DataFrame:
    """Bucket-size statistics for any keyed frame (generic form of
    :func:`minhash_lsh_bucket_stats`)."""
    sizes = stacked.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__n"))
    over = F.col("__n") > max_bucket_size
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum(F.when(over, 1)), F.lit(0)).alias("n_oversized_buckets"),
        F.coalesce(F.sum(F.when(over, F.col("__n"))), F.lit(0)).alias("n_oversized_members"),
        F.coalesce(F.max("__n"), F.lit(0)).alias("max_bucket_size_seen"),
    )


def _bucket_pairs(
    stacked: DataFrame,
    bucket_cols: list[str],
    id_column: str,
    max_bucket_size: int = 1024,
    oversized: str = "star",
) -> DataFrame:
    """Distinct (id_a < id_b) pairs within each bucket: one groupBy shuffle
    + expression-level pair expansion over the sorted bucket-member array —
    no self-join, bucket-local quadratic cost only.

    Buckets above ``max_bucket_size`` expand as star pairs around the
    smallest member id (O(n), keeps the cluster connected) or are skipped
    entirely (``oversized="drop"``): one degenerate bucket of identical
    documents would otherwise expand O(n²) inside a single task.
    ``collect_set`` itself carries only ids, so the aggregation stays
    linear in bucket size."""
    if oversized not in ("star", "drop"):
        raise ValueError(f"oversized must be star|drop, got {oversized!r}")
    ids = F.sort_array(F.collect_set(id_column)).alias("__ids")
    buckets = stacked.groupBy(*bucket_cols).agg(ids).where(F.size("__ids") > 1)
    a = F.col("__ids")
    full_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(a) - 1),
            lambda i: F.transform(
                F.slice(a, i + 1, F.size(a)),
                lambda x: F.struct(
                    F.element_at(a, i).alias("id_a"), x.alias("id_b"),
                ),
            ),
        ),
    )
    if oversized == "star":
        star_pairs = F.transform(
            F.slice(a, 2, F.size(a) - 1),
            lambda x: F.struct(F.element_at(a, 1).alias("id_a"), x.alias("id_b")),
        )
        pairs = F.when(F.size(a) <= max_bucket_size, full_pairs).otherwise(star_pairs)
    else:
        buckets = buckets.where(F.size("__ids") <= max_bucket_size)
        pairs = full_pairs
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def ngram_jaccard(
    df_pairs: DataFrame,
    df_docs: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    shingle_size: int = 3,
) -> DataFrame:
    """True n-gram Jaccard for candidate pairs (the verify stage after LSH):
    broadcast-free — two equi-joins pull each side's shingle set, then
    ``array_intersect``/``array_union`` sizes give the similarity."""
    sh = df_docs.select(
        F.col(id_column),
        F.array_distinct(word_shingles(F.col(text_column), shingle_size)).alias("__sh"),
    )
    out = (
        df_pairs.join(sh.withColumnRenamed(id_column, "id_a").withColumnRenamed("__sh", "__sa"), "id_a")
        .join(sh.withColumnRenamed(id_column, "id_b").withColumnRenamed("__sh", "__sb"), "id_b")
        .withColumn(
            "jaccard",
            # guarded like every other ratio in the package: a NULL-text
            # side must yield NULL (legacy sizeOfNull would otherwise score
            # -1/-1 = 1.0, a false perfect duplicate), and two no-shingle
            # docs must yield NULL, not an ANSI divide-by-zero abort
            F.when(
                F.col("__sa").isNotNull() & F.col("__sb").isNotNull(),
                F.size(F.array_intersect("__sa", "__sb"))
                / F.nullif(
                    F.size(F.array_union("__sa", "__sb")).cast("double"),
                    F.lit(0.0),
                ),
            ),
        )
        .drop("__sa", "__sb")
    )
    return out


def exact_dedup(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Exact deduplication by content digest: one row per distinct text with
    the kept id (min or max) and the duplicate count.

    groupBy on md5(text) — the 100 TB-safe form: the shuffle carries
    (digest, id), not document bodies.
    """
    if keep not in ("min", "max"):
        raise ValueError("keep must be 'min' or 'max'")
    agg = F.min(id_column) if keep == "min" else F.max(id_column)
    # missing text is not duplicate text: md5(NULL) = NULL would collapse
    # every NULL-text document into one "duplicate" class (the same
    # invariant the LSH path guards; exact_dedup_keep_rows preserves the
    # NULL-text rows themselves)
    return (
        df.where(F.col(text_column).isNotNull())
        .groupBy(F.md5(F.col(text_column)).alias("text_hash"))
        .agg(agg.alias("kept_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def exact_dedup_keep_rows(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
) -> DataFrame:
    """Deduplicated full rows: keeps the min-id row per distinct text via a
    self-semi-join on (digest, min id) — avoids windowing over the corpus.
    NULL-text rows are all kept (missing text is not duplicate text)."""
    keepers = exact_dedup(df, text_column, id_column).select(
        F.col("kept_id").alias(id_column),
    )
    kept = df.where(F.col(text_column).isNotNull()).join(
        keepers, on=id_column, how="left_semi",
    )
    return kept.unionByName(df.where(F.col(text_column).isNull()))


def simhash(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash: sign of the per-bit sum of token hash bits.

    Token hash = first 8 hex chars of md5 → 32-bit int (engine-portable);
    bit b contributes +1/-1. Pure expression pipeline: tokens → ints →
    per-bit votes via bitwise ops inside aggregate(). Returns ``simhash``
    as a ``bits``-length bit string (MSB first); near-dup candidates are
    documents whose simhash differs in few bits (compare via block equality
    joins, not pairwise distance).

    No-content documents (NULL or whitespace-only text) get a NULL simhash
    rather than the all-zero vote vector's '000…0': under block-equality
    candidate generation, N blank scraping artifacts sharing one signature
    would form exactly the degenerate no-content mega-bucket the LSH band
    path screens with its content filter — and NULL never equi-joins.
    """
    if not 1 <= bits <= 32:
        raise ValueError("bits must be in [1, 32]")
    toks = _tokens(F.col(text_column))
    # 32-bit token hash from the md5 hex prefix (conv returns string)
    hashed = df.withColumn("__th", F.transform(toks, lambda t: (
        F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
    )))

    # ONE fold over the token-hash array builds every bit's vote at once:
    # acc is a bits-length vote vector, each token contributes ±1 per bit
    # ((h >> b) & 1 via exact double-pow division — b is a lambda variable,
    # so the int-only shiftright builtin doesn't apply)
    def _bitvote(h):
        return F.transform(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda b: F.when(
                F.floor(h / F.pow(F.lit(2.0), b.cast("double"))).cast("bigint") % 2 == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )

    votes = F.aggregate(
        F.col("__th"),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, _bitvote(h), lambda a, v: a + v),
    )
    # MSB first: bit (bits-1) leads the string
    bitstr = F.array_join(
        F.transform(
            F.reverse(votes),
            lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0")),
        ),
        "",
    )
    return hashed.withColumn(
        "simhash", F.when(_has_content(text_column), bitstr),
    ).drop("__th")


# ---------------------------------------------------------------------------
# segment-level exact dedup (paragraph / line granularity)
# ---------------------------------------------------------------------------

_SEG_SEPARATORS = {"paragraph": "\n{2,}", "line": "\n"}
_SEG_JOINERS = {"paragraph": "\n\n", "line": "\n"}
# blank = nothing but whitespace, spelled as an explicit class (the same
# rationale as dup_line_stats: trim strips spaces only, \s differs between
# Java regex and RE2 on \x0B); \n included because a paragraph split on
# blank lines can leave single newlines inside a residue segment
_SEG_BLANK_CLASS = "[ \t\x0B\f\r\n]"


def segment_array(text: Column, granularity: str = "paragraph") -> Column:
    """Split ``text`` into non-blank segments: paragraphs (split on runs
    of 2+ newlines — blank-line separation) or lines (split on single
    newlines). Blank segments are separator residue, not content."""
    if granularity not in _SEG_SEPARATORS:
        raise ValueError(
            f"granularity must be one of {sorted(_SEG_SEPARATORS)}, "
            f"got {granularity!r}",
        )
    return F.filter(
        F.split(text, _SEG_SEPARATORS[granularity]),
        lambda x: F.regexp_replace(x, _SEG_BLANK_CLASS, "") != "",
    )


def dedup_segments(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    granularity: str = "paragraph",
    check_unique_ids: bool = True,
) -> DataFrame:
    """Corpus-wide exact SEGMENT dedup — the RefinedWeb / MassiveText
    "remove duplicated paragraphs/lines, keep the documents" pass that
    document-grain :func:`exact_dedup` cannot express (boilerplate headers,
    navigation bars and repeated disclaimers duplicate across documents
    whose bodies are unique).

    Every occurrence of an identical segment except the globally FIRST one
    (minimum ``(id, position)`` — deterministic on any layout) is removed;
    each document's surviving segments are reassembled in original order.
    Output = the input row plus:

    - ``text_dedup`` — the reassembled text (NULL for NULL input text;
      ``''`` when every segment was blank or removed);
    - ``n_segments`` — the document's non-blank segment count (0 for NULL
      text);
    - ``n_kept`` / ``n_removed`` — split of ``n_segments``.

    Scale design: ONE segment-keyed shuffle — ``groupBy(segment)`` with a
    ``min(struct(id, pos))`` that partial-aggregates map-side, so a
    boilerplate segment occurring a billion times collapses to one row per
    map task before it travels (this is why it is an aggregation, not a
    window: a window over the segment key would ship every occurrence to
    one reducer). The winners ARE the surviving (id, pos, segment) rows —
    no join back — and reassembly is one ``groupBy(id)`` whose
    ``array_sort(collect_list(struct(pos, seg)))`` makes the rebuilt text
    independent of row arrival order. Rows with NULL id cannot
    reproducibly win and pass through untouched (``text_dedup`` NULL).
    Document ids must be unique — a duplicate id raises at execution time
    (via an id-only broadcast check) instead of silently interleaving two
    documents' segments into one reassembled text.
    ``check_unique_ids=False`` skips that guard — an extra id-only corpus
    aggregation per call — for pipelines that already validated id
    uniqueness upstream (e.g. a nightly rerun whose ids come from a
    uniqueness-enforcing store); the default stays loud.
    """
    for col, what in [(text_column, "text"), (id_column, "id")]:
        if col not in df.columns:
            raise ValueError(
                f"{what} column {col!r} not in dataframe (columns: {df.columns})",
            )
    segs_expr = segment_array(F.col(text_column), granularity)
    joiner = _SEG_JOINERS[granularity]

    segs = df.where(F.col(id_column).isNotNull()).select(
        F.col(id_column),
        F.posexplode(segs_expr).alias("pos", "seg"),
    )
    winners = segs.groupBy("seg").agg(
        F.min(F.struct(F.col(id_column), F.col("pos"))).alias("w"),
    )
    assembled = (
        winners.select(
            F.col(f"w.{id_column}").alias(id_column),
            F.col("w.pos").alias("pos"),
            "seg",
        )
        .groupBy(id_column)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda s: s["seg"],
                ),
                joiner,
            ).alias("__text_dedup"),
            F.count(F.lit(1)).alias("__n_kept"),
        )
    )
    text = F.col(text_column)
    # NULL-id rows do not participate (cannot reproducibly win), so they
    # count like NULL text: 0 segments, nothing kept or removed
    n_segments = F.when(
        text.isNotNull() & F.col(id_column).isNotNull(), F.size(segs_expr),
    ).otherwise(F.lit(0))
    # loud guard for the unique-id contract (the same posture as
    # pack_chunks): duplicate ids would interleave two documents' segments
    # into one reassembled text and double join rows — corrupt silently.
    # The check is an id-only aggregation (map-side combined, shuffles
    # distinct ids, never text) broadcast back onto the output — limit()ed
    # so a pervasively-duplicated corpus still fails by raising on the
    # first matched id rather than OOMing the broadcast itself.
    out = df.join(assembled, on=id_column, how="left")
    if check_unique_ids:
        dup_ids = duplicate_id_frame(df, id_column)
        out = out.join(F.broadcast(dup_ids), on=id_column, how="left")
    else:
        out = out.withColumn("__n_rows", F.lit(None).cast("bigint"))
    n_kept = F.when(
        text.isNotNull() & F.col(id_column).isNotNull(),
        F.coalesce(F.col("__n_kept"), F.lit(0)),
    ).otherwise(F.lit(0))
    return (
        out.withColumn(
            "text_dedup",
            F.when(
                F.col("__n_rows").isNotNull(),
                F.raise_error(
                    F.concat(
                        F.lit("dedup_segments: duplicate document id "),
                        F.col(id_column).cast("string"),
                        F.lit(" violates the unique-id contract"),
                    ),
                ).cast("string"),
            ).when(
                text.isNotNull() & F.col(id_column).isNotNull(),
                F.coalesce(F.col("__text_dedup"), F.lit("")),
            ),
        )
        .withColumn("n_segments", n_segments.cast("bigint"))
        .withColumn("n_kept", n_kept.cast("bigint"))
        .withColumn(
            "n_removed",
            (n_segments - n_kept).cast("bigint"),
        )
        .drop("__text_dedup", "__n_kept", "__n_rows")
    )


# ---------------------------------------------------------------------------
# exact-substring dedup (token-window granularity)
# ---------------------------------------------------------------------------


def _window_hashes(tk, window: int, hash_function: str):
    """The window-hash pipeline shared BYTE-IDENTICALLY by
    :func:`dedup_substrings` and the streaming twin (stream winners are
    only applicable to the batch corpus via
    :func:`apply_substring_winners` because both sides hash windows with
    exactly this expression). ``tk`` must be a bound token-array COLUMN —
    the per-window lambda slices it, and an expression there would
    re-evaluate per element. Arguments are validated by the sole caller
    (:func:`_occ_window_explode`), which owns the window and
    hash-function contract for all three hash paths."""
    w = int(window)
    hash_fn = F.md5 if hash_function == "md5" else F.xxhash64
    return F.when(
        F.size(tk) >= w,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - w),
            lambda i: hash_fn(F.concat_ws(" ", F.slice(tk, i + 1, w))),
        ),
    ).otherwise(
        F.array().cast(
            "array<string>" if hash_function == "md5" else "array<bigint>",
        ),
    )


_SUBSTR_HASH_FUNCTIONS = ("md5", "xxhash64", "rolling")


def _occ_window_explode(
    base: DataFrame,
    id_cols: list,
    window: int,
    hash_function: str,
    hash_alias: str,
) -> DataFrame:
    """One ``(id..., start, hash)`` row per window occurrence, from a
    frame carrying the token array as a bound ``__tk`` column — the
    occurrence builder shared BYTE-IDENTICALLY by
    :func:`dedup_substrings` and the streaming twin (stream winners are
    only applicable to the batch corpus because both sides hash windows
    through exactly this path). ``md5``/``xxhash64`` hash each window
    from scratch (expression-level, O(n·w) digest bytes); ``rolling`` is
    the Rabin-Karp O(n + n·log w) path
    (:func:`~sed_binning_spark.pipeline.text.rk_window_hashes`) — 62-bit,
    so collision-equivalent to xxhash64 but several times cheaper, and
    cross-engine reproducible (DuckDB twin in ``sqlgen``) where xxhash64
    is Spark-only."""
    if hash_function not in _SUBSTR_HASH_FUNCTIONS:
        raise ValueError(
            f"hash_function must be one of {_SUBSTR_HASH_FUNCTIONS}, "
            f"got {hash_function!r}",
        )
    if window < 2:
        raise ValueError(f"window must be >= 2 tokens, got {window}")
    if hash_function == "rolling":
        from sed_binning_spark.pipeline.text import rk_window_hashes

        base = rk_window_hashes(base, "__tk", "__wh", int(window))
        win = F.col("__wh")
    else:
        win = _window_hashes(F.col("__tk"), int(window), hash_function)
    # posexplode_OUTER, then drop the one NULL row each window-less
    # document emits: the non-outer form triggers InferFiltersFromGenerate,
    # whose size(input) > 0 filter gets predicate-pushed through the
    # hash-pipeline Projects with full expression substitution — the
    # whole tokenize+hash tree re-evaluated per ROW inside the Filter
    # (measured 8x on the rolling path, whose layered zips multiply the
    # substitution). A filter on the GENERATED attribute cannot be
    # pushed below the Generate, so this shape hashes exactly once.
    return base.select(
        *id_cols, F.posexplode_outer(win).alias("start", hash_alias),
    ).where(F.col(hash_alias).isNotNull())


def dedup_substrings(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    window: int = 50,
    check_unique_ids: bool = True,
    hash_function: str = "md5",
    winner_packing: bool = True,
    loser_filtered: bool = False,
) -> DataFrame:
    """Corpus-wide EXACT-SUBSTRING dedup at token-window granularity — the
    ExactSubstr pass of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"): any span of ``window`` consecutive
    tokens that occurs more than once in the corpus keeps only its
    globally-FIRST occurrence (minimum ``(id, start)`` — deterministic on
    any layout); every token covered by a non-first duplicated window is
    removed and the document is rebuilt from the surviving tokens.

    This is the grain between :func:`exact_dedup` (whole documents) and
    :func:`dedup_segments` (structural paragraphs/lines): it catches
    long verbatim quotes, licence blocks and templated passages embedded
    mid-document, where no paragraph boundary exists. Unlike the
    lowercased dedup-family tokenizer, matching here is on the RAW
    whitespace tokens — ExactSubstr is byte-exact, and the rebuilt text
    must preserve case. Rebuilding joins surviving tokens with single
    spaces (original intra-text whitespace is not preserved — the same
    normalization a whitespace tokenizer implies).

    Output = the input row plus:

    - ``text_dedup`` — surviving tokens joined by ``' '`` (NULL for NULL
      input text; the full token-normalized text when nothing matched);
    - ``n_tokens`` — the document's token count (0 for NULL text);
    - ``n_removed_tokens`` — tokens removed as duplicated-span coverage.

    Documents shorter than ``window`` tokens emit no windows and are
    never touched (ExactSubstr's minimum-match length). Rows with NULL id
    cannot reproducibly win and pass through untouched (``text_dedup``
    NULL, like :func:`dedup_segments`).

    Scale design: ONE window-hash-keyed shuffle — ``groupBy(md5(span))``
    with a map-side-combined ``min(struct(id, start))``, so a boilerplate
    window occurring a billion times collapses to one row per map task
    before it travels — and NO occurrence-level join at all: every window
    occurrence is either its hash's winner or a loser, so a document's
    loser starts are simply its full start range MINUS its winning starts
    (``array_except``, computed row-locally after one id-keyed
    aggregation of winner starts). The window/md5 pipeline therefore runs
    ONCE (plan-pinned), and nothing occurrence-grained ever shuffles.
    Covered-token removal is expression-level: the sorted duplicate
    starts fold into DISJOINT merged intervals (``F.aggregate`` — O(dups)
    fold), and each token tests membership against those few intervals,
    so a fully-templated document costs O(n_tokens), not
    O(n_tokens × dups). ``hash_function="md5"`` (default) keys windows on
    the 128-bit digest — collision-negligible at 10^12+ windows and
    reproducible by the cross-engine oracle; ``"xxhash64"`` is several
    times cheaper per window but 64-bit, so at 10^12 windows a handful of
    birthday collisions would each falsely remove one window-length span
    (~1e-8 of the corpus) — acceptable for curation throughput runs, not
    for the exactness gate. ``"rolling"`` is the Rabin-Karp path
    (:func:`~sed_binning_spark.pipeline.text.rk_window_hashes`): one md5
    per TOKEN plus O(log window) whole-array multiply-add-mod zips
    instead of one digest per WINDOW — the throughput choice for large
    windows (ExactSubstr's canonical w=50 hashes 50× fewer digest bytes),
    62-bit so collision-equivalent to xxhash64, and unlike xxhash64
    reproducible by the cross-engine oracle
    (:func:`~sed_binning_spark.sqlgen.rk_window_hashes_sql`).

    ``check_unique_ids=False`` skips the duplicate-id guard (an id-only
    corpus aggregation; duplicate ids would apply BOTH rows' duplicated
    spans to each copy — corrupt silently) for pipelines that validated
    ids upstream; the default stays loud.

    ``winner_packing`` (default True): for INTEGRAL id columns the winner
    selection packs ``(id, start)`` into one bigint so it hash-aggregates
    instead of sort-aggregating the full occurrence stream (see
    :func:`_keep_first_winners`). The packed domain is ids in [0, 2^40)
    and documents under 2^23 (~8.4M) tokens — outside it the job ABORTS
    loudly rather than mis-ranking. Corpora with negative/huge numeric
    ids or pathologically long documents should pass
    ``winner_packing=False`` to keep the sort-based struct-min path,
    which orders correctly for any values. String and other
    non-integral ids always use the struct path.
    """
    winners = substring_winners(
        df, text_column=text_column, id_column=id_column, window=window,
        hash_function=hash_function, winner_packing=winner_packing,
    )
    return apply_substring_winners(
        df, winners,
        text_column=text_column, id_column=id_column, window=int(window),
        check_unique_ids=check_unique_ids, loser_filtered=loser_filtered,
    )


def substring_winners(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    window: int = 50,
    hash_function: str = "md5",
    winner_packing: bool = True,
) -> DataFrame:
    """The winner pass of :func:`dedup_substrings` alone: the global
    keep-first ``(id, start)`` row per distinct ``window``-token span —
    the batch twin of ``dedup_substrings_stream``'s drained output, and
    the frame to PERSIST for the manifest workflow (compute winners once,
    cut :func:`substring_winner_manifest` while the frame is known
    complete, re-apply later via :func:`apply_substring_winners` with
    ``strict=True``). One map-side-combined window-hash shuffle; see
    :func:`dedup_substrings` for the hashing and packing contracts."""
    for col, what in [(text_column, "text"), (id_column, "id")]:
        if col not in df.columns:
            raise ValueError(
                f"{what} column {col!r} not in dataframe (columns: {df.columns})",
            )
    if window < 2:
        raise ValueError(f"window must be >= 2 tokens, got {window}")
    w = int(window)
    text = F.col(text_column)
    toks_expr = whitespace_tokens(text)
    # the token array materializes as a column BEFORE the per-window
    # hashing (the word_shingles docstring's measured 2.6x antipattern);
    # a bound column attribute is sliced for free
    occ = _occ_window_explode(
        df.where(F.col(id_column).isNotNull() & text.isNotNull())
        .select(F.col(id_column), toks_expr.alias("__tk")),
        [F.col(id_column)], w, hash_function, "h",
    )
    return _keep_first_winners(
        occ, df.schema[id_column].dataType, id_column, packing=winner_packing,
    )


# packed winner encoding: id * 2^23 + start. 23 bits of start caps a
# document at ~8.4M tokens; 40 bits of id keeps the product below 2^63.
_PACK_START_BITS = 23
_PACK_ID_LIMIT = 1 << 40


def _keep_first_winners(
    occ: DataFrame, id_type, id_column: str, packing: bool = True,
) -> DataFrame:
    """The global keep-first selection: min (id, start) per window hash.

    Spark's HashAggregate requires an UnsafeRow-MUTABLE aggregation
    buffer (fixed-width primitives); ``min(struct(id, start))`` and
    ``min(string)`` both fall back to SortAggregate, which SORTS the full
    occurrence stream twice (partial + final) — measured as the dominant
    dedup_substrings cost once hashing went rolling. For integral ids the
    lexicographic (id, start) order is exactly the numeric order of
    ``id * 2^23 + start`` (start < 2^23 by construction of the guard), so
    the winner reduces to ``min(BIGINT)`` — hash-aggregated, no sorts —
    and unpacks losslessly. Ids >= 2^40 or documents with >= 2^23 tokens
    raise loudly (raise_error in the packing expression) rather than
    silently mis-ranking; non-integral ids keep the struct-min
    SortAggregate path, whose ordering works for any orderable type."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if packing and isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        idc = F.col(id_column).cast("long")
        packed = F.when(
            (idc < 0) | (idc >= _PACK_ID_LIMIT)
            | (F.col("start") >= (1 << _PACK_START_BITS)),
            F.raise_error(F.concat(
                F.lit(
                    "dedup_substrings: document id out of [0, 2^40) or "
                    ">= 2^23 tokens — winner packing would mis-rank; id ",
                ),
                idc.cast("string"),
            )).cast("long"),
        ).otherwise(idc * F.lit(1 << _PACK_START_BITS) + F.col("start"))
        return occ.groupBy("h").agg(F.min(packed).alias("p")).select(
            F.shiftright("p", _PACK_START_BITS).cast(id_type).alias(id_column),
            (F.col("p") % F.lit(1 << _PACK_START_BITS)).cast("int").alias("start"),
        )
    return occ.groupBy("h").agg(
        F.min(F.struct(F.col(id_column), F.col("start"))).alias("w"),
    ).select(
        F.col(f"w.{id_column}").alias(id_column),
        F.col("w.start").alias("start"),
    )


def substring_winner_manifest(
    df: DataFrame,
    winners: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    window: int = 50,
) -> DataFrame:
    """Per-document participation manifest for a winner frame —
    ``(id, n_windows, n_windows_won)`` for every document that emitted at
    least one ``window``-token window into the competition. Compute it
    when the winner frame is KNOWN COMPLETE (right after the batch
    :func:`dedup_substrings` winner pass, or after a stream drain you
    trust) and persist it next to the winners; a later
    :func:`apply_substring_winners` call with ``strict=True`` and this
    manifest can then tell apart the two cases a bare winner frame cannot:

    - a document with 0 wins whose manifest row says ``n_windows_won=0``
      is a legitimate exact full duplicate — rebuild it empty;
    - a document whose manifest row is MISSING, or whose observed corpus
      window count or winner-frame win count disagrees with the manifest,
      proves a partial drain / corpus mismatch — abort loudly.

    Cost: one row-local corpus projection (tokenize, count windows — no
    shuffle of text) plus one map-side-combined count over the winner
    frame, joined on slim ``(id, int)`` rows.
    """
    for col, what in [(text_column, "text"), (id_column, "id")]:
        if col not in df.columns:
            raise ValueError(
                f"{what} column {col!r} not in dataframe (columns: {df.columns})",
            )
    if window < 2:
        raise ValueError(f"window must be >= 2 tokens, got {window}")
    w = int(window)
    text = F.col(text_column)
    nw = (
        df.where(F.col(id_column).isNotNull() & text.isNotNull())
        .select(
            F.col(id_column),
            F.greatest(
                F.size(whitespace_tokens(text)) - (w - 1), F.lit(0),
            ).cast("int").alias("n_windows"),
        )
        .where(F.col("n_windows") > 0)
    )
    wc = winners.groupBy(id_column).agg(
        F.count(F.lit(1)).cast("int").alias("__wins"),
    )
    return nw.join(wc, on=id_column, how="left").select(
        id_column,
        "n_windows",
        F.coalesce(F.col("__wins"), F.lit(0)).alias("n_windows_won"),
    )


def apply_substring_winners(
    df: DataFrame,
    winners: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    window: int = 50,
    check_unique_ids: bool = True,
    strict: bool = False,
    manifest: DataFrame | None = None,
    loser_filtered: bool = False,
) -> DataFrame:
    """Rebuild documents from an ``(id, start)`` winner frame — the second
    phase of :func:`dedup_substrings`, exposed for the streaming twin: a
    drained ``dedup_substrings_stream`` output is exactly such a frame,
    and this applies it to the batch corpus at the sink. Every window
    occurrence is either its hash's winner or a loser, so each document's
    loser starts derive row-locally as its full window-start range MINUS
    its winning starts (``array_except``) — nothing occurrence-grained
    ever shuffles. Pass the SAME ``window`` the winners were computed
    with; the output columns are :func:`dedup_substrings`'s.

    Plan choice (``loser_filtered``, default False — MEASURED, see
    SCALE.md "loser-filtered apply matrix"): the default joins every
    document against its collected winner starts in one corpus-side join.
    ``loser_filtered=True`` instead derives a LOSERS-ONLY build side
    first — ONE aggregation over the winner frame collects each
    document's winning starts AND win count (a single consumer: the
    expensive window-hash subtree is never re-executed for a second
    derived frame; a two-consumer draft measured 3x slower), a row-local
    corpus projection counts each document's windows (tokenize only; no
    text shuffles), and their join keeps only documents with fewer wins
    than windows; a no-match corpus row is then an untouched document and
    rebuilds as a row-local pass-through. That shrinks the corpus join's
    build side to the losers, at the price of one extra corpus tokenize
    pass and one slim per-doc join — which at single-node bench scale
    (2M docs, ~400 MB of text, where a corpus shuffle is a memcpy) makes
    it 0-30% SLOWER at every duplication rate measured, so it is NOT the
    default. Its regime is a multi-TB mostly-clean corpus on a real
    cluster, where the avoided full-text exchange dominates everything
    the option adds; measure on a sample before flipping it. (Two
    rejected designs, for the record: deriving loser occurrences by
    re-joining the occurrence stream on the window hash re-sorts the full
    occurrence frame and concentrates hot-hash skew — 6x slower on a
    90%-duplicated corpus; broadcasting the loser frame by hint forces
    its subtree through the driver and saved nothing.)

    CONTRACT — ``df`` must be exactly the corpus whose windows competed
    for the winners: a document with ≥ ``window`` tokens and NO winners
    row is treated as all-windows-lost and rebuilt EMPTY, because
    "participated and lost everywhere" and "never participated" are
    indistinguishable from the winner frame alone. A doc the stream never
    saw (late data dropped by the watermark, a partial drain, a corpus
    superset) would therefore be silently emptied — exclude such rows
    from ``df`` (or route them through a fresh batch ``dedup_substrings``
    pass) before applying.

    ``strict=True`` turns that silent emptying into a loud
    ``raise_error``: any ≥ ``window``-token document with NO winners row
    aborts the job instead of rebuilding empty. A document that
    participated always wins the hashes only it owns, so under a COMPLETE
    winner frame the only docs without a row are those whose every window
    is also held (and won) by an earlier document — exact full
    duplicates. Strict mode without a manifest therefore trades tolerance
    of full duplicates for detection of partial frames.

    ``manifest`` (requires ``strict=True``; works under either plan —
    note ``loser_filtered`` defaults to False) resolves that trade: pass
    the
    ``(id, n_windows, n_windows_won)`` frame
    :func:`substring_winner_manifest` computed while the winner frame was
    known complete, and the raise becomes exact — a document aborts the
    job only when its manifest row is MISSING (it never participated: a
    drain or corpus mismatch) or when the observed corpus window count /
    winner-frame win count disagrees with the manifest (the corpus or the
    winner frame changed since the manifest was cut). A document with a
    matching ``n_windows_won = 0`` row is a legitimate exact full
    duplicate and rebuilds empty without raising — strict mode stays
    usable on corpora that contain verbatim copies, which is exactly
    where substring dedup matters. The manifest costs one slim
    ``(id, int, int)`` join; every comparison is row-local (the observed
    win count is the size of the collected winner-start array, the
    observed window count comes from the bound token array)."""
    for col, what in [(text_column, "text"), (id_column, "id")]:
        if col not in df.columns:
            raise ValueError(
                f"{what} column {col!r} not in dataframe (columns: {df.columns})",
            )
    if window < 2:
        raise ValueError(f"window must be >= 2 tokens, got {window}")
    if id_column not in winners.columns or "start" not in winners.columns:
        raise ValueError(
            f"winners must have ({id_column!r}, 'start') columns, "
            f"got {winners.columns}",
        )
    if manifest is not None:
        if not strict:
            raise ValueError("manifest requires strict=True")
        for c in (id_column, "n_windows", "n_windows_won"):
            if c not in manifest.columns:
                raise ValueError(
                    f"manifest must have ({id_column!r}, 'n_windows', "
                    f"'n_windows_won') columns, got {manifest.columns}",
                )
    w = int(window)
    text = F.col(text_column)
    toks_expr = whitespace_tokens(text)
    scored = text.isNotNull() & F.col(id_column).isNotNull()

    if check_unique_ids:
        dup_ids = duplicate_id_frame(df, id_column, "__n_rows_ss")
        base = df.join(F.broadcast(dup_ids), on=id_column, how="left")
    else:
        base = df.withColumn("__n_rows_ss", F.lit(None).cast("bigint"))
    if manifest is not None:
        # manifest-side orphan guard: a document that shrank BELOW the
        # window, had its text nulled, or was deleted outright leaves the
        # corpus's windowed projection entirely — no corpus row can carry
        # its mismatch, so the check must come FROM the manifest: any
        # manifest doc with no windowed corpus doc raises (via a
        # broadcast 0-or-1-row flag joined onto every output row; an
        # entirely empty output cannot raise — row-level guards need a
        # row to fire on).
        nw_guard = (
            df.where(F.col(id_column).isNotNull() & text.isNotNull())
            .select(F.col(id_column))
            .where(F.size(toks_expr) >= w)
        )
        orphan = F.broadcast(
            manifest.select(F.col(id_column))
            .join(nw_guard, on=id_column, how="left_anti")
            .limit(1)
            .select(
                F.lit(1).alias("__mguard"),
                F.col(id_column).cast("string").alias("__orphan_id"),
            ),
        )
        base = base.withColumn("__mguard", F.lit(1)).join(
            orphan, on="__mguard", how="left",
        ).drop("__mguard")
    base_cols = [id_column] + [c for c in df.columns if c != id_column]

    # the raise chain shared by every leg: a when() cascade whose raise
    # branches fire before the scored rebuild (cast to the branch type —
    # the unique-id guards' posture)
    unique_raise = F.raise_error(F.concat(
        F.lit("dedup_substrings: duplicate document id "),
        F.col(id_column).cast("string"),
        F.lit(" violates the unique-id contract"),
    )).cast("string")

    def _orphan_chain(chain):
        if manifest is None:
            return chain
        return chain.when(
            F.col("__orphan_id").isNotNull(),
            F.raise_error(F.concat(
                F.lit("apply_substring_winners(strict=True): document "),
                F.col("__orphan_id"),
                F.lit(
                    " is in the manifest but has no windows in this "
                    "corpus — it shrank below the window, lost its text, "
                    "or was deleted since the manifest was cut",
                ),
            )).cast("string"),
        )

    if not loser_filtered:
        win_starts = winners.groupBy(id_column).agg(
            F.collect_list("start").cast("array<int>").alias("__win_starts"),
        )
        out = base.join(win_starts, on=id_column, how="left")
        if manifest is not None:
            out = out.join(
                manifest.select(
                    F.col(id_column),
                    F.col("n_windows").cast("int").alias("__m_windows"),
                    F.col("n_windows_won").cast("int").alias("__m_won"),
                ),
                on=id_column, how="left",
            )
        out = out.withColumn("__tk2", toks_expr)
        tk2 = F.col("__tk2")
        chain = _orphan_chain(F.when(F.lit(False), F.lit(None).cast("string")))
        if strict and manifest is not None:
            # every check is row-local: observed window count from the
            # bound token array, observed win count from the collected
            # winner starts — the manifest join is the only added cost
            windowed = scored & (F.size(tk2) >= w)
            n_windows_obs = (F.size(tk2) - (w - 1)).cast("int")
            n_wins_obs = F.size(
                F.coalesce(F.col("__win_starts"), F.array().cast("array<int>")),
            ).cast("int")
            chain = chain.when(
                windowed & F.col("__m_windows").isNull(),
                _strict_raise(id_column,
                              "has windows but NO manifest row — it never "
                              "participated (partial drain or corpus "
                              "mismatch)"),
            ).when(
                windowed & (F.col("__m_windows") != n_windows_obs),
                _strict_raise(id_column,
                              "corpus window count disagrees with the "
                              "manifest — the corpus changed since the "
                              "manifest was cut"),
            ).when(
                windowed & (n_wins_obs != F.col("__m_won")),
                _strict_raise(id_column,
                              "winner-frame win count disagrees with the "
                              "manifest — partial winner frame"),
            )
        elif strict:
            chain = chain.when(
                scored & (F.size(tk2) >= w)
                & F.col("__win_starts").isNull(),
                _strict_raise(id_column,
                              "no winners row — partial winner frame or "
                              "exact full duplicate"),
            )
        chain = chain.when(F.col("__n_rows_ss").isNotNull(), unique_raise)
        return _substring_rebuild(out, base_cols, id_column, w, chain, scored)

    # ---- loser-filtered plan: ONE consumer of the winner frame, one
    # corpus-side join against a losers-only build side
    per_doc = winners.groupBy(id_column).agg(
        F.collect_list("start").cast("array<int>").alias("__win_starts"),
        F.count(F.lit(1)).cast("int").alias("__n_wins"),
    )
    n_windows_expr = F.greatest(
        F.size(toks_expr) - (w - 1), F.lit(0),
    ).cast("int")
    nw = (
        df.where(F.col(id_column).isNotNull() & text.isNotNull())
        .select(F.col(id_column), n_windows_expr.alias("__n_windows"))
        .where(F.col("__n_windows") > 0)
    )
    checked = nw.join(per_doc, on=id_column, how="left")
    lost = F.coalesce(F.col("__n_wins"), F.lit(0)) < F.col("__n_windows")
    if manifest is not None:
        # the build side must include every document a manifest check
        # could FIRE on, not just losers: a doc whose text shrank since
        # the manifest was cut can show wins >= windows (it is no loser)
        # yet must still abort — so disagreement with the manifest joins
        # the build side alongside genuine losers. On a healthy corpus
        # the extra rows are exactly zero; on a corrupted one they exist
        # to raise.
        man = manifest.select(
            F.col(id_column),
            F.col("n_windows").cast("int").alias("__m_windows"),
            F.col("n_windows_won").cast("int").alias("__m_won"),
        )
        checked = checked.join(man, on=id_column, how="left")
        losers = checked.where(
            lost
            | F.col("__m_windows").isNull()
            | (F.col("__m_windows") != F.col("__n_windows"))
            | (F.coalesce(F.col("__n_wins"), F.lit(0)) != F.col("__m_won")),
        )
    else:
        losers = checked.where(lost)

    out = base.join(losers, on=id_column, how="left")
    out = out.withColumn("__tk2", toks_expr)
    chain = _orphan_chain(F.when(F.lit(False), F.lit(None).cast("string")))
    if strict and manifest is not None:
        loser_row = F.col("__n_windows").isNotNull()
        chain = chain.when(
            loser_row & F.col("__m_windows").isNull(),
            _strict_raise(id_column,
                          "lost windows but has NO manifest row — it never "
                          "participated (partial drain or corpus mismatch)"),
        ).when(
            loser_row & (F.col("__m_windows") != F.col("__n_windows")),
            _strict_raise(id_column,
                          "corpus window count disagrees with the manifest "
                          "— the corpus changed since the manifest was cut"),
        ).when(
            loser_row
            & (F.coalesce(F.col("__n_wins"), F.lit(0)) != F.col("__m_won")),
            _strict_raise(id_column,
                          "winner-frame win count disagrees with the "
                          "manifest — partial winner frame"),
        )
    elif strict:
        chain = chain.when(
            F.col("__n_windows").isNotNull() & F.col("__n_wins").isNull(),
            _strict_raise(id_column,
                          "has windows but no winners row — partial winner "
                          "frame or exact full duplicate"),
        )
    chain = chain.when(F.col("__n_rows_ss").isNotNull(), unique_raise)
    return _substring_rebuild(out, base_cols, id_column, w, chain, scored,
                              loser_gated=True)


def _strict_raise(id_column: str, why: str):
    return F.raise_error(F.concat(
        F.lit("apply_substring_winners(strict=True): document "),
        F.col(id_column).cast("string"),
        F.lit(" " + why),
    )).cast("string")


def _substring_rebuild(
    out: DataFrame,
    out_cols: list[str],
    id_column: str,
    w: int,
    chain,
    scored,
    loser_gated: bool = False,
) -> DataFrame:
    """The interval-rebuild machinery shared by both apply plans: from a
    frame with bound ``__tk2`` (token array) and ``__win_starts`` columns,
    derive loser starts row-locally, merge them into disjoint spans, slice
    the survivors out of the gaps, and emit ``out_cols`` plus the three
    output columns (``chain`` is the caller's raise cascade, continued
    with the scored rebuild).

    ``loser_gated=True`` flips the null-row meaning: the frame was joined
    against a LOSERS-ONLY build side, so a row with no match
    (``__n_windows`` NULL) is an untouched document — zero loser starts —
    rather than an all-windows-lost one. The downstream machinery then
    degenerates row-locally (empty spans, one full-array gap slice), so
    untouched rows cost one token-array copy, not the interval fold."""
    tk2 = F.col("__tk2")
    # loser starts = the document's full window-start range minus its
    # winning starts — row-local, no occurrence shuffle
    all_starts = F.when(
        F.size(tk2) >= w,
        F.sequence(F.lit(0), F.size(tk2) - w),
    ).otherwise(F.array().cast("array<int>"))
    dup_starts = F.array_sort(
        F.array_except(
            all_starts,
            F.coalesce(F.col("__win_starts"), F.array().cast("array<int>")),
        ),
    )
    if loser_gated:
        dup_starts = F.when(
            F.col("__n_windows").isNotNull(), dup_starts,
        ).otherwise(F.array().cast("array<int>"))
    # sorted starts -> disjoint merged [lo, hi] token intervals. All
    # intervals share width w and starts are sorted, so interval i merges
    # into its predecessor exactly when d_i <= d_{i-1} + w — span
    # boundaries are the BREAK positions (d_i > d_{i-1} + w), computable
    # with one shifted zip + filters at projection level. The obvious
    # sequential F.aggregate fold is semantically identical but each step
    # re-copies the accumulator array (slice + concat + struct per dup
    # start) — measured 14 s of a 24 s apply pass at 2M docs vs ~2 s for
    # this shape.
    out = out.withColumn("__dup", dup_starts)
    dup = F.col("__dup")
    n_dup = F.size(dup)
    # __dup and __breaks materialize as columns referenced >= 2 times so
    # CollapseProject cannot re-inline them into consumer lambdas
    out = out.withColumn("__breaks", F.filter(
        F.zip_with(
            F.slice(dup, 2, F.greatest(n_dup - 1, F.lit(0))),
            F.slice(dup, 1, F.greatest(n_dup - 1, F.lit(0))),
            lambda c, p: F.struct(c.alias("c"), p.alias("p")),
        ),
        lambda s: s["c"] > s["p"] + w,
    ))
    breaks = F.col("__breaks")
    span_los = F.concat(F.slice(dup, 1, 1), F.transform(breaks, lambda s: s["c"]))
    span_his = F.concat(
        F.transform(breaks, lambda s: s["p"] + (w - 1)),
        F.when(n_dup > 0, F.array(F.element_at(dup, -1) + (w - 1)))
        .otherwise(F.array().cast("array<int>")),
    )
    out = out.withColumn("__spans", F.zip_with(
        span_los, span_his,
        lambda lo, hi: F.struct(
            lo.cast("bigint").alias("lo"), hi.cast("bigint").alias("hi"),
        ),
    ))
    # rebuild from the GAPS between the merged spans, not by testing each
    # token against the span list: Catalyst's CollapseProject re-inlines a
    # once-referenced projection into its consumer lambda, so a per-token
    # exists() re-ran the whole interval fold once per token (measured
    # 169 s for 500k fully-templated docs); per-gap slicing evaluates the
    # lambda n_spans+1 times per row instead of n_tokens times (0.9 s).
    spans_col = F.col("__spans")
    m = F.size(spans_col)
    n_tk = F.size(tk2)

    def _gap(i):
        start1 = F.when(i == 0, F.lit(1).cast("bigint")).otherwise(
            F.element_at(spans_col, i.cast("int"))["hi"] + 2,
        )
        end1 = F.when(i == m, (n_tk + 1).cast("bigint")).otherwise(
            F.element_at(spans_col, (i + 1).cast("int"))["lo"] + 1,
        )
        return F.slice(
            tk2, start1.cast("int"),
            F.greatest(end1 - start1, F.lit(0)).cast("int"),
        )

    # __kept materializes for the same reason as __dup/__breaks: it is
    # referenced twice below (join for text_dedup, size for
    # n_removed_tokens) and an inline reference would run the whole
    # gap-slice + flatten tree twice per row (interpreted HOFs sit
    # outside codegen subexpression elimination)
    out = out.withColumn(
        "__kept", F.flatten(F.transform(F.sequence(F.lit(0), m), _gap)),
    )
    kept = F.col("__kept")
    return out.select(_with_output_columns(out_cols, {
        "text_dedup": chain.when(scored, F.concat_ws(" ", kept)),
        "n_tokens": F.when(scored, F.size(tk2)).otherwise(F.lit(0))
        .cast("bigint"),
        "n_removed_tokens": F.when(scored, F.size(tk2) - F.size(kept))
        .otherwise(F.lit(0)).cast("bigint"),
    }))


def _with_output_columns(cols: list[str], outputs: dict) -> list:
    """withColumn-compatible projection list: an output column whose name
    already exists in ``cols`` REPLACES it at its original position
    (re-applying dedup_substrings to its own output must overwrite, not
    duplicate); the rest append in ``outputs`` order."""
    outputs = dict(outputs)
    sel = [
        outputs.pop(c).alias(c) if c in outputs else F.col(c) for c in cols
    ]
    return sel + [expr.alias(name) for name, expr in outputs.items()]


def oversized_window_stats(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    window: int = 50,
    max_occurrences: int = 1024,
    hash_function: str = "md5",
) -> DataFrame:
    """Skew-guard observability for :func:`dedup_substrings`' window-hash
    shuffle — the ExactSubstr twin of :func:`minhash_lsh_bucket_stats`:
    one row with the distinct-window count, how many window hashes occur
    more than ``max_occurrences`` times, their occurrence total, and the
    hottest hash's count. The winner aggregation map-side-combines hot
    hashes, so a boilerplate window with 10^9 occurrences costs one row
    per map task rather than 10^9 shuffled rows — but its winner row
    still concentrates on one reducer, and the APPLY side of every one of
    those documents rebuilds around it; run this (same ``window`` and
    ``hash_function`` as the dedup call — a rolling run hashes windows
    differently than md5 and the stats must describe the keys the dedup
    actually shuffles) to see hot windows before committing a 100 TB
    pass. One extra occurrence-frame aggregation; no effect on the dedup
    plan itself."""
    for col, what in [(text_column, "text"), (id_column, "id")]:
        if col not in df.columns:
            raise ValueError(
                f"{what} column {col!r} not in dataframe (columns: {df.columns})",
            )
    occ = _occ_window_explode(
        df.where(F.col(id_column).isNotNull() & F.col(text_column).isNotNull())
        .select(
            F.col(id_column),
            whitespace_tokens(F.col(text_column)).alias("__tk"),
        ),
        [F.col(id_column)], int(window), hash_function, "h",
    )
    return oversized_bucket_stats(occ, ["h"], id_column, int(max_occurrences))
