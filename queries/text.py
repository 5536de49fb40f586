"""Text-curation queries: exact, segment, near- and substring dedup,
text statistics, quality and language scoring, document hashes, sequence
packing and benchmark decontamination. Every oracle tokenizes with the one
:func:`_toks_sql` twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from queries import query
from queries._common import _docs
from sed_binning_spark.pipeline.dedup import (
    MINHASH_PRIME, exact_dedup, exact_dedup_keep_rows, minhash_lsh_pairs, minhash_params, simhash,
)
from sed_binning_spark.pipeline.text import (
    document_fingerprint, dup_line_stats, language_id, PII_PATTERNS, pii_stats, quality_score,
    scrub_pii, STOPWORDS, text_stats,
)
from sed_binning_spark.sqlgen import (
    fsql, hex_to_bigint_sql, rk_whole_doc_hash_sql, rk_window_hashes_sql,
)


# quality_score slot: LITERAL classifier model — apply is a closed-form
# standardize → dot → sigmoid both engines recompute from these constants
_CLF_MODEL = {
    "features": [
        "n_chars", "n_ws_tokens", "mean_token_len",
        "punct_ratio", "stopword_ratio", "uniq_token_ratio",
    ],
    "log_features": ["n_chars", "n_ws_tokens"],
    "mean": [6.0, 4.5, 5.0, 0.1, 0.05, 0.5],
    "std": [1.5, 1.2, 2.0, 0.08, 0.04, 0.25],
    "weights": [0.2, -0.1, 0.3, -0.25, 0.15, 0.05],
    "bias": 0.1,
}

# CCNet perplexity-bucket cuts (lang_id slot): LITERAL thresholds, the
# _PCA_MODEL freeze pattern — a query-time approxQuantile fit would be
# approximation-order dependent across engines. These two tercile the
# gate corpus's unigram_logprob at both sf0.01 and sf0.001.
_PPL_CUTS = (-3.404, -3.4)

# C4 line-rule twin construction (doc_hashes slot): fixed lines hitting
# every rule, shared verbatim by the Spark builder and the DuckDB oracle
_C4_FIXED = (
    "\nShort line."
    "\nThis is a perfectly fine line with punctuation."
    "\nThis line has no terminal punctuation at all"
    "\nEnable javascript to view this excellent content now."
    "\nDocument body digest "
)
_C4_TAIL = " closes cleanly today."
_C4_EVEN = "\nAnother good line appears in even documents only."
_C4_BRACE = "\ncode line { with a brace and punctuation too."
_C4_LOREM = "\nthis document contains lorem ipsum filler text sadly."


def _sql_str(s: str) -> str:
    """DuckDB string literal (newlines via chr(10) — embedded newlines in
    a literal survive, but chr(10) keeps the generated SQL greppable)."""
    body = s.replace("'", "''").replace("\n", "' || chr(10) || '")
    return f"'{body}'"


_STOP_SQL = {
    lang: ", ".join(f"'{w}'" for w in ws) for lang, ws in STOPWORDS.items()
}
# list_filter strips the empty token regexp_split emits for blank text,
# mirroring pipeline.text.whitespace_tokens' array_remove
def _toks_sql(col: str = "text") -> str:
    """THE dedup-family tokenizer twin (lowercased, empty-token
    stripped), parameterized by column so every oracle uses ONE
    definition. The whitespace class is explicit — RE2's \\s excludes
    \\x0B while Java's includes it, so \\s+ here would tokenize
    vertical-tab documents differently from the engine."""
    return (
        f"list_filter(regexp_split_to_array(trim(lower({col})), "
        f"'{_WS_CLASS}+'), x -> x != '')"
    )


_WS_CLASS = "[ \t\n\x0B\f\r]"  # == Java regex \s, explicit for RE2
_TOKS_SQL = _toks_sql()
_WS_SQL = ("list_filter(regexp_split_to_array(trim(text), "
           f"'{_WS_CLASS}+'), x -> x != '')")


def _grams_sql(n: int) -> str:
    """DuckDB twin of pipeline.dedup.word_shingles restricted to full
    windows (docs with < n tokens yield [], matching repetition_stats'
    no-full-n-gram gate)."""
    return (
        f"CASE WHEN len({_TOKS_SQL}) < {n} THEN [] ELSE "
        f"list_transform(range(1, len({_TOKS_SQL}) - {n - 1} + 1), "
        f"i -> array_to_string({_TOKS_SQL}[i:i+{n - 1}], ' ')) END"
    )


def _rep_frac_sql(col: str, kind: str) -> str:
    """Twin of one repetition_stats column over a grams-list column:
    per-document group-by + (argmax with min-gram tie-break | (count-1)*len
    sum), capped at the document length."""
    if kind == "top":
        chars = (
            "(SELECT max(cnt) * length(min(g) FILTER (cnt = max_cnt)) FROM "
            f"(SELECT g, count(*) AS cnt, max(count(*)) OVER () AS max_cnt "
            f"FROM unnest({col}) AS t(g) GROUP BY g))"
        )
    else:
        chars = (
            f"(SELECT coalesce(sum((cnt - 1) * length(g)), 0) FROM "
            f"(SELECT g, count(*) AS cnt FROM unnest({col}) AS t(g) GROUP BY g) "
            f"WHERE cnt > 1)"
        )
    return (
        f"CASE WHEN text IS NULL THEN NULL "
        f"WHEN length(text) = 0 OR len({col}) = 0 THEN 0.0e0 "
        f"ELSE round(least(CAST({chars} AS DOUBLE), length(text)) / length(text), 6) END"
    )


# word trigrams of the dedup tokens (the minhash_lsh_pairs shingles)
_SHINGLE_SQL = (
    f"list_transform(range(1, greatest(len({_TOKS_SQL}) - 2, 1) + 1), "
    f"i -> array_to_string({_TOKS_SQL}[i:i+2], ' '))"
)


def _minhash_pairs_sql() -> str:
    """Candidate pairs of the 8-hash, 4-band LSH over word trigrams.
    Universal-hash MinHash twin: one md5 per shingle (28-bit hex-prefix
    int), k affine maps (a*h + b) mod p — same plan-time (a, b, p)
    constants as pipeline.dedup.minhash_params, exact in int64 on both
    engines."""
    shingle_hashes = (
        f"list_transform({_SHINGLE_SQL}, s -> "
        f"CAST('0x' || substr(md5(s), 1, 7) AS BIGINT))"
    )
    mh_params = minhash_params(8)

    def mh(i):
        a, b = mh_params[i]
        return (
            f"list_min(list_transform(hs, h -> "
            f"({a} * h + {b}) % {MINHASH_PRIME}))"
        )

    hs_docs = f"(SELECT doc_id, {shingle_hashes} AS hs FROM documents)"

    def band(b, rows_per_band=2):
        return " || '#' || ".join(
            f"CAST({mh(b * rows_per_band + r)} AS VARCHAR)" for r in range(rows_per_band)
        )

    lsh_bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, {band(b)} AS key FROM {hs_docs}" for b in range(4)
    )
    return (
        f"SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM "
        f"({lsh_bands}) a JOIN ({lsh_bands}) b "
        f"ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"
    )


# connected components of the LSH pair graph: recursive min-label
# closure — the SQL twin of pipeline.cluster.connected_components
@query("dedup_clusters", oracle=lambda: (
    f"WITH RECURSIVE lsh_pairs AS ({_minhash_pairs_sql()}), "
    f"edges AS (SELECT id_a AS u, id_b AS v FROM lsh_pairs "
    f"UNION SELECT id_b, id_a FROM lsh_pairs), "
    f"reach(u, r) AS (SELECT u, u FROM edges "
    f"UNION SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.u) "
    f"SELECT u AS doc_id, min(r) AS component FROM reach GROUP BY u"
))
def _q_dedup_clusters(spark, sf):
    """Near-dup cluster resolution: LSH candidate pairs -> connected
    components (hash-min label propagation) -> (doc_id, component) labels.
    The iterative-join operator the DuckDB oracle reproduces with a
    recursive CTE."""
    from sed_binning_spark.pipeline.cluster import connected_components

    pairs = minhash_lsh_pairs(_docs(spark, sf), num_hashes=8, bands=4, shingle_size=3)
    return connected_components(pairs, id_column="doc_id", component_column="component")


# NULL-text rows are excluded from duplicate classes (missing text
# is not duplicate text) and all preserved by the keep-rows form;
# the para* CTE chain is the dedup_segments twin over the
# synthesized paragraph text (keep-first = row_number over
# (doc_id, pos), reassembly = ORDER BY pos string_agg)
@query("dedup_exact", oracle=lambda: (
    "WITH pbase AS (SELECT doc_id, 'shared header' || chr(10) || chr(10) "
    "|| text || chr(10) || chr(10) || 'group ' || "
    "CAST(doc_id % 5 AS VARCHAR) AS ptext FROM documents), "
    "plists AS (SELECT doc_id, ptext, list_filter("
    "regexp_split_to_array(ptext, '\n{2,}'), "
    "s -> regexp_replace(s, '[ \t\x0B\f\r\n]', '', 'g') != '') AS l "
    "FROM pbase), "
    "psegs AS (SELECT doc_id, u.pos, u.seg FROM (SELECT doc_id, "
    "unnest(list_transform(range(1, len(l) + 1), "
    "i -> {'pos': i, 'seg': l[i]})) AS u FROM plists)), "
    "pkept AS (SELECT doc_id, pos, seg FROM (SELECT doc_id, pos, seg, "
    "row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn "
    "FROM psegs) WHERE rn = 1), "
    "pagg AS (SELECT doc_id, string_agg(seg, chr(10) || chr(10) "
    "ORDER BY pos) AS td, count(*) AS nk FROM pkept GROUP BY doc_id), "
    "para AS (SELECT l.doc_id, CASE WHEN l.ptext IS NULL THEN NULL "
    "ELSE md5(coalesce(td, '')) END AS para_md5, "
    "CAST(CASE WHEN l.ptext IS NULL THEN 0 "
    "ELSE len(l.l) - coalesce(nk, 0) END AS BIGINT) AS para_removed "
    "FROM plists l LEFT JOIN pagg ON pagg.doc_id = l.doc_id) "
    "SELECT k.doc_id, c.n_dups, para.para_md5, para.para_removed FROM "
    "(SELECT doc_id FROM documents WHERE text IS NULL OR doc_id IN "
    "(SELECT min(doc_id) FROM documents WHERE text IS NOT NULL "
    "GROUP BY md5(text))) k LEFT JOIN "
    "(SELECT min(doc_id) AS doc_id, count(*) AS n_dups "
    "FROM documents WHERE text IS NOT NULL GROUP BY md5(text)) c "
    "ON c.doc_id = k.doc_id "
    "LEFT JOIN para ON para.doc_id = k.doc_id"
))
def _q_dedup_exact(spark, sf):
    """Exact dedup, all three grains merged: the surviving rows (keep_rows
    — NULL-text rows all retained) annotated with their digest-class
    duplicate count (exact_dedup), PLUS the segment-grain pass
    (pipeline.dedup.dedup_segments) over a synthesized paragraph twin —
    the corpus has no newlines, so a shared header and a per-(doc_id%5)
    group paragraph are appended by expression on both engines; the
    reassembled text is checked as its md5."""
    from sed_binning_spark.pipeline.dedup import dedup_segments

    # split=False: every grain here immediately hash-aggregates/joins by
    # digest or doc_id (its own shuffle with map-side combine), so the
    # pre-split Exchange was pure overhead — A/B 2.1 -> 1.0 s at sf0.1
    docs = _docs(spark, sf, split=False)
    classes = exact_dedup(docs).select(
        F.col("kept_id").alias("doc_id"), "n_dups",
    )
    kept = exact_dedup_keep_rows(docs).select("doc_id")
    para = docs.select(
        "doc_id",
        F.concat(
            F.lit("shared header\n\n"), F.col("text"), F.lit("\n\ngroup "),
            (F.col("doc_id") % 5).cast("string"),
        ).alias("text"),
    )
    pcols = dedup_segments(para).select(
        "doc_id",
        F.md5("text_dedup").alias("para_md5"),
        F.col("n_removed").alias("para_removed"),
    )
    return (
        kept.join(classes, on="doc_id", how="left")
        .join(pcols, on="doc_id", how="left")
    )


@query("text_stats", oracle=lambda: (
    f"SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
    f"CAST(len({_WS_SQL}) AS BIGINT) AS n_ws_tokens, "
    f"CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_" + _WS_CLASS[1:-1] + "]')) AS BIGINT) "
    f"AS n_bpe_tokens, "
    f"round(length(regexp_replace(text, '{_WS_CLASS}+', '', 'g')) "
    f"/ CAST(len({_WS_SQL}) AS DOUBLE), 6) AS mean_token_len, "
    f"round(len(regexp_extract_all(text, '[^A-Za-z0-9_" + _WS_CLASS[1:-1] + "]')) "
    f"/ CAST(length(text) AS DOUBLE), 6) AS punct_ratio, "
    f"round(len(list_filter(list_transform({_WS_SQL}, x -> lower(x)), "
    f"x -> x IN ({_STOP_SQL['en']}))) / CAST(len({_WS_SQL}) AS DOUBLE), 6) "
    f"AS stopword_ratio, "
    f"round(len(list_distinct({_WS_SQL})) / CAST(len({_WS_SQL}) AS DOUBLE), 6) "
    f"AS uniq_token_ratio, "
    f"{_rep_frac_sql('grams2', 'top')} AS top_2gram_char_frac, "
    f"{_rep_frac_sql('grams5', 'dup')} AS dup_5gram_char_frac, "
    # BPE round-trip twin: the Sennrich reconstruction of ANY
    # true per-word partition is the pre-token stream re-joined
    # with spaces plus one trailing space per word — derivable
    # from the pre-tokenizer alone, no merge table needed
    "CASE WHEN text IS NULL THEN NULL WHEN len(pre) = 0 THEN md5('') "
    "ELSE md5(array_to_string(pre, ' ') || ' ') END AS bpe_rt_md5, "
    # literal [('t','h')] table: merges = non-word-final 'th'
    # adjacencies (no overlap, no cascade), so the subword count
    # is len(w) - matches + (1 if w ends with 'th')
    "CASE WHEN text IS NULL THEN NULL ELSE CAST(coalesce(list_sum("
    "list_transform(pre, w -> length(w) "
    "- len(regexp_extract_all(w, 'th')) "
    "+ CASE WHEN ends_with(w, 'th') THEN 1 ELSE 0 END)), 0) "
    "AS BIGINT) END AS n_bpe_th "
    f"FROM (SELECT doc_id, text, {_grams_sql(2)} AS grams2, "
    f"{_grams_sql(5)} AS grams5, "
    f"regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_"
    + _WS_CLASS[1:-1] + "]') AS pre FROM documents)"
))
def _q_text_stats(spark, sf):
    """Scalar text statistics merged with the Gopher n-gram repetition
    signals (pipeline.text.repetition_stats): top-2-gram and dup-5-gram
    character fractions from the sorted-shingle fold, checked against a
    per-document group-by twin.

    Round 11 adds the BPE tier (pipeline.bpe), two checks:

    - ``bpe_rt_md5``: a merge table is TRAINED on the corpus at query
      time (bpe_train's cluster-side word histogram + driver heap
      trainer) and applied by bpe_encode; the Sennrich round-trip
      invariant — concatenating the subwords and turning each ``</w>``
      marker into a space reconstructs the pre-token stream exactly —
      is checked as an md5 the oracle derives from the pre-tokenizer
      alone, so any trained table that is not a true per-word partition
      (or any pre-tokenizer divergence between engines) breaks the hash.
    - ``n_bpe_th``: bpe_encode under the LITERAL one-rule table
      [("t","h")], whose exact subword count has a closed form — per
      word, len(word) minus the 'th' adjacencies that do not sit at the
      word end (the final char carries the ``</w>`` marker, so a
      trailing 'th' never merges; 'th' matches cannot overlap and the
      merged symbol cannot cascade) — checked value-exactly."""
    from sed_binning_spark.pipeline.bpe import bpe_encode, bpe_train
    from sed_binning_spark.pipeline.text import repetition_stats

    docs = _docs(spark, sf)
    merges = bpe_train(docs, num_merges=64, sample_size=2000, seed=7)
    enc = bpe_encode(docs, merges, output_column="bpe_trained")
    enc = bpe_encode(enc, [("t", "h")], output_column="bpe_th")
    out = repetition_stats(text_stats(enc), top_ns=(2,), dup_ns=(5,))
    rt = F.replace(
        F.concat_ws("", F.col("bpe_trained")), F.lit("</w>"), F.lit(" "),
    )
    return out.select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_ws_tokens").cast("bigint").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("uniq_token_ratio", 6).alias("uniq_token_ratio"),
        F.round("top_2gram_char_frac", 6).alias("top_2gram_char_frac"),
        F.round("dup_5gram_char_frac", 6).alias("dup_5gram_char_frac"),
        F.when(F.col("text").isNotNull(), F.md5(rt)).alias("bpe_rt_md5"),
        F.when(F.col("text").isNotNull(), F.size("bpe_th"))
        .cast("bigint").alias("n_bpe_th"),
    )


# NULL text: every stop count is NULL, so an explicit branch is
# needed — the CASE would otherwise fall through to ELSE where the
# engine says 'und'
def _lang_id_sql() -> str:
    stop_filters = {
        lang: f"len(list_filter({_TOKS_SQL}, x -> x IN ({_STOP_SQL[lang]})))"
        for lang in STOPWORDS
    }
    # language_id's tie-break is STOPWORDS dict order (first listed wins a
    # tied max score), so the CASE must test languages in the same order
    _stop_max = f"greatest({', '.join(stop_filters.values())})"
    _lang_cases = " ".join(
        f"WHEN {stop_filters[lang]} = {_stop_max} THEN '{lang}'"
        for lang in STOPWORDS
    )
    lang_id_sql = (
        f"SELECT doc_id, CASE WHEN text IS NULL THEN 'und' "
        f"WHEN {_stop_max} = 0 THEN 'und' "
        f"{_lang_cases} ELSE 'und' END AS lang_pred FROM documents"
    )
    # unigram_logprob twin: self-scored add-1 model; per-token log-probs
    # quantized to integer micro-nats, so the mean is an exact int sum /
    # (m * 1e6) on both engines (sum(BIGINT) is HUGEINT in DuckDB — CAST)
    # URL-tier twin: the canonical form is predicted CLOSED-FORM from the
    # minting construction (scheme/host lower-cased, default :80 dropped,
    # tracking params dropped, kept params sorted, fragment dropped), so
    # the engine's try_parse_url chain is checked against an independent
    # derivation; group winners rebuilt with a plain GROUP BY over the
    # parseable 3-of-5 rows (unparseable rows keep their literal string,
    # NULL urls are excluded from URL dedup by contract)
    _url_canon_case = (
        "CASE WHEN l.doc_id % 5 = 4 THEN NULL "
        "WHEN l.doc_id % 5 = 3 THEN 'no scheme url ' || CAST(l.doc_id AS VARCHAR) "
        "ELSE 'http://host' || CAST(l.doc_id % 25 AS VARCHAR) || "
        "'.example.com/p' || CAST(l.doc_id % 25 AS VARCHAR) || '?a=1&z=2' END"
    )
    lang_lm_sql = (
        f"WITH tk AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents), "
        "model AS (SELECT token, count(*) AS n FROM tk GROUP BY token), "
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS vocab FROM model), "
        "lut AS (SELECT token, CAST(round(ln((n + 1.0) / (total + 1.0 * (vocab + 1))) "
        "* 1e6, 0) AS BIGINT) AS lm FROM model, tot), "
        "agg AS (SELECT doc_id, CAST(sum(lm) AS BIGINT) AS s, count(*) AS m "
        "FROM tk JOIN lut USING (token) GROUP BY doc_id), "
        "url_grp AS (SELECT doc_id % 25 AS grp, min(doc_id) AS kept, "
        "CAST(count(*) AS BIGINT) AS n FROM documents "
        "WHERE doc_id % 5 IN (0, 1, 2) GROUP BY 1) "
        f"SELECT l.doc_id, l.lang_pred, CAST(s AS DOUBLE) / (m * 1e6) AS unigram_logprob, "
        # perplexity-bucket twin: same bottom-up CASE over the twin's OWN
        # lp derivation under the frozen literal cuts (e0 forces a DOUBLE
        # literal parse, matching Python's float); a token-less doc (s
        # NULL) gets a NULL bucket like the engine's isNotNull gate
        "CASE WHEN s IS NULL THEN NULL "
        f"WHEN CAST(s AS DOUBLE) / (m * 1e6) <= {_PPL_CUTS[0]}e0 THEN 'tail' "
        f"WHEN CAST(s AS DOUBLE) / (m * 1e6) <= {_PPL_CUTS[1]}e0 THEN 'middle' "
        "ELSE 'head' END AS ppl_bucket, "
        # blocklist-audit twin: the full host equals the entry iff the
        # group index is 3 or 7 (the entries are complete hosts, so a
        # label-suffix hit is exactly an equality hit here)
        f"l.doc_id % 20 IN (3, 7) AS src_blocked, "
        f"{_url_canon_case} AS url_canon, "
        "CASE WHEN l.doc_id % 5 = 4 THEN NULL "
        "WHEN l.doc_id % 5 = 3 THEN l.doc_id ELSE u.kept END AS url_kept_id, "
        "CASE WHEN l.doc_id % 5 = 4 THEN NULL "
        "WHEN l.doc_id % 5 = 3 THEN CAST(1 AS BIGINT) ELSE u.n END AS url_n_dups "
        f"FROM ({lang_id_sql}) l LEFT JOIN agg ON agg.doc_id = l.doc_id "
        "LEFT JOIN url_grp u ON u.grp = l.doc_id % 25"
    )
    return lang_lm_sql


@query("lang_id", oracle=_lang_id_sql)
def _q_lang_id(spark, sf):
    """Stopword language-ID merged with the corpus unigram LM score
    (pipeline.lm.unigram_logprob): self-scored add-1 model, exact
    integer micro-nat mean — the DuckDB twin rebuilds the same model.
    Also carries the domain-mode blocklist audit (pipeline.filters.
    filter_by_blocklist keep='blocked') as a flag: a synthetic host
    'hN.data.example' is minted from doc_id (schema-independent — the
    dirty-corpus suite has no source column) and the blocklist names two
    of the twenty host groups, exercising the suffix-match path.

    Round 11 adds the URL tier (pipeline.url): every doc mints a messy
    URL from doc_id — scheme/host case noise, a scheme-default :80,
    shuffled query params with per-doc tracking params (utm_*), a
    fragment — whose CANONICAL form depends only on doc_id % 25, so
    canonicalize_urls must collapse 3 of every 5 docs into 25 groups and
    dedup_by_url must pick min-id winners over them. doc_id % 5 == 3
    rows carry an unparseable URL (passthrough contract: the literal
    string stays the dedup key) and % 5 == 4 rows a NULL URL (excluded
    from URL dedup by contract). The oracle predicts the canonical
    string CLOSED-FORM from the construction — independent of
    try_parse_url — and rebuilds the group winners with a plain
    GROUP BY, so a canonicalization bug in any component (case, port,
    param filter/sort, fragment) breaks the hash."""
    from sed_binning_spark.pipeline.filters import filter_by_blocklist
    from sed_binning_spark.pipeline.lm import (
        assign_perplexity_buckets,
        unigram_logprob,
    )
    from sed_binning_spark.pipeline.url import canonicalize_urls, dedup_by_url

    did = F.col("doc_id")
    g = (did % 25).cast("string")
    i = did.cast("string")
    scheme = (
        F.when(did % 3 == 0, F.lit("HTTP"))
        .when(did % 3 == 1, F.lit("http"))
        .otherwise(F.lit("hTtp"))
    )
    host = F.when(
        did % 2 == 0,
        F.concat(F.lit("Host"), g, F.lit(".Example.COM")),
    ).otherwise(F.concat(F.lit("host"), g, F.lit(".example.com")))
    port = F.when(did % 3 == 0, F.lit(":80")).otherwise(F.lit(""))
    qs = F.when(
        did % 2 == 0,
        F.concat(F.lit("?a=1&z=2&utm_source=u"), i),
    ).otherwise(F.concat(F.lit("?z=2&utm_campaign=c"), i, F.lit("&a=1")))
    messy = F.concat(
        scheme, F.lit("://"), host, port, F.lit("/p"), g, qs, F.lit("#f"), i,
    )
    url_expr = (
        F.when(did % 5 == 4, F.lit(None).cast("string"))
        .when(did % 5 == 3, F.concat(F.lit("no scheme url "), i))
        .otherwise(messy)
    )

    docs = _docs(spark, sf).withColumns({
        "host": F.concat(
            F.lit("h"), (F.col("doc_id") % 20).cast("string"),
            F.lit(".data.example"),
        ),
        "url": url_expr,
    })
    blocked = filter_by_blocklist(
        docs, ["h3.data.example", "h7.data.example"], "host",
        keep="blocked", match="domain",
    ).select("doc_id", F.lit(True).alias("__hit"))
    canon = canonicalize_urls(docs, "url", "url_canon")
    dd = dedup_by_url(docs, "url").select(
        F.col("canonical_url").alias("url_canon"),
        F.col("kept_id").alias("url_kept_id"),
        F.col("n_dups").alias("url_n_dups"),
    )
    # round 12: the CCNet bucket leg — assign_perplexity_buckets under
    # LITERAL thresholds (the _PCA_MODEL pattern: approxQuantile-fit cuts
    # are approximation-order dependent, so the gate freezes them; these
    # two tercile the gate corpus at both sf grains). The twin replays
    # the same CASE over ITS OWN lp derivation, so the bottom-up cut
    # order, the <= boundary, and the NULL-score bucket are all checked.
    out = assign_perplexity_buckets(
        unigram_logprob(language_id(docs)), [_PPL_CUTS[0], _PPL_CUTS[1]],
    )
    out = (
        out.join(blocked, "doc_id", "left")
        .join(canon.select("doc_id", "url_canon"), "doc_id", "left")
        .join(dd, "url_canon", "left")
    )
    return out.select(
        "doc_id", "lang_pred", "unigram_logprob", "ppl_bucket",
        F.coalesce(F.col("__hit"), F.lit(False)).alias("src_blocked"),
        "url_canon", "url_kept_id", "url_n_dups",
    )


# every ratio is int/int division of identical counts, so the rule
# comparisons are bit-identical across engines; NULL rules (blank
# doc) fail via coalesce(false) exactly like the engine
@query("quality_score", oracle=lambda: (
    f"SELECT doc_id, round(n_rules / 5.0, 6) AS quality, "
    f"n_rules / 5.0 >= 0.8 AS keep, "
    f"n_url, n_email, n_ip, n_phone, dup_line_ratio, "
    f"dup_line_frac, dup_line_char_frac, n_badword_tokens, scrub_md5, "
    f"round(clf_prob_raw, 6) AS clf_prob, "
    f"coalesce(clf_prob_raw >= 0.5, false) AS clf_keep, "
    f"CAST(({_clf_n_train_sql()}) AS BIGINT) AS clf_n_train "
    f"FROM (SELECT doc_id, clf_prob_raw, {_pii_audit_sql()}, "
    f"CAST(coalesce(n_ws BETWEEN 20 AND 100000, false) AS INT) + "
    f"CAST(coalesce(mtl BETWEEN 3.0 AND 10.0, false) AS INT) + "
    f"CAST(coalesce(punct <= 0.2, false) AS INT) + "
    f"CAST(coalesce(stop >= 0.01, false) AS INT) + "
    f"CAST(coalesce(uniq >= 0.45, false) AS INT) AS n_rules "
    f"FROM (SELECT doc_id, {_PII_TEXT_SQL} AS pii_text, "
    f"length(text) AS n_chars, "
    f"len({_WS_SQL}) AS n_ws, "
    f"length(regexp_replace(text, '{_WS_CLASS}+', '', 'g')) "
    f"/ CAST(nullif(len({_WS_SQL}), 0) AS DOUBLE) AS mtl, "
    f"len(regexp_extract_all(text, '[^A-Za-z0-9_" + _WS_CLASS[1:-1] + "]')) "
    f"/ CAST(nullif(length(text), 0) AS DOUBLE) AS punct, "
    f"len(list_filter(list_transform({_WS_SQL}, x -> lower(x)), "
    f"x -> x IN ({_STOP_SQL['en']}))) "
    f"/ CAST(nullif(len({_WS_SQL}), 0) AS DOUBLE) AS stop, "
    f"len(list_distinct({_WS_SQL})) "
    f"/ CAST(nullif(len({_WS_SQL}), 0) AS DOUBLE) AS uniq, "
    # literal-model classifier twin: same feature order, same
    # left-associated z accumulation (lateral aliases), NULL
    # text -> NULL prob
    f"CASE WHEN n_chars IS NULL THEN NULL "
    f"ELSE 1.0 / (1.0 + exp(-({_clf_z_sql()}))) END AS clf_prob_raw "
    f"FROM documents))"
))
def _q_quality(spark, sf):
    """Text-curation row, merged: Gopher-style quality score + keep flag
    over the raw text, PLUS the PII audit/redaction pass (pii_stats,
    scrub_pii, dup_line_stats) over a deterministic PII-laden twin text —
    the corpus has no URLs/emails/IPs/phones, so spans are synthesized from
    doc_id by expression (the synthesize_ppm trick) and both engines
    regenerate the identical input. The scrubbed text is checked as its
    md5, proving the regexp_replace chains mask identical spans."""
    docs = _docs(spark, sf).withColumn(
        "pii_text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com via http://ex.com/"),
            F.col("doc_id").cast("string"),
            F.lit(" from 10.0.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel +1 555-010-9876"),
            F.lit("\nrepeat line\nrepeat line"),
        ),
    )
    from sed_binning_spark.pipeline.classifier import (
        quality_classifier_apply,
        quality_classifier_fit,
    )
    from sed_binning_spark.pipeline.filters import badword_stats
    from sed_binning_spark.pipeline.text import dup_segment_stats

    # round 11: the trainable quality classifier, two checks. (1) apply
    # under the LITERAL model below — standardize → dot → sigmoid is a
    # closed form the oracle recomputes from the same constants; (2) fit
    # at query time on an even/odd split of the corpus — the model's
    # n_train equals the number of DISTINCT usable feature vectors per
    # class (the 50k cap never binds at gate scale), which the oracle
    # counts as distinct RAW-stat tuples (the feature map is injective
    # in them), exercising the cluster-side weighted-histogram path.
    # split=False for the fit's scan: both class jobs immediately
    # hash-aggregate distinct feature vectors (their own shuffle), so
    # the pre-split Exchange was pure overhead — fit A/B 1.45 -> 0.98 s.
    # The fit's two tiny Spark jobs then run on a driver thread so they
    # overlap the ~0.8 s of py4j plan construction below (guide §2.6 —
    # only the scalar n_train literal is needed, at the very end).
    from concurrent.futures import ThreadPoolExecutor

    base = _docs(spark, sf, split=False)
    with ThreadPoolExecutor(1) as pool:
        fit_fut = pool.submit(
            quality_classifier_fit,
            base.where(F.col("doc_id") % 2 == 0),
            base.where(F.col("doc_id") % 2 == 1),
        )

        docs = scrub_pii(
            dup_line_stats(pii_stats(docs, "pii_text"), "pii_text"),
            "pii_text",
        )
        # duplicate-segment fractions + badword count over the same pii
        # twin (it carries the duplicated 'repeat line' pair by
        # construction)
        docs = dup_segment_stats(docs, "pii_text", granularities=("line",))
        docs = badword_stats(
            docs, ["repeat", "contact"], text_column="pii_text",
        )
        docs = quality_classifier_apply(
            docs, _CLF_MODEL, output_column="clf_prob",
        )
        out = quality_score(docs)
        fitted = fit_fut.result()
    return out.select(
        "doc_id", F.round("quality", 6).alias("quality"), "keep",
        "n_url", "n_email", "n_ip", "n_phone", "dup_line_ratio",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        "n_badword_tokens",
        F.md5("text_scrubbed").alias("scrub_md5"),
        F.round("clf_prob", 6).alias("clf_prob"),
        F.coalesce(F.col("clf_prob") >= 0.5, F.lit(False)).alias("clf_keep"),
        F.lit(int(fitted["n_train"])).cast("bigint").alias("clf_n_train"),
    )


@query("doc_hashes", oracle=lambda: (
    f"SELECT f.doc_id, f.fingerprint, s.simhash, c.clean_md5, "
    f"c4.c4_md5, c4.c4_keep FROM "
    f"(SELECT doc_id, md5(array_to_string({_TOKS_SQL}, ' ')) AS fingerprint "
    f"FROM documents) f JOIN ({_simhash_oracle_sql(bits=16)}) s "
    f"ON s.doc_id = f.doc_id "
    f"LEFT JOIN (SELECT doc_id, md5({_strip_html_sql('htext')}) AS clean_md5 "
    f"FROM (SELECT doc_id, '<!DOCTYPE html><p>' || text || "
    f"'</p><br>x &amp; y<script>s()</script>' AS htext FROM documents)) c "
    f"ON c.doc_id = f.doc_id "
    f"LEFT JOIN ({_c4_oracle_sql()}) c4 ON c4.doc_id = f.doc_id"
))
def _q_doc_hashes(spark, sf):
    """Document hashing merged: winnowing fingerprint + 16-bit SimHash
    sketch from the same scan (both pure-expression operators), PLUS the
    HTML→text extraction checked as the md5 of strip_html over an
    HTML-wrapped twin (doctype + block/inline tags + entity + script) —
    both engines run the identical pattern chain.

    Round 11 adds the C4 line-rule tier (pipeline.text.c4_line_filter)
    over a synthesized multi-line twin: the corpus text (one line) plus
    fixed lines hitting every rule — too few words, no terminal
    punctuation, a boilerplate phrase, a corpus-derived md5-digest line —
    and per-doc conditional lines exercising min_lines, the curly-brace
    doc rule (% 7) and the lorem-ipsum doc rule (% 11). The cleaned
    text's md5 and the keep verdict are checked against a DuckDB replica
    of the same line predicates over the identical construction."""
    from sed_binning_spark.pipeline.text import c4_line_filter, strip_html

    # one frame, one scan: strip_html is map-only and column-addressed,
    # so the HTML twin is just another column — no self-join
    docs = _docs(spark, sf).withColumns({
        "htext": F.concat(
            F.lit("<!DOCTYPE html><p>"), F.col("text"),
            F.lit("</p><br>x &amp; y<script>s()</script>"),
        ),
        "c4t": F.concat(
            F.col("text"), F.lit(_C4_FIXED),
            F.substring(F.md5("text"), 1, 8), F.lit(_C4_TAIL),
            F.when(F.col("doc_id") % 2 == 0, F.lit(_C4_EVEN)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(_C4_BRACE)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(_C4_LOREM)).otherwise(F.lit("")),
        ),
    })
    docs = strip_html(docs, text_column="htext", output_column="text_clean")
    docs = c4_line_filter(docs, text_column="c4t", output_column="c4_clean")
    out = simhash(document_fingerprint(docs), bits=16)
    return out.select(
        "doc_id", "fingerprint", "simhash",
        F.md5("text_clean").alias("clean_md5"),
        F.md5("c4_clean").alias("c4_md5"),
        F.col("keep").alias("c4_keep"),
    )


# pack_chunks twin: md5 length-prefixed key -> 52-bit lane -> exact
# /2^52 uniform -> shard; the layout is a per-shard window cumsum
# over doc_id order and the slice arithmetic is pure int64
@query("seq_pack", oracle=lambda: (
    "SELECT * FROM (" + _pack_leg_sql("id", "doc_id") + ")"
    + " UNION ALL SELECT * FROM ("
    # shuffled leg: the in-shard order key is hash_uniform over
    # doc_id in domain 'pack-order' — ordering by the 52-bit
    # integer equals ordering by the engine's n/2^52 double
    # (division by a power of two is monotone and exact)
    + _pack_leg_sql(
        "shuffled",
        hex_to_bigint_sql(
            "md5(CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) "
            "|| ':' || CAST(doc_id AS VARCHAR) || ';pack-order:0')",
            1,
        )
        + ", doc_id",
    )
    + ")"
))
def _q_seq_pack(spark, sf):
    """Sequence packing, manifest + assembly merged: pack_chunks lays
    documents onto 8 shard streams at a 64-token budget, pack_sequences
    rebuilds the actual sequences, and every manifest row carries the md5
    of its assembled sequence — the DuckDB twin reproduces layout AND
    token stream bit-for-bit.

    Round 12 adds the ``order="shuffled"`` leg: the same corpus packed
    in the seeded md5 order (hash_uniform domain 'pack-order', ties on
    id) — the in-shard sort key flip that gives training its globally
    randomized document order at zero extra shuffle cost. The twin
    re-derives the SAME order key from md5 arithmetic and replays the
    whole layout + sequence assembly under it, so a drift in the order
    domain, the tie-break, or the window framing breaks the hash."""
    from sed_binning_spark.pipeline.pack import pack_chunks, pack_sequences, pack_stats

    # split=False: packing is shuffle-bound (shard/seq windows + two
    # joins), not per-doc-expression-bound — the pre-split Exchange was
    # pure overhead (A/B 1.9 -> 1.6 s at sf0.1)
    docs = _docs(spark, sf, split=False)

    def leg(order):
        man = pack_chunks(docs, seq_tokens=64, n_shards=8, order=order)
        seqs = pack_sequences(man, docs).select(
            "shard", "seq_id",
            F.md5(F.concat_ws(" ", "tokens")).alias("seq_md5"),
        )
        # fill accounting rides along (fill_ratio is n/64 — exact binary)
        stats = pack_stats(man, 64).select(
            "shard", "seq_id", "filled_tokens", "fill_ratio",
        )
        return (
            man.join(seqs, on=["shard", "seq_id"], how="left")
            .join(stats, on=["shard", "seq_id"], how="left")
            .select(F.lit(order).alias("leg"), "*")
        )

    return leg("id").unionByName(leg("shuffled"))


# contamination_stats twin: distinct md5 5-gram digests per side,
# benchmark = every 10th document; a gram-less (blank/NULL text)
# training document still reports one row with zero matches
def _decontam_stats_sql() -> str:
    # 5-gram digests: an empty token list must yield [] (the engine's
    # word_shingles does), not the [''] a bare range(1,2) produces
    shingle5 = (
        f"CASE WHEN len({_TOKS_SQL}) = 0 THEN [] ELSE "
        f"list_transform(range(1, greatest(len({_TOKS_SQL}) - 4, 1) + 1), "
        f"i -> array_to_string({_TOKS_SQL}[i:i+4], ' ')) END"
    )
    decontam_grams = f"list_distinct(list_transform({shingle5}, s -> md5(s)))"
    return (
        f"WITH dg AS (SELECT doc_id, {decontam_grams} AS grams "
        "FROM documents WHERE doc_id % 10 != 0), "
        "bg AS (SELECT DISTINCT gram FROM (SELECT unnest("
        f"{decontam_grams}) AS gram FROM documents WHERE doc_id % 10 = 0)), "
        "hits AS (SELECT doc_id, count(*) AS m FROM "
        "(SELECT doc_id, unnest(grams) AS gram FROM dg) t "
        "JOIN bg USING (gram) GROUP BY doc_id) "
        "SELECT dg.doc_id, CAST(coalesce(len(dg.grams), 0) AS BIGINT) AS n_grams, "
        "CAST(coalesce(h.m, 0) AS BIGINT) AS n_matched, "
        "coalesce(h.m, 0) >= 2 AS contaminated "
        "FROM dg LEFT JOIN hits h USING (doc_id)"
    )


@query("decontam_stats", oracle=_decontam_stats_sql)
def _q_decontam(spark, sf):
    """Benchmark decontamination (pipeline.decontam.contamination_stats):
    every 10th document plays the evaluation suite; the rest are the
    training corpus, scanned for shared distinct 5-grams."""
    from sed_binning_spark.pipeline.decontam import contamination_stats

    docs = _docs(spark, sf)
    train = docs.where(F.col("doc_id") % 10 != 0)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    return contamination_stats(train, bench, n=5, min_matches=2)


@query("minhash_lsh_pairs", oracle=_minhash_pairs_sql)
def _q_minhash_lsh(spark, sf):
    return minhash_lsh_pairs(
        _docs(spark, sf), num_hashes=8, bands=4, shingle_size=3,
    )


@query("jaccard_pairs", oracle=lambda: (
    f"SELECT p.id_a, p.id_b, round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
    f" / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard FROM "
    f"({_minhash_pairs_sql()}) p "
    f"JOIN (SELECT doc_id, list_distinct({_SHINGLE_SQL}) AS sh FROM documents) sa "
    f"ON sa.doc_id = p.id_a "
    f"JOIN (SELECT doc_id, list_distinct({_SHINGLE_SQL}) AS sh FROM documents) sb "
    f"ON sb.doc_id = p.id_b"
))
def _q_jaccard_pairs(spark, sf):
    """LSH candidates + true n-gram Jaccard verify (the full dedup cascade:
    shingle → minhash → band → bucket join → exact verify)."""
    from sed_binning_spark.pipeline.dedup import ngram_jaccard

    docs = _docs(spark, sf)
    pairs = minhash_lsh_pairs(docs, num_hashes=8, bands=4, shingle_size=3)
    out = ngram_jaccard(pairs, docs, shingle_size=3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# rh_csv = winnowing fingerprints (lowercased dedup tokens,
# partial windows for short docs); text_subdedup/n_sub_removed =
# ExactSubstr twin on RAW tokens with STRICT 5-token windows:
# rank-1 per window hash is the global keep-first winner, losers'
# starts mark covered tokens, the doc rebuilds from survivors
@query("rolling_hashes", oracle=lambda: (
    "WITH tkd AS (SELECT doc_id, text, "
    f"{_WS_SQL} AS tk FROM documents), "
    "occ AS (SELECT doc_id, u.i - 1 AS s, "
    "md5(array_to_string(tk[u.i:u.i+4], ' ')) AS h "
    "FROM tkd, UNNEST(range(1, len(tk) - 3)) AS u(i) "
    "WHERE len(tk) >= 5), "
    "lose AS (SELECT doc_id, s FROM (SELECT doc_id, s, "
    "row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn "
    "FROM occ) WHERE rn > 1), "
    "dup AS (SELECT doc_id, list_sort(list(s)) AS ds "
    "FROM lose GROUP BY doc_id) "
    "SELECT t.doc_id, "
    f"array_to_string(list_transform("
    f"range(1, greatest(len({_TOKS_SQL}) - 4, 1) + 1), "
    f"i -> md5(array_to_string({_TOKS_SQL}[i:i+4], ' '))), ',') AS rh_csv, "
    # the Rabin-Karp form, value-exact: full windows via the
    # independent per-window left fold, the single whole-doc
    # partial window for 1..4-token docs, NULL for token-less
    f"CASE WHEN len({_TOKS_SQL}) >= 5 THEN array_to_string("
    f"list_transform({rk_window_hashes_sql(_TOKS_SQL, 5)}, "
    f"x -> CAST(x AS VARCHAR)), ',') "
    f"WHEN len({_TOKS_SQL}) > 0 THEN "
    f"CAST({rk_whole_doc_hash_sql(_TOKS_SQL)} AS VARCHAR) "
    f"END AS rh_roll_csv, "
    # coalesce: DuckDB array_to_string([]) is NULL where Spark
    # concat_ws([]) is '' — a fully-deduplicated doc must be ''
    "CASE WHEN t.text IS NULL THEN NULL ELSE coalesce(array_to_string("
    "list_filter(list_transform(range(1, len(tk) + 1), i -> "
    "CASE WHEN len(list_filter(coalesce(d.ds, CAST([] AS BIGINT[])), "
    "x -> x <= i - 1 AND i - 1 <= x + 4)) > 0 THEN NULL "
    "ELSE tk[CAST(i AS INT)] END), v -> v IS NOT NULL), ' '), '') END "
    "AS text_subdedup, "
    "CASE WHEN t.text IS NULL THEN 0 ELSE CAST(len(tk) AS BIGINT) - "
    "len(list_filter(list_transform(range(1, len(tk) + 1), i -> "
    "CASE WHEN len(list_filter(coalesce(d.ds, CAST([] AS BIGINT[])), "
    "x -> x <= i - 1 AND i - 1 <= x + 4)) > 0 THEN NULL "
    "ELSE tk[CAST(i AS INT)] END), v -> v IS NOT NULL)) END "
    "AS n_sub_removed, "
    # the md5-path dedup run must remove the same token count —
    # the md5 replay above IS its oracle, emitted twice on purpose
    "CASE WHEN t.text IS NULL THEN 0 ELSE CAST(len(tk) AS BIGINT) - "
    "len(list_filter(list_transform(range(1, len(tk) + 1), i -> "
    "CASE WHEN len(list_filter(coalesce(d.ds, CAST([] AS BIGINT[])), "
    "x -> x <= i - 1 AND i - 1 <= x + 4)) > 0 THEN NULL "
    "ELSE tk[CAST(i AS INT)] END), v -> v IS NOT NULL)) END "
    "AS n_submd5_removed "
    "FROM tkd t LEFT JOIN dup d USING (doc_id)"
))
def _q_rolling_hashes(spark, sf):
    """Winnowing-style rolling fingerprints, csv-serialized for the
    canonicalizer — PLUS the exact-substring dedup built on the same
    window machinery (pipeline.dedup.dedup_substrings, the ExactSubstr
    pass of Lee et al. 2022): ``text_subdedup`` is the document rebuilt
    without tokens covered by any non-first duplicated 5-token window,
    ``n_sub_removed`` the removed-token count. The oracle replays the
    whole cascade — strict windows, global min-(id, start) winners,
    covered-token removal — in SQL.

    Both hash paths sit on the gate: ``rh_csv`` is the md5-per-window
    form; ``rh_roll_csv`` is the Rabin-Karp rolling form
    (pipeline.text.rk_window_hashes — one md5 per token, doubling zips,
    whole-doc partial window for short docs), whose 62-bit values the
    oracle recomputes with an independent per-window left fold
    (sqlgen.rk_window_hashes_sql). The dedup runs hash_function="rolling"
    while the oracle groups windows by their md5 — a deliberate cross
    check: the rebuilt text only hash-matches if Rabin-Karp window
    equality agrees with md5 window equality occurrence-for-occurrence.
    ``n_submd5_removed`` keeps the md5 winner path ITSELF on the gate too
    (a second dedup run under the default hash — without it, a
    regression confined to the md5 window expression would only be
    caught by pytest, not by the exactness-gate oracle)."""
    from sed_binning_spark.pipeline.dedup import dedup_substrings
    from sed_binning_spark.pipeline.text import rolling_hashes

    docs = _docs(spark, sf)
    md5_removed = dedup_substrings(docs, window=5).select(
        "doc_id", F.col("n_removed_tokens").alias("n_submd5_removed"),
    )
    out = rolling_hashes(docs, window=5)
    out = rolling_hashes(
        out, window=5, out_column="rh_roll", hash_function="rolling",
    )
    out = dedup_substrings(out, window=5, hash_function="rolling")
    out = out.join(md5_removed, on="doc_id", how="left")
    # preserve NULL for token-less documents: concat_ws over a NULL array
    # would silently render '' where the oracle (and the operator) say NULL
    return out.select(
        "doc_id",
        F.when(
            F.col("rolling_hashes").isNotNull(),
            F.concat_ws(",", "rolling_hashes"),
        ).alias("rh_csv"),
        F.when(
            F.col("rh_roll").isNotNull(),
            F.concat_ws(
                ",", F.transform(F.col("rh_roll"), lambda x: x.cast("string")),
            ),
        ).alias("rh_roll_csv"),
        F.col("text_dedup").alias("text_subdedup"),
        F.col("n_removed_tokens").alias("n_sub_removed"),
        # NULL-id rows can't join their md5 run back (they pass through
        # every dedup untouched — 0 removed by contract on both engines)
        F.coalesce(F.col("n_submd5_removed"), F.lit(0)).alias("n_submd5_removed"),
    )


def _pack_leg_sql(leg: str, order_by: str) -> str:
    """One leg of the seq_pack twin: the full pack_chunks → pack_sequences
    → pack_stats replica with the in-shard stream laid out in the given
    ``order_by`` — ``doc_id`` for the default leg, the md5 order key (+
    doc_id tie-break) for the shuffled leg. Everything else (shard hash,
    window framing, slicing, assembly order) is shared verbatim, so the
    two legs differ ONLY where the engine's order flag differs."""
    return (
        f"WITH d AS (SELECT doc_id, "
        f"CAST(len({_WS_SQL}) AS BIGINT) AS n_tokens, "
        "CAST(floor(CAST("
        + hex_to_bigint_sql(
            "md5(CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':' || "
            "CAST(doc_id AS VARCHAR) || ';pack:0')", 1)
        + " AS DOUBLE) / 4503599627370496e0 * 8e0) AS INT) AS shard "
        "FROM documents), "
        "laid AS (SELECT shard, doc_id, n_tokens, "
        f"CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY {order_by} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e "
        "FROM d WHERE shard IS NOT NULL AND n_tokens > 0), "
        "ex AS (SELECT shard, doc_id, n_tokens, e - n_tokens AS s, e, "
        "unnest(generate_series((e - n_tokens) // 64, (e - 1) // 64)) AS seq_id "
        "FROM laid), "
        "mani AS (SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id, "
        "n_tokens, "
        "CAST(greatest(s, seq_id * 64) - s AS BIGINT) AS slice_start, "
        "CAST(least(e, (seq_id + 1) * 64) - greatest(s, seq_id * 64) AS BIGINT) "
        "AS slice_len, "
        "CAST(greatest(s, seq_id * 64) - seq_id * 64 AS BIGINT) AS seq_offset "
        "FROM ex), "
        # pack_sequences twin: slice each doc's token array, reassemble
        # per (shard, seq_id) in seq_offset order, hash the stream
        "sl AS (SELECT m.shard, m.seq_id, m.seq_offset, "
        "t.toks[m.slice_start + 1 : m.slice_start + m.slice_len] AS sl "
        f"FROM mani m JOIN (SELECT doc_id, {_WS_SQL} AS toks "
        "FROM documents) t ON t.doc_id = m.doc_id), "
        "seqs AS (SELECT shard, seq_id, md5(array_to_string("
        "flatten(list(sl ORDER BY seq_offset)), ' ')) AS seq_md5 "
        "FROM sl GROUP BY shard, seq_id), "
        "pstat AS (SELECT shard, seq_id, "
        "CAST(sum(slice_len) AS BIGINT) AS filled_tokens, "
        "CAST(sum(slice_len) AS DOUBLE) / 64 AS fill_ratio "
        "FROM mani GROUP BY shard, seq_id) "
        f"SELECT '{leg}' AS leg, m.*, q.seq_md5, p.filled_tokens, p.fill_ratio "
        "FROM mani m LEFT JOIN seqs q "
        "ON q.shard = m.shard AND q.seq_id = m.seq_id "
        "LEFT JOIN pstat p ON p.shard = m.shard AND p.seq_id = m.seq_id"
    )


def _clf_z_sql() -> str:
    """The literal classifier's logit as SQL over the quality oracle's
    lateral aliases — same feature order and left-associated accumulation
    as quality_classifier_apply, constants straight from _CLF_MODEL."""
    feats = ["ln(1 + n_chars)", "ln(1 + n_ws)", "mtl", "punct", "stop", "uniq"]
    return fsql(_CLF_MODEL["bias"]) + "".join(
        f" + coalesce(({e} - {fsql(m)}) / {fsql(s)}, 0.0) * {fsql(w)}"
        for e, m, s, w in zip(
            feats, _CLF_MODEL["mean"], _CLF_MODEL["std"],
            _CLF_MODEL["weights"],
        )
    )


def _clf_n_train_sql() -> str:
    """n_train twin of the query-time quality_classifier_fit: distinct
    usable feature vectors per class, summed. Counted over the RAW
    integer stat tuple — the feature map (log1p, log1p, and four
    fixed-denominator ratios) is injective in it at corpus magnitudes,
    so the distinct counts are equal; usable = non-NULL stats, i.e.
    non-NULL text with at least one whitespace token. The fit's 50k
    per-class cap never binds at gate scale."""
    raw = (
        f"SELECT DISTINCT length(text), len({_WS_SQL}), "
        f"length(regexp_replace(text, '{_WS_CLASS}+', '', 'g')), "
        f"len(regexp_extract_all(text, '[^A-Za-z0-9_" + _WS_CLASS[1:-1] + "]')), "
        f"len(list_filter(list_transform({_WS_SQL}, x -> lower(x)), "
        f"x -> x IN ({_STOP_SQL['en']}))), "
        f"len(list_distinct({_WS_SQL})) "
        f"FROM documents WHERE text IS NOT NULL AND len({_WS_SQL}) > 0"
    )
    return (
        f"(SELECT count(*) FROM ({raw} AND doc_id % 2 = 0)) + "
        f"(SELECT count(*) FROM ({raw} AND doc_id % 2 = 1))"
    )


def _c4_oracle_sql() -> str:
    """DuckDB replica of c4_line_filter over the doc_hashes twin
    construction: same line predicates (terminal punctuation, >= 5
    whitespace words, no boilerplate phrase), same doc rules (>= 3
    surviving lines, no curly brace, no lorem ipsum), same NULL posture
    (NULL text -> NULL md5, keep false)."""
    from sed_binning_spark.pipeline.text import (
        C4_BAD_DOC_PHRASES,
        C4_BAD_LINE_PHRASES,
    )

    c4t = (
        f"text || {_sql_str(_C4_FIXED)} || substr(md5(text), 1, 8) || "
        f"{_sql_str(_C4_TAIL)} || "
        f"CASE WHEN doc_id % 2 = 0 THEN {_sql_str(_C4_EVEN)} ELSE '' END || "
        f"CASE WHEN doc_id % 7 = 0 THEN {_sql_str(_C4_BRACE)} ELSE '' END || "
        f"CASE WHEN doc_id % 11 = 0 THEN {_sql_str(_C4_LOREM)} ELSE '' END"
    )
    line_phrases = " AND ".join(
        f"NOT contains(lower(trim(l)), {_sql_str(p.lower())})"
        for p in C4_BAD_LINE_PHRASES
    )
    doc_phrases = " AND ".join(
        f"NOT contains(lower(c4t), {_sql_str(p.lower())})"
        for p in C4_BAD_DOC_PHRASES
    )
    kept = (
        "list_filter(str_split(c4t, chr(10)), l -> "
        "regexp_matches(trim(l), '[.!?\"]$') "
        f"AND len(list_filter(regexp_split_to_array(trim(l), "
        f"'{_WS_CLASS}+'), x -> x != '')) >= 5 AND {line_phrases})"
    )
    return (
        "SELECT doc_id, CASE WHEN c4t IS NULL THEN NULL "
        "ELSE md5(coalesce(array_to_string(kept, chr(10)), '')) END AS c4_md5, "
        "CASE WHEN c4t IS NULL THEN false ELSE len(kept) >= 3 "
        f"AND NOT contains(c4t, '{{') AND {doc_phrases} END AS c4_keep "
        f"FROM (SELECT doc_id, c4t, {kept} AS kept FROM "
        f"(SELECT doc_id, {c4t} AS c4t FROM documents))"
    )


def _simhash_oracle_sql(bits: int = 16) -> str:
    """DuckDB twin of pipeline.dedup.simhash: same tokenization, same
    md5-hex-prefix 32-bit token hash, same ±1 per-bit votes (vote > 0 →
    '1'), MSB-first bit string."""
    terms = [
        f"(CASE WHEN 2 * len(list_filter(th, h -> ((h >> {b}) & 1) = 1)) - len(th) > 0 "
        f"THEN '1' ELSE '0' END)"
        for b in range(bits - 1, -1, -1)
    ]
    # NULL text propagates to a NULL simhash in the engine, and so does
    # whitespace-only text (len(th) = 0 — the engine's _has_content guard):
    # without either branch the per-bit CASEs would each fall to ELSE '0'
    # and fabricate one shared all-zeros signature for every no-content
    # document, the degenerate mega-bucket block-equality joins must never
    # see
    return (
        f"SELECT doc_id, CASE WHEN th IS NULL OR len(th) = 0 THEN NULL "
        f"ELSE {' || '.join(terms)} END AS simhash FROM ("
        f"SELECT doc_id, list_transform({_TOKS_SQL}, "
        f"t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS th FROM documents)"
    )


# Deterministic PII-laden twin text (SQL side of _q_quality's synthesis):
# the corpus itself contains no URLs/emails/IPs/phones.
_PII_TEXT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com via http://ex.com/' || CAST(doc_id AS VARCHAR) || "
    "' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) || "
    "' tel +1 555-010-9876' || chr(10) || 'repeat line' || chr(10) || "
    "'repeat line'"
)


def _strip_html_sql(expr: str) -> str:
    """DuckDB twin of pipeline.text.strip_html: the SAME pattern/entity
    chain (Java-regex ∩ RE2 dialect) applied to a SQL expression."""
    from sed_binning_spark.pipeline.text import HTML_ENTITIES, HTML_STRIP_PATTERNS

    for p, repl in HTML_STRIP_PATTERNS:
        sql_repl = repl.replace("\n", "' || chr(10) || '")
        expr = f"regexp_replace({expr}, '{p}', '{sql_repl}', 'g')"
    for ent, ch in HTML_ENTITIES:
        sql_ch = ch.replace("'", "''")
        expr = f"replace({expr}, '{ent}', '{sql_ch}')"
    expr = f"regexp_replace({expr}, '\r\n?', chr(10), 'g')"
    expr = f"regexp_replace({expr}, '[ \t\x0B\f]+', ' ', 'g')"
    expr = f"regexp_replace({expr}, ' ?\n ?', chr(10), 'g')"
    expr = f"regexp_replace({expr}, '\n{{3,}}', chr(10) || chr(10), 'g')"
    expr = f"regexp_replace({expr}, '^[ \t\x0B\f\r\n]+|[ \t\x0B\f\r\n]+$', '', 'g')"
    return expr


def _pii_audit_sql() -> str:
    """Columns of the PII audit twin (over ``pii_text`` from the inner
    SELECT): span counts per PII_PATTERNS on the raw text, the Gopher
    duplicate-line ratio, and md5 of the scrub chain applied in the same
    fixed pattern order as pipeline.text.scrub_pii. The patterns are the
    PII_PATTERNS literals themselves — written in the Java-regex/RE2
    common dialect precisely so one string drives both engines."""
    counts = ", ".join(
        f"len(regexp_extract_all(pii_text, '{p}')) AS n_{k}"
        for k, p in PII_PATTERNS.items()
    )
    lines = "list_filter(string_split(pii_text, chr(10)), x -> regexp_replace(x, '[ \t\x0B\f\r]', '', 'g') != '')"
    dup = (
        f"CASE WHEN pii_text IS NULL THEN NULL "
        f"WHEN len({lines}) >= 2 THEN 1.0e0 - "
        f"len(list_distinct({lines})) / CAST(len({lines}) AS DOUBLE) "
        f"ELSE 0.0e0 END AS dup_line_ratio"
    )
    # dup_segment_stats twins: repeat-occurrence count / chars over the
    # per-line group-by, (count-1) convention, char frac capped at length
    dupn = (
        f"(SELECT coalesce(sum(cnt - 1), 0) FROM (SELECT s, count(*) AS cnt "
        f"FROM unnest({lines}) AS t(s) GROUP BY s) WHERE cnt > 1)"
    )
    dupc = (
        f"(SELECT coalesce(sum((cnt - 1) * length(s)), 0) FROM (SELECT s, "
        f"count(*) AS cnt FROM unnest({lines}) AS t(s) GROUP BY s) WHERE cnt > 1)"
    )
    dup_frac = (
        f"CASE WHEN pii_text IS NULL THEN NULL WHEN len({lines}) < 2 THEN 0.0e0 "
        f"ELSE round(CAST({dupn} AS DOUBLE) / len({lines}), 6) END AS dup_line_frac"
    )
    dup_char = (
        f"CASE WHEN pii_text IS NULL THEN NULL "
        f"WHEN len({lines}) < 2 OR length(pii_text) = 0 THEN 0.0e0 "
        f"ELSE round(least(CAST({dupc} AS DOUBLE), length(pii_text)) "
        f"/ length(pii_text), 6) END AS dup_line_char_frac"
    )
    # badword_stats twin over the dedup-family (lowercased) tokenizer
    ptoks = _toks_sql("pii_text")
    badw = (
        f"CASE WHEN pii_text IS NULL THEN NULL ELSE CAST(len(list_filter("
        f"{ptoks}, t -> t IN ('repeat', 'contact'))) AS BIGINT) "
        f"END AS n_badword_tokens"
    )
    scrub = "pii_text"
    for k, p in PII_PATTERNS.items():
        scrub = f"regexp_replace({scrub}, '{p}', '<{k.upper()}>', 'g')"
    return (
        f"{counts}, {dup}, {dup_frac}, {dup_char}, {badw}, "
        f"md5({scrub}) AS scrub_md5"
    )
