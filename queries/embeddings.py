"""Embedding queries: exact, IVF, product-quantized and PCA top-k search,
brute and LSH cosine pairs, and the embedding near-dedup."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from queries import query
from queries._common import _scan_memo
from sed_binning_spark.pipeline.cluster import embedding_dedup
from sed_binning_spark.pipeline.similarity import (
    cosine_pairs_brute, cosine_topk, ivf_topk, ivf_train_centroids, lsh_bucket_pairs, pca_apply,
    pca_fit, pq_encode, pq_topk,
)
from sed_binning_spark.sqlgen import fsql


def _embeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No _split_small_scan here: every embeddings consumer either collects
    # the corpus (the broadcast-vectorized pair/dedup routes, the training
    # sample/moment passes) or runs one vectorized UDF over it, so at toy
    # scale a core-count split just shrinks Arrow batches to ~60 rows and
    # adds an Exchange that EACH of ann_topk's seven union legs re-pays
    # (interleaved A/B: ann_topk 5.8 -> 2.6 s, ann_pairs_lsh 4.0 -> 2.6 s).
    # At scale the file yields native splits and the repartition was a
    # no-op anyway — the split only ever fired where it hurt.
    return _scan_memo(
        spark, ("embeds", sf_dir), f"{sf_dir}/embeddings.parquet",
        lambda: spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
    )


# ANN query vector (deterministic)
_QVEC = np.round(np.sin(np.arange(64) * 0.37), 6)

# ann_topk slot: LITERAL product-quantizer codebook (m=4 subspaces x 4
# codes over dim 64) — encode's per-subspace argmin and topk's asymmetric
# distance have closed forms the oracle recomputes from these constants
_PQ_MODEL = {
    "dim": 64, "m": 4, "sub_dim": 16, "codes": 4,
    "codebooks": [
        [
            [((s * 31 + c * 17 + i * 7) % 13 - 6) / 8.0 for i in range(16)]
            for c in range(4)
        ]
        for s in range(4)
    ],
}

# ann_topk slot: LITERAL PCA model (k=2 over dim 64) — apply is a
# closed-form centered projection; /8 keeps the division exact (2^-3)
_PCA_MODEL = {
    "dim": 64, "k": 2,
    "mean": [float(v) for v in np.round(np.cos(np.arange(64) * 0.21), 6)],
    "components": [
        [float(v) for v in np.round(np.sin(np.arange(64) * 0.05 + 1.0), 6) / 8.0],
        [float(v) for v in np.round(np.cos(np.arange(64) * 0.07), 6) / 8.0],
    ],
    "explained_variance": [1.0, 1.0],
    "explained_variance_ratio": [0.5, 0.5],
    "whiten": False,
}


def _dot_sql(col: str, vec: np.ndarray, cast: str = "DOUBLE") -> str:
    """Left-associated explicit dot product (the SQL twin of dot_expr)."""
    return " + ".join(
        f"CAST({col}[{i + 1}] AS {cast}) * {fsql(v)}" for i, v in enumerate(vec)
    )


def _norm_sql(col: str, dim: int) -> str:
    terms = " + ".join(
        f"CAST({col}[{i + 1}] AS DOUBLE) * CAST({col}[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    )
    return f"sqrt({terms})"


def _pq_oracle_sql() -> str:
    """DuckDB twin of pq_encode + pq_topk under _PQ_MODEL: per-subspace
    squared distances to each literal codeword as lateral aliases, a
    first-of-minima CASE per subspace (numpy argmin's tie-break), and
    the asymmetric-distance table — Σ over the query's squared distance
    to the CHOSEN codeword — precomputed here as literals, exactly as
    pq_topk builds it driver-side. Top-10 by (dist, vec_id). Reads the
    ann_topk oracle's ``finite`` CTE (pq_encode NULLs non-finite
    vectors, so they never compete)."""
    q = [float(v) for v in _QVEC]
    books = _PQ_MODEL["codebooks"]
    m, sub, codes = _PQ_MODEL["m"], _PQ_MODEL["sub_dim"], _PQ_MODEL["codes"]
    aliases, dist_terms = [], []
    for s in range(m):
        tbl = []
        for c in range(codes):
            terms = " + ".join(
                f"(CAST(embedding[{s * sub + i + 1}] AS DOUBLE) - "
                f"{fsql(books[s][c][i])}) * "
                f"(CAST(embedding[{s * sub + i + 1}] AS DOUBLE) - "
                f"{fsql(books[s][c][i])})"
                for i in range(sub)
            )
            aliases.append(f"({terms}) AS d{s}_{c}")
            tbl.append(fsql(sum(
                (q[s * sub + i] - books[s][c][i]) ** 2 for i in range(sub)
            )))
        d = [f"d{s}_{c}" for c in range(codes)]
        dist_terms.append(
            f"(CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} "
            f"AND {d[0]} <= {d[3]} THEN {tbl[0]} "
            f"WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN {tbl[1]} "
            f"WHEN {d[2]} <= {d[3]} THEN {tbl[2]} ELSE {tbl[3]} END)"
        )
    return (
        "SELECT 'pq_adc' AS path, vec_id, round(dist, 6) AS score FROM "
        f"(SELECT vec_id, {', '.join(aliases)}, "
        f"{' + '.join(dist_terms)} AS dist FROM finite "
        "ORDER BY dist ASC, vec_id ASC LIMIT 10)"
    )


def _pca_proj_sql(comp: int) -> str:
    """One component of the literal-model PCA projection as a
    left-associated f64 chain, quantized through FLOAT — the same f32
    grid pca_apply's array<float> output lands on."""
    chain = " + ".join(
        f"(CAST(embedding[{i + 1}] AS DOUBLE) - {fsql(mi)}) * {fsql(ci)}"
        for i, (mi, ci) in enumerate(
            zip(_PCA_MODEL["mean"], _PCA_MODEL["components"][comp]),
        )
    )
    return f"CAST(CAST(({chain}) AS FLOAT) AS DOUBLE)"


def _lsh_pairs_oracle_sql(
    threshold: float = 0.45,
    num_planes: int = 4,
    num_tables: int = 12,
    seed: int = 42,
    dim: int = 64,
) -> str:
    """DuckDB twin of lsh_bucket_pairs (pipeline/similarity.py): regenerate
    the seeded hyperplanes with the identical numpy generator call and
    inline them as double literals, then replicate the pipeline exactly —
    sign-bit bucket per table, distinct within-bucket candidate pairs
    (id_a < id_b), exact-cosine verification above the threshold.

    Engine-parity notes, all verified by the dirty-embeddings suite:

    - Vectors of at least ``dim`` elements sketch on their first ``dim``
      (the package-wide longer-than-dim contract); shorter rows are
      dropped. ``len(embedding) >= dim`` is the SQL equivalent, and the
      bucket dots below read ``embedding[1..dim]`` like every other twin.
    - The sketch dots are BLAS (pairwise summation) in Spark and a
      left-associated chain here, so a dot within ~1 ulp of 0 could bucket
      differently — but a bucket flip only perturbs CANDIDATES, and the
      output is the cosine-VERIFIED subset, which both engines compute
      bit-identically (same fold order as _pair_cos_sql).
    - NaN-element vectors: numpy ``NaN >= 0`` is False (bucket 0), DuckDB
      NaN sorts above everything (bucket 2^P-1). Their candidates differ,
      but every pair touching a NaN vector has NaN cosine and dies at the
      verify, so the verified sets agree.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_tables, num_planes, dim))
    weights = [1 << (num_planes - 1 - p) for p in range(num_planes)]
    selects = []
    for t in range(num_tables):
        bits = []
        for p in range(num_planes):
            dot = " + ".join(
                f"CAST(embedding[{i + 1}] AS DOUBLE) * {fsql(planes[t, p, i])}"
                for i in range(dim)
            )
            bits.append(f"CASE WHEN ({dot}) >= 0 THEN {weights[p]} ELSE 0 END")
        selects.append(
            f"SELECT vec_id, {t} AS tbl, {' + '.join(bits)} AS bucket FROM emb"
        )
    keys = " UNION ALL ".join(selects)
    return (
        f"WITH emb AS (SELECT vec_id, embedding FROM embeddings "
        f"WHERE embedding IS NOT NULL AND len(embedding) >= {dim}), "
        f"keys AS ({keys}), "
        f"cand AS (SELECT DISTINCT ka.vec_id AS id_a, kb.vec_id AS id_b "
        f"FROM keys ka JOIN keys kb ON ka.tbl = kb.tbl "
        f"AND ka.bucket = kb.bucket AND ka.vec_id < kb.vec_id) "
        f"SELECT c.id_a, c.id_b FROM cand c "
        f"JOIN embeddings a ON a.vec_id = c.id_a "
        f"JOIN embeddings b ON b.vec_id = c.id_b "
        f"WHERE NOT isnan({_pair_cos_sql()}) "
        f"AND ({_pair_cos_sql()}) > {fsql(threshold)}"
    )


def _pair_cos_sql() -> str:
    """Pairwise cosine for the brute-force oracle (explicit 64-term form)."""
    dot = " + ".join(
        f"CAST(a.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE)"
        for i in range(1, 65)
    )
    na = " + ".join(
        f"CAST(a.embedding[{i}] AS DOUBLE) * CAST(a.embedding[{i}] AS DOUBLE)"
        for i in range(1, 65)
    )
    nb = " + ".join(
        f"CAST(b.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE)"
        for i in range(1, 65)
    )
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


# NaN reject mirrors the engine: NaN sorts above every real double
# in DESC order in BOTH engines, so a NaN-poisoned embedding would
# otherwise take the #1 slot
# one top-10 CTE, emitted under both path labels: full-probe IVF
# is exact, so both engine paths must hash-match the same rows
def _ann_topk_sql() -> str:
    qn = float(np.sqrt((_QVEC * _QVEC).sum()))
    cos_sql = (
        f"(({_dot_sql('embedding', _QVEC)}) / ({_norm_sql('embedding', 64)} * {fsql(qn)}))"
    )
    return (
        f"WITH topk AS (SELECT vec_id, {cos_sql} AS score FROM embeddings "
        f"WHERE ({cos_sql}) IS NOT NULL AND NOT isnan({cos_sql}) "
        f"ORDER BY score DESC, vec_id LIMIT 10), "
        "valid AS (SELECT vec_id, embedding FROM embeddings "
        "WHERE embedding IS NOT NULL AND len(embedding) >= 64), "
        # the pq/pca-fit tiers additionally reject non-finite vectors
        # (pq_encode -> NULL code; pca_fit skips the row) — pca_apply
        # does NOT (a poisoned projection surfaces as NULL elements)
        "finite AS (SELECT vec_id, embedding FROM valid WHERE "
        "len(list_filter(embedding[1:64], x -> isnan(x) "
        "OR isinf(x))) = 0) "
        f"SELECT 'brute' AS path, vec_id, score FROM topk "
        f"UNION ALL SELECT 'ivf_full_probe' AS path, vec_id, score FROM topk "
        f"UNION ALL {_pq_oracle_sql()} "
        f"UNION ALL SELECT 'pca_c0' AS path, vec_id, {_pca_proj_sql(0)} "
        "AS score FROM valid "
        f"UNION ALL SELECT 'pca_c1' AS path, vec_id, {_pca_proj_sql(1)} "
        "AS score FROM valid "
        # pca_fit moment twins: mean per dim, total variance (= trace
        # of the covariance = eigenvalue sum), usable-row count
        "UNION ALL SELECT 'pca_fit_mean' AS path, CAST(i AS BIGINT) "
        "AS vec_id, round(m, 6) AS score FROM (SELECT i, "
        "avg(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)) AS m "
        "FROM finite, range(64) t(i) GROUP BY i) "
        "UNION ALL SELECT 'pca_fit_var' AS path, CAST(-1 AS BIGINT), "
        "round(sum(vx), 6) FROM (SELECT "
        "avg(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * "
        "CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)) - "
        "avg(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)) * "
        "avg(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)) AS vx "
        "FROM finite, range(64) t(i) GROUP BY i) "
        "UNION ALL SELECT 'pca_fit_n' AS path, CAST(-2 AS BIGINT), "
        "CAST(count(*) AS DOUBLE) FROM finite"
    )


@query("ann_topk", oracle=_ann_topk_sql)
def _q_ann_topk(spark, sf):
    """BOTH ANN paths against one oracle: brute-force cosine top-k, and
    IVF with every list probed — full probe makes IVF exact (the probe
    filter keeps all assignable rows and the in-list scorer IS
    cosine_topk's fold), so its scores are bit-identical to brute and the
    whole train→assign→probe machinery gets hash-level verification.

    Round 11 adds the compression tier as further path legs:

    - ``pq_adc``: pq_encode + pq_topk under the LITERAL _PQ_MODEL
      codebook — per-subspace argmin and the asymmetric-distance top-10
      both have closed forms the oracle recomputes from the constants
      (scores rounded to 1e-6; the ranking gaps dwarf float noise).
    - ``pca_c0``/``pca_c1``: pca_apply under the LITERAL _PCA_MODEL —
      the stored ``array<float>`` projection is float32-EXACT, so the
      oracle casts its own f64 projection through FLOAT and the values
      compare bit-identically (the f32 grid absorbs summation-order
      noise).
    - ``pca_fit_mean``/``pca_fit_var``/``pca_fit_n``: pca_fit runs at
      query time (the distributed moment pass); the model's mean vector,
      total variance (= eigenvalue sum = covariance trace) and row count
      are emitted as rows the oracle recomputes from plain AVG/COUNT
      moments — oracle coverage for BOTH moment aggregates without
      shipping any eigensolver into SQL."""
    emb = _embeds(spark, sf)
    brute = cosine_topk(emb, _QVEC, k=10).select(
        F.lit("brute").alias("path"), "vec_id", "score",
    )
    cents = ivf_train_centroids(emb, n_lists=8, seed=42)
    ivf = ivf_topk(emb, cents, _QVEC, k=10, n_probes=8).select(
        F.lit("ivf_full_probe").alias("path"), "vec_id", "score",
    )
    pq = pq_topk(
        pq_encode(emb, _PQ_MODEL), _PQ_MODEL,
        [float(v) for v in _QVEC], k=10,
    ).select(
        F.lit("pq_adc").alias("path"), "vec_id",
        F.round("pq_dist", 6).alias("score"),
    )
    proj = pca_apply(emb, _PCA_MODEL).where(
        F.col("embedding_pca").isNotNull(),
    )
    # ONE leg via posexplode instead of one select per component: a union
    # of per-component legs duplicates the projector-UDF subtree (union
    # branches share nothing), so the matmul UDF ran once per component
    # and the scan twice. pca_apply emits exactly k=2 components per
    # non-null row, so posexplode yields the identical row set
    # (path=pca_c<pos>, score=component cast double).
    pca_legs = [
        proj.select(
            "vec_id", F.posexplode("embedding_pca").alias("pos", "comp"),
        ).select(
            F.concat(F.lit("pca_c"), F.col("pos").cast("string")).alias("path"),
            "vec_id",
            F.col("comp").cast("double").alias("score"),
        )
    ]
    model = pca_fit(emb, k=4)
    # ratio[0] == 0 means a zero-variance corpus (pca_fit clamped every
    # eigenvalue and fell back to total=1): the trace is genuinely 0
    ratio0 = float(model["explained_variance_ratio"][0])
    total_var = (
        float(model["explained_variance"][0]) / ratio0 if ratio0 > 0 else 0.0
    )
    fit_rows = (
        [("pca_fit_mean", i, float(m)) for i, m in enumerate(model["mean"])]
        + [("pca_fit_var", -1, total_var),
           ("pca_fit_n", -2, float(model["n_fit"]))]
    )
    fit_df = spark.createDataFrame(
        fit_rows, "path string, vec_id long, score double",
    ).select("path", "vec_id", F.round("score", 6).alias("score"))
    out = brute.unionByName(ivf).unionByName(pq)
    for leg in pca_legs:
        out = out.unionByName(leg)
    return out.unionByName(fit_df)


@query("ann_pairs_brute", oracle=lambda: (
    f"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM embeddings a, embeddings b "
    f"WHERE a.vec_id < b.vec_id AND NOT isnan({_pair_cos_sql()}) "
    f"AND ({_pair_cos_sql()}) > 0.45e0"
))
def _q_ann_pairs(spark, sf):
    return cosine_pairs_brute(_embeds(spark, sf), 0.45).select("id_a", "id_b")


# recursive min-label closure over the brute pair graph, then drop
# every non-representative — the SQL twin of embedding_dedup(exact)
@query("embedding_dedup_rows", oracle=lambda: (
    f"WITH RECURSIVE cos_pairs AS ("
    f"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM embeddings a, embeddings b "
    f"WHERE a.vec_id < b.vec_id AND NOT isnan({_pair_cos_sql()}) "
    f"AND ({_pair_cos_sql()}) > 0.45e0), "
    f"edges AS (SELECT id_a AS u, id_b AS v FROM cos_pairs "
    f"UNION SELECT id_b, id_a FROM cos_pairs), "
    f"reach(u, r) AS (SELECT u, u FROM edges "
    f"UNION SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.u), "
    f"victims AS (SELECT u FROM reach GROUP BY u HAVING u != min(r)) "
    f"SELECT vec_id FROM embeddings "
    f"WHERE vec_id NOT IN (SELECT u FROM victims)"
))
def _q_embedding_dedup_rows(spark, sf):
    """Embedding-cosine near-dedup, exact path: vectors above 0.45 cosine
    collapse to the smallest vec_id per connected component; survivors
    returned. Exercises cosine_pairs_brute -> connected_components ->
    near_dedup_keep_rows in one chain (the LSH candidate path of the same
    composition is approximate by design and covered by ann_pairs_lsh)."""
    emb = _embeds(spark, sf)
    return embedding_dedup(emb, 0.45, exact=True).select("vec_id")


@query("ann_pairs_lsh", oracle=_lsh_pairs_oracle_sql)
def _q_ann_lsh(spark, sf):
    """Banding tuned for the 0.45 threshold: P(plane agrees) ~ 0.65, so 4
    planes x 12 tables gives 1-(1-0.65^4)^12 ~ 0.91 theoretical recall
    (measured 1.0 vs brute force at sf0.01 — tests/test_pipeline.py).

    Oracle-backed despite being "approximate": given the seeded hyperplane
    set the verified pair set is fully deterministic, so the DuckDB twin
    (:func:`_lsh_pairs_oracle_sql`) regenerates the same planes and
    replicates bucket -> candidate -> exact-cosine verify. The skew guard
    is lifted here (its star-pair degradation is load-dependent and pinned
    separately by tests/test_dedup.py) so the twin's full within-bucket
    expansion is exact at every SF."""
    return lsh_bucket_pairs(
        _embeds(spark, sf), 0.45, num_planes=4, num_tables=12,
        max_bucket_size=1_000_000,
    ).select("id_a", "id_b")
