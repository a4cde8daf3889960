"""Embedding similarity search over the ``embeddings`` fixture.

Generalizes the reference's cosine_similarity scalar (presto-main/.../scalar/
MathFunctions.java) to dense array<float> columns; adds the ANN shapes a
training pipeline needs (SURVEY.md §7 Phase 6).

Scale notes (100 TB):
- ``sim_topk_bruteforce``: the query vector is a scalar-subquery broadcast;
  the scan is map-side only with a partial top-k per partition folded by a
  final ``TakeOrderedAndProject`` — no wide shuffle.
- ``sim_topk_signbucket``: IVF-style — candidates pruned by an equi-filter on
  a coarse sign-quantization key, so the scan prunes to ~1/256 of rows before
  any distance math (and would partition-prune if the table were written
  bucketed by ``bucket``).
- ``sim_pairs_blocked``: pairwise similarity only *within* label blocks —
  a per-block Gram matrix in ``applyInPandas`` (one shuffle on the blocking
  key, linear Arrow traffic), never all-pairs and never a materialized
  pair join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity as S
from .registry import query, sql_over

TOP_K = 10
QUERY_VEC_ID = 0


def _topk_sql(dialect: str) -> str:
    cos = S.cosine("e.embedding", "q.embedding", dialect)
    return f"""
WITH q AS (
    SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
)
SELECT e.vec_id, e.label, {cos} AS cosine_sim
FROM embeddings e CROSS JOIN q
WHERE e.vec_id <> {QUERY_VEC_ID}
ORDER BY cosine_sim DESC, e.vec_id
LIMIT {TOP_K}
"""


@query(
    "sim_topk_bruteforce",
    oracle=_topk_sql("duck"),
    doc="Exact cosine top-k for one query vector: broadcast query vec, "
    "map-side scan + TakeOrderedAndProject (no wide shuffle).",
    tags=("similarity",),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    S.register_vector_udfs(spark)
    return sql_over(spark, sf_dir, _topk_sql("spark"), ("embeddings",))


def _signbucket_sql(dialect: str) -> str:
    cos = S.cosine("e.embedding", "q.embedding", dialect)
    bucket_e = S.sign_bucket("e.embedding", dialect)
    bucket_q = S.sign_bucket("q.embedding", dialect)
    return f"""
WITH q AS (
    SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
)
SELECT e.vec_id, e.label, {cos} AS cosine_sim
FROM embeddings e CROSS JOIN q
WHERE e.vec_id <> {QUERY_VEC_ID}
  AND {bucket_e} = {bucket_q}
ORDER BY cosine_sim DESC, e.vec_id
LIMIT {TOP_K}
"""


@query(
    "sim_topk_signbucket",
    oracle=_signbucket_sql("duck"),
    doc="ANN top-k via sign-bit coarse quantization (IVF-style): candidates "
    "restricted to the query's bucket before any distance computation.",
    tags=("similarity",),
)
def sim_topk_signbucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    S.register_vector_udfs(spark)
    return sql_over(spark, sf_dir, _signbucket_sql("spark"), ("embeddings",))


def _pairs_sql(dialect: str) -> str:
    cos = S.cosine("a.embedding", "b.embedding", dialect)
    return f"""
WITH blocked AS (
    SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
           {cos} AS cosine_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT label,
       count(*) AS n_pairs,
       CAST(sum(CASE WHEN cosine_sim >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_similar,
       round(max(cosine_sim), 6) AS max_sim,
       round(min(cosine_sim), 6) AS min_sim
FROM blocked
GROUP BY label
ORDER BY label
"""


@query(
    "sim_pairs_blocked",
    oracle=_pairs_sql("duck"),
    doc="Per-label pairwise cosine stats via a per-block Gram matrix "
    "(applyInPandas): one shuffle on the blocking key, linear Arrow "
    "traffic, BLAS pair math — never a materialized pair join. The r7 "
    "self-join form shipped two 64-float arrays per PAIR through Arrow "
    "(quadratic traffic; worst scale ratio in the RATIOS sweep at 5.62x "
    "for 10x data); this shape ships each embedding once and pays the "
    "intrinsic O(n_block^2) only as in-memory BLAS flops. Contract "
    "(SCALE.md): blocks must be bounded — the same bound any "
    "pairwise-within-block operator already requires of its blocking key.",
    tags=("similarity",),
)
def sim_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import t

    emb = t(spark, sf_dir, "embeddings").select("label", "vec_id", "embedding")
    out_schema = (
        "label int, n_pairs bigint, n_similar bigint, "
        "max_sim double, min_sim double"
    )

    def _gram(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:  # the join form emits no row for a pairless label
            return pd.DataFrame(
                {c: pd.Series(dtype=d) for c, d in
                 [("label", "int32"), ("n_pairs", "int64"),
                  ("n_similar", "int64"), ("max_sim", "float64"),
                  ("min_sim", "float64")]}
            )
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        # unnormalized Gram, then num / (norm_a * norm_b) per pair — the
        # SAME operation order as the oracle's dot(a,b)/(sqrt(dot(a,a))*
        # sqrt(dot(b,b))); normalizing X first distributes the division
        # across the multiply-adds and can differ by an ULP right at a
        # 5e-7 rounding boundary, flipping round(...,6)
        G = X @ X.T
        norms = np.sqrt(np.diag(G).copy())
        denom = np.outer(norms, norms)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, G / denom, 0.0)
        # round BEFORE the threshold/extrema, matching the per-pair
        # round(cosine, 6) the oracle applies inside its blocked CTE
        sims = np.round(cos, S.ROUND)[np.triu_indices(n, k=1)]
        return pd.DataFrame(
            {
                "label": [np.int32(pdf["label"].iloc[0])],
                "n_pairs": [len(sims)],
                "n_similar": [int((sims >= 0.5).sum())],
                "max_sim": [float(np.round(sims.max(), S.ROUND))],
                "min_sim": [float(np.round(sims.min(), S.ROUND))],
            }
        )

    return emb.groupBy("label").applyInPandas(_gram, out_schema).orderBy("label")


def _centroid_sql(dialect: str) -> str:
    # Per-label centroid norm + dispersion: aggregation over array columns via
    # position explode (the only shuffle is the groupBy on (label, pos)).
    if dialect == "spark":
        exploded = (
            "SELECT label, pos, CAST(v AS DOUBLE) AS v "
            "FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, v"
        )
    else:
        exploded = (
            "SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, "
            "CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings"
        )
    return f"""
WITH flat AS (
    {exploded}
),
centroid AS (
    SELECT label, pos, avg(v) AS c, count(*) AS n
    FROM flat
    GROUP BY label, pos
)
SELECT label,
       max(n) AS n_vectors,
       round(sqrt(sum(c * c)), 6) AS centroid_norm
FROM centroid
GROUP BY label
ORDER BY label
"""


@query(
    "sim_label_centroids",
    oracle=_centroid_sql("duck"),
    doc="Per-label centroid norms via posexplode + two-level aggregation "
    "(partial aggregates map-side; one shuffle on (label,pos)).",
    tags=("similarity",),
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _centroid_sql("spark"), ("embeddings",))


_IVF_CELLS = 16
_IVF_NPROBE = 4
_IVF_KMEANS_VERSION = "1"  # bump when the KMeans index layout / training changes

_IVF_ORACLE = f"""
SELECT CAST({TOP_K} AS INT) AS k,
       CAST({TOP_K} AS BIGINT) AS n_partial,
       CAST({TOP_K} AS BIGINT) AS n_full,
       TRUE AS full_probe_matches_bruteforce,
       TRUE AS partial_scores_dominated
"""


@query(
    "sim_topk_ivf",
    oracle=_IVF_ORACLE,
    doc="IVF ANN top-k: MLlib KMeans cells + nprobe-nearest-cell search "
    "(learned counterpart of sim_topk_signbucket; presto-ml niche analog). "
    "KMeans training is iterative so the raw result set has no SQL twin; "
    "the row instead emits the MECHANISM invariants as value-checked "
    "booleans (the sim_topk_ivf tolerance-oracle pattern): probing all "
    f"{_IVF_CELLS} cells IS brute force (result sets equal), and the "
    f"partial nprobe={_IVF_NPROBE} probe returns a full top-k whose "
    "per-rank scores are pointwise dominated by the exact top-k. The "
    "absolute-recall curve (nondecreasing in nprobe) stays in "
    "tests/test_ivf.py.",
    tags=("similarity",),
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ivf import ivf_topk, read_ivf_index, write_ivf_index
    from ..operators.staging import artifact_dir, publish_once
    from .registry import t

    S.register_vector_udfs(spark)
    emb = t(spark, sf_dir, "embeddings")
    query_vec = list(emb.filter(f"vec_id = {QUERY_VEC_ID}").collect()[0]["embedding"])
    # Build-once/probe-many: the index is a persisted cell-partitioned table
    # (rebuilt when the input files change); each query is a pruned probe.
    index = artifact_dir(sf_dir, f"ivf_kmeans_k{_IVF_CELLS}", _IVF_KMEANS_VERSION)
    train = emb.filter(f"vec_id <> {QUERY_VEC_ID}")
    publish_once(index, lambda stage: write_ivf_index(train, stage, k=_IVF_CELLS))
    assigned, centroids = read_ivf_index(spark, index)
    w = Window.orderBy(F.desc("cosine_sim"), "vec_id")

    def ranked(df: DataFrame, pre: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(f"{pre}_id"),
            F.col("cosine_sim").alias(f"{pre}_cos"),
            F.row_number().over(w).alias(f"{pre}_rank"),
        )

    bf = ranked(
        sql_over(spark, sf_dir, _topk_sql("spark"), ("embeddings",)), "bf"
    )
    partial = ranked(
        ivf_topk(assigned, centroids, query_vec, top_k=TOP_K, nprobe=_IVF_NPROBE),
        "pp",
    )
    full = ranked(
        ivf_topk(assigned, centroids, query_vec, top_k=TOP_K, nprobe=_IVF_CELLS),
        "fp",
    )
    # full probe == brute force as SETS (matched ids at any rank)
    full_matches = full.join(bf, full.fp_id == bf.bf_id, "left_semi").agg(
        F.count("*").alias("n_match")
    )
    # partial probe: per-rank score dominated by the exact per-rank score
    dominance = partial.join(bf, partial.pp_rank == bf.bf_rank).agg(
        F.count("*").alias("n_partial_rows"),
        F.min(F.col("pp_cos") <= F.col("bf_cos") + 1e-6).alias("dominated"),
    )
    return (
        dominance.crossJoin(full_matches)
        .crossJoin(full.agg(F.count("*").alias("n_full_rows")))
        .select(
            F.lit(TOP_K).cast("int").alias("k"),
            F.col("n_partial_rows").alias("n_partial"),
            F.col("n_full_rows").alias("n_full"),
            (F.col("n_match") == TOP_K).alias("full_probe_matches_bruteforce"),
            F.col("dominated").alias("partial_scores_dominated"),
        )
    )


# --- batch kNN join (many-query top-k) -------------------------------------

KNN_K = 5
KNN_QUERY_STRIDE = 100  # query set = vec_id % stride == 0 (bounded sample)


def _knn_join_sql(dialect: str) -> str:
    cos = S.cosine("e.embedding", "q.q_emb", dialect)
    return f"""
WITH q AS (
    SELECT vec_id AS q_id, embedding AS q_emb
    FROM embeddings WHERE vec_id % {KNN_QUERY_STRIDE} = 0
),
scored AS (
    SELECT q.q_id, e.vec_id, e.label, {cos} AS cosine_sim
    FROM embeddings e JOIN q ON e.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, vec_id, label, cosine_sim,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cosine_sim DESC, vec_id) AS rn
    FROM scored
)
SELECT q_id, rn AS rank, vec_id, label, round(cosine_sim, 6) AS cosine_sim
FROM ranked WHERE rn <= {KNN_K}
ORDER BY q_id, rank
"""


@query(
    "sim_knn_join",
    oracle=_knn_join_sql("duck"),
    doc="Batch kNN join: top-k cosine neighbors for EVERY vector in a "
    "bounded query set (the many-query generalization of sim_topk — the "
    "clustering/dedup-candidate input shape). The query side broadcasts "
    "(bounded sample, never the corpus); scoring is one pass over the "
    "corpus with the Arrow-batched cosine; per-query top-k is a window "
    "over q_id. Scale path for unbounded query sets is the IVF index "
    "(operators/ivf.py) probed per query.",
    tags=("similarity",),
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    S.register_vector_udfs(spark)
    return sql_over(spark, sf_dir, _knn_join_sql("spark"), ("embeddings",))


# --- Deterministic sparse random projection (dimensionality reduction) -------

_RP_IN_DIMS = 64
_RP_OUT_DIMS = 8


def _rp_sign(i: int, j: int) -> int:
    """Achlioptas sparse projection entry for (in-dim i, out-dim j), density
    1/3: +1, -1, or 0 from a tiny deterministic hash — the matrix is a pure
    function of its coordinates, so it is never materialized or shipped."""
    h = (i * 31 + j * 17) % 6
    return 1 if h == 0 else (-1 if h == 1 else 0)


def _rp_sql(dialect: str) -> str:
    # Unroll y_j = sum_i s(i,j) * x_i at construction time with IDENTICAL
    # left-to-right operand order in both dialects, so the float chain is
    # bit-identical; the per-dim result is then rounded and exactified to
    # decimal before any cross-row aggregation (summation-order discipline).
    def elem(i: int) -> str:
        acc = f"element_at(embedding, {i})" if dialect == "spark" else f"embedding[{i}]"
        return f"CAST({acc} AS DOUBLE)"

    ys = []
    for j in range(1, _RP_OUT_DIMS + 1):
        chain = "CAST(0 AS DOUBLE)"
        for i in range(1, _RP_IN_DIMS + 1):
            s = _rp_sign(i, j)
            if s == 1:
                chain = f"({chain} + {elem(i)})"
            elif s == -1:
                chain = f"({chain} - {elem(i)})"
        ys.append(f"{chain} AS y{j}")
    return f"""
WITH projected AS (
    SELECT label, vec_id, {", ".join(ys)}
    FROM embeddings
)
SELECT label,
       count(*) AS n_vecs,
       CAST(sum(CASE WHEN y1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_y1,
       CAST(sum(CAST(round(y1, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_y1,
       CAST(sum(CAST(round(y2, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_y2,
       CAST(sum(CAST(round(y3, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_y3
FROM projected
GROUP BY label
ORDER BY label
"""


@query(
    "sim_random_projection",
    oracle=_rp_sql("duck"),
    doc="Deterministic sparse random projection (Achlioptas 2003) from 64 to "
    "8 dims — the dimensionality-reduction step ahead of ANN indexing or "
    "clustering. The projection matrix is a pure hash function of its "
    "coordinates (never materialized, nothing broadcast); the projection "
    "itself unrolls into codegen arithmetic that fuses into the scan "
    "(map-side, zero extra shuffle — the only shuffle is the per-label "
    "rollup). Per-dim sums exactified to decimal after one rounded double "
    "chain with identical operand order in both engines. At higher input "
    "dims the same operator becomes posexplode + join against a generated "
    "sign table — linear matrix-multiply as relational algebra.",
    tags=("similarity",),
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _rp_sql("spark"), ("embeddings",))


def _int8_quant_sql(d: str) -> str:
    # Int8 (0..255) per-dimension affine quantization of the embedding
    # column (NEW r10) — the storage-shrink step every vector index at
    # 100 TB applies before IVF/HNSW (4x smaller + SIMD-friendly codes).
    # Scale shape: the calibration is ONE bounded aggregation (64 dims ->
    # 64 rows of min/max); the quantize pass equi-joins the exploded
    # (vec, dim, x) postings to the 64-row calibration dim (broadcast),
    # all map-side arithmetic. Cross-engine exactness: the CODES
    # themselves are pinned exactly (integer checksum) — round() is
    # half-up in Spark and half-away-from-zero in DuckDB, identical for
    # the non-negative scaled values here; reconstruction errors are
    # rounded and exactified to decimal before the order-independent sum.
    if d == "spark":
        flat = (
            "SELECT vec_id, pos + 1 AS dim, CAST(x AS DOUBLE) AS x "
            "FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, x"
        )
    else:
        flat = (
            "SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS x "
            "FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)"
        )
    return f"""
WITH flat AS (
    {flat}
),
calib AS (
    SELECT dim, min(x) AS mn, (max(x) - min(x)) / 255.0 AS scale
    FROM flat
    GROUP BY dim
),
coded AS (
    SELECT f.vec_id, f.dim,
           CASE WHEN c.scale = 0 THEN 0
                ELSE CAST(least(255.0, round((f.x - c.mn) / c.scale, 0)) AS BIGINT)
           END AS code,
           f.x, c.mn, c.scale
    FROM flat f
    JOIN calib c ON f.dim = c.dim
),
errs AS (
    SELECT vec_id,
           CAST(sum(code) AS BIGINT) AS code_sum,
           CAST(sum(CAST(round(abs(x - (mn + code * scale)), 12)
               AS DECIMAL(20,12))) AS DECIMAL(28,12)) AS abs_err_sum,
           max(CAST(round(abs(x - (mn + code * scale)), 12)
               AS DECIMAL(20,12))) AS max_err
    FROM coded
    GROUP BY vec_id
)
SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(code_sum) AS BIGINT) AS total_code_sum,
       CAST(round(CAST(sum(abs_err_sum) AS DOUBLE) / sum(64), 9) AS DOUBLE)
           AS mean_abs_err,
       CAST(round(CAST(max(max_err) AS DOUBLE), 9) AS DOUBLE) AS max_abs_err
FROM errs
"""


@query(
    "sim_int8_quantization",
    oracle=_int8_quant_sql("duck"),
    doc="Int8 per-dimension affine quantization of the embedding column "
    "(NEW r10 — the 4x storage shrink every 100 TB vector index applies "
    "before IVF/HNSW): calibration is one bounded 64-row min/max "
    "aggregation, the quantize pass equi-joins exploded postings to the "
    "broadcast calibration dim, and the integer CODE CHECKSUM is pinned "
    "exactly cross-engine (not just the reconstruction-error stats, "
    "which are decimal-exactified before order-independent sums).",
    tags=("similarity", "extension"),
)
def sim_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _int8_quant_sql("spark"), ("embeddings",))



# --- Product quantization (NEW r11): codebook training + ADC search ----------
# The PQ step every billion-vector ANN index (IVF-PQ / Faiss) runs after
# coarse clustering: split the 64-dim embedding into M=4 contiguous
# subspaces of 16 dims, then k-means (K=4, two Lloyd iterations,
# deterministic init = the subvectors of vec_id 0..3) INDEPENDENTLY per
# subspace. Everything is exact integer arithmetic so both engines
# produce the identical codebook:
#  - coordinates are fix-point quantized ONCE: xq = round((x+4)*1e6)
#    (the +4 shift keeps every value positive, sidestepping the engines'
#    diverging negative-half rounding; squared distances are
#    shift-invariant)
#  - a centroid is carried as the exact rational (S, n) = (coordinate
#    sum, cluster size); the n^2-scaled distance to it is the exact
#    integer A = sum_d (n*xq_d - S_d)^2, and argmin across centroids with
#    different n compares the rationals A_c/n_c^2 by CROSS MULTIPLICATION
#    (A_y * n_x^2 < A_x * n_y^2) — never a division, never a float; ties
#    break on the smaller centroid id.
# Scale shape: flat postings are one posexplode (linear, map-side); each
# iteration is one equi-join of the postings against the BROADCAST
# codebook (M*K*16 = 256 rows — at 100 TB still tiny), one
# partial-aggregated SUM per (vec, subspace, centroid), a K-vs-K
# anti-join argmin per (vec, subspace), and one re-aggregation for the
# next codebook. DECIMAL(38,0) bounds hold by construction: n <= 1e5
# vecs, xq <= 8e6 -> n*xq <= 8e11, squared 6.4e23, *16 dims ~ 1e25,
# * n^2 <= 1e35 < 1e38.
# The Spark side STAGES flat + each iteration's codebook (persisted,
# operators/staging.py): the training chain has 3-4 consumers per stage
# (the next distance join references it from both sides of the argmin
# NOT EXISTS, plus the re-aggregation), and CTE inlining would re-run the
# whole two-iteration chain per consumer — measured 4.9 s vs ~1 s staged
# at sf0.1 for the ADC query. The DuckDB oracle keeps the single-query
# CTE chain (DuckDB materializes reused CTEs).

_PQ_FLAT_SPARK = (
    "SELECT vec_id, CAST(pos DIV 16 AS INT) AS m, pos + 1 AS dim, "
    "CAST(round((CAST(x AS DOUBLE) + 4.0) * 1000000, 0) AS BIGINT) AS xq "
    "FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, x"
)
_PQ_FLAT_DUCK = (
    "SELECT vec_id, CAST((i - 1) // 16 AS INT) AS m, i AS dim, "
    "CAST(round((CAST(embedding[i] AS DOUBLE) + 4.0) * 1000000, 0) AS BIGINT) AS xq "
    "FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)"
)
_PQ_CB0 = (
    "SELECT m, dim AS d, CAST(vec_id AS INT) AS c, xq AS S, CAST(1 AS BIGINT) AS n "
    "FROM flat WHERE vec_id < 4"
)


def _pq_dist_cte(name: str, cb: str, flat_src: str = "flat") -> str:
    term = (
        "(CAST(b.n AS DECIMAL(20,0)) * CAST(f.xq AS DECIMAL(20,0)) "
        "- CAST(b.S AS DECIMAL(20,0)))"
    )
    return f"""
{name} AS (
    SELECT f.vec_id, f.m, b.c, b.n,
           CAST(SUM({term} * {term}) AS DECIMAL(38,0)) AS A,
           CAST(b.n AS DECIMAL(20,0)) * CAST(b.n AS DECIMAL(20,0)) AS n2
    FROM {flat_src} f
    JOIN {cb} b ON b.m = f.m AND b.d = f.dim
    GROUP BY f.vec_id, f.m, b.c, b.n
)"""


def _pq_assign_cte(name: str, dists: str, d: str = "duck") -> str:
    # Argmin under the cross-multiplied rational order. Two spellings of
    # the SAME unique minimum (the order is total: ties in A/n^2 break on
    # the unique centroid id):
    #  - duck: NOT EXISTS self-join (clearest declarative form; DuckDB
    #    materializes the referenced CTE once)
    #  - spark: a single-pass exact FOLD over array_agg(struct(c, A, n2))
    #    — one aggregation, no self-join, so the distance table is
    #    consumed ONCE (the NOT EXISTS form re-ran the whole upstream
    #    chain from both sides of the anti-join; measured 2x on the ADC
    #    tail). array_agg order does not matter: the fold computes the
    #    order-independent unique minimum.
    if d == "spark":
        cmp_ = (
            "e.A * acc.n2 < acc.A * e.n2 OR "
            "(e.A * acc.n2 = acc.A * e.n2 AND e.c < acc.c)"
        )
        return f"""
{name} AS (
    SELECT vec_id, m,
           aggregate(slice(arr, 2, size(arr) - 1), element_at(arr, 1),
                     (acc, e) -> IF({cmp_}, e, acc)).c AS c
    FROM (
        SELECT vec_id, m, array_agg(struct(c, A, n2)) AS arr
        FROM {dists}
        GROUP BY vec_id, m
    )
)"""
    return f"""
{name} AS (
    SELECT vec_id, m, c FROM {dists} x
    WHERE NOT EXISTS (
        SELECT 1 FROM {dists} y
        WHERE y.vec_id = x.vec_id AND y.m = x.m
          AND (y.A * x.n2 < x.A * y.n2
               OR (y.A * x.n2 = x.A * y.n2 AND y.c < x.c))
    )
)"""


def _pq_cb_cte(name: str, assign: str) -> str:
    return _pq_cb_cte_src(name, assign, "flat")


def _pq_cb_cte_src(name: str, assign: str, flat_src: str) -> str:
    return f"""
{name} AS (
    SELECT a.m, a.c, f.dim AS d,
           CAST(SUM(f.xq) AS BIGINT) AS S,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM {assign} a
    JOIN {flat_src} f ON f.vec_id = a.vec_id AND f.m = a.m
    GROUP BY a.m, a.c, f.dim
)"""


_PQ_CODEBOOK_SELECT = """
SELECT m AS subspace, c AS centroid, d AS dim, S AS s_sum, n AS n_assigned
FROM cb2
ORDER BY subspace, centroid, dim
"""


def _pq_adc_tail(d: str, flat_src: str = "flat", cb_src: str = "cb2") -> str:
    # ADC search tail: code every vector against the trained codebook
    # (one more dist+argmin round), round the centroids to exact integer
    # coordinates mu = round-half-up(S/n) via pure integer ops
    # ((2S+n) idiv 2n — S is positive by the +4 shift), build the query's
    # M*K lookup table, and rank by the summed table entries.
    idiv = "DIV" if d == "spark" else "//"
    return f""",{_pq_dist_cte('d3', cb_src, flat_src)},{_pq_assign_cte('codes', 'd3', d)},
qv AS (
    SELECT m, dim, xq FROM {flat_src} WHERE vec_id = 0
),
mu AS (
    SELECT m, c, d, (2 * S + n) {idiv} (2 * n) AS mu FROM {cb_src}
),
lut AS (
    SELECT q.m, b.c, CAST(SUM((q.xq - b.mu) * (q.xq - b.mu)) AS BIGINT) AS pdist
    FROM qv q JOIN mu b ON b.m = q.m AND b.d = q.dim
    GROUP BY q.m, b.c
),
adc AS (
    SELECT cds.vec_id, CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
    FROM codes cds JOIN lut l ON l.m = cds.m AND l.c = cds.c
    GROUP BY cds.vec_id
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, adc_dist
FROM adc
WHERE vec_id <> 0
ORDER BY adc_dist, vec_id
LIMIT 10
"""


def _pq_sql(d: str, flat_view: str | None = None, adc: bool = False) -> str:
    """Single-query form: the full training chain (cb0 -> cb2) plus either
    the codebook select or the ADC tail. The DuckDB oracle always uses
    this; the Spark engine path uses the staged per-iteration form below."""
    flat = _PQ_FLAT_SPARK if d == "spark" else _PQ_FLAT_DUCK
    if flat_view:
        flat = f"SELECT * FROM {flat_view}"
    chain = f"""
WITH flat AS (
    {flat}
),
cb0 AS (
    {_PQ_CB0}
),{_pq_dist_cte('d1', 'cb0')},{_pq_assign_cte('a1', 'd1', d)},{_pq_cb_cte('cb1', 'a1')},{_pq_dist_cte('d2', 'cb1')},{_pq_assign_cte('a2', 'd2', d)},{_pq_cb_cte('cb2', 'a2')}"""
    return chain + (_pq_adc_tail(d) if adc else _PQ_CODEBOOK_SELECT)


def _pq_iteration_sql(flat_view: str, cb_view: str, out_suffix: str) -> str:
    """One Lloyd iteration as a standalone query over staged views: the
    distance join + argmin + re-aggregation, reading the PREVIOUS
    codebook from ``cb_view`` instead of recomputing its chain."""
    # Leaf views are referenced DIRECTLY, never wrapped in pass-through
    # CTEs: Spark resolves cached plans on the ANALYZED tree
    # (withCachedData) but inlines WITH-CTEs only later in the optimizer,
    # so `WITH x AS (SELECT * FROM staged_view)` MISSES the InMemoryRelation
    # and silently recomputes the staged artifact (measured 1.9 s vs 0.4 s
    # on the 256-row codebook select).
    chain = (
        _pq_dist_cte(f"d{out_suffix}", cb_view, flat_view).lstrip(",").lstrip()
        + ","
        + _pq_assign_cte(f"a{out_suffix}", f"d{out_suffix}", "spark")
        + ","
        + _pq_cb_cte_src("cbnext", f"a{out_suffix}", flat_view)
    )
    return f"WITH {chain}\nSELECT * FROM cbnext"


def _pq_staged_cb2(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage flat + cb0 + cb1 + cb2 (persisted once per session/sf); the
    iteration chain never re-runs through CTE inlining. Returns the
    (flat, cb2) sf_dir-scoped view names (ADVICE r11: fixed global view
    names raced across concurrent sf_dirs)."""
    from ..operators.staging import staged_view

    flat_v = staged_view(
        spark, sf_dir, "pq_flat",
        lambda: sql_over(spark, sf_dir, _PQ_FLAT_SPARK, ("embeddings",)),
    )
    cb0_v = staged_view(
        spark, sf_dir, "pq_cb0",
        lambda: spark.sql(_PQ_CB0.replace("FROM flat", f"FROM {flat_v}")),
    )
    cb1_v = staged_view(
        spark, sf_dir, "pq_cb1",
        lambda: spark.sql(_pq_iteration_sql(flat_v, cb0_v, "1")),
    )
    cb2_v = staged_view(
        spark, sf_dir, "pq_cb2",
        lambda: spark.sql(_pq_iteration_sql(flat_v, cb1_v, "2")),
    )
    return flat_v, cb2_v


@query(
    "sim_pq_codebook",
    oracle=_pq_sql("duck"),
    doc="Product-quantization codebook training (NEW r11 — the PQ half of "
    "IVF-PQ, the compression every billion-vector ANN index applies): "
    "M=4 subspaces x K=4 centroids, two Lloyd iterations as relational "
    "algebra. Centroids are exact rationals (coordinate-sum, count); "
    "nearest-centroid argmin compares n^2-scaled integer distances by "
    "cross multiplication — zero floats, zero divisions, so the trained "
    "codebook is bit-identical cross-engine. Each iteration: one "
    "broadcast equi-join of exploded postings to the 256-row codebook, "
    "one partial-agg distance sum, a K-vs-K anti-join argmin. Spark "
    "stages flat + per-iteration codebooks (3-4 consumers each).",
    tags=("similarity", "extension"),
)
def sim_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, cb2_v = _pq_staged_cb2(spark, sf_dir)
    # direct view reference — a pass-through CTE would miss the cache
    return sql_over(
        spark, sf_dir,
        _PQ_CODEBOOK_SELECT.replace("FROM cb2", f"FROM {cb2_v}"),
        ("embeddings",),
    )


@query(
    "sim_pq_adc_search",
    oracle=_pq_sql("duck", adc=True),
    doc="PQ asymmetric-distance (ADC) top-k search (NEW r11 — how IVF-PQ "
    "actually answers queries): every database vector is coded against "
    "the trained codebook (one more exact cross-multiplied argmin round), "
    "the query builds its M*K=16-entry lookup table against integer- "
    "rounded centroids (mu = round-half-up(S/n) computed as (2S+n) idiv "
    "2n — pure integer ops, identical cross-engine), and ranking sums "
    "LUT entries per code. The ranking lowers to a distributed top-k; "
    "the LUT and codebook are broadcast-tiny at any scale — the database "
    "vectors are never touched again after coding, which is the entire "
    "point of PQ at 100 TB (code once, search in compressed space).",
    tags=("similarity", "extension"),
)
def sim_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat_v, cb2_v = _pq_staged_cb2(spark, sf_dir)
    tail = _pq_adc_tail("spark", flat_src=flat_v, cb_src=cb2_v)
    return sql_over(
        spark, sf_dir,
        "WITH " + tail.lstrip(",").lstrip(),  # d3/codes/... are real CTEs
        ("embeddings",),
    )


# --- IVF-PQ: the composed billion-vector ANN architecture ---------------------
# VERDICT r11 next-round #5: both halves existed (KMeans-IVF cell pruning,
# PQ codes + ADC ranking); this row composes them END-TO-END the way a real
# billion-vector index does (IVFADC, Jegou et al. 2011): a coarse quantizer
# routes the query to nprobe cells, and only THOSE cells' compressed codes
# are ADC-ranked — the database vectors are never touched at search time.
# Unlike sim_topk_ivf (MLlib KMeans, mechanism-boolean oracle), the coarse
# quantizer here is the SAME exact-integer relational Lloyd machinery as
# the PQ training — run at M=1 over the full 64-dim vector (K=4 cells,
# 2 iterations) — so the ENTIRE IVF-PQ pipeline is SQL-expressible and the
# DuckDB oracle replays it bit-for-bit: train coarse + PQ codebooks, code
# every vector both ways, probe nprobe=2 cells, ADC-rank the candidates.
# Scale shape: every index half is staged build-once (coarse codebook 4
# rows x 64 dims, cells = one bigint per vector, codes = M=4 bytes-worth
# per vector); the search touches ONE tiny aggregation for the probe
# (4 coarse distances), a semi-join on the cell id (partition-prunable at
# 100 TB when cells are the partition key — operators/ivf.py writes the
# IVF table exactly that way), and a code-side LUT join. No vector data
# in the search path at all. Decimal bounds (coarse, 64-dim subspace):
# term <= n*xq <= 8e11, squared 6.4e23, x64 dims ~ 4e25, x n^2 (1e10)
# ~ 4e35 < 1e38 — exact for corpora to ~1e5 vectors; beyond that the
# fold compares scaled doubles (documented PQ bound, same as training).

_IVFPQ_NPROBE = 2


def _pq_code_sql(flat_view: str, cb_view: str) -> str:
    """Code every vector against a FIXED codebook: one distance round +
    exact cross-multiplied argmin (the code-once half of PQ/IVF)."""
    chain = (
        _pq_dist_cte("d3", cb_view, flat_view).lstrip(",").lstrip()
        + ","
        + _pq_assign_cte("codes", "d3", "spark")
    )
    return f"WITH {chain}\nSELECT * FROM codes"


def _ivfpq_staged(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Stage the IVF-PQ index: coarse codebook (M=1 Lloyd over the full
    vector), per-vector coarse cells, and per-vector PQ codes. Returns the
    sf_dir-scoped view names. Every artifact is build-once (the index);
    the search query reads only leaves."""
    from ..operators.staging import staged_view

    flat_v, cb2_v = _pq_staged_cb2(spark, sf_dir)
    cflat_v = staged_view(
        spark, sf_dir, "ivf_cflat",
        lambda: spark.sql(
            f"SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM {flat_v}"
        ),
    )
    ccb0_v = staged_view(
        spark, sf_dir, "ivf_ccb0",
        lambda: spark.sql(
            f"SELECT CAST(0 AS INT) AS m, dim AS d, CAST(vec_id AS INT) AS c, "
            f"xq AS S, CAST(1 AS BIGINT) AS n FROM {cflat_v} WHERE vec_id < 4"
        ),
    )
    ccb1_v = staged_view(
        spark, sf_dir, "ivf_ccb1",
        lambda: spark.sql(_pq_iteration_sql(cflat_v, ccb0_v, "1")),
    )
    ccb2_v = staged_view(
        spark, sf_dir, "ivf_ccb2",
        lambda: spark.sql(_pq_iteration_sql(cflat_v, ccb1_v, "2")),
    )
    cells_v = staged_view(
        spark, sf_dir, "ivf_cells",
        lambda: spark.sql(_pq_code_sql(cflat_v, ccb2_v)),
    )
    codes_v = staged_view(
        spark, sf_dir, "pq_codes",
        lambda: spark.sql(_pq_code_sql(flat_v, cb2_v)),
    )
    return {
        "flat": flat_v, "cb2": cb2_v, "ccb2": ccb2_v,
        "cells": cells_v, "codes": codes_v,
    }


def _ivfpq_tail(
    d: str, flat_src: str, cb_src: str, ccb_src: str,
    cells_src: str, codes_src: str,
) -> str:
    # The search: probe = one 4-row aggregation of exact integer distances
    # of the query to the rounded coarse centroids; candidates = semi-join
    # of the cell table on the probed ids; ranking = LUT join over the
    # candidates' codes only. Centroid rounding is the same pure-integer
    # round-half-up as ADC: mu = (2S + n) idiv 2n.
    idiv = "DIV" if d == "spark" else "//"
    return f"""
qv AS (
    SELECT m, dim, xq FROM {flat_src} WHERE vec_id = 0
),
cmu AS (
    SELECT c, d, (2 * S + n) {idiv} (2 * n) AS mu FROM {ccb_src}
),
qcell AS (
    SELECT b.c, CAST(SUM((q.xq - b.mu) * (q.xq - b.mu)) AS BIGINT) AS cdist
    FROM qv q JOIN cmu b ON b.d = q.dim
    GROUP BY b.c
),
probed AS (
    SELECT c FROM qcell ORDER BY cdist, c LIMIT {_IVFPQ_NPROBE}
),
cand AS (
    SELECT vec_id FROM {cells_src}
    WHERE vec_id <> 0 AND c IN (SELECT c FROM probed)
),
mu AS (
    SELECT m, c, d, (2 * S + n) {idiv} (2 * n) AS mu FROM {cb_src}
),
lut AS (
    SELECT q.m, b.c, CAST(SUM((q.xq - b.mu) * (q.xq - b.mu)) AS BIGINT) AS pdist
    FROM qv q JOIN mu b ON b.m = q.m AND b.d = q.dim
    GROUP BY q.m, b.c
),
adc AS (
    SELECT cds.vec_id, CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
    FROM {codes_src} cds
    JOIN cand ON cand.vec_id = cds.vec_id
    JOIN lut l ON l.m = cds.m AND l.c = cds.c
    GROUP BY cds.vec_id
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, adc_dist
FROM adc
ORDER BY adc_dist, vec_id
LIMIT 10
"""


def _ivfpq_oracle() -> str:
    # The single-query DuckDB replay: PQ training chain (flat, cb0..cb2),
    # PQ coding (d3 -> codes), coarse chain (cflat, ccb0..ccb2), coarse
    # coding (cd3 -> cells), then the probe/ADC tail.
    coarse_cb0 = (
        "SELECT CAST(0 AS INT) AS m, dim AS d, CAST(vec_id AS INT) AS c, "
        "xq AS S, CAST(1 AS BIGINT) AS n FROM cflat WHERE vec_id < 4"
    )
    chain = f"""
WITH flat AS (
    {_PQ_FLAT_DUCK}
),
cb0 AS (
    {_PQ_CB0}
),{_pq_dist_cte('d1', 'cb0')},{_pq_assign_cte('a1', 'd1', 'duck')},{_pq_cb_cte('cb1', 'a1')},{_pq_dist_cte('d2', 'cb1')},{_pq_assign_cte('a2', 'd2', 'duck')},{_pq_cb_cte('cb2', 'a2')},{_pq_dist_cte('d3', 'cb2', 'flat')},{_pq_assign_cte('codes', 'd3', 'duck')},
cflat AS (
    SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM flat
),
ccb0 AS (
    {coarse_cb0}
),{_pq_dist_cte('cd1', 'ccb0', 'cflat')},{_pq_assign_cte('ca1', 'cd1', 'duck')},{_pq_cb_cte_src('ccb1', 'ca1', 'cflat')},{_pq_dist_cte('cd2', 'ccb1', 'cflat')},{_pq_assign_cte('ca2', 'cd2', 'duck')},{_pq_cb_cte_src('ccb2', 'ca2', 'cflat')},{_pq_dist_cte('cd3', 'ccb2', 'cflat')},{_pq_assign_cte('cells', 'cd3', 'duck')},"""
    return chain + _ivfpq_tail(
        "duck", "flat", "cb2", "ccb2", "cells", "codes"
    ).lstrip()


@query(
    "sim_ivfpq_search",
    oracle=_ivfpq_oracle(),
    doc="IVF-PQ end-to-end top-k search (NEW r12 — VERDICT r11 ask #5, the "
    "composed billion-vector ANN architecture, IVFADC): a coarse "
    "quantizer trained with the SAME exact-integer relational Lloyd "
    "machinery as the PQ codebook (M=1 over the full vector, K=4 cells, "
    "2 iterations) routes the query to nprobe=2 cells; only those cells' "
    "PQ codes are ADC-ranked — vectors untouched at search time. All "
    "index halves (coarse codebook, cells, codes) staged build-once; the "
    "search is one 4-row probe aggregation, a cell-id semi-join "
    "(partition-prunable at scale), and a broadcast LUT join. Fully "
    "SQL-expressible, so the oracle replays training + coding + probe + "
    "ranking bit-for-bit (exact integers end-to-end).",
    tags=("similarity", "extension"),
)
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _ivfpq_staged(spark, sf_dir)
    tail = _ivfpq_tail(
        "spark", v["flat"], v["cb2"], v["ccb2"], v["cells"], v["codes"]
    )
    return sql_over(
        spark, sf_dir,
        "WITH " + tail.lstrip(",").lstrip(),
        ("embeddings",),
    )


# --- IVF partitioned-index write path (NEW r13 — VERDICT r12 ask #6) ---------
# The partition-prune claim for IVF-PQ at 100 TB rests on the index being
# WRITTEN with the coarse cell as the partition key (operators/ivf.py's
# write_ivf_index partitionBy("cell") is the MLlib twin). This query pins
# the whole path with a full-value oracle: build the exact-Lloyd coarse
# index (the same deterministic training as sim_ivfpq_search), WRITE it as
# cell-partitioned parquet (staging.publish_once at staging.artifact_dir:
# path keyed on the scale dir's content fingerprint), READ it back with a
# probed-cell predicate that must reach the scan as PartitionFilters
# (pinned in tests/test_plan_shapes.py), and rank the surviving candidates
# by exact integer squared L2 to the query vector. Training, cell
# assignment, probe, and ranking all replay bit-for-bit in DuckDB.

_IVF_IDX_VERSION = "1"  # bump when the index row layout / training changes


def _ivf_index_write_path(spark: SparkSession, sf_dir: str) -> str:
    """Write-once cell-partitioned parquet IVF index; returns its path.

    Rows are (vec_id, dim, xq) under partition directories c=<cell>,
    published with ``staging.publish_once`` — the loser of a cross-process
    race reads the winner's index; a regenerated scale dir or bumped
    version misses the stale artifact via the path fingerprint.
    """
    from ..operators.staging import artifact_dir, publish_once

    def write(stage: str) -> None:
        v = _ivfpq_staged(spark, sf_dir)
        idx = spark.sql(
            f"SELECT f.vec_id, f.dim, f.xq, cl.c FROM {v['flat']} f "
            f"JOIN {v['cells']} cl ON cl.vec_id = f.vec_id"
        )
        idx.write.mode("errorifexists").partitionBy("c").parquet(stage)

    final = artifact_dir(sf_dir, "ivf_flat_index", _IVF_IDX_VERSION)
    publish_once(final, write)
    return final


_IVF_PROBE_TAIL = """
qv AS (
    SELECT dim, xq FROM {flat} WHERE vec_id = 0
),
cmu AS (
    SELECT c, d, (2 * S + n) {idiv} (2 * n) AS mu FROM {ccb}
),
qcell AS (
    SELECT b.c, CAST(SUM((q.xq - b.mu) * (q.xq - b.mu)) AS BIGINT) AS cdist
    FROM qv q JOIN cmu b ON b.d = q.dim
    GROUP BY b.c
),
probed AS (
    SELECT c FROM qcell ORDER BY cdist, c LIMIT {nprobe}
)"""

_IVF_RANK_TAIL = """
SELECT CAST(cand.vec_id AS BIGINT) AS vec_id,
       CAST(MIN(cand.c) AS INT) AS cell,
       CAST(SUM((cand.xq - q.xq) * (cand.xq - q.xq)) AS BIGINT) AS l2q_dist
FROM cand JOIN qv q ON q.dim = cand.dim
GROUP BY cand.vec_id
ORDER BY l2q_dist, vec_id
LIMIT 10
"""


def _ivf_partition_probe_oracle() -> str:
    coarse_cb0 = (
        "SELECT CAST(0 AS INT) AS m, dim AS d, CAST(vec_id AS INT) AS c, "
        "xq AS S, CAST(1 AS BIGINT) AS n FROM cflat WHERE vec_id < 4"
    )
    probe = _IVF_PROBE_TAIL.format(flat="cflat", ccb="ccb2", idiv="//", nprobe=_IVFPQ_NPROBE)
    return f"""
WITH flat AS (
    {_PQ_FLAT_DUCK}
),
cflat AS (
    SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM flat
),
ccb0 AS (
    {coarse_cb0}
),{_pq_dist_cte('cd1', 'ccb0', 'cflat')},{_pq_assign_cte('ca1', 'cd1', 'duck')},{_pq_cb_cte_src('ccb1', 'ca1', 'cflat')},{_pq_dist_cte('cd2', 'ccb1', 'cflat')},{_pq_assign_cte('ca2', 'cd2', 'duck')},{_pq_cb_cte_src('ccb2', 'ca2', 'cflat')},{_pq_dist_cte('cd3', 'ccb2', 'cflat')},{_pq_assign_cte('cells', 'cd3', 'duck')},{probe.lstrip()},
idx AS (
    SELECT f.vec_id, f.dim, f.xq, cl.c FROM cflat f
    JOIN cells cl ON cl.vec_id = f.vec_id
),
cand AS (
    SELECT * FROM idx WHERE vec_id <> 0 AND c IN (SELECT c FROM probed)
){_IVF_RANK_TAIL}"""


@query(
    "sim_ivf_partition_probe",
    oracle=_ivf_partition_probe_oracle(),
    doc="IVF partitioned-index write path + partition-pruned probe (NEW "
    "r13 — VERDICT r12 ask #6): the exact-Lloyd coarse index (same "
    "deterministic training as sim_ivfpq_search) is WRITTEN once as "
    "cell-partitioned parquet (atomic-rename publish, content-"
    "fingerprinted path) and read back with the nprobe=2 probed cells "
    "inlined as literals, so the predicate prunes whole partition "
    "directories at the scan (PartitionFilters pinned in "
    "tests/test_plan_shapes.py — at 100 TB this is ~nprobe/K of the "
    "index I/O, the claim operators/ivf.py's partitionBy('cell') write "
    "makes). Candidates rank by exact integer squared L2; the probe's "
    "2-int collect is a bounded driver fetch like the 1-row query-vector "
    "reads (SCALE.md). The oracle replays training, assignment, probe, "
    "and ranking bit-for-bit.",
    tags=("similarity", "extension"),
)
def sim_ivf_partition_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ivf_index_write_path(spark, sf_dir)
    v = _ivfpq_staged(spark, sf_dir)
    probe_sql = "WITH " + _IVF_PROBE_TAIL.format(
        flat=v["flat"], ccb=v["ccb2"], idiv="DIV", nprobe=_IVFPQ_NPROBE
    ).lstrip() + "\nSELECT c FROM probed"
    probed = sorted(r.c for r in spark.sql(probe_sql).collect())  # bounded: nprobe ints
    idx = spark.read.parquet(path)
    cand = idx.where(F.col("c").isin(probed) & (F.col("vec_id") != 0))
    # Rank with DataFrame APIs directly off the pruned-scan DataFrame — no
    # temp view. A fixed global view name here would re-introduce the
    # wrong-scale race staged_view closed in r11 (two concurrent callers at
    # different sf_dirs interleaving register/resolve and silently binding
    # the other scale's candidates — ADVICE r13 medium).
    qv = spark.sql(f"SELECT dim, xq AS qxq FROM {v['flat']} WHERE vec_id = 0")
    diff = F.col("xq") - F.col("qxq")
    return (
        cand.join(qv, "dim")
        .groupBy("vec_id")
        .agg(
            F.min("c").cast("int").alias("cell"),
            F.sum(diff * diff).cast("bigint").alias("l2q_dist"),
        )
        .select(F.col("vec_id").cast("bigint").alias("vec_id"), "cell", "l2q_dist")
        .orderBy("l2q_dist", "vec_id")
        .limit(10)
    )


# --- IVF recall evaluation (NEW r13): ANN quality as relational algebra ------
# Every production ANN deployment tracks recall@k of the pruned search
# against exact brute force — usually as offline evaluation jobs. Both
# sides are deterministic exact-integer computations here, so the whole
# evaluation is ONE query both engines replay bit-for-bit: the brute-force
# top-10 ranks every corpus vector by exact squared L2 in the quantized
# space; the IVF side ranks only the nprobe=2 probed cells' vectors (the
# same candidate restriction sim_ivf_partition_probe prunes partitions
# with); recall = |ivf_top ∩ bf_top| / k. At 100 TB the brute-force side
# is the expensive-but-linear offline pass (one scan + TakeOrdered), run
# on a sampled query set; the comparison join is k-row-bounded.

_IVF_RECALL_TAIL = """
bf AS (
    SELECT f.vec_id,
           CAST(SUM((f.xq - q.xq) * (f.xq - q.xq)) AS BIGINT) AS d
    FROM {flat} f JOIN qv q ON q.dim = f.dim
    WHERE f.vec_id <> 0
    GROUP BY f.vec_id
),
bf_top AS (
    SELECT vec_id FROM bf ORDER BY d, vec_id LIMIT 10
),
cand AS (
    SELECT cl.vec_id FROM {cells} cl
    WHERE cl.vec_id <> 0 AND cl.c IN (SELECT c FROM probed)
),
ivf AS (
    SELECT f.vec_id,
           CAST(SUM((f.xq - q.xq) * (f.xq - q.xq)) AS BIGINT) AS d
    FROM {flat} f
    JOIN cand ON cand.vec_id = f.vec_id
    JOIN qv q ON q.dim = f.dim
    GROUP BY f.vec_id
),
ivf_top AS (
    SELECT vec_id FROM ivf ORDER BY d, vec_id LIMIT 10
)
SELECT CAST(10 AS INT) AS k,
       CAST(count(*) AS BIGINT) AS n_hits,
       round(CAST(count(*) AS DOUBLE) / 10, 6) AS recall
FROM ivf_top JOIN bf_top ON ivf_top.vec_id = bf_top.vec_id
"""


def _ivf_recall_oracle() -> str:
    coarse_cb0 = (
        "SELECT CAST(0 AS INT) AS m, dim AS d, CAST(vec_id AS INT) AS c, "
        "xq AS S, CAST(1 AS BIGINT) AS n FROM cflat WHERE vec_id < 4"
    )
    probe = _IVF_PROBE_TAIL.format(
        flat="cflat", ccb="ccb2", idiv="//", nprobe=_IVFPQ_NPROBE
    )
    return f"""
WITH flat AS (
    {_PQ_FLAT_DUCK}
),
cflat AS (
    SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM flat
),
ccb0 AS (
    {coarse_cb0}
),{_pq_dist_cte('cd1', 'ccb0', 'cflat')},{_pq_assign_cte('ca1', 'cd1', 'duck')},{_pq_cb_cte_src('ccb1', 'ca1', 'cflat')},{_pq_dist_cte('cd2', 'ccb1', 'cflat')},{_pq_assign_cte('ca2', 'cd2', 'duck')},{_pq_cb_cte_src('ccb2', 'ca2', 'cflat')},{_pq_dist_cte('cd3', 'ccb2', 'cflat')},{_pq_assign_cte('cells', 'cd3', 'duck')},{probe.lstrip()},{_IVF_RECALL_TAIL.format(flat='cflat', cells='cells')}"""


@query(
    "sim_ivf_recall",
    oracle=_ivf_recall_oracle(),
    doc="IVF recall@10 evaluation as relational algebra (NEW r13): exact "
    "brute-force top-10 (one linear scan + TakeOrdered over the "
    "quantized space) joined against the nprobe=2 probed-cell top-10 — "
    "the offline ANN quality job every vector deployment runs, here a "
    "single deterministic query whose training, probe, both rankings, "
    "and the recall fraction replay bit-for-bit in the oracle. The "
    "comparison join is k-row bounded; the candidate side reuses the "
    "staged coarse index (build-once) and restricts through the same "
    "cell semi-join the partitioned index prunes with.",
    tags=("similarity", "extension"),
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _ivfpq_staged(spark, sf_dir)
    probe = _IVF_PROBE_TAIL.format(
        flat=v["flat"], ccb=v["ccb2"], idiv="DIV", nprobe=_IVFPQ_NPROBE
    )
    sql = (
        "WITH "
        + probe.lstrip().lstrip(",")
        + ","
        + _IVF_RECALL_TAIL.format(flat=v["flat"], cells=v["cells"])
    )
    return sql_over(spark, sf_dir, sql, ("embeddings",))


# --- IVF index upsert (NEW r13): index maintenance without retraining --------
# The lifecycle step between build (sim_ivf_partition_probe) and search
# (sim_ivfpq_search): new vectors arrive AFTER the index is trained, and a
# production deployment codes them against the FROZEN coarse codebook and
# appends them to their cells — it does not retrain (periodic re-clustering
# is an offline compaction decision). Here the coarse quantizer trains on
# the CORPUS ONLY (vec_id % 5 <> 4; init ids 0..3 are corpus by
# construction) and the batch (vec_id % 5 = 4) is coded with one distance
# + exact argmin round against that frozen codebook — the upsert's work is
# proportional to the BATCH. Output is the per-cell index census
# (corpus / batch / after), fully replayed by the oracle; the physical
# append to the cell-partitioned index is pinned in
# tests/test_plan_shapes.py (partition dirs gain exactly the batch rows).

_UPSERT_BATCH_MOD = 5  # vec_id % 5 = 4 is the late-arriving batch


def _upsert_staged(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    from ..operators.staging import staged_view

    flat_v, _cb2 = _pq_staged_cb2(spark, sf_dir)
    m = _UPSERT_BATCH_MOD
    cflatc_v = staged_view(
        spark, sf_dir, "ups_cflatc",
        lambda: spark.sql(
            f"SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM {flat_v} "
            f"WHERE vec_id % {m} <> {m - 1}"
        ),
    )
    ccb0_v = staged_view(
        spark, sf_dir, "ups_ccb0",
        lambda: spark.sql(
            f"SELECT CAST(0 AS INT) AS m, dim AS d, CAST(vec_id AS INT) AS c, "
            f"xq AS S, CAST(1 AS BIGINT) AS n FROM {cflatc_v} WHERE vec_id < 4"
        ),
    )
    ccb1_v = staged_view(
        spark, sf_dir, "ups_ccb1",
        lambda: spark.sql(_pq_iteration_sql(cflatc_v, ccb0_v, "1")),
    )
    ccb2_v = staged_view(
        spark, sf_dir, "ups_ccb2",
        lambda: spark.sql(_pq_iteration_sql(cflatc_v, ccb1_v, "2")),
    )
    cellsc_v = staged_view(
        spark, sf_dir, "ups_cells",
        lambda: spark.sql(_pq_code_sql(cflatc_v, ccb2_v)),
    )
    return {"flat": flat_v, "cflatc": cflatc_v, "ccb2": ccb2_v, "cells": cellsc_v}


# Packed (array) twin of the per-dim flat quantization: one row per vector,
# xqa[i] computed by the SAME elementwise expression _PQ_FLAT_SPARK applies
# (posexplode's dim = position + 1, so zip_with's positional pairing is the
# flat form's dim-equality join). Consumers compute squared-L2 as
# aggregate(zip_with(...)) — whole-stage-codegen array arithmetic on ONE row
# per pair instead of a pair x 64-dim join + hash re-aggregation, which is
# the optimization guide's "shuffle fewer bytes / remove the shuffle"
# (spark_optimization_guide §2.3-2.4): the r15-measured candidate-distance
# join shuffled 10.2M exploded rows where the packed form moves 160k.
# Dimensionality guard (ADVICE r15): consumers index xqa[0..63] with an
# UNROLLED 64-term distance, so a short embedding would yield NULL d2 —
# min(struct) would pick the NULL row and the threshold filter would drop
# it, silently classifying the vector 'keep' even when real under-threshold
# candidates exist. Fail loudly at packing time instead; the fixture is
# fixed 64-dim, so on well-formed data this is a never-taken branch.
_PACKED_XQA = (
    f"CASE WHEN size(embedding) = {_RP_IN_DIMS} THEN "
    "transform(embedding, x -> "
    "CAST(round((CAST(x AS DOUBLE) + 4.0) * 1000000, 0) AS BIGINT)) "
    "ELSE CAST(raise_error(CONCAT('packed embedding requires exactly "
    f"{_RP_IN_DIMS} dims, got ', CAST(size(embedding) AS STRING), "
    "' at vec_id ', CAST(vec_id AS STRING))) AS ARRAY<BIGINT>) END"
)


def _upsert_packed_staged(spark: SparkSession, sf_dir: str) -> str:
    """Stage the standing index's packed payload: (vec_id, c, xqa).

    The corpus-side artifact the semantic admission gate probes — the cell
    assignment (``ups_cells``) carrying each member's packed quantized
    vector. Same standing-artifact class as ``ups_cells`` itself: built
    once per corpus version, consumed per ingest batch.
    """
    from ..operators.staging import staged_view

    v = _upsert_staged(spark, sf_dir)
    m = _UPSERT_BATCH_MOD
    return staged_view(
        spark, sf_dir, "ups_cpacked",
        lambda: sql_over(
            spark, sf_dir,
            f"SELECT cl.vec_id, cl.c, p.xqa "
            f"FROM {v['cells']} cl JOIN ("
            f"SELECT vec_id, {_PACKED_XQA} AS xqa FROM embeddings "
            f"WHERE vec_id % {m} <> {m - 1}) p ON p.vec_id = cl.vec_id",
            ("embeddings",),
        ),
        version="2",  # build SQL changed r16: dimensionality guard added
    )


_UPSERT_TAIL = """
corpus_census AS (
    SELECT c, count(*) AS n_corpus FROM {cells} GROUP BY c
),
batch_census AS (
    SELECT c, count(*) AS n_batch FROM bcodes GROUP BY c
)
SELECT CAST(COALESCE(cc.c, bc.c) AS INT) AS cell,
       CAST(COALESCE(cc.n_corpus, 0) AS BIGINT) AS n_corpus,
       CAST(COALESCE(bc.n_batch, 0) AS BIGINT) AS n_batch,
       CAST(COALESCE(cc.n_corpus, 0) + COALESCE(bc.n_batch, 0) AS BIGINT) AS n_after
FROM corpus_census cc FULL JOIN batch_census bc ON bc.c = cc.c
ORDER BY cell
"""


def _upsert_oracle() -> str:
    m = _UPSERT_BATCH_MOD
    coarse_cb0 = (
        "SELECT CAST(0 AS INT) AS m, dim AS d, CAST(vec_id AS INT) AS c, "
        "xq AS S, CAST(1 AS BIGINT) AS n FROM cflatc WHERE vec_id < 4"
    )
    return f"""
WITH flat AS (
    {_PQ_FLAT_DUCK}
),
cflatc AS (
    SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM flat
    WHERE vec_id % {m} <> {m - 1}
),
bflat AS (
    SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM flat
    WHERE vec_id % {m} = {m - 1}
),
ccb0 AS (
    {coarse_cb0}
),{_pq_dist_cte('cd1', 'ccb0', 'cflatc')},{_pq_assign_cte('ca1', 'cd1', 'duck')},{_pq_cb_cte_src('ccb1', 'ca1', 'cflatc')},{_pq_dist_cte('cd2', 'ccb1', 'cflatc')},{_pq_assign_cte('ca2', 'cd2', 'duck')},{_pq_cb_cte_src('ccb2', 'ca2', 'cflatc')},{_pq_dist_cte('cd3', 'ccb2', 'cflatc')},{_pq_assign_cte('cells', 'cd3', 'duck')},{_pq_dist_cte('bd', 'ccb2', 'bflat')},{_pq_assign_cte('bcodes', 'bd', 'duck')},{_UPSERT_TAIL.format(cells='cells').lstrip()}"""


@query(
    "sim_ivf_index_upsert",
    oracle=_upsert_oracle(),
    doc="IVF index upsert census (NEW r13 — index MAINTENANCE): the coarse "
    "quantizer trains on the corpus only (vec_id % 5 <> 4, exact-integer "
    "relational Lloyd, staged build-once); the late-arriving batch is "
    "coded against that FROZEN codebook with one distance + exact-argmin "
    "round — upsert work proportional to the batch, no retraining, no "
    "corpus re-coding. Emits the per-cell census (corpus/batch/after); "
    "the physical append to the cell-partitioned on-disk index is pinned "
    "in tests/test_plan_shapes.py. Training, both codings, and the "
    "census replay bit-for-bit in the oracle.",
    tags=("similarity", "extension"),
)
def sim_ivf_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _upsert_staged(spark, sf_dir)
    m = _UPSERT_BATCH_MOD
    bflat = (
        f"SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM {v['flat']} "
        f"WHERE vec_id % {m} = {m - 1}"
    )
    chain = (
        f"WITH bflat AS ({bflat}),"
        + _pq_dist_cte("bd", v["ccb2"], "bflat")
        + ","
        + _pq_assign_cte("bcodes", "bd", "spark")
        + ","
        + _UPSERT_TAIL.format(cells=v["cells"]).lstrip()
    )
    return sql_over(spark, sf_dir, chain, ("embeddings",))


# --- IVF index compaction (NEW r14 — VERDICT r13 ask #6) ----------------------
# Closes the ANN lifecycle: build (sim_ivf_partition_probe) -> probe ->
# upsert (sim_ivf_index_upsert) -> evaluate (sim_ivf_recall) -> COMPACT.
# The upsert deliberately defers re-clustering to "an offline compaction
# decision"; this is that decision as one deterministic query:
#  1. TRIGGER — census the post-upsert index (corpus cells ∪ batch codes)
#     and mark every cell whose occupancy exceeds its provisioned capacity
#     (here the tightest capacity, the mean cell size: n * k > total; a
#     production deployment would set a skew multiple, the algebra is
#     identical). The census is bytes-per-cell tiny at any scale.
#  2. RE-CLUSTER — only the triggered cells' vectors are touched: the
#     member list semi-joins the flat vectors through the trigger set, so
#     compaction work is proportional to the overgrown cells, never the
#     corpus. Each triggered cell splits in two by a deterministic seeded
#     Lloyd round: seeds are the cell's min/max vec_id vectors (exact
#     integer L2 assignment, tie -> lower subcell), then ONE refinement
#     round re-assigns against the exact seed-split centroids using the
#     same cross-multiplied rational argmin as PQ training (S/n kept as
#     exact integer sums — no division, no floats).
#  3. SWAP-READY CENSUS — emit the new (cell, subcell) layout with counts
#     and vec_id checksums; untouched cells pass through as subcell -1.
#     The physical swap is staging.publish_once, the same atomic-rename
#     publish _ivf_index_write_path uses — what this query
#     pins is the decision + re-assignment algebra, bit-replayable in the
#     oracle. At 100 TB: census is one tiny agg over the cell column,
#     re-clustering reads only overgrown partitions (the same
#     PartitionFilters pruning the probe path pins), and the swap is a
#     metadata rename.

# The post-upsert index (corpus cells ∪ frozen-codebook batch codes) is the
# artifact compaction operates ON — at 100 TB it is the standing
# cell-partitioned table on disk, not something re-derived per query. The
# Spark side therefore stages it once (staged_view 'ups_allcells') and the
# tail references the staged table; inlining it as a CTE instead made every
# of the tail's four references re-expand the whole batch-coding subtree
# (Spark inlines WITH blocks; DuckDB materializes multi-referenced CTEs,
# so the oracle keeps the inline union form).
_COMPACT_ALLCELLS = """
    SELECT vec_id, c FROM {cells} WHERE vec_id <> 0
    UNION ALL
    SELECT vec_id, c FROM bcodes WHERE vec_id <> 0
"""

# Trigger decision, shared text: census the index, mark cells above mean
# occupancy. Both engines keep the subquery form (OPTIMIZATION r16 —
# VERDICT r15 next-round #6): the Spark side previously collected the
# triggered cell ids to the driver and inlined them as literals, which
# serialized a separate census job before every re-cluster. As a CTE +
# semi-join the census folds INTO each consuming job (the trigger set is
# bytes per cell, broadcast by AQE), so decision + re-cluster are one job
# and no driver round-trip remains. At 100 TB the semi-join reaches a
# cell-partitioned member read as a DPP partition filter — the same
# pruning the literals bought.
_COMPACT_TRIG = """
census AS (
    SELECT c, CAST(COUNT(*) AS BIGINT) AS n FROM {ac} GROUP BY c
),
trig AS (
    SELECT c FROM census
    WHERE n * (SELECT COUNT(*) FROM census) > (SELECT SUM(n) FROM census)
)"""

# The re-cluster WORKING SET: the triggered cells' member vectors (tvec)
# and the seed-split assignment over them. Both are consumed multiple
# times by the refinement algebra (distance table, centroid recompute,
# re-assignment), and Spark inlines every CTE reference — so the Spark
# side materializes them once ('ups_tvec' / 'ups_split' staged views,
# the same session memo every multiply-consumed deterministic artifact
# uses); the oracle keeps the CTE forms (DuckDB materializes shared CTEs).
_COMPACT_TVEC = """
    SELECT ac.c, f.vec_id, f.dim, f.xq
    FROM {ac} ac
    JOIN {flat} f ON f.vec_id = ac.vec_id
    WHERE ac.c {in_trig}
"""

_COMPACT_SPLIT = """
seeds AS (
    SELECT c, MIN(vec_id) AS s0, MAX(vec_id) AS s1
    FROM {ac} WHERE c {in_trig} GROUP BY c
),
sv AS (
    SELECT s.c, CAST(0 AS INT) AS sub, f.dim, f.xq AS x
    FROM seeds s JOIN {flat} f ON f.vec_id = s.s0
    UNION ALL
    SELECT s.c, CAST(1 AS INT) AS sub, f.dim, f.xq AS x
    FROM seeds s JOIN {flat} f ON f.vec_id = s.s1
),
sd AS (
    SELECT t.c, t.vec_id, v.sub,
           CAST(SUM((t.xq - v.x) * (t.xq - v.x)) AS BIGINT) AS d
    FROM {tvec} t JOIN sv v ON v.c = t.c AND v.dim = t.dim
    GROUP BY t.c, t.vec_id, v.sub
),
seed_split AS (
    SELECT c, vec_id,
           CASE WHEN MIN(CASE WHEN sub = 1 THEN d END)
                     < MIN(CASE WHEN sub = 0 THEN d END)
                THEN 1 ELSE 0 END AS sub
    FROM sd GROUP BY c, vec_id
)"""

_COMPACT_TAIL = """
scb AS (
    SELECT sp.c, sp.sub, t.dim,
           CAST(SUM(t.xq) AS BIGINT) AS S,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM {split} sp
    JOIN {tvec} t ON t.vec_id = sp.vec_id AND t.c = sp.c
    GROUP BY sp.c, sp.sub, t.dim
),
rd AS (
    SELECT t.c, t.vec_id, b.sub,
           CAST(SUM((CAST(b.n AS DECIMAL(20,0)) * CAST(t.xq AS DECIMAL(20,0))
                     - CAST(b.S AS DECIMAL(20,0)))
                  * (CAST(b.n AS DECIMAL(20,0)) * CAST(t.xq AS DECIMAL(20,0))
                     - CAST(b.S AS DECIMAL(20,0)))) AS DECIMAL(38,0)) AS A,
           CAST(b.n AS DECIMAL(20,0)) * CAST(b.n AS DECIMAL(20,0)) AS n2
    FROM {tvec} t JOIN scb b ON b.c = t.c AND b.dim = t.dim
    GROUP BY t.c, t.vec_id, b.sub, b.n
),
refined AS (
    SELECT c, vec_id,
           CASE {ofl_when}WHEN A1 * n20 < A0 * n21 THEN 1 ELSE 0 END AS sub
    FROM (
        SELECT c, vec_id,
               MIN(CASE WHEN sub = 0 THEN A END) AS A0,
               MIN(CASE WHEN sub = 0 THEN n2 END) AS n20,
               MIN(CASE WHEN sub = 1 THEN A END) AS A1,
               MIN(CASE WHEN sub = 1 THEN n2 END) AS n21
        FROM rd GROUP BY c, vec_id
    ) p
),
newidx AS (
    SELECT c, sub, vec_id FROM refined
    UNION ALL
    SELECT c, CAST(-1 AS INT) AS sub, vec_id FROM {ac}
    WHERE NOT (c {in_trig})
)
SELECT CAST(n.c AS INT) AS cell,
       CAST(n.sub AS INT) AS subcell,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(n.vec_id) AS BIGINT) AS vid_sum,
       CAST(MIN(n.vec_id) AS BIGINT) AS min_vid
FROM newidx n
GROUP BY n.c, n.sub
ORDER BY cell, subcell
"""

# Headroom bound for the cross-multiplied rational argmin (ADVICE r14):
# the comparison A1*n20 < A0*n21 multiplies A = Σ_dim (n·x − S)² (DECIMAL
# 38,0) by n² (DECIMAL 20,0 squared). With int8-range components (|x| ≤
# 127) and D = 64 dims, A·n² ≈ D·xmax²·n⁴ stays inside DECIMAL(38,0) up
# to roughly n ≈ 1e8 members per cell — far above any sane cell capacity
# (compaction exists precisely to split cells long before that). DuckDB
# raises on decimal overflow natively; Spark's non-ANSI mode NULLs the
# product, and a NULL comparison would silently fall to subcell 0 —
# misassignment, not an error. The Spark side therefore detects
# overflow-NULL (operands non-NULL, product NULL) and raises instead.
_OFL_WHEN_SPARK = (
    "WHEN (A1 IS NOT NULL AND n20 IS NOT NULL AND A1 * n20 IS NULL)\n"
    "                  OR (A0 IS NOT NULL AND n21 IS NOT NULL AND A0 * n21 IS NULL)\n"
    "                THEN CAST(raise_error('sim_ivf_compaction: decimal "
    "overflow in refinement argmin — cell exceeds the ~1e8-member headroom "
    "bound; raise capacity or pre-split') AS INT)\n                "
)


def _compact_oracle() -> str:
    m = _UPSERT_BATCH_MOD
    coarse_cb0 = (
        "SELECT CAST(0 AS INT) AS m, dim AS d, CAST(vec_id AS INT) AS c, "
        "xq AS S, CAST(1 AS BIGINT) AS n FROM cflatc WHERE vec_id < 4"
    )
    return f"""
WITH flat AS (
    {_PQ_FLAT_DUCK}
),
cflatc AS (
    SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM flat
    WHERE vec_id % {m} <> {m - 1}
),
bflat AS (
    SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM flat
    WHERE vec_id % {m} = {m - 1}
),
ccb0 AS (
    {coarse_cb0}
),{_pq_dist_cte('cd1', 'ccb0', 'cflatc')},{_pq_assign_cte('ca1', 'cd1', 'duck')},{_pq_cb_cte_src('ccb1', 'ca1', 'cflatc')},{_pq_dist_cte('cd2', 'ccb1', 'cflatc')},{_pq_assign_cte('ca2', 'cd2', 'duck')},{_pq_cb_cte_src('ccb2', 'ca2', 'cflatc')},{_pq_dist_cte('cd3', 'ccb2', 'cflatc')},{_pq_assign_cte('cells', 'cd3', 'duck')},{_pq_dist_cte('bd', 'ccb2', 'bflat')},{_pq_assign_cte('bcodes', 'bd', 'duck')},
allcells AS (
    {_COMPACT_ALLCELLS.format(cells='cells').strip()}
),{_COMPACT_TRIG.format(ac='allcells').lstrip()},
tvec AS (
    {_COMPACT_TVEC.format(ac='allcells', flat='flat', in_trig='IN (SELECT c FROM trig)').strip()}
),{_COMPACT_SPLIT.format(ac='allcells', flat='flat', tvec='tvec', in_trig='IN (SELECT c FROM trig)').lstrip()},{_COMPACT_TAIL.format(ac='allcells', tvec='tvec', split='seed_split', in_trig='IN (SELECT c FROM trig)', ofl_when='').lstrip()}"""


def _materialize_ctes(sql: str, names: tuple[str, ...]) -> str:
    """Pin DuckDB CTE materialization for re-referenced oracle CTEs.

    DuckDB re-expands (inlines) a CTE per reference when its heuristics
    decline to materialize it, and every expansion re-runs the entire
    upstream chain — the compaction oracle referenced trig/tvec/allcells
    3-5x each, multiplying the exact-Lloyd training chain into a 197 s
    wall at sf0.001 (r15; the oracle-side twin of the Spark CTE-inlining
    trap, BENCHNOTES r14/r15). The hint is DuckDB-only syntax, applied by
    string rewrite to ORACLE text exclusively — the Spark side stages
    these artifacts as persisted views instead.
    """
    for n in names:
        # newline-anchored so a name that is a suffix of another CTE's name
        # (cells vs allcells) can never rewrite the wrong definition
        out = sql.replace(f"\n{n} AS (", f"\n{n} AS MATERIALIZED (", 1)
        assert out != sql, f"CTE {n!r} not found to materialize"
        sql = out
    return sql


@query(
    "sim_ivf_compaction",
    oracle=_materialize_ctes(
        _compact_oracle(),
        ("cflatc", "ccb2", "cells", "bcodes", "allcells", "trig", "tvec",
         "seed_split"),
    ),
    doc="IVF index compaction decision + targeted re-cluster (NEW r14 — "
    "VERDICT r13 ask #6, closing build->probe->upsert->evaluate->compact): "
    "census the post-upsert index, trigger every cell above its "
    "provisioned capacity (mean occupancy here; a production multiple is "
    "the same algebra), split ONLY the triggered cells in two by a "
    "deterministic seeded exact-integer Lloyd round (min/max-vec_id "
    "seeds, one cross-multiplied rational refinement — the PQ training "
    "argmin), and emit the swap-ready (cell, subcell) census with vec_id "
    "checksums; untouched cells pass through as subcell -1. Compaction "
    "work is proportional to the overgrown cells (the member semi-join "
    "gates every vector touch), the census is bytes per cell, and the "
    "physical swap is the existing atomic-rename publish. Trigger, "
    "split, refinement, and census replay bit-for-bit in the oracle.",
    tags=("similarity", "extension"),
)
def sim_ivf_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.staging import staged_view

    v = _upsert_staged(spark, sf_dir)
    m = _UPSERT_BATCH_MOD
    bflat = (
        f"SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM {v['flat']} "
        f"WHERE vec_id % {m} = {m - 1}"
    )
    allcells_sql = (
        f"WITH bflat AS ({bflat}),"
        + _pq_dist_cte("bd", v["ccb2"], "bflat")
        + ","
        + _pq_assign_cte("bcodes", "bd", "spark")
        + _COMPACT_ALLCELLS.format(cells=v["cells"])
    )
    allcells_v = staged_view(
        spark, sf_dir, "ups_allcells", lambda: spark.sql(allcells_sql)
    )
    # Trigger census as a CTE + semi-join in every consumer (see the
    # _COMPACT_TRIG note): no driver collect, no separate census job — the
    # decision executes inside the job that consumes it. The census itself
    # is one groupBy over the staged index (bytes per cell).
    trig_cte = "WITH " + _COMPACT_TRIG.format(ac=allcells_v).lstrip()
    in_trig = "IN (SELECT c FROM trig)"
    tvec_v = staged_view(
        spark, sf_dir, "ups_tvec",
        lambda: spark.sql(
            trig_cte
            + _COMPACT_TVEC.format(ac=allcells_v, flat=v["flat"], in_trig=in_trig)
        ),
        version="2",  # build SQL changed r16: literal trig -> semi-join
    )
    split_v = staged_view(
        spark, sf_dir, "ups_split",
        lambda: spark.sql(
            trig_cte + ","
            + _COMPACT_SPLIT.format(
                ac=allcells_v, flat=v["flat"], tvec=tvec_v, in_trig=in_trig
            ).lstrip()
            + "\nSELECT * FROM seed_split"
        ),
        version="2",  # build SQL changed r16: literal trig -> semi-join
    )
    return sql_over(
        spark, sf_dir,
        trig_cte + "," + _COMPACT_TAIL.format(
            ac=allcells_v, tvec=tvec_v, split=split_v, in_trig=in_trig,
            ofl_when=_OFL_WHEN_SPARK,
        ).lstrip(),
        ("embeddings",),
    )


# --- IVF index delete/tombstone census (NEW r15) ------------------------------
# The lifecycle step the compaction decision presupposes: DELETES. A
# production vector index does not rewrite cell files per delete — it
# writes tombstones (a tiny standing table of deleted vec_ids), masks
# them out of every probe with an anti-join, and defers the physical
# purge to compaction once a cell's tombstone fraction crosses the purge
# threshold. This query is the delete-side bookkeeping as relational
# algebra: per-cell live/tombstoned census plus the purge decision, all
# exact integers — the oracle replays training, assignment, mask, and
# decision bit-for-bit. The probe-side mask (anti-join, no index
# rewrite, no cartesian) is pinned in tests/test_plan_shapes.py.
# Deletes here are the deterministic fixture subset vec_id % 9 = 6
# (~11% of the corpus); the purge threshold is >= 1/9 of the cell, so
# per-cell binomial variation around the global rate yields BOTH
# decisions on the fixture (asserted non-vacuous in the plan test via a
# synthetic skewed census when the fixture happens to be one-sided).

_DELETE_MOD = 9  # vec_id % 9 = 6 simulates the tombstoned subset
_PURGE_NUM, _PURGE_DEN = 1, 9  # purge when tombstoned/cell >= 1/9


def _delete_census_tail(cells: str) -> str:
    m = _DELETE_MOD
    return f"""
tomb AS (
    SELECT vec_id FROM {cells} WHERE vec_id % {m} = {m - 3}
),
cens AS (
    SELECT cl.c,
           COUNT(*) AS n_before,
           SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS n_tomb
    FROM {cells} cl LEFT JOIN tomb t ON t.vec_id = cl.vec_id
    GROUP BY cl.c
)
SELECT CAST(c AS INT) AS cell,
       CAST(n_before AS BIGINT) AS n_before,
       CAST(n_tomb AS BIGINT) AS n_tombstoned,
       CAST(n_before - n_tomb AS BIGINT) AS n_live,
       (n_tomb * {_PURGE_DEN} >= n_before * {_PURGE_NUM}) AS purge_due
FROM cens
ORDER BY cell
"""


def _delete_oracle() -> str:
    coarse_cb0 = (
        "SELECT CAST(0 AS INT) AS m, dim AS d, CAST(vec_id AS INT) AS c, "
        "xq AS S, CAST(1 AS BIGINT) AS n FROM cflatc WHERE vec_id < 4"
    )
    m = _UPSERT_BATCH_MOD
    return f"""
WITH flat AS (
    {_PQ_FLAT_DUCK}
),
cflatc AS (
    SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM flat
    WHERE vec_id % {m} <> {m - 1}
),
ccb0 AS (
    {coarse_cb0}
),{_pq_dist_cte('cd1', 'ccb0', 'cflatc')},{_pq_assign_cte('ca1', 'cd1', 'duck')},{_pq_cb_cte_src('ccb1', 'ca1', 'cflatc')},{_pq_dist_cte('cd2', 'ccb1', 'cflatc')},{_pq_assign_cte('ca2', 'cd2', 'duck')},{_pq_cb_cte_src('ccb2', 'ca2', 'cflatc')},{_pq_dist_cte('cd3', 'ccb2', 'cflatc')},{_pq_assign_cte('cells', 'cd3', 'duck')},{_delete_census_tail('cells').lstrip()}"""


@query(
    "sim_ivf_delete",
    oracle=_delete_oracle(),
    doc="IVF index delete/tombstone census (NEW r15 — the lifecycle step "
    "compaction presupposes): deletes are TOMBSTONES (a standing table "
    "of deleted vec_ids, bytes per delete), every probe masks them with "
    "an anti-join (no index rewrite — pinned in tests/test_plan_shapes"
    ".py), and the physical purge is deferred to compaction via the "
    "per-cell purge decision this query emits: live/tombstoned census "
    "plus purge_due once the tombstone fraction crosses the threshold. "
    "Training, assignment, mask, and decision replay bit-for-bit in "
    "the oracle.",
    tags=("similarity", "extension"),
)
def sim_ivf_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _upsert_staged(spark, sf_dir)
    return sql_over(
        spark, sf_dir,
        "WITH " + _delete_census_tail(v["cells"]).lstrip(),
        ("embeddings",),
    )
