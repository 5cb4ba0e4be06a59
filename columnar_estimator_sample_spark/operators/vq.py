"""Vector quantization: iterative spherical k-means (Lloyd) over the
embedding table.

The IVF index (similarity.q_ann_ivf_topk) assigns vectors to FIXED coarse
centroids; real IVF training refines those centroids by iteration. This
module adds the training step as a relational plan:

  assign   : every vector goes to its max-cosine centroid
             (argmax via window rank, ties to the lower centroid id)
  update   : new centroid direction = SUM of member vectors — for cosine
             assignment the sum is equivalent to the mean (scale
             invariance), and integer sums keep the arithmetic EXACT,
             so the oracle reproduces it bit-for-bit
  repeat

``q_vq_refine`` is the oracle-checked 2-iteration unrolling (assign →
update → re-assign), entirely expressible in SQL; :func:`kmeans_fit` is
the open-ended driver loop (reference-style epoch iteration,
/root/reference/trainer.py:296-308 runs the same cached-input loop shape
for training) verified by a convergence pytest.

Exactness: embedding elements ride the integer-scaled lane of
similarity._exploded (1e-6-rounded × 1e6 as int64), so dots and norms are
exact integer/decimal sums in BOTH engines; the only floating step is the
final dot/(|a||b|) — one IEEE division of identical inputs. Iter-1
centroid norms use DECIMAL(38,0): summed components reach ~|members|·1e6,
whose square can exceed int64 (the docstring bound in _exploded covers
raw vectors only). At cluster sizes beyond ~1e6 members the production
path rescales centroid sums by member count (cosine is scale-invariant;
only int64 headroom is at stake), at the cost of leaving the exactness
contract — the registered query keeps exact sums.

Scale shape: one pass is a broadcast of K·dim centroid components joined
against the exploded vectors — O(N·K) aggregate rows, map-side partial;
no all-pairs anything. Per-iteration cost is a scan + one keyed shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from columnar_estimator_sample_spark.operators.similarity import (
    ANN_COS_T, IVF_NLIST, IVF_NPROBE, N_QUERIES, TOP_K, _SQL_EX,
    _exploded)
from columnar_estimator_sample_spark.registry import register
from columnar_estimator_sample_spark.sources.tables import (
    memo, table,
)

K = 8  # coarse cells, matching similarity.IVF_NLIST's scale


def _assign(ex: DataFrame, norms: DataFrame, cex: DataFrame,
            decimal_cnorm: bool) -> DataFrame:
    """Argmax-cosine assignment of every vector to one of the centroids
    in ``cex`` (centroid_id, i, ci). Returns (vec_id, centroid_id, cos)."""
    csq = (F.sum(F.col("ci").cast("decimal(38,0)") * F.col("ci"))
           if decimal_cnorm else F.sum(F.col("ci") * F.col("ci")))
    cnorms = cex.groupBy("centroid_id").agg(csq.alias("c_s"))
    dots = (ex.join(F.broadcast(cex), "i")
            .groupBy("vec_id", "centroid_id")
            .agg(F.sum(F.col("vi") * F.col("ci")).alias("dot_s")))
    scored = (dots.join(norms, "vec_id")
              .join(F.broadcast(cnorms), "centroid_id")
              .withColumn(
                  "cos",
                  F.col("dot_s").cast("double")
                  / (F.sqrt(F.col("n_s").cast("double"))
                     * F.sqrt(F.col("c_s").cast("double")))))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "centroid_id")
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("vec_id", "centroid_id", "cos"))


def _update(ex: DataFrame, assign: DataFrame) -> DataFrame:
    """New centroid components: per-dimension integer SUM over members."""
    return (ex.join(assign.select("vec_id", "centroid_id"), "vec_id")
            .groupBy("centroid_id", "i")
            .agg(F.sum("vi").alias("ci")))


@register(
    "q_vq_refine",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(CAST(CAST(unnest(embedding) AS DOUBLE)
                         AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vi
        FROM embeddings
    ), norms AS (
        SELECT vec_id, CAST(SUM(vi * vi) AS BIGINT) AS n_s
        FROM ex GROUP BY vec_id
    ), cex0 AS (
        SELECT vec_id AS centroid_id, i, vi AS ci FROM ex
        WHERE vec_id < {K}
    ), cn0 AS (
        SELECT centroid_id, CAST(SUM(ci * ci) AS BIGINT) AS c_s
        FROM cex0 GROUP BY centroid_id
    ), d0 AS (
        SELECT e.vec_id, c.centroid_id,
               CAST(SUM(e.vi * c.ci) AS BIGINT) AS dot_s
        FROM ex e JOIN cex0 c ON c.i = e.i
        GROUP BY 1, 2
    ), a0 AS (
        SELECT vec_id, centroid_id FROM (
            SELECT d0.vec_id, d0.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY d0.vec_id
                       ORDER BY CAST(dot_s AS DOUBLE)
                                / (sqrt(CAST(n.n_s AS DOUBLE))
                                   * sqrt(CAST(cn0.c_s AS DOUBLE))) DESC,
                                d0.centroid_id) AS rnk
            FROM d0
            JOIN norms n ON n.vec_id = d0.vec_id
            JOIN cn0 ON cn0.centroid_id = d0.centroid_id
        ) WHERE rnk = 1
    ), cex1 AS (
        SELECT a0.centroid_id, e.i, CAST(SUM(e.vi) AS BIGINT) AS ci
        FROM ex e JOIN a0 ON a0.vec_id = e.vec_id
        GROUP BY 1, 2
    ), cn1 AS (
        SELECT centroid_id,
               SUM(CAST(ci AS DECIMAL(38,0)) * ci) AS c_s
        FROM cex1 GROUP BY centroid_id
    ), d1 AS (
        SELECT e.vec_id, c.centroid_id,
               CAST(SUM(e.vi * c.ci) AS BIGINT) AS dot_s
        FROM ex e JOIN cex1 c ON c.i = e.i
        GROUP BY 1, 2
    ), a1 AS (
        SELECT vec_id, centroid_id, cos FROM (
            SELECT d1.vec_id, d1.centroid_id,
                   CAST(dot_s AS DOUBLE)
                   / (sqrt(CAST(n.n_s AS DOUBLE))
                      * sqrt(CAST(cn1.c_s AS DOUBLE))) AS cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY d1.vec_id
                       ORDER BY CAST(dot_s AS DOUBLE)
                                / (sqrt(CAST(n.n_s AS DOUBLE))
                                   * sqrt(CAST(cn1.c_s AS DOUBLE))) DESC,
                                d1.centroid_id) AS rnk
            FROM d1
            JOIN norms n ON n.vec_id = d1.vec_id
            JOIN cn1 ON cn1.centroid_id = d1.centroid_id
        ) WHERE rnk = 1
    )
    SELECT a1.centroid_id,
           COUNT(*) AS n_assigned,
           CAST(SUM(CASE WHEN a1.centroid_id <> a0.centroid_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in,
           MIN(a1.cos) AS min_cos,
           MAX(a1.cos) AS max_cos
    FROM a1 JOIN a0 ON a0.vec_id = a1.vec_id
    GROUP BY a1.centroid_id
    ORDER BY a1.centroid_id
    """,
)
def q_vq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd refinement of the IVF coarse quantizer, oracle-checked:
    assign to the {K} seed centroids (vec_id < {K}), rebuild centroids as
    member sums, re-assign, and report per-cell population, churn
    (vectors that moved in), and the cosine range after refinement.
    """
    ex = _exploded(table(spark, sf_dir, "embeddings"))
    norms = ex.groupBy("vec_id").agg(
        F.sum(F.col("vi") * F.col("vi")).alias("n_s"))
    cex0 = (ex.filter(F.col("vec_id") < K)
            .select(F.col("vec_id").alias("centroid_id"), "i",
                    F.col("vi").alias("ci")))
    a0 = _assign(ex, norms, cex0, decimal_cnorm=False)
    cex1 = _update(ex, a0)
    a1 = _assign(ex, norms, cex1, decimal_cnorm=True)
    moved = (a1.alias("a1")
             .join(a0.select("vec_id",
                             F.col("centroid_id").alias("prev")), "vec_id"))
    return (
        moved.groupBy("centroid_id")
        .agg(F.count("*").alias("n_assigned"),
             F.sum(F.when(F.col("centroid_id") != F.col("prev"), 1)
                   .otherwise(0)).cast("long").alias("n_moved_in"),
             F.min("cos").alias("min_cos"),
             F.max("cos").alias("max_cos"))
        .orderBy("centroid_id")
    )


def kmeans_fit(spark: SparkSession, sf_dir: str,
               k: int = K, n_iter: int = 5) -> tuple[DataFrame, list[float]]:
    """Open-ended spherical k-means: iterate assign/update ``n_iter``
    times over the CACHED exploded embeddings (the reference's cached
    epoch-loop shape) and return (final assignment, objective history).

    Objective = mean cosine of each vector to its centroid; spherical
    k-means ascends it monotonically (up to exact ties), which the
    convergence test pins.
    """
    ex = _exploded(table(spark, sf_dir, "embeddings")).cache()
    norms = ex.groupBy("vec_id").agg(
        F.sum(F.col("vi") * F.col("vi")).alias("n_s")).cache()
    cex = (ex.filter(F.col("vec_id") < k)
           .select(F.col("vec_id").alias("centroid_id"), "i",
                   F.col("vi").alias("ci")))
    history: list[float] = []
    assign = None
    for it in range(n_iter):
        assign = _assign(ex, norms, cex, decimal_cnorm=it > 0)
        history.append(
            assign.agg(F.avg("cos")).collect()[0][0])
        cex = _update(ex, assign)
    return assign, history


@register(
    "q_embed_quantize",
    oracle=f"""
    WITH ex AS ({_SQL_EX}
    ),
    dims AS (
        SELECT i, MIN(vi) AS min_vi, MAX(vi) AS max_vi FROM ex GROUP BY i
    ),
    q AS (
        SELECT ex.vec_id, ex.i, d.min_vi, d.max_vi,
               CASE WHEN d.max_vi = d.min_vi THEN 0
                    ELSE (2 * (ex.vi - d.min_vi) * 255
                          + (d.max_vi - d.min_vi))
                         // (2 * (d.max_vi - d.min_vi)) END AS code,
               CASE WHEN d.max_vi = d.min_vi THEN 0
                    ELSE abs((ex.vi - d.min_vi) * 255
                             - ((2 * (ex.vi - d.min_vi) * 255
                                 + (d.max_vi - d.min_vi))
                                // (2 * (d.max_vi - d.min_vi)))
                               * (d.max_vi - d.min_vi)) END AS err255
        FROM ex JOIN dims d ON ex.i = d.i
    )
    SELECT i, MIN(min_vi) AS min_vi, MIN(max_vi) AS max_vi,
           COUNT(*) AS n, MIN(code) AS min_code, MAX(code) AS max_code,
           CAST(SUM(err255) AS BIGINT) AS sum_abs_err255,
           MAX(err255) AS max_abs_err255
    FROM q
    GROUP BY i
    ORDER BY i
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 scalar quantization of the embedding table (the compression
    step before an ANN index ships to serving): per-dimension min/max
    calibration, round-half-up affine codes in [0, 255], and the exact
    reconstruction-error census per dimension.

    All arithmetic is int64 — codes via the integer round-half-up
    identity floor((2·num·255 + range) / (2·range)) and errors measured
    in 1/255-of-range units (err255 = |255·(v−min) − code·range|) — so
    Spark and DuckDB agree bit-for-bit with no float in the pipeline.

    Scale shape: one explode feeds TWO aggregates — a dim-count-row
    min/max calibration table broadcast back onto the stream, then the
    per-dim error census (map-side partial). The embedding column itself
    is never shuffled; at 100 TB the only wide exchange carries
    (i, partial-agg) rows bounded by dim × partitions.
    """
    ex = _exploded(table(spark, sf_dir, "embeddings"))
    dims = ex.groupBy("i").agg(F.min("vi").alias("min_vi"),
                               F.max("vi").alias("max_vi"))
    rng = F.col("max_vi") - F.col("min_vi")
    num = (F.col("vi") - F.col("min_vi")) * 255
    code = F.when(rng == 0, F.lit(0)).otherwise(
        F.expr("(2 * (vi - min_vi) * 255 + (max_vi - min_vi))"
               " DIV (2 * (max_vi - min_vi))"))
    q = (ex.join(F.broadcast(dims), "i")
         .withColumn("code", code)
         .withColumn("err255",
                     F.when(rng == 0, F.lit(0))
                     .otherwise(F.abs(num - F.col("code") * rng))))
    return (
        q.groupBy("i")
        .agg(F.min("min_vi").alias("min_vi"),
             F.min("max_vi").alias("max_vi"),
             F.count("*").alias("n"),
             F.min("code").alias("min_code"),
             F.max("code").alias("max_code"),
             F.sum("err255").alias("sum_abs_err255"),
             F.max("err255").alias("max_abs_err255"))
        .orderBy("i")
    )


# ---------------------------------------------------------------------------
# Per-label centroids (class prototypes)
# ---------------------------------------------------------------------------


@register(
    "q_embed_centroids",
    oracle=f"""
    WITH ex AS ({_SQL_EX}
    ),
    lab AS (SELECT vec_id, label FROM embeddings)
    SELECT CAST(label AS BIGINT) AS label, i AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(vi) AS BIGINT) AS sum_scaled,
           CAST(SUM(vi) AS BIGINT) // COUNT(*) AS centroid_scaled
    FROM ex JOIN lab USING (vec_id)
    GROUP BY label, i
    ORDER BY label, dim
    """,
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension):
    class prototypes for nearest-centroid classification / dataset
    cartography. Components ride the integer-scaled exact lane
    (1e-6-rounded × 1e6 int64 sums, floor-divided mean) so both engines
    agree bit-for-bit.

    Scale: one posexplode + one (label, dim) hash aggregate — map-side
    partials collapse the N·d exploded rows to |labels|·d output rows;
    no window, no join beyond the narrow label attach."""
    emb = table(spark, sf_dir, "embeddings")
    ex = _exploded(emb)
    lab = emb.select("vec_id", "label")
    return (
        ex.join(lab, "vec_id")
        .groupBy(F.col("label").cast("long").alias("label"),
                 F.col("i").alias("dim"))
        .agg(F.count("*").cast("long").alias("n_vecs"),
             F.sum("vi").cast("long").alias("sum_scaled"))
        .withColumn("centroid_scaled",
                    F.expr("sum_scaled DIV n_vecs"))
        .orderBy("label", "dim")
    )


# ---------------------------------------------------------------------------
# Product quantization (the PQ of IVF-PQ)
# ---------------------------------------------------------------------------

PQ_SUB = 4      # subspaces
PQ_SUBDIM = 16  # dims per subspace (4 x 16 = the 64-dim embedding)
PQ_K = 8        # codes per subspace codebook -> 4x3 = 12-bit PQ code


@register(
    "q_embed_pq",
    oracle=f"""
    WITH ex AS ({_SQL_EX}
    ), sub AS (
        SELECT vec_id, i // {PQ_SUBDIM} AS s, i % {PQ_SUBDIM} AS j, vi
        FROM ex
    ), cb AS (
        SELECT s, j, vec_id AS code, vi AS cj FROM sub
        WHERE vec_id < {PQ_K}
    ), d AS (
        SELECT v.vec_id, v.s, c.code,
               CAST(SUM((v.vi - c.cj) * (v.vi - c.cj)) AS BIGINT) AS d2
        FROM sub v JOIN cb c ON c.s = v.s AND c.j = v.j
        GROUP BY 1, 2, 3
    ), a AS (
        SELECT vec_id, s, code, d2 FROM (
            SELECT vec_id, s, code, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2, code) AS rnk
            FROM d
        ) WHERE rnk = 1
    )
    SELECT s, code, CAST(COUNT(*) AS BIGINT) AS n_assigned,
           MIN(d2) AS min_d2, MAX(d2) AS max_d2,
           CAST(CAST(SUM(d2) AS HUGEINT) // COUNT(*) AS BIGINT) AS mean_d2
    FROM a
    GROUP BY 1, 2
    ORDER BY 1, 2
    """)
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the embedding table — the PQ half of a
    FAISS-style IVF-PQ index, relationally: the 64-dim vector splits into
    {PQ_SUB} subspaces of {PQ_SUBDIM} dims, each subspace gets a
    {PQ_K}-entry codebook (seeded from the first {PQ_K} vectors'
    sub-vectors, the same deterministic convention as q_vq_refine), and
    every vector is coded by its L2-nearest codeword per subspace —
    compressing 64 floats to {PQ_SUB} x 3 bits. Reports the codebook
    utilization census: per (subspace, code) population and the exact
    integer squared-L2 distortion (min/max/mean).

    Scale: codewords are PQ_SUB*PQ_SUBDIM*PQ_K = 512 rows, broadcast;
    distances are one grouped integer aggregate over the exploded lane
    (O(N * dim * K) fan-in rows, map-side partials, no all-pairs);
    argmin is a (vec_id, subspace)-windowed rank; the report is a
    32-row aggregate. Distortion sums ride HUGEINT/DECIMAL before the
    integer-division mean, so no overflow at any corpus size. All-integer
    -> the DuckDB oracle reproduces every code and distortion bit for
    bit. In production the (vec_id, s, code) table IS the compressed
    index: asymmetric distance computation (query-to-codeword lookup
    tables) turns top-k search into {PQ_SUB} integer array lookups per
    candidate."""
    ex = _exploded(table(spark, sf_dir, "embeddings"))
    sub = ex.select("vec_id",
                    F.expr(f"i div {PQ_SUBDIM}").alias("s"),
                    (F.col("i") % PQ_SUBDIM).alias("j"), "vi")
    cb = (sub.filter(F.col("vec_id") < PQ_K)
          .select("s", "j", F.col("vec_id").alias("code"),
                  F.col("vi").alias("cj")))
    d = (sub.join(F.broadcast(cb), ["s", "j"])
         .groupBy("vec_id", "s", "code")
         .agg(F.sum((F.col("vi") - F.col("cj"))
                    * (F.col("vi") - F.col("cj")))
              .cast("long").alias("d2")))
    w = Window.partitionBy("vec_id", "s").orderBy("d2", "code")
    a = (d.withColumn("rnk", F.row_number().over(w))
         .filter(F.col("rnk") == 1))
    return (a.groupBy("s", "code")
            .agg(F.count("*").alias("n_assigned"),
                 F.min("d2").alias("min_d2"),
                 F.max("d2").alias("max_d2"),
                 F.expr("CAST(SUM(CAST(d2 AS DECIMAL(38,0)))"
                        " div COUNT(*) AS BIGINT)").alias("mean_d2"))
            .orderBy("s", "code"))


PQ_TOPK = 5
PQ_NQ = 5  # vec_id < PQ_NQ are the query vectors (similarity.N_QUERIES)


@register(
    "q_pq_adc_topk",
    oracle=f"""
    WITH ex AS ({_SQL_EX}
    ), sub AS (
        SELECT vec_id, i // {PQ_SUBDIM} AS s, i % {PQ_SUBDIM} AS j, vi
        FROM ex
    ), cb AS (
        SELECT s, j, vec_id AS code, vi AS cj FROM sub
        WHERE vec_id < {PQ_K}
    ), d AS (
        SELECT v.vec_id, v.s, c.code,
               CAST(SUM((v.vi - c.cj) * (v.vi - c.cj)) AS BIGINT) AS d2
        FROM sub v JOIN cb c ON c.s = v.s AND c.j = v.j
        GROUP BY 1, 2, 3
    ), codes AS (
        SELECT vec_id, s, code FROM (
            SELECT vec_id, s, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2, code) AS rnk
            FROM d
        ) WHERE rnk = 1
    ), dtab AS (
        SELECT q.vec_id AS query_id, q.s, c.code,
               CAST(SUM((q.vi - c.cj) * (q.vi - c.cj)) AS BIGINT) AS d2
        FROM sub q JOIN cb c ON c.s = q.s AND c.j = q.j
        WHERE q.vec_id < {PQ_NQ}
        GROUP BY 1, 2, 3
    ), adc AS (
        SELECT t.query_id, v.vec_id AS neighbor_id,
               CAST(SUM(t.d2) AS BIGINT) AS adc_d2
        FROM codes v JOIN dtab t ON t.s = v.s AND t.code = v.code
        WHERE v.vec_id <> t.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_d2, rank FROM (
        SELECT query_id, neighbor_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_d2, neighbor_id) AS rank
        FROM adc
    ) WHERE rank <= {PQ_TOPK}
    ORDER BY query_id, rank
    """)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-k over the PQ index: the search half of
    IVF-PQ. Each query keeps its EXACT sub-vectors and precomputes a
    distance table to the {PQ_K} codewords per subspace ({PQ_SUB} x
    {PQ_K} integers per query); every database vector's approximate
    distance is then the SUM of {PQ_SUB} table lookups on its stored
    codes — no touch of the original vectors at scan time, which is the
    whole point of PQ at 100 TB (the index is 12 bits/vector).

    Scale: the distance tables are |Q| x {PQ_SUB} x {PQ_K} rows,
    broadcast; scoring joins the codes table (N x {PQ_SUB} rows) to the
    broadcast tables and hash-aggregates to N x |Q| candidate rows with
    map-side partials. The final per-query window is the same |Q|-bounded
    top-k shape as q_similarity_topk (per-partition partial top-k is the
    production variant). All-integer L2^2 arithmetic -> the DuckDB oracle
    reproduces codes, tables, and ranking bit for bit."""
    ex = _exploded(table(spark, sf_dir, "embeddings"))
    sub = ex.select("vec_id",
                    F.expr(f"i div {PQ_SUBDIM}").alias("s"),
                    (F.col("i") % PQ_SUBDIM).alias("j"), "vi")
    cb = (sub.filter(F.col("vec_id") < PQ_K)
          .select("s", "j", F.col("vec_id").alias("code"),
                  F.col("vi").alias("cj")))
    d2 = F.sum((F.col("vi") - F.col("cj"))
               * (F.col("vi") - F.col("cj"))).cast("long").alias("d2")
    d = (sub.join(F.broadcast(cb), ["s", "j"])
         .groupBy("vec_id", "s", "code").agg(d2))
    w_code = Window.partitionBy("vec_id", "s").orderBy("d2", "code")
    codes = (d.withColumn("rnk", F.row_number().over(w_code))
             .filter(F.col("rnk") == 1).select("vec_id", "s", "code"))
    dtab = (sub.filter(F.col("vec_id") < PQ_NQ)
            .join(F.broadcast(cb), ["s", "j"])
            .groupBy(F.col("vec_id").alias("query_id"), "s", "code")
            .agg(d2))
    adc = (codes.join(F.broadcast(dtab), ["s", "code"])
           .filter(F.col("vec_id") != F.col("query_id"))
           .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
           .agg(F.sum("d2").cast("long").alias("adc_d2")))
    w_q = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (adc.withColumn("rank", F.row_number().over(w_q))
            .filter(F.col("rank") <= PQ_TOPK)
            .orderBy("query_id", "rank"))


# ---------------------------------------------------------------------------
# SemDeDup: semantic deduplication via cluster-blocked cosine pruning
# ---------------------------------------------------------------------------

# pair-similarity threshold — MUST equal ANN_COS_T: the shared gather
# scorer (similarity.score_candidates_gather) filters at ANN_COS_T, and
# the oracle embeds this literal
SEM_T = ANN_COS_T


# The SemDeDup oracle chain up to ``pruned`` (per-vector cross-pair
# prune verdicts over the UNCONTRACTED corpus) — shared by the census
# oracle and the r13 apply-face oracle.
_SEMDEDUP_ORACLE_CTES = f"""ex AS ({_SQL_EX}
    ), norms AS (
        SELECT vec_id, CAST(SUM(vi * vi) AS BIGINT) AS n_s
        FROM ex GROUP BY vec_id
    ), cex AS (
        SELECT vec_id AS centroid_id, i, vi AS ci FROM ex
        WHERE vec_id < {K}
    ), cn AS (
        SELECT centroid_id, CAST(SUM(ci * ci) AS BIGINT) AS c_s
        FROM cex GROUP BY centroid_id
    ), d AS (
        SELECT e.vec_id, c.centroid_id,
               CAST(SUM(e.vi * c.ci) AS BIGINT) AS dot_s
        FROM ex e JOIN cex c ON c.i = e.i
        GROUP BY 1, 2
    ), mem AS (
        SELECT vec_id, centroid_id, cos FROM (
            SELECT d.vec_id, d.centroid_id,
                   CAST(dot_s AS DOUBLE)
                   / (sqrt(CAST(n.n_s AS DOUBLE))
                      * sqrt(CAST(cn.c_s AS DOUBLE))) AS cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY CAST(dot_s AS DOUBLE)
                                / (sqrt(CAST(n.n_s AS DOUBLE))
                                   * sqrt(CAST(cn.c_s AS DOUBLE))) DESC,
                                d.centroid_id) AS rnk
            FROM d
            JOIN norms n ON n.vec_id = d.vec_id
            JOIN cn ON cn.centroid_id = d.centroid_id
        ) WHERE rnk = 1
    ), pe AS (
        SELECT m.centroid_id, e.vec_id, e.i, e.vi
        FROM ex e JOIN mem m ON m.vec_id = e.vec_id
    ), pd AS (
        SELECT a.centroid_id, a.vec_id AS va, b.vec_id AS vb,
               CAST(SUM(a.vi * b.vi) AS BIGINT) AS dot_s
        FROM pe a JOIN pe b
          ON a.centroid_id = b.centroid_id AND a.i = b.i
             AND a.vec_id < b.vec_id
        GROUP BY 1, 2, 3
    ), pairs AS (
        SELECT pd.centroid_id, va, vb
        FROM pd
        JOIN norms na ON na.vec_id = pd.va
        JOIN norms nb ON nb.vec_id = pd.vb
        WHERE CAST(dot_s AS DOUBLE)
              / (sqrt(CAST(na.n_s AS DOUBLE))
                 * sqrt(CAST(nb.n_s AS DOUBLE))) >= {SEM_T}
    ), pruned AS (
        SELECT DISTINCT p.centroid_id,
               CASE WHEN ma.cos > mb.cos THEN p.va ELSE p.vb END AS pv
        FROM pairs p
        JOIN mem ma ON ma.vec_id = p.va
        JOIN mem mb ON mb.vec_id = p.vb
    )"""


@register(
    "q_semdedup",
    oracle=f"""
    WITH {_SEMDEDUP_ORACLE_CTES}, mc AS (
        SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM mem GROUP BY centroid_id
    ), pc AS (
        SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
        FROM pairs GROUP BY centroid_id
    ), rc AS (
        SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_pruned
        FROM pruned GROUP BY centroid_id
    )
    SELECT mc.centroid_id, mc.n_members,
           CAST(COALESCE(pc.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(rc.n_pruned, 0) AS BIGINT) AS n_pruned,
           mc.n_members - CAST(COALESCE(rc.n_pruned, 0) AS BIGINT)
               AS n_kept
    FROM mc
    LEFT JOIN pc ON pc.centroid_id = mc.centroid_id
    LEFT JOIN rc ON rc.centroid_id = mc.centroid_id
    ORDER BY mc.centroid_id
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication with the pair search BLOCKED by coarse k-means cells —
    assign every embedding to its max-cosine cell (the {K} seed
    centroids, same argmax/tie-break as q_vq_refine's iteration 0), score
    cosine only WITHIN a cell, and for each pair above the threshold
    prune the member that sits CLOSER to the centroid (the paper keeps
    the lowest-centroid-similarity member of each duplicate group to
    preserve diversity; ties prune the higher vec_id). Output is the
    per-cell census: members, duplicate pairs, pruned and kept counts.

    Scale: this is the published answer to embedding dedup at 100 TB —
    the quadratic pair search runs per-cell (O(Σ cᵢ²), bounded by the
    cell-size cap a production K enforces), the cell assignment is one
    broadcast join + argmax, and every aggregate is map-side partial.
    The LSH tier (q_dedup_embedding_lsh) bands globally; SemDeDup blocks
    semantically, which the paper shows prunes MORE redundancy at the
    same budget. Integer-scaled exact dots (see similarity._exploded)
    keep both engines bit-identical through the cosine division.
    """
    return semdedup_census(table(spark, sf_dir, "embeddings"))


def _semdedup_frames(emb: DataFrame):
    """(groups, mem, pairs): the shared SemDeDup computation both the
    census and the apply face consume — exact-dup contraction, cell
    assignment (lazily checkpointed; it feeds five consumers), and the
    threshold-filtered within-cell pair frame carrying the member
    multiplicities. See :func:`semdedup_census` for the contraction
    semantics and precondition."""
    from columnar_estimator_sample_spark.operators.dedup import (
        contract_exact_dups,
    )
    from columnar_estimator_sample_spark.operators.similarity import (
        score_candidates_gather,
    )

    # shared contraction contract; null-preserving to_json fingerprint
    # (see q_dedup_embedding_lsh) — conservative: raw-identical arrays
    # contract, 1e-6-rounding near-equals are left to the scorer
    members, reps = contract_exact_dups(
        emb.select("vec_id", "embedding"), "vec_id", "embedding",
        fp=F.md5(F.to_json(F.struct(F.col("embedding")))))
    groups = (members.filter(F.col("vec_id") == F.col("gid"))
              .select("vec_id", F.col("gsz").cast("long").alias("m")))

    ex = _exploded(reps)
    # assert_true is NULL when the guard holds (keeping every row) and
    # raises on a zero-norm vector — the contraction precondition,
    # enforced in-plan with no extra job.
    norms = (ex.groupBy("vec_id")
             .agg(F.sum(F.col("vi") * F.col("vi")).alias("n_s"))
             .filter(F.assert_true(
                 F.col("n_s") > 0,
                 "semdedup contraction requires non-zero embedding norms"
             ).isNull()))
    # seeds stay the ORIGINAL vec_id < K vectors (spec), dup or not
    cex = (_exploded(emb.filter(F.col("vec_id") < K))
           .select(F.col("vec_id").alias("centroid_id"), "i",
                   F.col("vi").alias("ci")))
    # the argmax assignment feeds FIVE consumers (pair gather, both
    # centroid-cos sides of the prune rule, the member census) — lazily
    # checkpoint it once (cluster: checkpoint() to the cluster FS) so the
    # broadcast-join/argmax subtree runs once, not per reference
    mem = (_assign(ex, norms, cex, decimal_cnorm=False)
           .localCheckpoint(eager=False))

    # within-cell candidate pairs: one self-join on the cell id emits
    # |cell|²/2 narrow (vec_a, vec_b) rows; the gather scorer joins the
    # packed vectors on id (well-distributed keys) and einsums per batch
    ma = mem.select("centroid_id", F.col("vec_id").alias("vec_a"))
    mb = mem.select("centroid_id", F.col("vec_id").alias("vec_b"))
    cand = (ma.join(mb, "centroid_id")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b"))
    scored = score_candidates_gather(cand, reps)  # keeps cos >= SEM_T
    ga = groups.select(F.col("vec_id").alias("va"),
                       F.col("m").alias("m_a"))
    gb = groups.select(F.col("vec_id").alias("vb"),
                       F.col("m").alias("m_b"))
    cell_of = mem.select(F.col("vec_id").alias("va"), "centroid_id")
    pairs = (scored.select(F.col("vec_a").alias("va"),
                           F.col("vec_b").alias("vb"))
             .join(cell_of, "va")
             .join(ga, "va")
             .join(gb, "vb")
             .select("centroid_id", "va", "vb", "m_a", "m_b")
             .localCheckpoint(eager=False))
    return groups, mem, pairs


def semdedup_census(emb: DataFrame) -> DataFrame:
    """Core SemDeDup census over an (vec_id, embedding, ...) frame, with
    EXACT-DUP CONTRACTION (the engine's standard move for replicated
    corpora, cf. operators/dedup.contract_exact_dups): identical payloads
    collapse to their min-id representative before assignment/scoring,
    and the census re-expands in closed form —

      * identical vectors share every cosine, so a group lands in ONE
        cell and its members pair with each other at cos 1.0 >= SEM_T:
        within-group dup pairs = C(m, 2), within-group pruned = m - 1
        (every member pair ties on centroid-cos, pruning the higher id,
        so the survivor is the min id = the representative);
      * a scored rep pair (g, h) expands to m_g * m_h member pairs, all
        with the SAME cosines — if c_g > c_h every member of g is pruned
        (its rep already counts the non-rep members via m - 1, so only
        the rep flips from kept to pruned: +1); ties (c_g == c_h)
        prune the higher-gid rep, exactly the member-level rule applied
        to the reps (gid_h < u for every u in g iff gid_h < gid_g).

    So n_pruned(cell) = Σ(m - 1) + |cross-pruned reps| — bit-identical
    to the member-level spec the DuckDB oracle computes exhaustively
    (certified at sf0.01 where the table happens to be dup-free, and by
    the duplicated-fixture unit test where it isn't).

    PRECONDITION (enforced): every embedding has a non-zero norm. The
    contraction's closed form assumes identical vectors pair at
    cos 1.0 >= SEM_T, but an all-zero group has NaN cosine — the
    relational spec (and the DuckDB oracle) counts NO pairs for it,
    so the closed form would silently diverge. A plan-side
    ``assert_true(n_s > 0)`` guard fails the job loudly if a zero
    vector ever enters the corpus instead of producing a wrong census.

    Pair scoring rides :func:`similarity.score_candidates_gather` (the
    LSH tier's distributed join-gather + Arrow int64 einsum, bit-
    identical to the relational form and already threshold-filtered at
    ANN_COS_T == SEM_T): the within-cell candidate self-join emits
    |cell|²/2 NARROW id pairs, where the previous (cell, dim)-keyed
    explode-join shuffled 64× that many rows through a 512-key SMJ —
    measured 5.1 s → 0.6 s on the scoring stage at sf0.1."""
    groups, mem, pairs = _semdedup_frames(emb)

    # NOTE: ca/cb are one row per DISTINCT vector (the whole mem frame) —
    # broadcasting them would ship the full corpus to every executor at
    # scale. pairs is post-threshold and id-keyed, so the shuffled
    # (sort-merge / shuffle-hash) join is cheap and scale-safe.
    #
    # r15 (guide §2.4): the cross-pair census and the pruned-rep census
    # were TWO aggregation pipelines over the same pairs frame (one of
    # them through a distinct + regroup). The centroid-cos joins are
    # needed for the prune rule anyway, so ONE aggregation computes both:
    # n_cross_pairs = SUM(m_a*m_b) (the joins are 1:1 on vec_id, so the
    # sum is unchanged) and n_rep_pruned = COUNT(DISTINCT pv) — exactly
    # the old distinct-then-count, folded.
    ca = mem.select(F.col("vec_id").alias("va"), F.col("cos").alias("ca"))
    cb = mem.select(F.col("vec_id").alias("vb"), F.col("cos").alias("cb"))
    pcc = (pairs.join(ca, "va")
           .join(cb, "vb")
           .groupBy("centroid_id")
           .agg(F.expr("CAST(SUM(m_a * m_b) AS BIGINT)")
                .alias("n_cross_pairs"),
                F.count_distinct(
                    F.when(F.col("ca") > F.col("cb"), F.col("va"))
                    .otherwise(F.col("vb")))
                .cast("long").alias("n_rep_pruned")))

    mc = (mem.join(groups, "vec_id")
          .groupBy("centroid_id")
          .agg(F.sum("m").cast("long").alias("n_members"),
               F.expr("CAST(SUM(m * (m - 1) DIV 2) AS BIGINT)")
               .alias("n_within_pairs"),
               F.expr("CAST(SUM(m - 1) AS BIGINT)").alias("n_base_pruned")))
    return (
        mc.join(pcc, "centroid_id", "left")
        .select(
            "centroid_id", "n_members",
            (F.col("n_within_pairs")
             + F.coalesce("n_cross_pairs", F.lit(0))).cast("long")
            .alias("n_dup_pairs"),
            (F.col("n_base_pruned")
             + F.coalesce("n_rep_pruned", F.lit(0))).cast("long")
            .alias("n_pruned"))
        .withColumn("n_kept",
                    (F.col("n_members") - F.col("n_pruned")).cast("long"))
        .orderBy("centroid_id")
    )


# Membership-checksum modulus for the apply face: h64 values are 60-bit,
# so summing them raw would overflow int64 past ~8 vectors; reducing mod
# a prime first keeps SUM exact to ~9·10^12 kept vectors while still
# pinning the exact kept SET through the value hash (a different set
# collides with probability ~1/prime per cell).
SEM_APPLY_MOD = 1_000_003


@register(
    "q_semdedup_apply",
    oracle=None,  # attached below (shares the census oracle CTEs)
)
def q_semdedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup APPLIED — the kept set itself, certified: the survivors
    of the cluster-blocked cosine pruning (exact-dup groups keep their
    min-id member; a cross-pair prunes the member closer to the
    centroid) reported per cell as count, id range, and a membership
    CHECKSUM (Σ h64(vec_id) mod {SEM_APPLY_MOD}) — so the driver's
    value hash pins WHICH vectors survive, not just how many (the
    census's n_kept). This is the diagnose→apply completion for the
    semantic family, matching q_dedup_apply (MinHash clusters) and
    q_contamination_apply.

    Scale: shares :func:`_semdedup_frames` (contraction, checkpointed
    assignment, blocked pair scoring — O(Σ cᵢ²) on distinct content);
    the kept frame is one anti-join of reps against the pruned set and
    the output is K cells wide. Kept members beyond the rep never
    exist by construction (identical vectors keep exactly their min
    id), so reps-minus-pruned IS the member-level kept set."""
    return semdedup_kept_census(table(spark, sf_dir, "embeddings"))


def semdedup_kept(emb: DataFrame) -> DataFrame:
    """(centroid_id, vec_id) — the surviving vectors of the SemDeDup
    prune over ``emb`` (reps anti-joined against the pruned set; see
    q_semdedup_apply's docstring for why that equals the member-level
    kept set)."""
    groups, mem, pairs = _semdedup_frames(emb)
    ca = mem.select(F.col("vec_id").alias("va"), F.col("cos").alias("ca"))
    cb = mem.select(F.col("vec_id").alias("vb"), F.col("cos").alias("cb"))
    pv = (pairs.join(ca, "va").join(cb, "vb")
          .select(F.when(F.col("ca") > F.col("cb"), F.col("va"))
                  .otherwise(F.col("vb")).alias("vec_id"))
          .distinct())
    return (mem.join(pv, "vec_id", "left_anti")
            .select("centroid_id", "vec_id"))


def semdedup_kept_census(emb: DataFrame) -> DataFrame:
    from columnar_estimator_sample_spark.functions.hashing import h64
    kept = semdedup_kept(emb)
    return (kept.groupBy("centroid_id")
            .agg(F.count("*").cast("long").alias("n_kept"),
                 F.min("vec_id").cast("long").alias("min_kept"),
                 F.max("vec_id").cast("long").alias("max_kept"),
                 F.sum(h64(F.col("vec_id").cast("string"))
                       % SEM_APPLY_MOD)
                 .cast("long").alias("kept_checksum"))
            .orderBy("centroid_id"))


def _semdedup_apply_oracle() -> str:
    from columnar_estimator_sample_spark.functions.hashing import sql_h64
    return f"""
    WITH {_SEMDEDUP_ORACLE_CTES}, kept AS (
        SELECT m.centroid_id, m.vec_id
        FROM mem m
        WHERE m.vec_id NOT IN (SELECT pv FROM pruned)
    )
    SELECT centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MIN(vec_id) AS BIGINT) AS min_kept,
           CAST(MAX(vec_id) AS BIGINT) AS max_kept,
           CAST(SUM({sql_h64("CAST(vec_id AS VARCHAR)")}
                    % {SEM_APPLY_MOD}) AS BIGINT) AS kept_checksum
    FROM kept
    GROUP BY centroid_id
    ORDER BY centroid_id
    """


from columnar_estimator_sample_spark import registry as _vq_registry  # noqa: E402
_vq_registry._ORACLES["q_semdedup_apply"] = _semdedup_apply_oracle()


# ---------------------------------------------------------------------------
# IVF-PQ composed end-to-end: coarse probe -> ADC scoring (round 8)
# ---------------------------------------------------------------------------


def _exact_topk_hits(spark: SparkSession, sf_dir: str,
                     ex: DataFrame, norms: DataFrame) -> DataFrame:
    """Brute-force exact-cosine top-{TOP_K} per query vector, as a
    (query_id, neighbor_id, hit=1) flag frame — the recall-truth lane
    shared by the IVF-PQ census queries. The |Q| query vectors broadcast
    against the corpus: O(N · dim · |Q|) map-side rows, no shuffled
    self-join; a fixed audit cost that certifies ADC quality in the same
    driver-hashed row as the ranking itself. Checkpointed + memoized
    per (session, sf_dir) — the truth table is written once.

    The recall-truth frame and the PQ code tables are per-session
    INDEX/AUDIT artifacts (at 100 TB: the written ground-truth table and
    the stored code lists) — before r12 every PQ census pass recomputed
    the corpus-wide code-assignment window and the O(N · dim · |Q|)
    exact lane, which dominated the family's 100x numbers after the
    probe itself went list-local."""
    def build() -> DataFrame:
        qv = (ex.filter(F.col("vec_id") < N_QUERIES)
              .select(F.col("vec_id").alias("query_id"), "i",
                      F.col("vi").alias("qv")))
        edots = (ex.select(F.col("vec_id").alias("neighbor_id"), "i",
                           F.col("vi").alias("dv"))
                 .join(F.broadcast(qv), "i")
                 .filter(F.col("neighbor_id") != F.col("query_id"))
                 .groupBy("query_id", "neighbor_id")
                 .agg(F.sum(F.col("qv") * F.col("dv")).alias("dot_s")))
        nq = norms.select(F.col("vec_id").alias("query_id"),
                          F.col("n_s").alias("nq_s"))
        nd = norms.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("n_s").alias("nd_s"))
        w_e = Window.partitionBy("query_id").orderBy(
            (F.col("dot_s").cast("double")
             / (F.sqrt(F.col("nq_s").cast("double"))
                * F.sqrt(F.col("nd_s").cast("double")))).desc(),
            F.asc("neighbor_id"))
        return (edots.join(F.broadcast(nq), "query_id")
                .join(F.broadcast(nd), "neighbor_id")
                .withColumn("erank", F.row_number().over(w_e))
                .filter(F.col("erank") <= TOP_K)
                .select("query_id", "neighbor_id",
                        F.lit(1).cast("long").alias("hit"))
                .localCheckpoint(eager=False))
    return memo(spark, ("exact_hits", sf_dir), build)


@register(
    "q_ann_ivf_pq_topk",
    oracle=f"""
    WITH ex AS ({_SQL_EX}
    ), norms AS (
        SELECT vec_id, CAST(SUM(vi * vi) AS BIGINT) AS n_s
        FROM ex GROUP BY vec_id
    ), cex AS (
        SELECT vec_id AS centroid_id, i, vi AS ci
        FROM ex WHERE vec_id < {IVF_NLIST}
    ), vc AS (
        SELECT e.vec_id, c.centroid_id,
               CAST(SUM(e.vi * c.ci) AS BIGINT) AS dot_s
        FROM ex e JOIN cex c ON c.i = e.i
        GROUP BY 1, 2
    ), cranked AS (
        SELECT vc.vec_id, vc.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY vc.vec_id
                   ORDER BY CAST(dot_s AS DOUBLE)
                            / (sqrt(CAST(nv.n_s AS DOUBLE))
                               * sqrt(CAST(nc.n_s AS DOUBLE))) DESC,
                            vc.centroid_id) AS rnk
        FROM vc
        JOIN norms nv ON nv.vec_id = vc.vec_id
        JOIN norms nc ON nc.vec_id = vc.centroid_id
    ), assign AS (
        SELECT vec_id, centroid_id FROM cranked WHERE rnk = 1
    ), probes AS (
        SELECT vec_id AS query_id, centroid_id
        FROM cranked WHERE vec_id < {N_QUERIES} AND rnk <= {IVF_NPROBE}
    ), cand AS (
        SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
        WHERE a.vec_id <> p.query_id
    ), sub AS (
        SELECT vec_id, i // {PQ_SUBDIM} AS s, i % {PQ_SUBDIM} AS j, vi
        FROM ex
    ), cb AS (
        SELECT s, j, vec_id AS code, vi AS cj FROM sub
        WHERE vec_id < {PQ_K}
    ), d AS (
        SELECT v.vec_id, v.s, c.code,
               CAST(SUM((v.vi - c.cj) * (v.vi - c.cj)) AS BIGINT) AS d2
        FROM sub v JOIN cb c ON c.s = v.s AND c.j = v.j
        GROUP BY 1, 2, 3
    ), codes AS (
        SELECT vec_id, s, code FROM (
            SELECT vec_id, s, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2, code) AS rnk
            FROM d
        ) WHERE rnk = 1
    ), dtab AS (
        SELECT q.vec_id AS query_id, q.s, c.code,
               CAST(SUM((q.vi - c.cj) * (q.vi - c.cj)) AS BIGINT) AS d2
        FROM sub q JOIN cb c ON c.s = q.s AND c.j = q.j
        WHERE q.vec_id < {N_QUERIES}
        GROUP BY 1, 2, 3
    ), adc AS (
        SELECT cd.query_id, cd.neighbor_id,
               CAST(SUM(t.d2) AS BIGINT) AS adc_d2
        FROM cand cd
        JOIN codes v ON v.vec_id = cd.neighbor_id
        JOIN dtab t ON t.query_id = cd.query_id
                   AND t.s = v.s AND t.code = v.code
        GROUP BY 1, 2
    ), topk AS (
        SELECT query_id, neighbor_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_d2, neighbor_id) AS rank
        FROM adc
    ), edots AS (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               CAST(SUM(q.vi * d.vi) AS BIGINT) AS dot_s
        FROM ex q JOIN ex d ON d.i = q.i AND d.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
        GROUP BY 1, 2
    ), exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY CAST(dot_s AS DOUBLE)
                                / (sqrt(CAST(nq.n_s AS DOUBLE))
                                   * sqrt(CAST(nd.n_s AS DOUBLE))) DESC,
                                neighbor_id) AS rank
            FROM edots
            JOIN norms nq ON nq.vec_id = edots.query_id
            JOIN norms nd ON nd.vec_id = edots.neighbor_id
        ) WHERE rank <= {TOP_K}
    )
    SELECT t.query_id, t.rank, t.neighbor_id, t.adc_d2,
           CAST(CASE WHEN e.neighbor_id IS NULL THEN 0 ELSE 1 END
                AS BIGINT) AS in_exact
    FROM topk t
    LEFT JOIN exact e ON e.query_id = t.query_id
                     AND e.neighbor_id = t.neighbor_id
    WHERE t.rank <= {TOP_K}
    ORDER BY t.query_id, t.rank
    """,
)
def q_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed end-to-end — the actual FAISS-at-100 TB layout:
    the coarse IVF probe (q_ann_ivf_topk's cell machinery) restricts
    each query to its {IVF_NPROBE} nearest cells' members, and the
    candidates are scored by PQ asymmetric distance (q_pq_adc_topk's
    broadcast distance tables over the stored {PQ_SUB}x{PQ_K} codes) —
    the original vectors are never touched at scan time. Each returned
    neighbor carries an ``in_exact`` recall flag against the
    brute-force exact-cosine top-k lane, so the census certifies probe,
    codes, ADC ranking, AND the recall measurement in one hash. (PQ
    here codes raw vectors, not IVF residuals — the residual refinement
    is a documented delta from FAISS, orthogonal to the composition.)

    Scale: assignment/probe as in q_ann_ivf_topk (bucketed-by-cell
    index at 100 TB prunes partitions); ADC joins the candidate list to
    the N x {PQ_SUB} codes and a broadcast |Q| x {PQ_SUB} x {PQ_K}
    table — candidate volume is probe-bounded, never O(N) per query;
    the exact lane exists for recall truth and stays |Q|-bounded via a
    broadcast of the {N_QUERIES} query vectors."""
    from columnar_estimator_sample_spark.operators.similarity import (
        IVF_NPROBE, N_QUERIES, TOP_K, _ivf_cells,
    )
    ranked, norms, ex = _ivf_cells(spark, sf_dir)
    assign = (ranked.filter(F.col("rnk") == 1)
              .select("vec_id", "centroid_id"))
    probes = (ranked.filter((F.col("vec_id") < N_QUERIES)
                            & (F.col("rnk") <= IVF_NPROBE))
              .select(F.col("vec_id").alias("query_id"), "centroid_id"))
    cand = (probes.join(assign, "centroid_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
            .dropDuplicates(["query_id", "neighbor_id"]))

    sub = ex.select("vec_id",
                    F.expr(f"i div {PQ_SUBDIM}").alias("s"),
                    (F.col("i") % PQ_SUBDIM).alias("j"), "vi")
    cb = (sub.filter(F.col("vec_id") < PQ_K)
          .select("s", "j", F.col("vec_id").alias("code"),
                  F.col("vi").alias("cj")))
    d2 = F.sum((F.col("vi") - F.col("cj"))
               * (F.col("vi") - F.col("cj"))).cast("long").alias("d2")
    def build_codes() -> DataFrame:
        # the stored code list — argmin per (vector, subspace) via a
        # map-side-combinable min_by (no N*M*K window sort), written
        # once per session like the inverted file it belongs to.
        # Precondition: d2 is a sum of squares over non-NULL quantized
        # components (no division), so the struct head is never NULL —
        # unlike the cosine argmaxes in similarity.py, no coalesce is
        # needed for window-parity here
        d = (sub.join(F.broadcast(cb), ["s", "j"])
             .groupBy("vec_id", "s", "code").agg(d2))
        return (d.groupBy("vec_id", "s")
                .agg(F.min_by("code", F.struct("d2", "code"))
                     .alias("code"))
                .select(F.col("vec_id").alias("neighbor_id"), "s",
                        "code")
                .localCheckpoint(eager=False))
    codes = memo(spark, ("pq_codes", sf_dir, "raw"), build_codes)
    dtab = (sub.filter(F.col("vec_id") < N_QUERIES)
            .join(F.broadcast(cb), ["s", "j"])
            .groupBy(F.col("vec_id").alias("query_id"), "s", "code")
            .agg(d2))
    adc = (cand.join(codes, "neighbor_id")
           .join(F.broadcast(dtab), ["query_id", "s", "code"])
           .groupBy("query_id", "neighbor_id")
           .agg(F.sum("d2").cast("long").alias("adc_d2")))
    w_q = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    topk = (adc.withColumn("rank", F.row_number().over(w_q))
            .filter(F.col("rank") <= TOP_K))

    # exact recall lane: see _exact_topk_hits (shared with the residual
    # census)
    exact = _exact_topk_hits(spark, sf_dir, ex, norms)
    return (topk.join(exact, ["query_id", "neighbor_id"], "left")
            .select("query_id", "rank", "neighbor_id", "adc_d2",
                    F.coalesce("hit", F.lit(0)).cast("long")
                    .alias("in_exact"))
            .orderBy("query_id", "rank"))


@register(
    "q_ann_ivf_pq_residual",
    oracle=f"""
    WITH ex AS ({_SQL_EX}
    ), norms AS (
        SELECT vec_id, CAST(SUM(vi * vi) AS BIGINT) AS n_s
        FROM ex GROUP BY vec_id
    ), cex AS (
        SELECT vec_id AS centroid_id, i, vi AS ci
        FROM ex WHERE vec_id < {IVF_NLIST}
    ), vc AS (
        SELECT e.vec_id, c.centroid_id,
               CAST(SUM(e.vi * c.ci) AS BIGINT) AS dot_s
        FROM ex e JOIN cex c ON c.i = e.i
        GROUP BY 1, 2
    ), cranked AS (
        SELECT vc.vec_id, vc.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY vc.vec_id
                   ORDER BY CAST(dot_s AS DOUBLE)
                            / (sqrt(CAST(nv.n_s AS DOUBLE))
                               * sqrt(CAST(nc.n_s AS DOUBLE))) DESC,
                            vc.centroid_id) AS rnk
        FROM vc
        JOIN norms nv ON nv.vec_id = vc.vec_id
        JOIN norms nc ON nc.vec_id = vc.centroid_id
    ), assign AS (
        SELECT vec_id, centroid_id FROM cranked WHERE rnk = 1
    ), probes AS (
        SELECT vec_id AS query_id, centroid_id
        FROM cranked WHERE vec_id < {N_QUERIES} AND rnk <= {IVF_NPROBE}
    ), res AS (
        SELECT e.vec_id, a.centroid_id,
               e.i // {PQ_SUBDIM} AS s, e.i % {PQ_SUBDIM} AS j,
               e.vi - c.ci AS ri
        FROM ex e
        JOIN assign a ON a.vec_id = e.vec_id
        JOIN cex c ON c.centroid_id = a.centroid_id AND c.i = e.i
    ), rcb AS (
        SELECT s, j, vec_id AS code, ri AS cw FROM res
        WHERE vec_id < {PQ_K}
    ), d AS (
        SELECT v.vec_id, v.s, c.code,
               CAST(SUM((v.ri - c.cw) * (v.ri - c.cw)) AS BIGINT) AS d2
        FROM res v JOIN rcb c ON c.s = v.s AND c.j = v.j
        GROUP BY 1, 2, 3
    ), codes AS (
        SELECT vec_id, s, code FROM (
            SELECT vec_id, s, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2, code) AS rnk
            FROM d
        ) WHERE rnk = 1
    ), qres AS (
        SELECT p.query_id, p.centroid_id,
               e.i // {PQ_SUBDIM} AS s, e.i % {PQ_SUBDIM} AS j,
               e.vi - c.ci AS qr
        FROM probes p
        JOIN ex e ON e.vec_id = p.query_id
        JOIN cex c ON c.centroid_id = p.centroid_id AND c.i = e.i
    ), dtab AS (
        SELECT q.query_id, q.centroid_id, q.s, c.code,
               CAST(SUM((q.qr - c.cw) * (q.qr - c.cw)) AS BIGINT) AS d2
        FROM qres q JOIN rcb c ON c.s = q.s AND c.j = q.j
        GROUP BY 1, 2, 3, 4
    ), cand AS (
        SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
               a.centroid_id
        FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
        WHERE a.vec_id <> p.query_id
    ), adc AS (
        SELECT cd.query_id, cd.neighbor_id,
               CAST(SUM(t.d2) AS BIGINT) AS adc_d2
        FROM cand cd
        JOIN codes v ON v.vec_id = cd.neighbor_id
        JOIN dtab t ON t.query_id = cd.query_id
                   AND t.centroid_id = cd.centroid_id
                   AND t.s = v.s AND t.code = v.code
        GROUP BY 1, 2
    ), topk AS (
        SELECT query_id, neighbor_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_d2, neighbor_id) AS rank
        FROM adc
    ), edots AS (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               CAST(SUM(q.vi * d.vi) AS BIGINT) AS dot_s
        FROM ex q JOIN ex d ON d.i = q.i AND d.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
        GROUP BY 1, 2
    ), exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY CAST(dot_s AS DOUBLE)
                                / (sqrt(CAST(nq.n_s AS DOUBLE))
                                   * sqrt(CAST(nd.n_s AS DOUBLE))) DESC,
                                neighbor_id) AS rank
            FROM edots
            JOIN norms nq ON nq.vec_id = edots.query_id
            JOIN norms nd ON nd.vec_id = edots.neighbor_id
        ) WHERE rank <= {TOP_K}
    )
    SELECT t.query_id, t.rank, t.neighbor_id, t.adc_d2,
           CAST(CASE WHEN e.neighbor_id IS NULL THEN 0 ELSE 1 END
                AS BIGINT) AS in_exact
    FROM topk t
    LEFT JOIN exact e ON e.query_id = t.query_id
                     AND e.neighbor_id = t.neighbor_id
    WHERE t.rank <= {TOP_K}
    ORDER BY t.query_id, t.rank
    """,
)
def q_ann_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ — the full FAISS-IVFPQ encoding that
    q_ann_ivf_pq_topk documents as its delta: PQ codes are learned and
    assigned over RESIDUALS (vector minus its coarse centroid), and each
    query builds a distance table PER PROBED CELL from its
    cell-relative residual, so the asymmetric distance approximates
    ||q - x|| rather than mixing cell offsets into the codes. Residuals
    stay in the exact integer lane (vi - ci of already-scaled int64
    components), so the oracle reproduces codes, tables, and ranking
    bit for bit. Each neighbor carries the ``in_exact`` recall flag
    against the brute-force exact-cosine top-k lane (round 9 — same
    census as q_ann_ivf_pq_topk / q_ann_recall), so the residual
    encoding's quality is itself driver-gated.

    Scale: identical join shapes to q_ann_ivf_pq_topk, plus one
    broadcast of the {IVF_NLIST} x dim centroid components into the
    residual projection (map-side, no extra shuffle); the query
    distance tables grow by the nprobe factor
    (|Q| x {IVF_NPROBE} x {PQ_SUB} x {PQ_K} rows) and stay broadcast.
    This is the layout FAISS ships as IndexIVFPQ."""
    from columnar_estimator_sample_spark.operators.similarity import (
        _ivf_cells, ivf_nlist_for,
    )
    ranked, norms, ex = _ivf_cells(spark, sf_dir)
    assign = (ranked.filter(F.col("rnk") == 1)
              .select("vec_id", "centroid_id"))
    probes = (ranked.filter((F.col("vec_id") < N_QUERIES)
                            & (F.col("rnk") <= IVF_NPROBE))
              .select(F.col("vec_id").alias("query_id"), "centroid_id"))
    # centroid component filter must track the DERIVED cell count
    # (== IVF_NLIST at gate SFs, sqrt-N beyond) or residuals would read
    # components for cells the coarse ranking never assigned
    cexp = (ex.filter(F.col("vec_id") < ivf_nlist_for(spark, sf_dir))
            .select(F.col("vec_id").alias("centroid_id"), "i",
                    F.col("vi").alias("ci")))
    res = (ex.join(assign, "vec_id")
           .join(F.broadcast(cexp), ["centroid_id", "i"])
           .select("vec_id", "centroid_id",
                   F.expr(f"i div {PQ_SUBDIM}").alias("s"),
                   (F.col("i") % PQ_SUBDIM).alias("j"),
                   (F.col("vi") - F.col("ci")).alias("ri")))
    rcb = (res.filter(F.col("vec_id") < PQ_K)
           .select("s", "j", F.col("vec_id").alias("code"),
                   F.col("ri").alias("cw")))
    rd2 = F.sum((F.col("ri") - F.col("cw"))
                * (F.col("ri") - F.col("cw"))).cast("long").alias("d2")
    def build_codes() -> DataFrame:
        # stored residual-code list, written once per session (min_by
        # argmin — no N*M*K window sort; same memo discipline as the
        # raw-code table)
        d = (res.join(F.broadcast(rcb), ["s", "j"])
             .groupBy("vec_id", "s", "code").agg(rd2))
        return (d.groupBy("vec_id", "s")
                .agg(F.min_by("code", F.struct("d2", "code"))
                     .alias("code"))
                .select(F.col("vec_id").alias("neighbor_id"), "s",
                        "code")
                .localCheckpoint(eager=False))
    codes = memo(spark, ("pq_codes", sf_dir, "residual"), build_codes)
    qres = (probes
            .join(ex.filter(F.col("vec_id") < N_QUERIES)
                  .select(F.col("vec_id").alias("query_id"), "i",
                          F.col("vi").alias("qv")), "query_id")
            .join(F.broadcast(cexp), ["centroid_id", "i"])
            .select("query_id", "centroid_id",
                    F.expr(f"i div {PQ_SUBDIM}").alias("s"),
                    (F.col("i") % PQ_SUBDIM).alias("j"),
                    (F.col("qv") - F.col("ci")).alias("qr")))
    qd2 = F.sum((F.col("qr") - F.col("cw"))
                * (F.col("qr") - F.col("cw"))).cast("long").alias("d2")
    dtab = (qres.join(F.broadcast(rcb), ["s", "j"])
            .groupBy("query_id", "centroid_id", "s", "code").agg(qd2))
    cand = (probes.join(assign, "centroid_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "centroid_id")
            .dropDuplicates(["query_id", "neighbor_id"]))
    adc = (cand.join(codes, "neighbor_id")
           .join(F.broadcast(dtab),
                 ["query_id", "centroid_id", "s", "code"])
           .groupBy("query_id", "neighbor_id")
           .agg(F.sum("d2").cast("long").alias("adc_d2")))
    w_q = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    topk = (adc.withColumn("rank", F.row_number().over(w_q))
            .filter(F.col("rank") <= TOP_K))
    # recall census (round 9): same in_exact flag as q_ann_ivf_pq_topk,
    # so the RESIDUAL encoding's ADC quality is driver-gated too
    exact = _exact_topk_hits(spark, sf_dir, ex, norms)
    return (topk.join(exact, ["query_id", "neighbor_id"], "left")
            .select("query_id", "rank", "neighbor_id", "adc_d2",
                    F.coalesce("hit", F.lit(0)).cast("long")
                    .alias("in_exact"))
            .orderBy("query_id", "rank"))


# ---------------------------------------------------------------------------
# Embedding-space anisotropy: top principal direction by power iteration
# ---------------------------------------------------------------------------

PCA_ITERS = 8       # unrolled power-iteration steps (fixed spec, like
                    # the LPA/k-core round unrolling)
PCA_TOP_DIMS = 8    # loading rows reported
PCA_Q = 10 ** 9     # eigenvector quantization (nano-units) per round
PCA_DIM = 64        # embedding width

# Component lane for the Gram matrix: the 1e6 int lane floored to
# mil-units. floor(vi / 1000.0) — NOT integer DIV — because Spark's DIV
# truncates toward zero while DuckDB's // floors; floor of the exact
# IEEE quotient is identical in both engines for negative components
# too (quotients land on integers only at exact multiples of 1000).
_PCA_MIL = "CAST(floor(vi / 1000.0) AS BIGINT)"


def _pca_ctes() -> str:
    """Gram matrix + unrolled power iteration. Every SUM is exact
    integer/decimal; doubles appear only in per-row normalization chains
    that are textually identical in both engines and are immediately
    re-quantized to integers — nothing floating is ever accumulated."""
    ctes = [f"""exm AS MATERIALIZED (
        SELECT vec_id, i, {_PCA_MIL} AS vm
        FROM ({_SQL_EX})
    ), gram AS MATERIALIZED (
        SELECT a.i AS gi, b.i AS gj,
               CAST(SUM(a.vm * b.vm) AS BIGINT) AS m
        FROM exm a JOIN exm b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    ), v0 AS (
        SELECT gi AS j, CAST({PCA_Q} AS BIGINT) AS vq
        FROM gram WHERE gj = 0
    )"""]
    for r in range(PCA_ITERS):
        ctes.append(f"""
    w{r} AS MATERIALIZED (
        SELECT g.gi AS j,
               CAST(SUM(CAST(g.m AS DECIMAL(38,0)) * v.vq)
                    AS DECIMAL(38,0)) AS wj
        FROM gram g JOIN v{r} v ON v.j = g.gj
        GROUP BY g.gi
    ), n{r} AS MATERIALIZED (
        SELECT MAX(ABS(wj)) AS mw FROM w{r}
    ), v{r + 1} AS MATERIALIZED (
        SELECT w.j,
               CAST(floor(CAST(w.wj AS DOUBLE) / CAST(n.mw AS DOUBLE)
                          * {PCA_Q} + 0.5) AS BIGINT) AS vq
        FROM w{r} w, n{r} n
    )""")
    ctes.append(f"""
    vfin AS MATERIALIZED (SELECT j, vq FROM v{PCA_ITERS}),
    norm2 AS (
        SELECT CAST(SUM(CAST(vq AS DECIMAL(38,0)) * vq)
                    AS DECIMAL(38,0)) AS n2
        FROM vfin
    ), quad AS (
        SELECT CAST(SUM(CAST(g.m AS DECIMAL(38,0)) * a.vq * b.vq)
                    AS DECIMAL(38,0)) AS qd
        FROM gram g
        JOIN vfin a ON a.j = g.gi
        JOIN vfin b ON b.j = g.gj
    ), tr AS (
        SELECT CAST(SUM(m) AS BIGINT) AS trace FROM gram WHERE gi = gj
    )""")
    return "WITH " + ",".join(ctes)


def _pca_oracle() -> str:
    return _pca_ctes() + f"""
    SELECT CAST(row_number() OVER (ORDER BY ABS(vq) DESC, j) AS BIGINT)
               AS rank,
           CAST(j AS BIGINT) AS dim,
           CAST(vq AS DOUBLE)
               / sqrt(CAST((SELECT n2 FROM norm2) AS DOUBLE)) AS loading,
           CAST((SELECT qd FROM quad) AS DOUBLE)
               / CAST((SELECT n2 FROM norm2) AS DOUBLE) / 1e6 AS eigval,
           CAST(floor(1000 * (CAST((SELECT qd FROM quad) AS DOUBLE)
                / (CAST((SELECT n2 FROM norm2) AS DOUBLE)
                   * CAST((SELECT trace FROM tr) AS DOUBLE))))
               AS BIGINT) AS share_pm
    FROM vfin
    ORDER BY ABS(vq) DESC, j
    LIMIT {PCA_TOP_DIMS}
    """


@register("q_embed_pca", oracle=_pca_oracle())
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy diagnostic: the corpus's dominant
    direction (top singular direction of the raw embedding cloud) by
    ``PCA_ITERS`` unrolled power-iteration steps over the exact Gram
    matrix Σ x·xᵀ, plus its variance share of the trace — the standard
    check for the anisotropic "common direction" that degrades cosine
    retrieval (Ethayarajh 2019, arXiv:1909.00512) and the signal behind
    whitening/centering decisions in an embedding pipeline.

    Exactness (the integer-trajectory construction): components ride a
    mil-unit integer lane, the Gram matrix is an exact int64 aggregate,
    and each iteration's eigenvector estimate is RE-QUANTIZED to integer
    nano-units after a max-normalization whose double chain is textually
    identical in both engines — so the entire 8-step trajectory is
    integer-exact and no floating value is ever summed. Determinism
    comes from the fixed uniform start; this is a defined 8-step spec,
    not a convergence loop — on a near-isotropic corpus (tiny eigengap,
    like this synthetic one: share_pm barely above the 1000/64 isotropic
    floor) the estimate is the spec'd trajectory, not the converged
    eigenvector; on a real anisotropic embedding table (the case the
    diagnostic exists for) the gap makes 8 steps plenty. The engine
    test pins the exact integer trajectory AND brackets the Rayleigh
    quotient between the mean and max true eigenvalues.

    Scale: the ONLY corpus-sized work is the Gram aggregate — dim²-fan
    explode into 4096 map-side-combinable groups (the standard
    distributed Gram shape; the shuffle is 4096 rows regardless of N —
    int64 headroom to ~10¹² vectors at mil-units, decimal beyond); the
    iteration runs on a 64-row frame, pure plan composition."""
    import math

    g, vq, n2 = _pca_eigvec(spark, sf_dir)
    dim = PCA_DIM
    quad = sum(g.get((i, j), 0) * vq[i] * vq[j]
               for i in range(dim) for j in range(dim))
    trace = sum(g.get((i, i), 0) for i in range(dim))
    order = sorted(range(dim), key=lambda j: (-abs(vq[j]), j))
    eigval = float(quad) / float(n2) / 1e6
    share_pm = (0 if trace == 0 else
                int(1000 * (float(quad) / (float(n2) * float(trace)))))
    rows = [(r + 1, d, float(vq[d]) / math.sqrt(float(n2)),
             eigval, share_pm)
            for r, d in enumerate(order[:PCA_TOP_DIMS])]
    return spark.createDataFrame(
        rows, "rank long, dim long, loading double,"
              " eigval double, share_pm long")


def _pca_eigvec(spark: SparkSession, sf_dir: str):
    """(gram, vq, n2): the exact integer power-iteration trajectory of
    q_embed_pca — Gram matrix as a dict, the PCA_ITERS-step eigenvector
    estimate in PCA_Q nano-units, and its squared norm (a Python int;
    it can exceed int64). Memoized per (session, sf_dir): the Gram
    aggregate is the diagnostic's only corpus-sized job, and the whiten
    apply reuses the identical trajectory, so one collect serves both."""
    import math

    def build() -> tuple:
        # mil-lane array per vector (same per-element chain as _PCA_MIL over
        # similarity._exploded's int lane)
        mil = F.expr(
            "transform(embedding, vf -> CAST(floor("
            "CAST(CAST(CAST(vf AS DOUBLE) AS DECIMAL(18,6)) * 1000000"
            " AS BIGINT) / 1000.0) AS BIGINT))")
        # the ONLY corpus-sized stage stays distributed — and join-free: a
        # double posexplode fans each vector into its 4096 outer-product
        # terms inside one whole-stage-codegen pass with map-side combine
        # (the self-join form measured ~7 s at sf0.1; this form ~1 s). The
        # result is dim^2-BOUNDED (4096 int64 cells, corpus-independent), so
        # the 8-round iteration runs driver-side in exact Python integers —
        # the same bounded-collect class as q_bpe_learn's per-round argmax
        # (a distributed 64-row round-trip per step measured 8-17 s of pure
        # stage scheduling for ~microseconds of arithmetic)
        e1 = (table(spark, sf_dir, "embeddings")
              .select(mil.alias("ma"))
              .select(F.posexplode("ma").alias("gi", "va"), F.col("ma")))
        cells = (e1.select("gi", "va",
                           F.posexplode("ma").alias("gj", "vb"))
                 .groupBy("gi", "gj")
                 .agg(F.expr("CAST(SUM(va * vb) AS BIGINT)").alias("m"))
                 .collect())
        dim = PCA_DIM
        g = {(r["gi"], r["gj"]): r["m"] for r in cells}
        vq = [PCA_Q] * dim
        for _ in range(PCA_ITERS):
            w = [sum(g.get((i, j), 0) * vq[j] for j in range(dim))
                 for i in range(dim)]
            mw = max(abs(x) for x in w)
            if mw == 0:
                # Degenerate corpus (all-zero embeddings -> zero Gram):
                # every iterate is zero, so the defined result is the
                # uniform start with share 0 rather than a driver
                # ZeroDivisionError. The oracle's unrolled SQL assumes a
                # nonzero corpus (the diagnostic's real precondition); both
                # gate-SF corpora satisfy it, and TestEmbedPca pins this
                # branch directly.
                break
            vq = [int(math.floor(float(x) / float(mw) * PCA_Q + 0.5))
                  for x in w]
        n2 = sum(q * q for q in vq)
        return (g, vq, n2)
    return memo(spark, ("pca", sf_dir), build)


# ---------------------------------------------------------------------------
# Embedding whitening APPLY: remove the top principal direction, and the
# recall-delta census that justifies (or vetoes) shipping it
# ---------------------------------------------------------------------------

_PCA_RM = ("CAST(floor(CAST(pn AS DOUBLE) * CAST(vq AS DOUBLE)"
           " / CAST({n2} AS DOUBLE) + 0.5) AS BIGINT)")


def whitened_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, i, vm): the corpus in the mil lane with the top
    principal direction REMOVED — the standard post-processing for
    anisotropic embedding spaces (Mu & Viswanath 2018, arXiv:1702.01417
    "all-but-the-top"; q_embed_pca is the diagnosis this applies).

    Exactness: the eigenvector is q_embed_pca's integer trajectory
    (PCA_Q nano-units); the per-element removal
    ``vm - floor(pn * vq_i / n2 + 0.5)`` runs the identical
    double-arithmetic chain in both engines on exactly-representable
    inputs and is re-quantized to int64 immediately, so the whitened
    lane is integer-exact and oracle-reproducible.

    Scale: the projection coefficient pn = <v, u> is one
    map-side-combinable aggregate keyed by vec_id; the removal joins
    the broadcast 64-row eigenvector — one corpus pass, no wide
    shuffle, same narrow-map shape a full-corpus re-materialization
    would bucket and write."""
    _, vq, n2 = _pca_eigvec(spark, sf_dir)
    ex = _exploded(table(spark, sf_dir, "embeddings"))
    exm = ex.select("vec_id", "i", F.expr(_PCA_MIL).alias("vm"))
    if n2 == 0:
        # degenerate all-zero corpus: no direction to remove
        return exm
    vqdf = spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(vq)], "i long, vq long")
    pn = (exm.join(F.broadcast(vqdf), "i")
          .groupBy("vec_id")
          .agg(F.sum(F.col("vm") * F.col("vq")).cast("long").alias("pn")))
    # n2 can exceed int64 (sum of 64 squares of 1e9-scale ints): emit it
    # as a DECIMAL(38,0) literal so both engines convert the same exact
    # value to double
    rm = _PCA_RM.format(n2=f"CAST('{n2}' AS DECIMAL(38,0))")
    return (exm.join(F.broadcast(vqdf), "i")
            .join(pn, "vec_id")
            .select("vec_id", "i",
                    F.expr(f"vm - {rm}").alias("vm")))


def _recall_census_two_lane(spark: SparkSession, raw: DataFrame,
                            white: DataFrame) -> DataFrame:
    """Two-row LSH-recall census over BOTH mil-lane PACKED frames
    (vec_id, v: array<long>) at once, keyed by a variant column — the
    q_ann_recall machinery run as ONE plan so the raw and whitened
    lanes share every stage boundary (two independent censuses unioned
    measured 4.3 s at sf0.1, mostly duplicated stage latency; this
    variant-keyed form halves the stage count).

    r15 (guide §4.2): ground truth and signatures ride the packed-vector
    Arrow kernels instead of the element-explode joins — the exact-dot
    truth was a (variant, i)-keyed self-join with only 2·dim distinct
    keys shuffling |pairs|·dim rows through SMJ, and the 48 plane sums
    were a broadcast-join + 48-sum codegen aggregate. Both now run as
    int64 einsums/matmuls over `_list_matrix` views (bit-identical:
    int64 sums are exact and order-free; the cosine threshold applies
    the same float64 expression tree, with Spark/DuckDB's NaN>=T
    semantics preserved via not(cos < T)). Values are unchanged."""
    import numpy as np

    from columnar_estimator_sample_spark.operators.similarity import (
        ANN_BANDS, ANN_PLANES, ANN_ROWS, RECALL_N, _list_matrix,
        _plane_signs,
    )
    from columnar_estimator_sample_spark.operators.similarity import (
        ANN_COS_T as _COS_T,
    )
    packed = (raw.select(F.lit("raw").alias("variant"), "vec_id", "v")
              .unionByName(white.select(
                  F.lit("whitened").alias("variant"), "vec_id", "v"))
              .filter(F.col("vec_id") < RECALL_N))
    # one row per vector with >= 1 element — the exploded form's norms
    # frame (empty arrays never explode, so they were absent there too)
    nonempty = packed.filter(F.size("v") > 0)

    # ---- exact-cosine ground truth: all-pairs within variant through
    # the gather + int64-einsum kernel (RECALL_N-bounded by contract)
    ids = nonempty.select("variant", "vec_id")
    cand_all = (ids.select("variant", F.col("vec_id").alias("vec_a"))
                .join(ids.select("variant", F.col("vec_id").alias("vec_b")),
                      "variant")
                .filter(F.col("vec_a") < F.col("vec_b")))
    ga = nonempty.select("variant", F.col("vec_id").alias("vec_a"),
                         F.col("v").alias("va"))
    gb = nonempty.select("variant", F.col("vec_id").alias("vec_b"),
                         F.col("v").alias("vb"))
    gathered = (cand_all
                .join(ga.hint("shuffle_hash"), ["variant", "vec_a"])
                .join(gb.hint("shuffle_hash"), ["variant", "vec_b"]))
    threshold = _COS_T

    def score(batches):
        import pyarrow as pa
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = {f: i for i, f in enumerate(rb.schema.names)}
            A = _list_matrix(rb.column(cols["va"]), np)
            B = _list_matrix(rb.column(cols["vb"]), np)
            dot = np.einsum("ij,ij->i", A, B)            # int64, exact
            na = np.einsum("ij,ij->i", A, A)
            nb = np.einsum("ij,ij->i", B, B)
            cos = dot.astype(np.float64) / (
                np.sqrt(na.astype(np.float64))
                * np.sqrt(nb.astype(np.float64)))
            # not(cos < T), NOT cos >= T: Spark and DuckDB both order
            # NaN above every number, numpy orders it below — an
            # all-zero pair (0/0 = NaN) must stay a truth pair exactly
            # as it did in the relational form
            keep = np.logical_not(cos < threshold)
            mask = pa.array(keep)
            yield pa.RecordBatch.from_arrays(
                [rb.column(cols["variant"]).filter(mask),
                 rb.column(cols["vec_a"]).filter(mask),
                 rb.column(cols["vec_b"]).filter(mask)],
                ["variant", "vec_a", "vec_b"])

    truth = gathered.mapInArrow(
        score, "variant string, vec_a long, vec_b long")

    # ---- LSH band keys: V @ S int64 matmul per batch (the relational
    # form's inner sign join on i silently restricted sums to the first
    # PCA_DIM elements; min(dim, PCA_DIM) replicates that exactly)
    def project(batches):
        import pyarrow as pa
        sign_cache: dict = {}
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = {f: i for i, f in enumerate(rb.schema.names)}
            V = _list_matrix(rb.column(cols["v"]), np)
            d = min(V.shape[1], PCA_DIM)
            if d not in sign_cache:
                sign_cache[d] = np.array(
                    [_plane_signs(p, d) for p in range(ANN_PLANES)],
                    dtype=np.int64).T              # d × planes
            proj = V[:, :d] @ sign_cache[d]        # int64, exact
            bits = (proj > 0).astype(np.int64)
            n = len(bits)
            keys = np.zeros((n, ANN_BANDS), dtype=np.int64)
            for b in range(ANN_BANDS):
                for k in range(ANN_ROWS):
                    keys[:, b] += bits[:, b * ANN_ROWS + k] << k
            idx = pa.array(np.repeat(np.arange(n), ANN_BANDS))
            yield pa.RecordBatch.from_arrays(
                [rb.column(cols["variant"]).take(idx),
                 rb.column(cols["vec_id"]).take(idx),
                 pa.array(np.tile(np.arange(ANN_BANDS, dtype=np.int64),
                                  n)),
                 pa.array(keys.reshape(-1))],
                ["variant", "vec_id", "band", "band_key"])

    bands = nonempty.mapInArrow(
        project, "variant string, vec_id long, band long, band_key long")
    bl, br = bands.alias("l"), bands.alias("r")
    cand = (bl.join(br, (F.col("l.variant") == F.col("r.variant"))
                    & (F.col("l.band") == F.col("r.band"))
                    & (F.col("l.band_key") == F.col("r.band_key"))
                    & (F.col("l.vec_id") < F.col("r.vec_id")))
            .select(F.col("l.variant").alias("variant"),
                    F.col("l.vec_id").alias("vec_a"),
                    F.col("r.vec_id").alias("vec_b"))
            .dropDuplicates(["variant", "vec_a", "vec_b"]))
    # r14: ONE pass over truth — the left_semi + separate truth census
    # executed the expensive exact-dot subtree twice; a left join
    # against the (distinct) candidate pairs with a hit marker folds
    # n_truth and n_found into one aggregation. cand's dedup aggregate
    # tops an exchange, so its two consumers share one execution via
    # exchange reuse.
    hit = cand.withColumn("__hit", F.lit(1))
    tf = (truth.join(hit, ["variant", "vec_a", "vec_b"], "left")
          .groupBy("variant")
          .agg(F.count("*").cast("long").alias("n_truth"),
               F.count("__hit").cast("long").alias("n_found")))
    # per-variant scalars; n_vec (always RECALL_N rows per variant) is
    # the base frame so a variant with an empty truth/candidate set
    # still reports its zeros (counted over nonempty — exactly the
    # vectors the exploded form's norms frame held)
    base = nonempty.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_vec"))
    c = cand.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_candidates"))
    agg = (base.join(F.broadcast(tf), "variant", "left")
           .join(F.broadcast(c), "variant", "left")
           .select("variant",
                   F.coalesce("n_truth", F.lit(0)).alias("n_truth"),
                   F.coalesce("n_found", F.lit(0)).alias("n_found"),
                   F.coalesce("n_candidates", F.lit(0))
                   .alias("n_candidates"),
                   "n_vec"))
    return agg.select(
        "variant", "n_truth", "n_found",
        F.expr("(1000 * n_found) div GREATEST(n_truth, 1)")
        .alias("recall_pm"),
        "n_candidates",
        F.expr("(1000 * n_candidates)"
               " div GREATEST(n_vec * (n_vec - 1) DIV 2, 1)")
        .alias("candidate_frac_pm"))


def _whiten_recall_ctes(src: str, sfx: str) -> str:
    """DuckDB recall-census CTEs over a mil-lane source CTE — the
    _ann_recall_oracle blocks parameterized by input and suffix."""
    from columnar_estimator_sample_spark.operators.similarity import (
        ANN_PLANES, ANN_ROWS, RECALL_N,
    )
    return f"""
    exb{sfx} AS MATERIALIZED (
        SELECT vec_id, i, vm FROM {src} WHERE vec_id < {RECALL_N}
    ), norms{sfx} AS (
        SELECT vec_id, CAST(SUM(vm * vm) AS BIGINT) AS n_s
        FROM exb{sfx} GROUP BY vec_id
    ), truth{sfx} AS MATERIALIZED (
        SELECT d.va AS vec_a, d.vb AS vec_b
        FROM (SELECT l.vec_id AS va, r.vec_id AS vb,
                     CAST(SUM(l.vm * r.vm) AS BIGINT) AS dot_s
              FROM exb{sfx} l JOIN exb{sfx} r
                ON l.i = r.i AND l.vec_id < r.vec_id
              GROUP BY 1, 2) d
        JOIN norms{sfx} na ON na.vec_id = d.va
        JOIN norms{sfx} nb ON nb.vec_id = d.vb
        WHERE CAST(dot_s AS DOUBLE)
              / (sqrt(CAST(na.n_s AS DOUBLE))
                 * sqrt(CAST(nb.n_s AS DOUBLE))) >= {ANN_COS_T}
    ), sums{sfx} AS (
        SELECT vec_id, p.p,
               SUM(CASE WHEN CAST(('0x' || substr(md5('pl' || p.p || '_'
                        || exb{sfx}.i), 1, 15)) AS BIGINT) % 2 = 0
                   THEN vm ELSE -vm END) AS s
        FROM exb{sfx}, (SELECT unnest(range(0, {ANN_PLANES})) AS p) p
        GROUP BY vec_id, p.p
    ), bands{sfx} AS (
        SELECT vec_id, p // {ANN_ROWS} AS band,
               SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END
                   * (1::BIGINT << (p % {ANN_ROWS}))) AS band_key
        FROM sums{sfx} GROUP BY vec_id, p // {ANN_ROWS}
    ), cand{sfx} AS MATERIALIZED (
        SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
        FROM bands{sfx} l JOIN bands{sfx} r
          ON l.band = r.band AND l.band_key = r.band_key
         AND l.vec_id < r.vec_id
    ), nvec{sfx} AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vec FROM norms{sfx}
    )"""


def _whiten_recall_select(sfx: str, label: str) -> str:
    return f"""
    SELECT '{label}' AS variant,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth{sfx}) AS n_truth,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth{sfx} t
             WHERE EXISTS (SELECT 1 FROM cand{sfx} c
                           WHERE c.vec_a = t.vec_a
                             AND c.vec_b = t.vec_b)) AS n_found,
           (1000 * (SELECT COUNT(*) FROM truth{sfx} t
                    WHERE EXISTS (SELECT 1 FROM cand{sfx} c
                                  WHERE c.vec_a = t.vec_a
                                    AND c.vec_b = t.vec_b)))
               // GREATEST((SELECT COUNT(*) FROM truth{sfx}), 1)
               AS recall_pm,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{sfx})
               AS n_candidates,
           (1000 * (SELECT COUNT(*) FROM cand{sfx}))
               // GREATEST((((SELECT n_vec FROM nvec{sfx})
                    * ((SELECT n_vec FROM nvec{sfx}) - 1)) // 2), 1)
               AS candidate_frac_pm
    """


def _whiten_oracle() -> str:
    rm = _PCA_RM.format(n2="(SELECT n2 FROM norm2)")
    return (_pca_ctes() + f""",
    pn AS MATERIALIZED (
        SELECT e.vec_id, CAST(SUM(e.vm * v.vq) AS BIGINT) AS pn
        FROM exm e JOIN vfin v ON v.j = e.i
        GROUP BY e.vec_id
    ), wex AS MATERIALIZED (
        SELECT e.vec_id, e.i,
               e.vm - {rm} AS vm
        FROM exm e
        JOIN vfin v ON v.j = e.i
        JOIN pn p ON p.vec_id = e.vec_id
    ),""" + _whiten_recall_ctes("exm", "_r") + ","
            + _whiten_recall_ctes("wex", "_w")
            + "SELECT * FROM ("
            + _whiten_recall_select("_r", "raw")
            + " UNION ALL "
            + _whiten_recall_select("_w", "whitened")
            + ") ORDER BY variant")


@register("q_embed_whiten", oracle=_whiten_oracle())
def q_embed_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitening apply + recall-delta census: remove the corpus's top
    principal direction (:func:`whitened_exploded` — the
    all-but-the-top treatment q_embed_pca's anisotropy diagnostic calls
    for) and measure hyperplane-LSH candidate recall against exact
    cosine ground truth BEFORE and AFTER, on the same RECALL_N audit
    slice with the same q_ann_recall instrument. Two rows
    (variant in {raw, whitened}); the recall_pm delta is the number
    that decides whether the whitened lane ships to retrieval — this
    closes diagnose -> apply the way dedup/contamination did.

    Both lanes run in the mil component lane (the PCA trajectory's
    precision), so the delta isolates the whitening itself. Scale: the
    apply is one corpus pass (broadcast 64-row eigenvector + a keyed
    projection aggregate); the census is O(RECALL_N^2) by construction
    — a fixed audit cost, like q_ann_recall's."""
    from columnar_estimator_sample_spark.operators.similarity import (
        RECALL_N,
    )
    # each lane feeds 3 plan references (truth left/right, signatures);
    # the RECALL_N-bounded slices are lazily checkpointed AND memoized
    # per (session, sf_dir) — the audit lanes are written artifacts, so
    # the whiten joins and the mil projection run once per session, not
    # per invocation or per plan reference. Whitening commutes with the
    # slice filter: pn is per-vector and the eigenvector comes from the
    # full-corpus Gram memo either way.
    def build() -> tuple[DataFrame, DataFrame]:
        # r15: the lanes are PACKED (vec_id, v: array<long>) for the
        # census's Arrow kernels. The mil array is the identical
        # per-element chain as _PCA_MIL over _exploded (transform
        # preserves element order = the explode's i order), and the
        # whitened lane folds whitened_exploded's pn aggregate and rm
        # join into one zip_with over the same literal eigenvector —
        # int64 sums and the rm double chain are textually identical,
        # so both lanes are bit-identical to the exploded form.
        mil_arr = F.expr(
            "transform(embedding, vf -> CAST(floor("
            "CAST(CAST(CAST(vf AS DOUBLE) AS DECIMAL(18,6)) * 1000000"
            " AS BIGINT) / 1000.0) AS BIGINT))")
        base = (table(spark, sf_dir, "embeddings")
                .filter(F.col("vec_id") < RECALL_N)
                .select("vec_id", mil_arr.alias("mv")))
        raw = (base.select("vec_id", F.col("mv").alias("v"))
               .localCheckpoint(eager=False))
        _, vq, n2 = _pca_eigvec(spark, sf_dir)
        if n2 == 0:
            # degenerate all-zero corpus: no direction to remove
            white = raw
        else:
            vq_lit = "array(" + ",".join(f"{int(q)}L" for q in vq) + ")"
            rm = _PCA_RM.format(
                n2=f"CAST('{n2}' AS DECIMAL(38,0))").replace(
                "CAST(vq AS DOUBLE)", "CAST(q AS DOUBLE)")
            white = (base
                     .withColumn("pn", F.expr(
                         f"aggregate(zip_with(mv, {vq_lit},"
                         " (x, y) -> x * y), CAST(0 AS BIGINT),"
                         " (a, t) -> a + t)"))
                     .select("vec_id", F.expr(
                         f"zip_with(mv, {vq_lit}, (x, q) -> x - {rm})")
                         .alias("v"))
                     .localCheckpoint(eager=False))
        return (raw, white)
    lanes = memo(spark, ("whiten_lanes", sf_dir), build)
    return (_recall_census_two_lane(spark, *lanes)
            .orderBy("variant"))


# ---------------------------------------------------------------------------
# Domain-balanced mixture (embedding-cluster domains -> temperature mix)
# ---------------------------------------------------------------------------

# Domains = coarse embedding cells, matching the IVF/VQ scale above.
DOMAIN_K = K


def _domain_mixture_oracle() -> str:
    from columnar_estimator_sample_spark.functions.hashing import sql_h64
    return f"""
    WITH ex AS ({_SQL_EX}
    ), norms AS (
        SELECT vec_id, CAST(SUM(vi * vi) AS BIGINT) AS n_s
        FROM ex GROUP BY vec_id
    ), cb AS (
        SELECT vec_id AS code, i, vi AS ci FROM ex
        WHERE vec_id < {DOMAIN_K}
    ), cns AS (
        SELECT code, CAST(SUM(ci * ci) AS BIGINT) AS c_s
        FROM cb GROUP BY code
    ), dots AS (
        SELECT v.vec_id, c.code, CAST(SUM(v.vi * c.ci) AS BIGINT) AS dot_s
        FROM ex v JOIN cb c ON c.i = v.i GROUP BY 1, 2
    ), d2 AS (
        SELECT d.vec_id, d.code, n.n_s - 2 * d.dot_s + c.c_s AS d2
        FROM dots d JOIN norms n USING (vec_id) JOIN cns c USING (code)
    ), a AS (
        SELECT vec_id, code AS domain FROM (
            SELECT vec_id, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, code) AS rnk
            FROM d2
        ) WHERE rnk = 1
    ), docs AS (
        SELECT a.domain, d.doc_id,
               CAST(len(list_filter(string_split(d.text, ' '),
                                    x -> len(x) > 0)) AS BIGINT) AS ntok
        FROM documents d JOIN a ON a.vec_id = d.doc_id
    ), n AS (
        SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs_domain,
               CAST(SUM(ntok) AS BIGINT) AS n_tokens_domain
        FROM docs GROUP BY domain
    ), sq AS (
        SELECT domain, n_docs_domain, n_tokens_domain,
               CAST(FLOOR(SQRT(CAST(n_tokens_domain AS DOUBLE)))
                   AS BIGINT) AS isq
        FROM n
    ), tot AS (
        SELECT CAST(SUM(n_tokens_domain) AS BIGINT) AS tot_n,
               CAST(SUM(isq) AS BIGINT) AS tot_sq
        FROM sq
    ), boost AS (
        SELECT s.domain, s.n_docs_domain, s.n_tokens_domain,
               ((1000000 * s.isq) // t.tot_sq) * 1000000
                   // GREATEST((1000000 * s.n_tokens_domain)
                               // t.tot_n, 1) AS boost_ppm
        FROM sq s CROSS JOIN tot t
    ), adm AS (
        SELECT domain, n_docs_domain, n_tokens_domain,
               (1000000 * boost_ppm)
                   // (SELECT MAX(boost_ppm) FROM boost) AS adm_ppm
        FROM boost
    ), kept AS (
        SELECT dd.domain, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
               CAST(SUM(dd.ntok) AS BIGINT) AS n_tokens_kept
        FROM docs dd JOIN adm a2 USING (domain)
        WHERE {sql_h64("CAST(dd.doc_id AS VARCHAR)")} % 1000000
              < a2.adm_ppm
        GROUP BY dd.domain
    )
    SELECT a.domain, a.n_docs_domain, a.n_tokens_domain, a.adm_ppm,
           COALESCE(k.n_docs_kept, CAST(0 AS BIGINT)) AS n_docs_kept,
           COALESCE(k.n_tokens_kept, CAST(0 AS BIGINT)) AS n_tokens_kept
    FROM adm a LEFT JOIN kept k USING (domain)
    ORDER BY domain
    """


@register("q_domain_mixture", oracle=_domain_mixture_oracle())
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-balanced pretraining mixture, DoReMi-shaped: domains are
    EMBEDDING CLUSTERS (nearest of the first-``DOMAIN_K`` deterministic
    centroids by exact integer squared-L2 — no metadata needed), the
    1:1 vec_id/doc_id bridge attaches every document to its domain, and
    q_mixture_apply's alpha=0.5 temperature chain runs over DOMAIN
    token mass instead of source labels: boost_ppm from sqrt-mass
    shares, admission rates normalized so the most up-weighted domain
    keeps everything, membership by the reproducible
    ``h64(doc_id) % 10^6 < adm_ppm`` rule. Census emits ALL domains
    (kept counts coalesced to 0) so every SF pins the full rate vector,
    not just surviving groups.

    Determinism: assignment is pure int64 (d2 = n_s - 2*dot + c_s on
    the 1e6-scaled lane, min_by (d2, code)); the one float step is the
    IEEE sqrt both engines round identically. Scale: the explode joins
    a BROADCAST |K x dim| codebook and collapses map-side (min_by);
    the rate chain is |domains| broadcast rows; admission is a
    scan-local predicate — no corpus-sized shuffle beyond the token
    count groupBy."""
    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents")
    ex = _exploded(emb)
    cb = (ex.filter(F.col("vec_id") < DOMAIN_K)
          .select(F.col("vec_id").alias("code"), "i",
                  F.col("vi").alias("ci")))
    norms = ex.groupBy("vec_id").agg(
        F.sum(F.col("vi") * F.col("vi")).cast("long").alias("n_s"))
    cns = cb.groupBy("code").agg(
        F.sum(F.col("ci") * F.col("ci")).cast("long").alias("c_s"))
    dots = (ex.join(F.broadcast(cb), "i")
            .groupBy("vec_id", "code")
            .agg(F.sum(F.col("vi") * F.col("ci")).cast("long")
                 .alias("dot_s")))
    assign = (dots.join(norms, "vec_id").join(F.broadcast(cns), "code")
              .withColumn("d2", F.col("n_s") - 2 * F.col("dot_s")
                          + F.col("c_s"))
              .groupBy("vec_id")
              .agg(F.min_by(F.col("code"), F.struct("d2", "code"))
                   .alias("domain")))
    from columnar_estimator_sample_spark.functions.hashing import h64
    # r14 optimization: the census needs TWO aggregates of the per-doc
    # frame — the full per-domain mass and the kept-per-domain mass under
    # the (data-dependent) adm_ppm threshold. Aggregating the corpus once
    # by (domain, pm = admission hash) lets both derive from ONE shared
    # exchange (ReuseExchange): previously the whole corpus subtree
    # (explode + codebook join + assignment + docs join) was planned and
    # executed twice (190 Exchange mentions -> ~half; the admission
    # predicate is a filter on the pre-aggregated pm column, so kept
    # counts are unchanged).
    # (fanout of the tokenize feed was tried and measured +0.2 s in an
    # interleaved A/B — the extra exchange costs more than the parallel
    # tokenize here; the scan-fused single-split tokenize stays)
    dtoks = (docs.join(assign, docs.doc_id == assign.vec_id)
             .select("domain",
                     (h64(F.col("doc_id").cast("string")) % 1_000_000)
                     .alias("pm"),
                     F.size(F.filter(F.split("text", " "),
                                     lambda x: F.length(x) > 0))
                     .cast("long").alias("ntok")))
    g = (dtoks.groupBy("domain", "pm")
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs_pm"),
              F.sum("ntok").cast("long").alias("n_toks_pm")))
    n = (g.groupBy("domain")
         .agg(F.sum("n_docs_pm").cast("long").alias("n_docs_domain"),
              F.sum("n_toks_pm").cast("long").alias("n_tokens_domain")))
    sq = n.withColumn(
        "isq",
        F.expr("CAST(FLOOR(SQRT(CAST(n_tokens_domain AS DOUBLE)))"
               " AS BIGINT)"))
    # r15 (guide §2.4): the rate chain was four serial tiny-frame
    # barriers (tot agg -> broadcast cross-join -> max agg -> broadcast
    # cross-join). Two unpartitioned window passes over the SAME
    # single-partition exchange compute the identical integer chain in
    # one barrier; the window input is the per-domain frame, bounded by
    # DOMAIN_K rows by construction, never corpus-sized
    # (UNPARTITIONED_WINDOW_ALLOWED entry).
    w_all = Window.partitionBy()
    boost = (sq.withColumn("tot_n",
                           F.sum("n_tokens_domain").over(w_all)
                           .cast("long"))
             .withColumn("tot_sq", F.sum("isq").over(w_all).cast("long"))
             .select("domain", "n_docs_domain", "n_tokens_domain",
                     F.expr("((1000000 * isq) DIV tot_sq) * 1000000"
                            " DIV GREATEST((1000000 * n_tokens_domain)"
                            " DIV tot_n, 1)").alias("boost_ppm")))
    adm = (boost.withColumn("max_b", F.max("boost_ppm").over(w_all))
           .select("domain", "n_docs_domain", "n_tokens_domain",
                   F.expr("(1000000 * boost_ppm) DIV max_b")
                   .alias("adm_ppm")))
    kept = (g.join(F.broadcast(adm.select("domain", "adm_ppm")),
                   "domain")
            .filter(F.col("pm") < F.col("adm_ppm"))
            .groupBy("domain")
            .agg(F.sum("n_docs_pm").cast("long").alias("n_docs_kept"),
                 F.sum("n_toks_pm").cast("long").alias("n_tokens_kept")))
    return (adm.join(kept, "domain", "left")
            .select("domain", "n_docs_domain", "n_tokens_domain",
                    "adm_ppm",
                    F.coalesce("n_docs_kept", F.lit(0).cast("long"))
                    .alias("n_docs_kept"),
                    F.coalesce("n_tokens_kept", F.lit(0).cast("long"))
                    .alias("n_tokens_kept"))
            .orderBy("domain"))
