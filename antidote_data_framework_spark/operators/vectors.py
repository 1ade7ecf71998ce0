"""Embedding / similarity-search operators — SURVEY.md §2B O-58/O-60.

Exact vector analytics with SQL oracles; the approximate scale paths
(LSH bucketing, KMeans) live in ``ml/`` as rows-only twins.  All dot
products / norms are higher-order array functions evaluated in the JVM
— at 100 TB the embedding column never crosses into Python.

Float discipline: the fixture embeddings are float32; every product is
cast to DOUBLE before accumulating so Spark and DuckDB agree bit-wise
(sequential left-to-right fold in both engines), then rounded to 4.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hints import broadcast_small as bcast
from ..functions.local import local_frame

from ..registry import spark_query
from ..sources import load_table


def dot_product(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in DOUBLE via zip_with + aggregate — no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


@spark_query(
    "q_cosine_topk",
    oracle="""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT e.vec_id, e.label,
         list_sum(list_transform(list_zip(e.embedding, q.qe),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / (SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
            * SQRT(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
         AS cos_raw
  FROM embeddings e, q
  WHERE e.vec_id <> 0
)
SELECT vec_id, label, ROUND(cos_raw, 4) AS cosine_sim
FROM sims
ORDER BY cos_raw DESC, vec_id
LIMIT 5
""",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: exact top-5 cosine neighbors of vec_id=0.

    Brute-force baseline: broadcast the query vector, score every row
    inside codegen, TakeOrderedAndProject keeps only k per partition.
    This is the correctness oracle for the LSH approximate variant
    (q_knn_lsh) — same shape a 100 TB ANN pipeline validates against.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(bcast(q, "1-row query vector"))
        .withColumn("cos_raw", cosine(F.col("embedding"), F.col("qe")))
    )
    return (
        scored.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .select("vec_id", "label", F.round("cos_raw", 4).alias("cosine_sim"))
        .limit(5)
    )


@spark_query(
    "q_embed_centroids",
    oracle="""
SELECT label, CAST(p AS INT) AS pos,
       ROUND(AVG(CAST(embedding[CAST(p AS INT)] AS DOUBLE)), 4) + 0.0 AS centroid_val,
       COUNT(*) AS n_vectors
FROM embeddings, (SELECT UNNEST(range(1, 65)) AS p) ps
GROUP BY label, p
""",
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids: posexplode the embedding, average each
    component per (label, position), 1-based positions.

    The transpose-aggregate pattern: at scale this shuffles
    (label, pos, partial-sum) — 64×|labels| cells — instead of whole
    vectors, and reassembly back to array form is a sort_array over
    collected (pos, val) structs when needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "component")
    )
    return (
        exploded.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            # + 0.0 normalizes IEEE -0.0 to +0.0 on both engines —
            # ROUND of a tiny negative average yields -0.0, which the
            # strict canonicalizer renders as "-0.0" != "0.0"
            (F.round(F.avg(F.col("component").cast("double")), 4) + F.lit(0.0)).alias(
                "centroid_val"
            ),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


@spark_query(
    "q_embed_quantize",
    oracle="""
WITH q AS (
  SELECT label,
         list_min(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS vmin,
         list_max(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS vmax,
         list_transform(embedding, v -> CAST(v AS DOUBLE))           AS xd
  FROM embeddings
),
e AS (
  SELECT label,
         SQRT(list_sum(list_transform(xd, v ->
            POW(v - (vmin + COALESCE(ROUND((v - vmin) / NULLIF(vmax - vmin, 0) * 255), 0)
                            / 255 * (vmax - vmin)), 2)))
              / len(xd)) AS rmse
  FROM q
)
SELECT label,
       COUNT(*)            AS n_vectors,
       ROUND(AVG(rmse), 6) AS avg_rmse,
       ROUND(MAX(rmse), 6) AS max_rmse
FROM e GROUP BY label
""",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of embeddings with reconstruction
    error — the 4x storage-compression step of an embedding pipeline
    (serve quantized, rerank exact).  Per-vector min/max scaling:
    q = round((v - vmin)/(vmax - vmin) * 255), reconstruction
    v' = vmin + q/255*(vmax - vmin), per-vector RMSE pooled per label.

    Pure higher-order functions — quantize, reconstruct, and the error
    reduction all run inside codegen on the scan stage; the only
    shuffle is the per-label rollup.  A constant vector (vmax == vmin)
    reconstructs exactly (NULLIF guard -> zero error)."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    vmin, vmax = F.array_min(xd), F.array_max(xd)
    scale = F.nullif(vmax - vmin, F.lit(0.0))

    def sq_err(v):
        q = F.coalesce(F.round((v - vmin) / scale * 255), F.lit(0.0))
        recon = vmin + q / 255 * (vmax - vmin)
        return F.pow(v - recon, F.lit(2))

    rmse = F.sqrt(
        F.aggregate(
            F.transform(xd, sq_err), F.lit(0.0).cast("double"), lambda a, e: a + e
        )
        / F.size(xd)
    )
    return (
        emb.select("label", rmse.alias("rmse"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("rmse"), 6).alias("avg_rmse"),
            F.round(F.max("rmse"), 6).alias("max_rmse"),
        )
    )


ANN_EVAL_DIMS = (1, 17, 33, 49)  # 1-based sign-bit dims for the eval LSH

# Recall panel: every 100th vec_id BELOW this cap.  The cap is what
# makes the panel FIXED-SIZE (<= 50 queries) as the corpus grows — r10
# scale checkpoint caught the uncapped `vec_id % 100 = 0` panel growing
# WITH the corpus, turning the panel x corpus scoring join quadratic
# (measured 69x wall on 9x data ~= the 81x row-count law).  A recall
# harness wants a fixed query panel over a growing corpus anyway;
# corpus rows only ever appear once per panel member.
ANN_PANEL_CAP = 5_000


@spark_query(
    "q_ann_recall_curve",
    # ANN_PANEL_CAP is interpolated (r10 ADVICE #3) so a future cap
    # change cannot silently desynchronize implementation and oracle.
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1]  > 0 THEN 1 ELSE 0 END
        + CASE WHEN embedding[17] > 0 THEN 2 ELSE 0 END
        + CASE WHEN embedding[33] > 0 THEN 4 ELSE 0 END
        + CASE WHEN embedding[49] > 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, embedding AS qe, bucket AS qb FROM b
      WHERE vec_id % 100 = 0 AND vec_id < {ANN_PANEL_CAP}),
scored AS (
  SELECT q.q_id, e.vec_id,
         list_sum(list_transform(list_zip(e.embedding, q.qe),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / (SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
            * SQRT(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
           AS cos_raw,
         bit_count(xor(e.bucket, q.qb)) <= 1 AS is_cand
  FROM b e, q
  WHERE e.vec_id <> q.q_id
),
exact AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS er
  FROM scored
),
ann AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS ar
  FROM scored WHERE is_cand
),
hits AS (
  SELECT e.q_id, e.er, a.ar FROM exact e JOIN ann a
  ON e.q_id = a.q_id AND e.vec_id = a.vec_id
  WHERE e.er <= 10 AND a.ar <= 10
),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q)
SELECT k, n AS n_queries,
       ROUND(CAST(hit_cnt AS DOUBLE) / (k * n), 4) AS avg_recall
FROM (
  SELECT ks.k,
         CAST(COALESCE(SUM(CASE WHEN h.er <= ks.k AND h.ar <= ks.k
                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS hit_cnt
  FROM (SELECT UNNEST([1, 5, 10]) AS k) ks
  LEFT JOIN hits h ON true
  GROUP BY ks.k
) agg CROSS JOIN nq
""",
)
def q_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluating ANN recall curve, fully hash-verified — the
    measurement harness every production vector deployment runs
    before trusting an index ("measure, don't guess" as an operator).

    A deterministic sign-bit LSH (4 bits = the signs of 4 fixed
    embedding dims) indexes the corpus; for a FIXED panel of query
    vectors (every 100th vec_id below ANN_PANEL_CAP — <= 50 queries at
    any corpus size) the operator computes, IN ONE DISTRIBUTED
    PASS, the exact cosine top-10 and the LSH-probed top-10 (buckets
    within hamming <= 1 ~= 31% of the corpus probed), then
    recall@{1,5,10} averaged over the panel.  Because the index is
    pure expressions (unlike the KMeans-based IVF), DuckDB replicates
    it exactly — the recall numbers themselves hash-match, which also
    certifies the ranking arithmetic of the exact path.

    Scale shape: queries broadcast (panel-sized), the corpus is
    scanned ONCE with both rankings derived from one scored relation
    (two window passes over query-partitioned data, shuffled by
    q_id); nothing all-pairs — the panel, not the corpus, bounds the
    join fan-out.  On isotropic fixtures recall ~= probed fraction
    (the information floor); on clustered real embeddings the same
    harness reads higher — that spread is exactly what it exists to
    measure."""
    from pyspark.sql import Window

    b = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        sum(
            F.when(F.element_at("embedding", d) > 0, 1 << i).otherwise(0)
            for i, d in enumerate(ANN_EVAL_DIMS)
        ).alias("bucket"),
    )
    q = b.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < ANN_PANEL_CAP)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qb"),
    )
    scored = (
        b.crossJoin(bcast(q, "fixed recall panel (<= ANN_PANEL_CAP/100 rows)"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("embedding"), F.col("qe")).alias("cos_raw"),
            (
                F.bit_count(F.col("bucket").bitwiseXOR(F.col("qb"))) <= 1
            ).alias("is_cand"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    exact = (
        scored.withColumn("er", F.row_number().over(w))
        .filter(F.col("er") <= 10)
        .select("q_id", "vec_id", "er")
    )
    ann = (
        scored.filter("is_cand")
        .withColumn("ar", F.row_number().over(w))
        .filter(F.col("ar") <= 10)
        .select("q_id", "vec_id", "ar")
    )
    hits = exact.join(ann, ["q_id", "vec_id"]).select("q_id", "er", "ar")
    n_queries = q.count()  # panel size: bounded by construction
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(5), F.lit(10))).alias("k")
    )
    return (
        ks.join(hits, F.lit(True), "left")
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    (F.col("er") <= F.col("k")) & (F.col("ar") <= F.col("k")), 1
                ).otherwise(0)
            ).alias("hit_cnt")
        )
        .select(
            "k",
            F.lit(n_queries).cast("long").alias("n_queries"),
            F.round(
                F.col("hit_cnt").cast("double") / (F.col("k") * n_queries), 4
            ).alias("avg_recall"),
        )
    )


# Deterministic +/-1 projection matrix for q_random_projection: the
# sign at (i, j) is a fixed integer mixing law, so both engines build
# bit-identical matrices with zero driver state.  Production swaps
# this for a seeded xxhash sign — the plan does not change.
RP_OUT_DIMS = 16
RP_IN_DIMS = 64


def _rp_sign(i, j):
    """+1/-1 from integer mixing; i, j are Columns or ints."""
    return F.when(((i * 73 + j * 151 + i * j * 1009) % 97) < 48, 1.0).otherwise(-1.0)


@spark_query(
    "q_random_projection",
    oracle=f"""
WITH proj AS (
  SELECT vec_id,
         list_transform(range(0, {RP_OUT_DIMS}), j ->
           list_sum(list_transform(range(1, {RP_IN_DIMS} + 1), i ->
             CAST(embedding[i] AS DOUBLE)
             * (CASE WHEN ((i-1) * 73 + j * 151 + (i-1) * j * 1009) % 97 < 48
                     THEN 1.0 ELSE -1.0 END))) / 4.0) AS p,
         list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS norm2_in
  FROM embeddings
)
SELECT vec_id,
       array_to_string(list_transform(p,
         x -> CAST(CAST(ROUND(x * 10000, 0) AS BIGINT) AS VARCHAR)), ',')
         AS proj_units,
       ROUND(list_sum(list_transform(p, x -> x * x)) / norm2_in, 4)
         AS norm_ratio
FROM proj
""",
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection: 64-dim embeddings down
    to 16 dims via a dense +/-1 sign matrix scaled by 1/sqrt(k)
    (Achlioptas 2003 — database-friendly random projections).  The
    data-INDEPENDENT cheap twin of q_pca_project: no training pass, no
    Gram matrix, distance preservation within (1 +/- eps) with high
    probability — the emitted norm_ratio column IS that guarantee made
    visible per row.

    Shape: the whole projection is a per-row nested array fold in
    whole-stage codegen — no UDF, no shuffle, no driver matrix
    (signs are generated in-expression from the (i, j) mixing law).
    At 100 TB this is the ideal operator: embarrassingly parallel on
    the scan, output 4x narrower than input, and downstream ANN
    (q_knn_lsh / q_ivf_cosine_topk) runs on the 16-dim column at a
    quarter of the dot-product cost."""
    emb = load_table(spark, sf_dir, "embeddings")
    p = F.transform(
        F.sequence(F.lit(0), F.lit(RP_OUT_DIMS - 1)),
        lambda j: F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.sequence(F.lit(0), F.lit(RP_IN_DIMS - 1)),
                lambda x, i: x.cast("double") * _rp_sign(i, j),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / 4.0,
    )
    norm2_in = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    base = emb.select("vec_id", p.alias("p"), norm2_in.alias("norm2_in"))
    norm2_p = F.aggregate(
        F.transform(F.col("p"), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    # scalar-column output rule: components ship as exact integer
    # 1e-4 units joined into one string (double->string formatting is
    # engine-specific; integers are not).
    return base.select(
        "vec_id",
        F.array_join(
            F.transform(
                F.col("p"),
                lambda x: F.round(x * 10000, 0).cast("bigint").cast("string"),
            ),
            ",",
        ).alias("proj_units"),
        F.round(norm2_p / F.col("norm2_in"), 4).alias("norm_ratio"),
    )


MMR_LAMBDA = 0.7
MMR_CANDIDATES = 32
MMR_K = 10


@spark_query("q_retrieval_mmr")  # rows-only: greedy argmax loop is not ANSI-SQL
def q_retrieval_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance reranking (Carbonell & Goldstein
    1998) over the exact cosine candidates of query vec_id=0: greedily
    pick k=10 of the top-32 candidates maximizing
    ``λ·rel(i) − (1−λ)·max_{j∈selected} sim(i, j)`` with λ=0.7 — the
    diversification pass a RAG retriever runs so the context window
    isn't ten near-copies of the same passage.

    Scale split, mirroring a production reranker: candidate generation
    is the DISTRIBUTED stage (brute-force cosine + TakeOrdered here;
    the IVF/PQ/LSH twins at 100 TB), and diversification is O(C²) on
    the C ≪ N candidate set.  The C×C similarity matrix is computed as
    a broadcast self-join in the JVM (C=32 → 1,024 cells, structurally
    bounded by the constants above), collected once, and the k-step
    greedy argmax — inherently sequential, k·C comparisons — runs
    driver-side in fixed order: the same deliberate bounded-driver
    hybrid as the antidote block (SURVEY D5).  Ties break on lowest
    vec_id; all arithmetic is left-to-right IEEE double, replayed
    value-for-value by the numpy twin in tests/test_round13_ops.py.

    Determinism: candidate cut and every argmax are totally ordered by
    (score desc, vec_id asc); output carries the selection rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(bcast(q, "1-row query vector"))
        .select("vec_id", "embedding", cosine(F.col("embedding"), F.col("qe")).alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_CANDIDATES)
    )
    # C×C candidate-pair cosines, computed in the JVM before the
    # bounded collect; both sides are the same 32-row frame.
    a = cand.select(F.col("vec_id").alias("i"), F.col("embedding").alias("ea"))
    b = cand.select(F.col("vec_id").alias("j"), F.col("embedding").alias("eb"))
    pair_rows = (
        a.crossJoin(bcast(b, f"candidate set LIMIT {MMR_CANDIDATES}"))
        .filter(F.col("i") < F.col("j"))
        .select("i", "j", cosine(F.col("ea"), F.col("eb")).alias("sim"))
        .collect()
    )
    rels = {r["vec_id"]: float(r["rel"]) for r in cand.select("vec_id", "rel").collect()}
    sim = {}
    for r in pair_rows:
        sim[(r["i"], r["j"])] = float(r["sim"])
        sim[(r["j"], r["i"])] = float(r["sim"])

    selected: list[tuple[int, float]] = []  # (vec_id, mmr_score at pick time)
    remaining = sorted(rels)
    while remaining and len(selected) < MMR_K:
        best_id, best_score = None, None
        for i in remaining:  # ascending vec_id → lowest id wins ties
            if selected:
                max_sim = max(sim[(i, s)] for s, _ in selected)
                score = MMR_LAMBDA * rels[i] - (1.0 - MMR_LAMBDA) * max_sim
            else:
                score = MMR_LAMBDA * rels[i]
            if best_score is None or score > best_score:
                best_id, best_score = i, score
        selected.append((best_id, best_score))
        remaining.remove(best_id)

    out = [
        (rank + 1, int(vid), round(rels[vid], 4), round(score, 4))
        for rank, (vid, score) in enumerate(selected)
    ]
    return local_frame(
        spark, out, "rank INT, vec_id BIGINT, relevance DOUBLE, mmr_score DOUBLE"
    )
