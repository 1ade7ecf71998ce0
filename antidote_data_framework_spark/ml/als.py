"""MLlib ALS matrix factorization — SURVEY.md §2A O-40/O-41.

The real distributed twin of the reference's numpy ALS (paper §3,
eq.1): ``pyspark.ml.recommendation.ALS`` solves the same regularized
MF objective with blocked alternating least squares — user and item
factors live in partitioned blocks, each half-iteration is a
distributed job, and normal equations are solved per block.  This is
the piece that actually scales the reference's 6040×3700 MovieLens
regime to 100 TB of ratings.

Semantic note (SURVEY §4.3): MLlib scales λ per-block by rating counts
(ALS-WR); the reference uses plain λ.  Declared rows-only for exactly
this reason — FP-nondeterministic across partitionings and not
SQL-expressible.  The RMSE gate (O-41) converts nondeterminism into a
stable boolean row.
"""

from __future__ import annotations

from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.recommendation import ALS
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import spark_query
from ..session import derived
from .recsys_data import RATINGS_CTE, SPLIT_TRAIN_PRED, is_train, ratings_df

ALS_PARAMS = dict(rank=10, regParam=0.1, maxIter=10, seed=42, coldStartStrategy="drop")


@derived
def _als_fit_cached(spark: SparkSession, sf_dir: str):
    """ALS fit on the train split; returns (model, n_train).

    Memoized per session: O-41 evaluates O-40's model — retraining for
    the evaluator would double the dominant cost at bench time — and
    reuses the fit's train-row count (the block-sizing count) instead
    of re-scanning the ratings join (review r11)."""
    train = ratings_df(spark, sf_dir).filter(
        is_train(F.col("user_id"), F.col("item_id"))
    )
    # Block count sized to the data (~60k ratings/block, the
    # antidote-loop rule): MLlib's default 10x10 block grid has a
    # fixed per-block-pair scheduling floor that dominates when
    # blocks are near-empty — measured 2.4x fit-time saving at
    # sf0.1 with identical RMSE-gate outcome.  At 100 TB the same
    # formula grows the grid so a block never outgrows an
    # executor.
    n_train = train.count()
    blocks = max(2, min(64, n_train // 60_000 or 2))
    als = ALS(
        userCol="user_id",
        itemCol="item_id",
        ratingCol="rating",
        numUserBlocks=blocks,
        numItemBlocks=blocks,
        **ALS_PARAMS,
    )
    return als.fit(train), n_train


@spark_query("q_als_train_predict")  # rows-only: iterative, FP-nondeterministic
def q_als_train_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train ALS (rank 10, λ=0.1, 10 iters, seed 42) on the train
    split, predict the held-out cells.  model.transform is a join of
    the factor tables with a dot-product expression — no dense matrix
    ever exists."""
    model, _n_train = _als_fit_cached(spark, sf_dir)
    r = ratings_df(spark, sf_dir)
    test = r.filter(~is_train(F.col("user_id"), F.col("item_id")))
    return model.transform(test).select(
        "user_id", "item_id", "rating", F.round("prediction", 4).alias("prediction")
    )


# Gate thresholds, calibrated against the fixture's MEASURED noise
# floor (r12: rank-10/λ=0.1/seed-42 fit on the synthetic modulo-split
# ratings; RMSE measured across all three SFs x {2,4,8}-block grids:
# 1.768 / 1.819 / 1.768 at sf0.001, 1.794-1.818 at sf0.01,
# 1.805-1.810 at sf0.1 — range [1.768, 1.819], partitioning spread
# <= 0.052).  LOOSE = 2.0 catches outright divergence; TIGHT = 1.9
# sits 0.081 above the measured max (vs ~1e-3 FP reduction-order
# noise), so a quality regression short of divergence (e.g. 1.82 ->
# 1.95) now flips a hashed boolean instead of hiding under the loose
# gate (r11 ADVICE).  Both have forced-FALSE negative-control tests.
RMSE_GATE_LOOSE = 2.0
RMSE_GATE_TIGHT = 1.9


def _rmse_gate_row(
    spark: SparkSession,
    sf_dir: str,
    loose: float = RMSE_GATE_LOOSE,
    tight: float = RMSE_GATE_TIGHT,
) -> DataFrame:
    """Shared gate body; the threshold parameters exist so the
    negative-control tests can tighten them below the measured noise
    floor and prove the booleans flip FALSE (non-tautology)."""
    preds = q_als_train_predict(spark, sf_dir).withColumnRenamed(
        "prediction", "raw_prediction"
    )
    # the fit (triggered above, or memoized from O-40) already counted
    # the train split for block sizing
    _model, n_train = _als_fit_cached(spark, sf_dir)
    evaluator = RegressionEvaluator(
        metricName="rmse", labelCol="rating", predictionCol="raw_prediction"
    )
    preds = preds.cache()
    rmse = evaluator.evaluate(preds)
    n_test = preds.count()
    preds.unpersist()
    return spark.createDataFrame(
        [(int(n_train), int(n_test), bool(rmse < loose), bool(rmse < tight))],
        "n_train BIGINT, n_test BIGINT, passed BOOLEAN, rmse_tight BOOLEAN",
    )


@spark_query(
    "q_als_rmse_gate",
    oracle=f"""
WITH {RATINGS_CTE.strip()},
train AS (SELECT * FROM ratings WHERE {SPLIT_TRAIN_PRED}),
test  AS (SELECT * FROM ratings WHERE NOT ({SPLIT_TRAIN_PRED}))
SELECT (SELECT COUNT(*) FROM train) AS n_train,
       (SELECT COUNT(*) FROM test t
         WHERE EXISTS (SELECT 1 FROM train u WHERE u.user_id = t.user_id)
           AND EXISTS (SELECT 1 FROM train i WHERE i.item_id = t.item_id))
         AS n_test,
       TRUE AS passed,
       TRUE AS rmse_tight
""",
)
# Oracle upgraded from rows-only in r11 (the q_agg_approx_quantile
# law-boolean pattern): the RMSE VALUE is FP-nondeterministic across
# partitionings and stays out of the hashed surface, but the gate's
# deterministic laws are pinned — (1) coldStartStrategy='drop'
# must drop EXACTLY the holdout rows whose user or item never appears
# in the train split (the oracle restates that as two EXISTS
# predicates over the modulo split), and (2) the two-tier rmse
# quality gate itself (passed = rmse < 2.0 divergence gate,
# rmse_tight = rmse < 1.9 noise-floor-calibrated regression gate —
# see RMSE_GATE_* above; both pinned TRUE, both mutation-tested
# FALSE).  A wrong split, a cold-start leak, a broken fit, or a
# sub-divergence quality regression all fail the hash; only the
# float's low-order digits are un-pinned.
def q_als_rmse_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RMSE of the ALS predictions on the holdout; emits one row
    (n_train, n_test, passed, rmse_tight) with passed = rmse < 2.0
    and rmse_tight = rmse < 1.9 — the paper §6 evaluation protocol as
    a two-tier deterministic gate (thresholds calibrated to the
    fixture's measured noise floor; see RMSE_GATE_* above).  n_test
    comes from the REAL mechanism (model.transform +
    coldStartStrategy='drop' row census), which the oracle
    independently derives from the split + factor-coverage law."""
    return _rmse_gate_row(spark, sf_dir)


@spark_query("q_als_recommend_topk")  # rows-only: factor-dependent scores
def q_als_recommend_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 ALS recommendations per user via recommendForAllUsers —
    the MLlib twin of the SQL-oracled q_topk_recommendations (paper
    §6's recommendation lists from the real MF model).  The blocked
    cross-product of factor matrices happens JVM-side with per-block
    top-k pruning — no dense score matrix.

    Measured (r4, timer wrapping the full call, median of 3 sweeps at
    sf0.1): 2.4 s — r3's recorded 12.3 s was single-shot timing noise,
    not a regression.  Exact recommendForAllUsers is retained: at this
    user×item product the blocked top-k is cheaper than an ANN detour;
    when the product grows ~100×, swap in factor-space ANN over
    itemFactors (the q_knn_lsh / q_ivf_cosine_topk machinery) or bound
    to active users."""
    model, _n_train = _als_fit_cached(spark, sf_dir)
    recs = model.recommendForAllUsers(3)
    return recs.select(
        F.col("user_id"),
        F.posexplode("recommendations").alias("rank0", "rec"),
    ).select(
        "user_id",
        (F.col("rank0") + 1).alias("rnk"),
        F.col("rec.item_id").alias("item_id"),
        F.round(F.col("rec.rating"), 4).alias("score"),
    )


# Per-worker scoring scratch (guide §4.5 heavyweight-state-once): the
# b x M score matrix is 41 MB at the 2048-row chunk bound — allocating
# it FRESH per chunk mmaps new pages whose first-touch faults, not the
# arithmetic, dominated the kernel (measured: an 8.5k x 2500 matmul is
# 1.38 s into fresh pages vs 0.03 s into warm ones on this host class;
# in-worker kernel walls read 0.8-10.8 s for the same data purely on
# allocation weather).  Python workers are reused across tasks, so a
# module-level buffer keeps the pages warm for the whole session.  ONE
# buffer, replaced when M changes, so a long-lived worker holds at most
# chunk(2048) x M(<=4096) doubles = 67 MB.
_ANN_SCRATCH = None


def _ann_scratch(m: int):
    """This worker's 2048 x ``m`` score buffer (see ``_ANN_SCRATCH``)."""
    global _ANN_SCRATCH
    import numpy as np

    if _ANN_SCRATCH is None or _ANN_SCRATCH.shape[1] != m:
        _ANN_SCRATCH = None  # drop the old buffer before allocating
        _ANN_SCRATCH = np.empty((2048, m))
    return _ANN_SCRATCH


def _top3_stable(S):
    """Row-wise top-3 column indices of ``S`` ordered by (value DESC,
    index ASC) — bit-identical to
    ``np.argsort(-S, axis=1, kind="stable")[:, :3]`` but O(M) per row
    instead of O(M log M), and allocation-free beyond b x 3 outputs.

    The full stable argsort was 75-80% of the ann scoring kernel
    (measured 2.5-4.2 s single-threaded at sf0.1 for a 15k x 2500
    score matrix vs 0.35-1.1 s for the matmul it ranks — guide §4.2:
    make the per-batch native work proportional to what the operator
    returns, here 3 of M candidates).  Three argmax passes with
    -inf masking select them exactly: ``argmax`` returns the FIRST
    occurrence of the maximum, i.e. the lowest index among ties, which
    IS the stable order; masking each winner makes the next pass pick
    the next (value DESC, index ASC) element.  The masked cells are
    restored afterwards, so the caller's S is unchanged.  Equivalence
    is pinned by tests/test_als_ann_topk_kernel.py over adversarial
    tie layouts.
    """
    import numpy as np

    b, _m = S.shape
    rows = np.arange(b)
    top = np.empty((b, 3), dtype=np.int64)
    vals = np.empty((b, 3))
    for k in range(3):
        i = S.argmax(axis=1)
        top[:, k] = i
        vals[:, k] = S[rows, i]
        S[rows, i] = -np.inf
    S[rows[:, None], top] = vals  # restore the caller's matrix
    return top


@spark_query("q_als_recommend_ann")  # rows-only: approximate, factor-dependent
def q_als_recommend_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Norm-pruned approximate top-3 recommendations with per-user
    EXACTNESS certificates — the 100 TB alternative to
    q_als_recommend_topk's blocked all-pairs cross product.

    Maximum-inner-product pruning by Cauchy-Schwarz: u.v <= |u||v|,
    so only the top-M items by factor norm can contain high scores.
    Candidates = the global top-M=256 items by ||v|| (a bounded top-k,
    broadcastable at ANY item count); each user exact-scores only
    those.  The certificate: if the user's 3rd-best candidate score
    s3 >= ||u|| * ||v||_(M+1), NO pruned item can displace the top-3 —
    that user's result is provably exact, and the `certified` flag
    reports it.  (A first cut used MLlib approxSimilarityJoin with the
    MIPS norm-augmentation; its bucket collisions degenerated toward
    the full user x item product at sf0.1 — bucket-join ANN needs
    selective band keys, which rank-10 factor space does not give.
    Norm pruning is the right factor-space primitive: work is
    users x M, linear in users, M fixed.)

    Measured at sf0.1 (15k users x 20k items, M = 2500): recall 0.97
    vs the exact top-3.  Recall is test-enforced
    (tests/test_als_ann_recall.py), alongside the certificate's
    soundness."""
    model, _n_train = _als_fit_cached(spark, sf_dir)

    sqnorm = lambda c: F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x)  # noqa: E731
    items = model.itemFactors.select(
        F.col("id").alias("item_id"),
        F.col("features").cast("array<double>").alias("ifeat"),
    ).withColumn("inorm", F.sqrt(sqnorm(F.col("ifeat"))))
    # candidate budget: ~1/8 of the catalog, floored so tiny catalogs
    # stay exact and capped so giant catalogs stay bounded (the cap is
    # the honest approximation knob — recall vs work, measured below)
    n_items = items.count()
    M = min(4096, max(256, n_items // 8))
    ranked = items.orderBy(F.desc("inorm"), F.asc("item_id"))
    # Scoring stage: one numpy matmul per Arrow batch of users against
    # the broadcast M x rank candidate matrix.  The first cut expressed
    # the dot product with zip_with/aggregate higher-order functions +
    # a row_number window over users x M expanded rows — HOF lambdas
    # are interpreted (no codegen) and the window re-shuffled and
    # sorted all users x M rows; at sf0.1 that was ~11 s for work one
    # BLAS call does in milliseconds.  The candidate matrix is bounded
    # (M <= 4096 rows x rank doubles, ~300 KB) so shipping it in the
    # UDF closure is the documented small-state exception, and the
    # per-user top-3 never leaves the user's partition — NO shuffle at
    # all downstream of the factor tables.
    import numpy as np
    import pandas as pd

    cand_rows = ranked.limit(M + 1).collect()
    fence_norm = float(cand_rows[M]["inorm"]) if len(cand_rows) > M else 0.0
    cand = sorted(cand_rows[:M], key=lambda r: r["item_id"])
    C = np.array([r["ifeat"] for r in cand], dtype=np.float64)  # M x rank
    ids = np.array([r["item_id"] for r in cand], dtype=np.int64)

    def _score(batches):
        # score-matrix scratch: allocate once per (worker, M), slice
        # for partial chunks — see _ANN_SCRATCH above
        Ct = C.T
        for pdf in batches:
            for lo in range(0, len(pdf), 2048):  # bound S to ~40 MB
                chunk = pdf.iloc[lo : lo + 2048]
                U = np.stack(chunk["ufeat"].to_numpy())  # b x rank
                buf = _ann_scratch(len(ids))
                S = np.matmul(U, Ct, out=buf[: len(chunk)])  # b x M
                top = _top3_stable(S)
                rows = np.arange(len(chunk))
                s_top = S[rows[:, None], top]  # b x 3
                unorm = np.linalg.norm(U, axis=1)
                certified = s_top[:, 2] >= unorm * fence_norm
                yield pd.DataFrame(
                    {
                        "user_id": np.repeat(
                            chunk["user_id"].to_numpy(), 3
                        ).astype("int32"),
                        "rnk": np.tile(np.arange(1, 4), len(chunk)).astype(
                            "int32"
                        ),
                        "item_id": ids[top].reshape(-1).astype("int32"),
                        "score": np.round(s_top.reshape(-1), 4),
                        "certified": np.repeat(certified, 3),
                    }
                )

    users = model.userFactors.select(
        F.col("id").alias("user_id"),
        F.col("features").cast("array<double>").alias("ufeat"),
    )
    # Scale-adaptive task sizing (guide §2.2/§4.2): the factor RDD's
    # partitioning is the ALS *block grid* (7 blocks ≈ 2.1k users each
    # at sf0.1) — post-kernel-fix the per-task numpy work is ~0.1 s,
    # so per-task Python-worker overhead dominated and its variance
    # (worker spawn waves under late-sweep pressure) WAS the measured
    # 3-12 s driver-posture spread.  Re-batch to ≥ ~8k users per
    # scoring task: A/B at sf0.1 (6 rounds, same session) — 7 tasks
    # median 1.99 s spread 0.78-6.6; 2 tasks median 1.05 s spread
    # 0.91-1.25.  coalesce never splits, so at scale (n_users/8192 ≥
    # block count) this is a no-op and parallelism is untouched;
    # coalesce also preserves partition-order concatenation, so the
    # output rows are identical INCLUDING order (verified, golden
    # tests green).  The count is one job over the already-persisted
    # factor RDD (~0.1 s).
    n_users = users.count()
    score_parts = max(1, min(users.rdd.getNumPartitions(), -(-n_users // 8192)))
    return users.coalesce(score_parts).mapInPandas(
        _score,
        schema="user_id int, rnk int, item_id int, score double, certified boolean",
    )
