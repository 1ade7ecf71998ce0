"""Neighborhood collaborative filtering — the classic memory-based
recommender family the reference's MF model is usually compared
against (item-item cosine kNN, Sarwar et al. WWW 2001; weighted Slope
One, Lemire & Maclachlan SDM 2005 — public methods).

The reference (WSDM'19 antidote-data paper, SURVEY §0.5) evaluates a
latent-factor ALS recommender; every production recsys also keeps a
neighborhood model as the interpretable / cold-start baseline, and the
engine treats it as first-class because the whole model is expressible
as JOINED AGGREGATIONS — no driver state, no iteration, fully
SQL-oracled (unlike ALS, which is rows-only by necessity).

Scale design (the part that matters at 100 TB):

- The item-pair statistics (`dot`, `co`, `dev`) come from a self-join
  of user rating lists ON user_id — the standard co-rating expansion.
  Its cost is Σ_u d_u² (d_u = items rated by user u), which a single
  power-law "whale" user can blow up quadratically.  EVERY query below
  therefore first caps each user's list at CAP=64 items with a
  deterministic row_number over item_id — the textbook per-user cap
  from production item-CF (it bounds the expansion at |U|·CAP² and
  biases the model only for pathological raters).  The cap is applied
  IDENTICALLY in the DuckDB oracle, so capping is part of the declared
  semantics, not a Spark-side approximation.
- The pair aggregation shuffles on (item_i, item_j) — co-occurrence
  pairs, NOT the |I|² cross product; items never co-rated never
  materialize.
- The similarity/deviation table is the MODEL.  Downstream scoring
  joins it to a user's rated items — shuffle sized by |model| +
  |target users' ratings|, the asymmetric-join shape of
  q_dedup_incremental.

Determinism: ratings are integers but per-(user,item) cells are AVG()
doubles; all pair sums are plain double sums rounded to 4 decimals at
the output edge only, and every top-k ranks by the ROUNDED score with
id tie-breaks so both engines cut LIMIT boundaries identically
(README §Determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import broadcast_bounded, broadcast_small as bcast

from ..registry import spark_query
from ..session import derived
from .recsys_data import RATINGS_CTE, ratings_df

CAP = 64  # max rated items per user entering any pairwise expansion
MIN_CO = 3  # min co-raters for a pair to enter the similarity model


@derived
def _pair_key_packable(spark: SparkSession, sf_dir: str) -> bool:
    """True when every item id fits 31 bits, so an (item_i, item_j)
    pair packs losslessly into ONE long: ``(i << 32) | j`` with both
    halves in [0, 2^31) is bijective and sign-safe.

    Why pack (r12 VERDICT #6, guide §2.3 narrower types): the pair
    expansion's aggregation state and shuffle rows carry the grouping
    key on every one of the Σ_u C(d_u, 2) fan-out rows — one long key
    instead of two (plus pre-projecting the per-pair term) measured
    2x wall on the 9x point (21.3 -> 11.1 s, mem-spill -8%) with the
    hash/compare in both aggregation stages running on a single word.
    The bound check is one column-pruned scan-agg over lineitem
    (~0.2 s, once per sweep); ids beyond 31 bits take the classic
    two-column key path — identical results either way (test-pinned),
    so the pack is a pure physical-plan choice.  Memoized per session
    and evicted with the other derived state, so every bench sweep
    re-measures it (it is a dataset bound, not a result)."""
    from ..sources import load_table

    row = (
        load_table(spark, sf_dir, "lineitem")
        .agg(F.min("l_partkey").alias("lo"), F.max("l_partkey").alias("hi"))
        .first()
    )
    return row["lo"] is not None and int(row["lo"]) >= 0 and int(row["hi"]) < 2**31


def _pair_agg(
    joined: DataFrame,
    i_col,
    j_col,
    term,
    agg_alias: str,
    packable: bool,
) -> DataFrame:
    """Shared pair-aggregation shape: group the co-rating fan-out by
    the item pair and aggregate SUM(term) + COUNT, either over the
    packed single-long key (ids < 2^31 — the fast path) or the plain
    two-column key.  Emits (item_i, item_j, <agg_alias>, co) with the
    MIN_CO floor applied; per-group sums see the same addends either
    way, so results are identical (the reduce-side partitioning
    differs, which only permutes WHICH task owns a group — the same
    nondeterminism every shuffle already has)."""
    if packable:
        packed = joined.select(
            F.shiftleft(i_col, 32).bitwiseOR(j_col).alias("k"),
            term.alias("t"),
        )
        agg = (
            packed.groupBy("k")
            .agg(
                F.sum("t").alias(agg_alias),
                F.count(F.lit(1)).cast("bigint").alias("co"),
            )
            .filter(F.col("co") >= MIN_CO)
        )
        return agg.select(
            F.shiftrightunsigned("k", 32).alias("item_i"),
            F.col("k").bitwiseAND(F.lit(0xFFFFFFFF)).alias("item_j"),
            agg_alias,
            "co",
        )
    return (
        joined.select(i_col.alias("item_i"), j_col.alias("item_j"), term.alias("t"))
        .groupBy("item_i", "item_j")
        .agg(
            F.sum("t").alias(agg_alias),
            F.count(F.lit(1)).cast("bigint").alias("co"),
        )
        .filter(F.col("co") >= MIN_CO)
    )

# Shared oracle CTE chain: deduped rating cells -> per-user cap.
_CAPPED_CTES = f"""
cells AS (
  SELECT user_id, item_id, AVG(rating) AS r
  FROM ratings GROUP BY user_id, item_id
),
capped AS (
  SELECT user_id, item_id, r FROM (
    SELECT user_id, item_id, r,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY item_id) AS rn
    FROM cells
  ) t WHERE rn <= {CAP}
)"""


def _capped_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped (user, item, r) cells, ≤ CAP items per user (see module
    docstring — the cap is the quadratic-blowup guard and is part of
    the declared, oracle-matched semantics)."""
    cells = (
        ratings_df(spark, sf_dir)
        .groupBy("user_id", "item_id")
        .agg(F.avg("rating").alias("r"))
    )
    w = Window.partitionBy("user_id").orderBy("item_id")
    return (
        cells.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CAP)
        .drop("rn")
    )


@derived
def _item_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle item-item cosine pairs with ≥ MIN_CO co-raters,
    cached and memoized per session: the co-rating pair aggregation is
    the expensive invariant part of every item-CF query over the same
    snapshot (r6 VERDICT #4: q_item_item_cosine and
    q_item_item_recommend each rebuilt it), so the first consumer pays
    the build exactly once per sweep.

    Self-join on user_id (co-rating expansion, bounded by the CAP) →
    groupBy the ITEM PAIR (only co-occurring pairs exist) → normalize
    by the per-item L2 norms (tiny aggregate, broadcast-joined twice).
    """
    capped = _capped_cells(spark, sf_dir)
    norms = capped.groupBy("item_id").agg(F.sum(F.col("r") * F.col("r")).alias("sq"))
    a = capped.alias("a")
    b = capped.alias("b")
    pairs = _pair_agg(
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.item_id") < F.col("b.item_id"))),
        F.col("a.item_id"),
        F.col("b.item_id"),
        F.col("a.r") * F.col("b.r"),
        "dot",
        _pair_key_packable(spark, sf_dir),
    )
    ni = bcast(norms.select(F.col("item_id").alias("item_i"), F.col("sq").alias("sq_i")), "bounded by construction; see enclosing docstring")
    nj = bcast(norms.select(F.col("item_id").alias("item_j"), F.col("sq").alias("sq_j")), "bounded by construction; see enclosing docstring")
    return (
        pairs.join(ni, "item_i")
        .join(nj, "item_j")
        .select(
            "item_i",
            "item_j",
            "co",
            (F.col("dot") / F.sqrt(F.col("sq_i") * F.col("sq_j"))).alias("cos_raw"),
        )
        .cache()
    )


@spark_query(
    "q_item_item_cosine",
    oracle=f"""
WITH {RATINGS_CTE.strip()},
{_CAPPED_CTES.strip()},
norms AS (SELECT item_id, SUM(r*r) AS sq FROM capped GROUP BY item_id),
pairs AS (
  SELECT a.item_id AS item_i, b.item_id AS item_j,
         SUM(a.r * b.r) AS dot, COUNT(*) AS co
  FROM capped a JOIN capped b
    ON a.user_id = b.user_id AND a.item_id < b.item_id
  GROUP BY a.item_id, b.item_id
  HAVING COUNT(*) >= {MIN_CO}
)
SELECT item_i, item_j, co,
       ROUND(p.dot / SQRT(ni.sq * nj.sq), 4) AS cosine
FROM pairs p
JOIN norms ni ON ni.item_id = p.item_i
JOIN norms nj ON nj.item_id = p.item_j
ORDER BY ROUND(p.dot / SQRT(ni.sq * nj.sq), 4) DESC, item_i, item_j
LIMIT 20
""",
)
def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar item pairs by co-rating cosine (≥ MIN_CO
    co-raters) — the model-build step of item-item kNN.  Ranked by the
    ROUNDED cosine with (item_i, item_j) tie-breaks so the LIMIT
    boundary is engine-independent."""
    sims = _item_sims(spark, sf_dir)
    return (
        sims.select(
            "item_i", "item_j", "co", F.round("cos_raw", 4).alias("cosine")
        )
        .orderBy(F.desc("cosine"), "item_i", "item_j")
        .limit(20)
    )


@spark_query(
    "q_item_item_recommend",
    oracle=f"""
WITH {RATINGS_CTE.strip()},
{_CAPPED_CTES.strip()},
norms AS (SELECT item_id, SUM(r*r) AS sq FROM capped GROUP BY item_id),
pairs AS (
  SELECT a.item_id AS item_i, b.item_id AS item_j,
         SUM(a.r * b.r) AS dot, COUNT(*) AS co
  FROM capped a JOIN capped b
    ON a.user_id = b.user_id AND a.item_id < b.item_id
  GROUP BY a.item_id, b.item_id
  HAVING COUNT(*) >= {MIN_CO}
),
sims AS (
  SELECT item_i, item_j, p.dot / SQRT(ni.sq * nj.sq) AS s
  FROM pairs p
  JOIN norms ni ON ni.item_id = p.item_i
  JOIN norms nj ON nj.item_id = p.item_j
),
sym AS (
  SELECT item_i AS i, item_j AS j, s FROM sims
  UNION ALL
  SELECT item_j AS i, item_i AS j, s FROM sims
),
scored AS (
  SELECT c.user_id, sym.j AS item_id,
         SUM(sym.s * c.r) / SUM(sym.s) AS score,
         COUNT(*) AS n_contrib
  FROM capped c JOIN sym ON sym.i = c.item_id
  WHERE c.user_id <= 10
    AND NOT EXISTS (
      SELECT 1 FROM cells x
      WHERE x.user_id = c.user_id AND x.item_id = sym.j
    )
  GROUP BY c.user_id, sym.j
)
SELECT user_id, item_id, n_contrib, score FROM (
  SELECT user_id, item_id, n_contrib,
         ROUND(score, 4) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY ROUND(score, 4) DESC, item_id
         ) AS rk
  FROM scored
) t WHERE rk <= 3
""",
)
def q_item_item_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 unseen-item recommendations for users with id ≤ 10, scored as the
    similarity-weighted average of each user's own ratings over the
    item-item cosine model (the serve step of item-item kNN).

    Shape: the sims model joins the target users' rated items — an
    asymmetric join sized by |model| + |targets|, never |users|×|items|.
    The anti-join removes already-rated candidates.  Ranks by ROUNDED
    score + item_id so the per-user top-3 cut is engine-independent.
    """
    sims = _item_sims(spark, sf_dir)
    sym = sims.select(
        F.col("item_i").alias("i"), F.col("item_j").alias("j"), F.col("cos_raw").alias("s")
    ).unionAll(
        sims.select(
            F.col("item_j").alias("i"), F.col("item_i").alias("j"), F.col("cos_raw").alias("s")
        )
    )
    capped = _capped_cells(spark, sf_dir)
    cells = (
        ratings_df(spark, sf_dir)
        .groupBy("user_id", "item_id")
        .agg(F.avg("rating").alias("r"))
    )
    targets = capped.filter(F.col("user_id") <= 10)
    scored = (
        targets.join(sym, targets.item_id == sym.i)
        .join(
            cells.select("user_id", F.col("item_id").alias("j")),
            ["user_id", "j"],
            "left_anti",
        )
        .groupBy("user_id", F.col("j").alias("item_id"))
        .agg(
            (F.sum(F.col("s") * F.col("r")) / F.sum("s")).alias("score_raw"),
            F.count(F.lit(1)).cast("bigint").alias("n_contrib"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc(F.round("score_raw", 4)), "item_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", "item_id", "n_contrib", F.round("score_raw", 4).alias("score"))
    )


@spark_query(
    "q_slopeone_rmse",
    oracle=f"""
WITH {RATINGS_CTE.strip()},
tr0 AS (
  SELECT user_id, item_id, AVG(rating) AS r
  FROM ratings WHERE (user_id * 31 + item_id) % 10 < 8
  GROUP BY user_id, item_id
),
tr AS (
  SELECT user_id, item_id, r FROM (
    SELECT user_id, item_id, r,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY item_id) AS rn
    FROM tr0
  ) t WHERE rn <= {CAP}
),
te AS (
  SELECT user_id, item_id, AVG(rating) AS r
  FROM ratings WHERE (user_id * 31 + item_id) % 10 >= 8
  GROUP BY user_id, item_id
),
dev AS (
  SELECT a.item_id AS j, b.item_id AS i,
         AVG(a.r - b.r) AS d, COUNT(*) AS c
  FROM tr a JOIN tr b
    ON a.user_id = b.user_id AND a.item_id <> b.item_id
  GROUP BY a.item_id, b.item_id
  HAVING COUNT(*) >= {MIN_CO}
),
pred AS (
  SELECT te.user_id, te.item_id, te.r,
         LEAST(5.0, GREATEST(1.0,
             SUM((dev.d + tr.r) * dev.c) / SUM(dev.c))) AS p
  FROM te
  JOIN tr  ON tr.user_id = te.user_id
  JOIN dev ON dev.j = te.item_id AND dev.i = tr.item_id
  GROUP BY te.user_id, te.item_id, te.r
)
SELECT CAST(COUNT(*) AS BIGINT)                     AS n_pred,
       ROUND(SQRT(AVG((p - r) * (p - r))), 4)       AS rmse,
       ROUND(AVG(ABS(p - r)), 4)                    AS mae
FROM pred
""",
)
def q_slopeone_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Slope One (Lemire & Maclachlan 2005) evaluated on the
    deterministic 80/20 split: per-item-pair average rating deviations
    from TRAIN co-raters, test prediction = count-weighted average of
    (dev(j,i) + r_ui), clipped to [1,5]; one row (n_pred, rmse, mae).

    The dev table is the model — item-pair co-occurrence aggregates
    from the capped co-rating self-join (module docstring).  Scoring
    joins test cells to the user's train items to the dev pairs: every
    join keyed, no cross products.  A useful property vs the bias
    baseline (q_bias_baseline_rmse): Slope One uses pairwise item
    structure, so its RMSE is the sanity band for the ALS gate.
    """
    ratings = ratings_df(spark, sf_dir)
    split = (F.col("user_id") * 31 + F.col("item_id")) % 10
    tr0 = (
        ratings.filter(split < 8)
        .groupBy("user_id", "item_id")
        .agg(F.avg("rating").alias("r"))
    )
    wcap = Window.partitionBy("user_id").orderBy("item_id")
    # Materialize the capped train cells ONCE (r12): the plan reads tr
    # three times (both pair self-join sides + the scoring join), and
    # only the dedup-agg exchange is runtime-reused — the cap window
    # re-ran per branch.  Narrow |train cells| rows, eager checkpoint.
    tr = (
        tr0.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= CAP)
        .drop("rn")
        .localCheckpoint()
    )
    te = (
        ratings.filter(split >= 8)
        .groupBy("user_id", "item_id")
        .agg(F.avg("rating").alias("r"))
    )
    a = tr.alias("a")
    b = tr.alias("b")
    # Upper-triangle rewrite (r6 VERDICT #4/#5): the dev table is
    # antisymmetric — dev(j,i) = -dev(i,j) with the same co-count — so
    # the co-rating self-join emits each unordered pair ONCE
    # (item < item, halving the join output and the pair shuffle) and
    # both directions are derived by a cheap union of the aggregated,
    # MIN_CO-filtered model table.  IEEE round-to-nearest is
    # sign-symmetric, so the negated sum equals the sum of negations
    # exactly; the oracle keeps the naive both-directions semantics
    # and the results hash-match.
    # MIN_CO floor (r5 VERDICT #5, mirroring q_item_item_cosine):
    # single-co-rater deviations are noise AND dominate the scoring
    # join's fan-in — dropping them cut the sf0.1 wall time ~35%
    # with the same declared semantics (pairs need >= MIN_CO
    # co-raters to enter the model).  Pair aggregation via the shared
    # packed-key shape (_pair_agg) when ids fit 31 bits.
    tri = (
        _pair_agg(
            a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                   & (F.col("a.item_id") < F.col("b.item_id"))),
            F.col("a.item_id"),
            F.col("b.item_id"),
            F.col("a.r") - F.col("b.r"),
            "s",
            _pair_key_packable(spark, sf_dir),
        )
        .select(
            F.col("item_i").alias("lo"),
            F.col("item_j").alias("hi"),
            "s",
            F.col("co").alias("c"),
        )
        # the aggregated model table is item-pair-sized (2.5k rows at
        # sf0.1, 22k at the 9x scale fixture) — cache it so the
        # bound-measuring count and the scoring join's two dev_r
        # branches don't re-run the 70M-row pair shuffle; dropped in
        # clear_derived_caches' catalog sweep
        .cache()
    )
    dev_r = tri.select(
        F.col("lo").alias("dev_j"),
        F.col("hi").alias("dev_i"),
        (F.col("s") / F.col("c")).alias("d"),
        "c",
    ).unionAll(
        tri.select(
            F.col("hi").alias("dev_j"),
            F.col("lo").alias("dev_i"),
            (-F.col("s") / F.col("c")).alias("d"),
            "c",
        )
    )
    # Model-first join order (r9, superseding the r8 semi-join prune):
    # the un-pruned te⋈tr user join fans out |te|·(train items/user)
    # rows — 17.8x on 9x data in the r8 scale checkpoint.  The r8 fix
    # semi-joined both sides against the model's item set first, which
    # restored ~linear scaling but cost a separate distinct+count
    # action, a second broadcast, and two extra joins (~x1.6 at sf0.1,
    # r8 VERDICT "what's wrong" #2).  Joining te to the BROADCAST dev
    # model FIRST subsumes the prune by construction: each te row fans
    # out only to its item's model partners (never to the user's whole
    # train list), and the keyed (user, item) join against tr can only
    # shrink that.  One count action total (fills tri's cache AND
    # bounds the broadcast); measured min wall 4.9 s at sf0.1 (r8
    # semi-join form: 6.6-8 s same session) and 4.5x on 9x data (r8
    # form: 4.0x; un-pruned: 17.8x).  Beyond the broadcast bound the
    # planner falls back to a shuffled join on dev_j, still keyed.
    n_pairs = tri.count()
    dev_b = broadcast_bounded(dev_r, 2 * n_pairs)
    pred = (
        te.alias("te")
        .join(dev_b, F.col("dev_j") == F.col("te.item_id"))
        .join(
            tr.select(F.col("user_id").alias("tr_u"),
                      F.col("item_id").alias("tr_i"),
                      F.col("r").alias("r_ui")),
            (F.col("te.user_id") == F.col("tr_u"))
            & (F.col("dev_i") == F.col("tr_i")),
        )
        .groupBy("te.user_id", "te.item_id", "te.r")
        .agg(
            F.least(
                F.lit(5.0),
                F.greatest(
                    F.lit(1.0),
                    F.sum((F.col("d") + F.col("r_ui")) * F.col("c")) / F.sum("c"),
                ),
            ).alias("p")
        )
    )
    err = F.col("p") - F.col("r")
    return pred.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pred"),
        F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
        F.round(F.avg(F.abs(err)), 4).alias("mae"),
    )
