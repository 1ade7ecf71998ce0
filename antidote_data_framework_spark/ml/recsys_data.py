"""Derived recsys views — the engine's stand-in for the reference's
MovieLens inputs (FIXTURES.md §B).

The reference loads a user×item ratings matrix from CSV into dense
numpy (paper §6).  Here the same logical object is a long/COO
DataFrame derived deterministically from the fixtures — modulo
arithmetic only, no hash()/rand(), so Spark and DuckDB derive the
exact same table:

    ratings(user_id, item_id, rating∈[1,5]) = lineitem ⋈ orders
    users(user_id, grp = user_id % 2)       = customer
    train split: (user_id*31 + item_id) % 10 < 8

The dense matrix is never materialized anywhere — at 100 TB the
ratings stay long-format and partition by user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hints import broadcast_small as bcast
from ..functions.pairs import fits_pair_key

from ..session import derived
from ..sources import load_table

# Shared oracle CTE: the ratings view in ANSI SQL (DuckDB-runnable).
RATINGS_CTE = """
ratings AS (
  SELECT o.o_custkey                              AS user_id,
         l.l_partkey                              AS item_id,
         1 + (CAST(l.l_quantity AS INTEGER) % 5)  AS rating
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)"""

SPLIT_TRAIN_PRED = "(user_id * 31 + item_id) % 10 < 8"

# Bias-model CTE chain (train/test split -> mu -> user bias -> item bias
# -> deduped cells -> clipped predictions).  Appended after RATINGS_CTE.
BIAS_MODEL_CTES = """
train AS (SELECT * FROM ratings WHERE (user_id * 31 + item_id) % 10 < 8),
test  AS (SELECT * FROM ratings WHERE (user_id * 31 + item_id) % 10 >= 8),
mu AS (SELECT AVG(rating) AS mu FROM train),
bu AS (SELECT user_id, AVG(rating - mu.mu) AS bu FROM train CROSS JOIN mu GROUP BY user_id),
bi AS (SELECT t.item_id, AVG(t.rating - mu.mu - bu.bu) AS bi
       FROM train t JOIN bu ON t.user_id = bu.user_id CROSS JOIN mu
       GROUP BY t.item_id),
cells AS (SELECT user_id, item_id, AVG(rating) AS rating
          FROM ratings GROUP BY user_id, item_id),
pred AS (
  SELECT c.user_id, c.item_id, c.rating,
         LEAST(5.0, GREATEST(1.0,
               mu.mu + COALESCE(bu.bu, 0) + COALESCE(bi.bi, 0))) AS pred
  FROM cells c CROSS JOIN mu
  LEFT JOIN bu ON c.user_id = bu.user_id
  LEFT JOIN bi ON c.item_id = bi.item_id
)"""


def ratings_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The long-format ratings table (reference data model D1)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
        (1 + F.col("l_quantity").cast("int") % 5).alias("rating"),
    )


@derived
def _pair_key_packable(spark: SparkSession, sf_dir: str) -> bool:
    """True when every ``item_id`` fits a packed pair key
    (functions/pairs.py), so item-CF groups its pair fan-out on one
    long (neighbors_cf._pair_agg).

    Why the bound holds for what ``_pair_agg`` packs: ``ratings_df``
    above defines ``item_id = l_partkey`` verbatim, so the min/max of
    ``l_partkey`` bound every ``item_id`` of ``ratings_df``.  The
    packed columns are ``item_id`` of the capped cells and of
    slope-one's capped train cells ``tr``; both only group and drop
    rows of ``ratings_df``, so their ids are a subset of the ones
    bounded here.  A change to the ``item_id`` mapping above must
    change this bound with it.

    The bound scans the one lineitem column (0.22-0.26 s at sf0.1 on 4
    cores) rather than ``ratings_df`` itself, whose join costs
    0.56-0.71 s warm for the same (min, max).  Memoized per session and evicted with the
    other derived state, so every bench sweep re-measures it (it is a
    dataset bound, not a result)."""
    row = (
        load_table(spark, sf_dir, "lineitem")
        .agg(F.min("l_partkey").alias("lo"), F.max("l_partkey").alias("hi"))
        .first()
    )
    return fits_pair_key(row["lo"], row["hi"])


def users_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user attribute table with the binary fairness group D4."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("user_id"),
        (F.col("c_custkey") % 2).alias("grp"),
        F.col("c_mktsegment").alias("segment"),
    )


def is_train(user_col, item_col):
    """Deterministic holdout split (80/20) via modulo arithmetic —
    reproducible in any engine, unlike hash()/rand()."""
    return (user_col * 31 + item_col) % 10 < 8


@derived
def bias_components(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The fitted bias model (mu, bu, bi) on the train split — shared
    and cached across every query that scores with it: all seven
    bias-model queries (RMSE gate + six social metrics) read one fitted
    model per session.  bu/bi are |users|- and |items|-row tables (tiny
    next to the facts), so persisting them trades negligible memory for
    skipping the 3-aggregation fit in six follow-on queries."""
    r = ratings_df(spark, sf_dir)
    train = r.filter(is_train(F.col("user_id"), F.col("item_id")))
    mu = train.agg(F.avg("rating").alias("mu"))
    bu = (
        train.crossJoin(bcast(mu, "1-row global-mean aggregate"))
        .groupBy("user_id")
        .agg(F.avg(F.col("rating") - F.col("mu")).alias("bu"))
    )
    bi = (
        train.join(bu, "user_id")
        .crossJoin(bcast(mu, "1-row global-mean aggregate"))
        .groupBy("item_id")
        .agg(F.avg(F.col("rating") - F.col("mu") - F.col("bu")).alias("bi"))
    )
    # mu is one row but its plan is a FULL aggregation over the train
    # split — uncached, every follow-on query's crossJoin(broadcast(mu))
    # re-scans the fact table to recompute it
    return mu.cache(), bu.cache(), bi.cache()


@derived
def bias_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL-expressible predictor (stands in for the dense
    X-hat matrix of the reference, but long-format and lazy):

        pred(u, i) = clip(mu + b_u + b_i, 1, 5)

    with mu / b_u / b_i fit on the train split only.  Returns
    cells(user_id, item_id, rating, pred) over the deduplicated
    observed support, cached across the metric queries.  All social
    metrics (O-34..O-39) aggregate this DataFrame — none of them ever
    materializes a dense matrix.
    """
    mu, bu, bi = bias_components(spark, sf_dir)
    r = ratings_df(spark, sf_dir)
    cells = r.groupBy("user_id", "item_id").agg(F.avg("rating").alias("rating"))
    return (
        cells.crossJoin(bcast(mu, "1-row global-mean aggregate"))
        .join(bu, "user_id", "left")
        .join(bi, "item_id", "left")
        .withColumn(
            "pred",
            F.least(
                F.lit(5.0),
                F.greatest(
                    F.lit(1.0),
                    F.col("mu") + F.coalesce("bu", F.lit(0.0)) + F.coalesce("bi", F.lit(0.0)),
                ),
            ),
        )
        .select("user_id", "item_id", "rating", "pred")
        .cache()
    )


@derived
def bias_discrepancies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-item Yao-Huang group-discrepancy table
    (item_id, ey0, er0, ey1, er1) over the bias predictions, cached
    and memoized per session — r12: q_fairness_value / _absolute /
    _under_over each re-ran the identical groupBy((item_id, grp)) +
    both-groups self-join over the cached pred table (~1 s apiece on
    the sf0.1 bench); the table itself is |items|-row-bounded, so one
    persisted materialization serves all three metric aggregations.
    Same plan as metrics.grouped_discrepancies — only the
    materialization point moves, so every metric value is bit-
    identical."""
    from . import metrics

    return metrics.grouped_discrepancies(bias_predictions(spark, sf_dir)).cache()
