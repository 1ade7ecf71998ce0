"""UDF / UDAF / UDTF surface — SURVEY.md §2B O-62.

The escape hatch, demonstrated once each and deliberately kept OUT of
the hash-matched set: every hot path in this engine is built-in
expressions; Python enters only through Arrow-vectorized boundaries.
Preference order at scale: pandas_udf (columnar batches) >
applyInPandas/mapInPandas (grouped/partition batches) >> row-at-a-time
udf (serde per row — shown here only to prove the capability).

This module is also the plumbing template for multimodal columns
(SURVEY north star): ``mapInPandas`` over a binary column + typed
metadata is exactly the decode/feature-extract shape — see
``multimodal.py`` for the stubbed decode pipeline.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.local import local_frame
from ..registry import spark_query
from ..sources import load_table


@spark_query("q_udf_surface")  # rows-only: UDF demos, not oracle targets
def q_udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One of each Python-boundary mechanism over events, summarized
    into a single row of counts (each count proves that path executed):

    - scalar Python UDF (row-at-a-time; the slow path),
    - pandas_udf (Arrow-vectorized scalar),
    - applyInPandas (grouped map — the antidote-gradient carrier shape),
    - mapInPandas (partition-batch map — the multimodal decode shape),
    - UDTF (table function, Spark 4.x).
    """
    events = load_table(spark, sf_dir, "events")

    @F.udf(T.StringType())
    def slow_upper(s: str) -> str:
        return s.upper() if s else s

    @F.pandas_udf(T.DoubleType())
    def vec_double(v: pd.Series) -> pd.Series:
        return v * 2.0

    n_udf = events.select(slow_upper("event_type").alias("et")).filter(
        F.col("et").isin("CLICK", "VIEW", "PURCHASE", "SIGNUP", "ERROR")
    ).count()
    n_pandas = events.select(vec_double("value").alias("v2")).filter(
        F.col("v2").isNotNull()
    ).count()

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mean, std = pdf["value"].mean(), pdf["value"].std(ddof=0) or 1.0
        return pdf.assign(z=(pdf["value"] - mean) / (std if std else 1.0))

    n_grouped = (
        events.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandas(zscore, schema="event_type string, value double, z double")
        .count()
    )

    def add_len(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pdf.assign(props_len=pdf["props"].str.len())

    n_map = (
        events.select("event_id", "props")
        .mapInPandas(add_len, schema="event_id long, props string, props_len long")
        .filter(F.col("props_len") > 0)
        .count()
    )

    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split(" ")):
                yield w, i

    spark.udtf.register("split_words", SplitWords)
    first_doc = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(1)
    first_doc.createOrReplaceTempView("udtf_first_doc")
    n_udtf = spark.sql(
        "SELECT sw.word, sw.pos FROM udtf_first_doc, LATERAL split_words(text) sw"
    ).count()

    return local_frame(
        spark,
        [(int(n_udf), int(n_pandas), int(n_grouped), int(n_map), int(n_udtf))],
        "n_scalar_udf BIGINT, n_pandas_udf BIGINT, n_apply_in_pandas BIGINT, "
        "n_map_in_pandas BIGINT, n_udtf BIGINT",
    )


@spark_query(
    "q_cogroup_align",
    oracle="""
SELECT o.o_custkey AS user_id,
       o.o_orderkey,
       COUNT(e.ts) AS n_events_7d,
       CAST(COALESCE(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)), 0)
            AS BIGINT) AS value_7d_cents
FROM orders o
LEFT JOIN events e
  ON e.user_id = o.o_custkey
 AND e.ts <  o.o_orderdate
 AND e.ts >= o.o_orderdate - INTERVAL 7 DAY
GROUP BY 1, 2
""",
)
# Oracle upgraded from rows-only in r10 (r9 VERDICT #4): the cogroup
# Arrow boundary is the mechanism under demo, but the RESULT — per
# order, the count/sum of the user's events in the 7 days before the
# order date — is a plain interval left-join aggregate.  The window
# sum is integer cents (the tie-free floor(x*100+0.5) discipline), so
# both engines do exact integer arithmetic and pandas' half-even
# rounding vs SQL's half-away can't diverge.
def q_cogroup_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped co-processing via ``cogroup().applyInPandas``: align
    each user's ORDER history against their EVENT stream — per order,
    the count and value of events in the 7 days before the order date.
    This is the API for per-key logic that needs BOTH sides as real
    dataframes at once (merge_asof alignment, per-key model scoring,
    custom interval logic) — the two-table sibling of mapInPandas
    (q_multimodal_*) and applyInPandasWithState
    (q_stream_custom_stateful), completing the grouped-pandas surface.

    Granularity lesson (measured): cogrouping on raw user_id makes one
    pandas invocation PER USER — 15k tiny groups at sf0.1 cost 64 s of
    pure per-group overhead.  Cogrouping on a SHARD (user_id % 256)
    gives a few hundred invocations whose bodies are vectorized
    merges: 2.6 s for identical output.  The group key should match
    the AMORTIZATION grain, not the logical grain — the logical key
    lives inside the shard as an ordinary merge column.  At 100 TB,
    shard count scales with the cluster; per-shard memory = corpus /
    shards, tunable.

    The JVM twin (blocked range join + aggregation) is test-enforced
    equal in tests/test_round4_ops.py — the Python path must not
    drift from the declarative one."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 256).alias("shard"), "user_id", "ts", "value"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("shard"),
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        "o_orderdate",
    )

    def align(key, events_pdf: pd.DataFrame, orders_pdf: pd.DataFrame):
        if orders_pdf.empty:
            return pd.DataFrame(
                columns=["user_id", "o_orderkey", "n_events_7d", "value_7d_cents"]
            )
        m = orders_pdf.merge(
            events_pdf[["user_id", "ts", "value"]], on="user_id", how="left"
        )
        in_window = (m["ts"] < m["o_orderdate"]) & (
            m["ts"] >= m["o_orderdate"] - pd.Timedelta(days=7)
        )
        m.loc[~in_window, ["ts", "value"]] = [pd.NaT, float("nan")]
        # integer cents (tie-free floor(x*100+0.5)) — exact in every
        # engine, see the registration comment
        m["cents"] = np.floor(m["value"] * 100 + 0.5)
        g = m.groupby(["user_id", "o_orderkey"], as_index=False).agg(
            n_events_7d=("ts", "count"), value_7d_cents=("cents", "sum")
        )
        g["value_7d_cents"] = g["value_7d_cents"].fillna(0.0).astype("int64")
        return g

    return (
        ev.groupBy("shard")
        .cogroup(orders.groupBy("shard"))
        .applyInPandas(
            align,
            schema=(
                "user_id BIGINT, o_orderkey BIGINT, n_events_7d BIGINT, "
                "value_7d_cents BIGINT"
            ),
        )
        .orderBy("o_orderkey")
    )


@spark_query(
    "q_udtf_chunker",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
idx AS (
  SELECT doc_id, t,
         unnest(range(0, CAST(CEIL(len(t)/32.0) AS BIGINT))) AS i
  FROM toks
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_idx,
       CAST(LEAST(32, len(t) - i*32) AS INTEGER) AS n_tokens,
       t[i*32 + 1] AS first_tok
FROM idx
""",
)
# Oracle upgraded from rows-only in r9: the UDTF is a pure function of
# each row (fixed 32-token chunking), restated in DuckDB as
# unnest(range(ceil(len/32))) + list slicing — the Python boundary
# stays on the Spark side, the LAW is engine-independent.
def q_udtf_chunker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 4 ``@udtf``): a
    row-expanding chunker invoked with LATERAL — each document emits
    one row per 32-token chunk.  Completes the engine's Python
    boundary inventory (scalar UDF / pandas UDF / grouped agg /
    mapInPandas / cogroup / UDTF): a UDTF is the right boundary when
    Python must yield a VARIABLE number of rows per input with its
    own schema, e.g. parser-exploders, segmenters, decoders.

    Scale posture: same as every Python boundary — Arrow-batched,
    embarrassingly parallel per partition, no shuffle introduced; the
    declarative twin (q_text_chunk) stays the hot path, the UDTF is
    for logic Spark expressions cannot state.  The output is
    deterministic (pure function of each row), so the rows-only golden
    pins schema and row floor."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx: int, n_tokens: int, first_tok: string")
    class Chunker:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(0, len(toks), 32):
                chunk = toks[i : i + 32]
                yield (i // 32, len(chunk), chunk[0])

    spark.udtf.register("doc_chunker", Chunker)
    from .reshape import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.n_tokens, c.first_tok
        FROM documents d, LATERAL doc_chunker(d.text) c
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


@spark_query(
    "q_sql_function_macro",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(8,2))), 2) AS DOUBLE)
         AS revenue
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_sql_function_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDF (Spark 4 ``CREATE FUNCTION … RETURN expr``)
    — the reusable-business-logic surface that does NOT leave the JVM:
    unlike a Python UDF, a SQL function is inlined by the analyzer
    into the calling plan, so the aggregate below whole-stage-codegens
    exactly as if the expression were written inline (the oracle IS
    the inlined form, so the hash-match proves the inlining is
    semantics-preserving).  This is how shared metric definitions
    (here: the engine-wide exact-decimal revenue rule from
    functions/money.py) should ship at scale — catalog-registered SQL
    macros, not opaque Python.
    """
    from ..sources.fixtures import register_views

    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION disc_revenue(p DOUBLE, d DOUBLE)
        RETURNS DECIMAL(23,4)
        RETURN CAST(p AS DECIMAL(12,2)) * CAST(1 - d AS DECIMAL(8,2))
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(SUM(disc_revenue(l_extendedprice, l_discount)), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


@spark_query(
    "q_maparrow_norms",
    oracle="""
SELECT vec_id,
       FLOOR(SQRT(list_sum(list_transform(embedding,
                                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * 10000 + 0.5) / 10000 AS l2_norm
FROM embeddings
""",
)
# Oracle upgraded from rows-only in r10 (r9 VERDICT #4): the Arrow
# boundary is the MECHANISM under demo, but the RESULT is plain
# arithmetic a SQL oracle can restate.  Exactness argument: float32
# inputs widen to float64 exactly, each square needs <= 48 mantissa
# bits so x*x is EXACT in float64, and the kernel below accumulates
# the 64 squares SEQUENTIALLY (one vectorized column add per
# dimension) — the same left-to-right order DuckDB's list_sum uses —
# so the pre-sqrt doubles are bit-identical in both engines.  The 4-dp
# quantization is FLOOR(x*1e4+0.5)/1e4 on BOTH sides (r10 ADVICE #2):
# np.round is half-even while DuckDB ROUND is half-away, and dyadic
# doubles (e.g. 0.03125) ARE exact 4-dp ties where the two rules
# differ — the shared floor form is tie-free for the nonnegative norm.
def q_maparrow_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: per-partition Arrow RecordBatch processing with
    NO pandas materialization — the lowest-overhead Python boundary.
    Completes the inventory (scalar UDF / pandas UDF / grouped agg /
    mapInPandas / cogroup / UDTF / mapInArrow): choose mapInArrow when
    the Python side is itself columnar (numpy/pyarrow kernels, FFI
    into native libs) and pandas conversion would only add copies —
    e.g. batched ONNX/tokenizer inference over packed float arrays.

    The kernel computes embedding L2 norms by reading the Arrow
    FixedSizeList/List buffer as one flat numpy array and reshaping —
    zero per-row Python, one vectorized op per RecordBatch.
    tests/test_round7_ops.py asserts the norms equal the JVM codegen
    computation (the declarative twin stays the hot path; the Arrow
    boundary is for logic Spark expressions cannot state).

    Scale: embarrassingly parallel per partition, Arrow-batched both
    directions, no shuffle introduced; batch size is bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch.
    """
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def norms(batches):
        for batch in batches:
            tbl = pa.table(batch)
            vecs = tbl.column("embedding")
            flat = np.asarray(vecs.combine_chunks().flatten(), dtype=np.float64)
            dim = len(flat) // len(tbl)
            sq = flat.reshape(len(tbl), dim) ** 2
            # sequential per-dimension accumulation (NOT sq.sum(axis=1),
            # whose pairwise summation can differ from a left-to-right
            # sum in the last ulp): matches the oracle's list_sum order
            # exactly — see the registration comment
            acc = np.zeros(len(tbl), dtype=np.float64)
            for j in range(dim):
                acc += sq[:, j]
            n = np.sqrt(acc)
            yield pa.RecordBatch.from_arrays(
                [
                    tbl.column("vec_id").combine_chunks(),
                    pa.array(np.floor(n * 1e4 + 0.5) / 1e4, type=pa.float64()),
                ],
                names=["vec_id", "l2_norm"],
            )

    return emb.mapInArrow(norms, "vec_id BIGINT, l2_norm DOUBLE")
