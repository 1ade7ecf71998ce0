"""Bloom-filter join pruning — the runtime row-level filtering pattern
that turns a big shuffle join into a local prefilter plus a small
residual join.

At 100 TB the dominant cost of ``fact ⋈ dim-subset`` is shuffling fact
rows that will never match.  The classic fix (what Spark's own
``spark.sql.optimizer.runtime.bloomFilter.enabled`` does inside the
optimizer, and what this operator makes explicit and testable as a
user-level primitive) is:

1. aggregate the dim-side join keys into a Bloom bit array (one
   map-side-combined pass over the small side);
2. broadcast the bit array to every fact partition;
3. drop fact rows whose keys fail ANY of the k probes — locally,
   BEFORE the shuffle (false-positive rate ~(1-e^{-kn/m})^k, false
   negatives impossible);
4. run the exact join only over the surviving candidates, which kills
   the false positives.

The final answer is therefore EXACT and hash-matches a plain semi-join
oracle — the Bloom pass only changes WHERE rows die (map side vs
post-shuffle), which is the whole point at scale.

Everything on the DATA path stays JVM-side codegen: positions are
``pmod(xxhash64(key, seed), m)``, the bit array is built with
``bit_or`` over shifted masks (map-side combined to <= m/64 word
rows), carried as a broadcast one-row dense ``array<bigint>`` column,
and probed with O(1) array ``element_at`` + bitwise AND.  The only
driver state is the assembled word array itself — bounded by the
FILTER size (m/64 longs), never by the data.  (A map<int,bigint>
carrier was tried first: Spark's MapType element_at is a linear key
scan per lookup, which turned scale-sized filters into an O(m)
per-probe wall — see bloom_build.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hints import broadcast_small as bcast
from ..functions.local import local_frame

from ..registry import spark_query
from ..sources import load_table

_M_BITS_MIN = 1 << 17  # floor width; ~2k 64-bit words
_K_PROBES = 3  # hash functions; fpp ~ (1 - e^{-kn/m})^k
_BITS_PER_KEY = 8  # m ≈ 8n -> fpp ≈ 3% at k=3


def sized_m_bits(n_keys: int) -> int:
    """Filter width sized to the MEASURED key count (r8: the 9× scale
    point showed the old fixed 2^17 width saturating — at kn/m ≈ 5 the
    fpp is ~98%, so the prefilter pruned nothing and the 'pruned' join
    shuffled everything.  A Bloom filter that doesn't size to n is a
    no-op at scale).  Power of two ≥ 8 bits/key, floored at 2^17 so
    small dim sides keep the cheap constant width; the build side is
    (m/64)-word sparse, so a 10⁹-key set is a ~1 GiB array — at that
    point shard the filter by key range, which composes with this
    sizing unchanged."""
    m = _M_BITS_MIN
    while m < n_keys * _BITS_PER_KEY:
        m <<= 1
    return m


def _positions(key: Column, m_bits: int) -> list[Column]:
    """The k bit positions of ``key``: pmod(xxhash64(key, i), m).

    Seeding by hashing (key, lit(i)) pairs keeps all k probes inside
    one whole-stage-codegen projection."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(_K_PROBES)
    ]


def bloom_build(df: DataFrame, key: str, m_bits: int) -> DataFrame:
    """One-row DataFrame with ``bloom: array<bigint>`` (the DENSE bit
    array of ``df[key]`` as m/64 64-bit words) and ``m_bits: bigint``
    — the width is CARRIED with the filter so the probe side reads it
    from the row instead of trusting a caller-repeated constant
    (r8 ADVICE: a build/probe width mismatch silently computes probe
    positions mod the wrong m — element_at past the array end yields
    NULL, the AND nulls out, and matching rows are DROPPED: false
    negatives with no error).  ``m_bits`` is required — size it with
    ``sized_m_bits(n)``.

    Shape: explode the k positions per key (narrow), groupBy word
    index with a ``bit_or`` of single-bit masks (map-side combined —
    at most m/64 groups regardless of input size), collect the set
    words to the driver and lay them into the dense array.  Driver
    state is bounded by the FILTER size (m/64 longs — 2 MiB at
    m = 2²⁴), never by the data.

    Dense array, not map (r8): Spark's ``element_at`` on MapType is a
    LINEAR SCAN of the map's key array per lookup — O(m/64) per probe,
    which made every probe of a scale-sized filter walk ~260k entries
    (measured 22× wall on 9× data).  Array ``element_at`` is O(1).

    Pass ``m_bits = sized_m_bits(n)`` with the measured/bounded
    build-side count — an unsized filter saturates (see
    ``sized_m_bits``)."""
    pos = df.select(
        F.explode(F.array(*_positions(F.col(key), m_bits))).alias("pos")
    )
    # shiftleft's bit count must be a SQL expression (the Python API
    # only takes a literal int), so the mask is an expr() over the
    # named position column.
    words = pos.groupBy((F.col("pos") / 64).cast("int").alias("widx")).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))")
        ).alias("word")
    )
    n_words = m_bits // 64
    dense = [0] * n_words
    for r in words.collect():  # <= m/64 rows by construction
        dense[int(r["widx"])] = int(r["word"])
    spark = df.sparkSession
    return local_frame(
        spark, [(dense, m_bits)], "bloom ARRAY<BIGINT>, m_bits BIGINT"
    )


def bloom_might_contain(
    bloom_name: str, key_name: str, m_bits_name: str = "m_bits"
) -> Column:
    """True iff every probe bit of column ``key_name`` is set in the
    dense array column ``bloom_name`` — the standard no-false-negative
    membership test, as a pure codegen predicate with O(1) array
    lookups.  The filter width is read from the CARRIED ``m_bits``
    column (bloom_build writes it), so build and probe cannot disagree
    — the width is data, not a constant repeated at two call sites.

    Takes column NAMES (not Columns): the k probes need shiftleft with
    a computed bit count, which only the SQL expression form allows;
    the probe positions must also match ``_positions`` exactly
    (xxhash64(key, i) with the same literal seeds)."""
    conds = []
    for i in range(_K_PROBES):
        p = f"pmod(xxhash64({key_name}, {i}), {m_bits_name})"
        word = f"element_at({bloom_name}, CAST({p} / 64 AS INT) + 1)"
        mask = f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({p}, 64) AS INT))"
        conds.append(f"(({word} & {mask}) != 0)")
    return F.expr(" AND ".join(conds))


@spark_query(
    "q_bloom_join_prune",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
         AS sum_totalprice
FROM orders o
WHERE o.o_custkey IN (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order stats for the BUILDING market segment, computed as
    Bloom-prefilter -> exact residual semi join -> aggregate.

    The oracle is the plain semi-join form: the Bloom pass is a pure
    execution-strategy change (candidates are a superset of matches;
    the residual join removes false positives), so the results must be
    identical — that equivalence is what the hash check verifies.

    Scale: the dim side (one customer segment) builds a 16 KiB filter
    in one combined pass; every fact partition then drops ~(1-sel)
    of its rows BEFORE the shuffle.  The residual semi join moves only
    candidates.  At 100 TB this is the difference between shuffling
    the whole orders table and shuffling ~sel of it; Spark's own
    runtime bloom filter applies the same rewrite when statistics
    justify it — having it as an explicit operator makes the pruning
    available to sinks/sketches that the optimizer cannot see through.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    seg = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    m_bits = sized_m_bits(seg.count())  # cheap dim-side count
    bloom = bloom_build(seg, "c_custkey", m_bits)
    cand = (
        orders.crossJoin(bcast(bloom, "1-row bit-array (m/64 words)"))
        .filter(bloom_might_contain("bloom", "o_custkey"))
        .drop("bloom", "m_bits")
    )
    survivors = cand.join(
        seg, cand.o_custkey == seg.c_custkey, "left_semi"
    )
    return (
        survivors.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("sum_totalprice"),
        )
        .orderBy("o_orderpriority")
    )


@spark_query("q_decontaminate_bloom", oracle=None)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination with a Bloom prefilter — the composed
    form of q_decontaminate_overlap x q_bloom_join_prune: the distinct
    eval-slice 5-grams build a Bloom filter; every TRAINING shingle is
    probed locally and almost all die BEFORE the join shuffle; the
    exact equi-join against the eval-gram set then kills the false
    positives, so the output is IDENTICAL to the exact operator (the
    registration below installs the exact operator's oracle SQL, and
    the hash check verifies the composition law).

    This is the shape that matters at 100 TB: training shingles are
    ~the corpus size, the benchmark-gram set is megabytes — a 16 KiB
    broadcast bit array drops the shuffle volume to the contaminated
    sliver.  (Spark's runtime bloom-join rewrite would have to see
    through the distinct + self-derived eval set to do this
    automatically; composing it explicitly makes the pruning
    unconditional.)"""
    from .textstats import five_grams

    docs = load_table(spark, sf_dir, "documents")
    grams = five_grams(docs)
    eval_grams = grams.filter(F.col("doc_id") % 20 == 0).select("gram").distinct()
    # size the filter to the eval-gram count (r8: the fixed 2^17 width
    # saturated at the 9x scale point — fpp ~98%, the prefilter pruned
    # nothing).  The bound is Σ(tokens−4) over eval docs — an UPPER
    # bound on distinct grams from one cheap narrow aggregate (no
    # explode/distinct pass); oversizing only lowers the fpp.
    n_upper = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .agg(
            F.sum(F.greatest(F.size(F.split("text", " ")) - 4, F.lit(0))).alias("n")
        )
        .first()["n"]
        or 0
    )
    m_bits = sized_m_bits(int(n_upper))
    bloom = bloom_build(eval_grams, "gram", m_bits)
    train_grams = grams.filter(F.col("doc_id") % 20 != 0)
    cand = (
        train_grams.crossJoin(bcast(bloom, "1-row bit-array (m/64 words)"))
        .filter(bloom_might_contain("bloom", "gram"))
        .drop("bloom", "m_bits")
    )
    return (
        cand.join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
        .select(
            "doc_id",
            "n_shared_grams",
            (F.col("n_shared_grams") >= 3).alias("contaminated"),
        )
    )


# install the exact operator's oracle: the bloom pass is a pure
# execution-strategy change, so the results must hash-match it.
# (import textstats first — this module sorts before it in the package
# import list, so its oracle may not be registered yet)
from . import textstats as _textstats  # noqa: E402
from ..registry import ORACLE_SQL as _OSQL  # noqa: E402

_OSQL["q_decontaminate_bloom"] = _OSQL["q_decontaminate_overlap"]
