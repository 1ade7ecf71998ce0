"""Graph analytics over the star schema: PageRank on the part
co-purchase graph, plus multi-dimensional z-order layout optimization.

Complements q_dedup_components (operators/text.py — iterative label
propagation): PageRank is the other canonical iterative-until-converged
graph workload, implemented here with the engine's determinism
discipline so that even a FLOAT-typed iterative fixpoint hash-matches
the DuckDB oracle — per-iteration sums accumulate in exact DECIMAL
(order-independent), and every float op between iterations is the same
IEEE expression in both engines.  The oracle unrolls the iterations as
chained CTEs (DuckDB's recursive CTEs disallow aggregates in the
recursive term); Spark unrolls them as a driver loop over cached
DataFrames — same dataflow, the loop is just plan construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.hints import broadcast_bounded, broadcast_small as bcast
from ..registry import spark_query
from ..session import derived
from ..sources import load_table

_PR_ITERS = 3
_DAMP = 0.85

# Deterministic per-order fan-out cap for the pair-count self-join
# (r7 VERDICT #4): one pathological order with L lines would otherwise
# fan out L·(L−1) pair rows on a single join key — 10⁸ rows at L=10⁴.
# Keeping only the SKEW_LINE_CAP lowest (l_linenumber, l_partkey) lines
# per order bounds any order's contribution to CAP·(CAP−1) = 240 pair
# rows.  Fixture baskets have ≤ 7 lines, so the cap is the identity on
# all test SFs (test-pinned) and every graph hash is unchanged; the cap
# is mirrored verbatim in every consumer's DuckDB oracle.
SKEW_LINE_CAP = 16

_CAPPED_LINES_SQL = f"""capped AS (
  SELECT l_orderkey, l_partkey FROM (
    SELECT l_orderkey, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
                              ORDER BY l_linenumber, l_partkey) AS rn
    FROM lineitem
  ) WHERE rn <= {SKEW_LINE_CAP}
)"""


def cap_order_lines(li: DataFrame, cap: int = SKEW_LINE_CAP) -> DataFrame:
    """First-`cap` lines of each order by (l_linenumber, l_partkey) —
    the deterministic giant-order cap applied before the pair-count
    self-join.  row_number (not a raw l_linenumber filter) so the bound
    holds unconditionally, even for inputs whose line numbers repeat;
    the two-column order makes the survivor set reproducible
    cross-engine under duplicate line numbers.  The window partitions
    by the SAME key the self-join uses, so the join reuses the window's
    hash partitioning — the cap adds a per-partition sort, not a
    second shuffle."""
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    return (
        li.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def cap_distinct_items(items: DataFrame, cap: int = SKEW_LINE_CAP) -> DataFrame:
    """First-`cap` DISTINCT items per order (by item id) — the same
    giant-order guard as ``cap_order_lines`` for builds that pair
    distinct (ok, item) tuples instead of raw lines
    (q_market_basket_lift).  Distinct items are unique per order, so
    the single-column order is already deterministic."""
    w = Window.partitionBy("ok").orderBy("item")
    return (
        items.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


@derived
def _pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(memoized) directed co-purchase pair counts (src, dst, w): parts
    appearing in the same order, weighted by co-occurrence count — the
    ONE lineitem self-join every graph query's edge table derives from
    (r7 budget work: pagerank's weighted edges and the support>=2
    family each ran their own identical self-join per sweep).  The
    symmetric directed count for (u, v) with u < v IS the undirected
    co-order support, so support2_edges is a filter over this table,
    not a second shuffle.  The self-join is blocked by l_orderkey and
    the per-order fan-out is bounded by ``cap_order_lines``
    (CAP·(CAP−1) rows max per key — the 100 TB
    giant-order guard, r7 VERDICT #4).  persist(MEMORY_AND_DISK), not
    localCheckpoint (r7 ADVICE): every graph query multi-reads its
    derivation so the build must materialize once, but this table is
    the session's largest pinned intermediate — persist keeps the
    (shallow) lineage, so blocks spill to disk under memory pressure
    and an executor loss recomputes instead of invalidating every
    derived graph query."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )
    return _build_pair_counts(li).persist(StorageLevel.MEMORY_AND_DISK)


def _build_pair_counts(li: DataFrame) -> DataFrame:
    """Directed co-purchase pair counts from a (l_orderkey, l_partkey,
    l_linenumber) frame — the shared build behind ``_pair_counts``,
    factored out so the giant-order bound below is testable on
    synthetic inputs (tests/test_graph_skew_cap.py).

    r12 shape: ONE per-order aggregation replaces the window cap +
    blocked self-join — collect each order's lines, sort + slice to
    the same deterministic (l_linenumber, l_partkey)-first-CAP
    survivor set cap_order_lines defines, and emit every ordered
    line pair with differing parts from the array in place.  Same
    pair multiset (a line self-paired has src == dst and is dropped
    in both shapes), same cap bound (<= CAP*(CAP-1) pairs per
    order), one less per-partition sort of the full fact and no
    join hash build; the per-order arrays are <= CAP structs so the
    interpreted higher-order functions touch bounded state per row.

    Bounded aggregation state (r12 VERDICT #5): ``collect_list``
    buffers a WHOLE order before the slice, so one pathological
    mega-order would hold an unbounded in-memory array where the old
    window shape at least spilled through sort.  The build therefore
    first measures max(lines/order) — one cheap partial-aggregated
    count pass — and only takes the direct one-agg path when every
    order fits the CAP (every bench fixture: baskets <= 7 lines, so
    the committed hashes ride the unchanged fast path).  Otherwise it
    routes through ``cap_order_lines`` first: the window's
    row_number sort spills gracefully and hands the SAME survivor set
    (first-CAP by (l_linenumber, l_partkey)) to an aggregation whose
    per-key buffer is then provably <= CAP structs.  Both paths emit
    the identical pair multiset (test-pinned past CAP x 6)."""
    bounds = (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").alias("mn"),
            F.max("l_partkey").alias("mx"),
        )
        .agg(F.max("n").alias("n"), F.min("mn").alias("mn"), F.max("mx").alias("mx"))
        .first()
    )
    if bounds["n"] is not None and bounds["n"] > SKEW_LINE_CAP:
        li = cap_order_lines(li)
    capped = li.groupBy("l_orderkey").agg(
        F.slice(
            F.sort_array(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
            1,
            SKEW_LINE_CAP,
        ).alias("ls")
    )
    parts_arr = F.transform("ls", lambda s: s["l_partkey"])
    # Packed pair key when every part id fits 31 bits (r13, same
    # physical-plan choice as neighbors_cf._pair_agg and measured the
    # same direction): the ordered pair (a, b) is emitted as ONE long
    # (a << 32) | b, so the explode output, the aggregation hash key
    # and the shuffle rows carry one word instead of a two-field
    # struct.  The id bounds ride the SAME job as the giant-order
    # check above (zero extra passes).  Out-of-range ids keep the
    # struct-pair path; the pair multiset is identical either way
    # (test-pinned in tests/test_graph_skew_cap.py).
    packable = (
        bounds["mn"] is not None
        and int(bounds["mn"]) >= 0
        and int(bounds["mx"]) < 2**31
    )
    if packable:
        pair_keys = F.flatten(
            F.transform(
                parts_arr,
                lambda a: F.transform(
                    F.filter(parts_arr, lambda b: a != b),
                    lambda b: F.shiftleft(a, 32).bitwiseOR(b),
                ),
            )
        )
        return (
            capped.select(F.explode(pair_keys).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("w"))
            .select(
                F.shiftrightunsigned("k", 32).alias("src"),
                F.col("k").bitwiseAND(F.lit(0xFFFFFFFF)).alias("dst"),
                "w",
            )
        )
    pair_structs = F.flatten(
        F.transform(
            parts_arr,
            lambda a: F.filter(
                F.transform(parts_arr, lambda b: F.struct(a.alias("src"), b.alias("dst"))),
                lambda p: p["src"] != p["dst"],
            ),
        )
    )
    return (
        capped.select(F.explode(pair_structs).alias("p"))
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


@derived
def support2_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(memoized) undirected (u < v) part co-purchase edges with >= 2
    co-order support — the shared signal graph of q_graph_triangles,
    q_link_prediction_adamic and q_recursive_bfs, each of which used
    to re-run the identical lineitem self-join + aggregation (r6
    VERDICT #4 budget work).  Derived by a filter over the shared
    pair-count table: the directed count of (u, v) with u < v equals
    the undirected co-order
    support exactly (each co-occurring line pair contributes one count
    to each direction), so no second self-join runs.  Persisted, not
    localCheckpointed (the fault-tolerance half of r7 ADVICE #2): the
    support filter keeps ~0.3% of the pair rows (3,853 of 1.2M at
    sf0.1, ~60 KB), so this "second copy" is negligible pinned memory
    — while NOT materializing it was measured to cost ~1 s per
    consumer per sweep re-scanning the 1.2M-row parent (triangles
    1.6→2.7 s, adamic 1.2→2.0 s as a lazy view), multiplied by the
    recursive-BFS executor re-reading the view every step."""
    return (
        _pair_counts(spark, sf_dir)
        .filter((F.col("src") < F.col("dst")) & (F.col("w") >= 2))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric weighted co-purchase edges — the shared cached
    pair-count table (see ``_pair_counts``)."""
    return _pair_counts(spark, sf_dir)


@derived
def _transitions(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, int]:
    """(memoized) transition-probability table (src, dst, p), node table
    (one row per src), and node count for the co-purchase graph.  The
    edge build (fact self-join + two aggregations) is the expensive
    invariant part of any graph query over the same snapshot.

    r12: the node set IS ``outw``'s key set (one row per src by
    construction), so it is cached and counted directly — the old
    shape re-derived it with a distinct() shuffle over the 2.4M-row
    cached transition table, a full extra exchange per sweep (guide
    §2.4: a distinct on data that is already unique)."""
    edges = _edges(spark, sf_dir)
    outw = edges.groupBy("src").agg(F.sum("w").alias("totw")).cache()
    e = (
        edges.join(outw, "src")
        .select(
            "src", "dst", (F.col("w").cast("double") / F.col("totw")).alias("p")
        )
        .cache()
    )
    return e, outw, outw.count()


def _pagerank_oracle() -> str:
    """Unrolled-CTE PageRank oracle (see module docstring)."""
    prelude = f"""
WITH {_CAPPED_LINES_SQL},
edges AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS w
  FROM capped a JOIN capped b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
outw AS (SELECT src, SUM(w) AS totw FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM outw),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)
"""
    steps = []
    for t in range(_PR_ITERS):
        steps.append(
            f"""r{t + 1} AS (
  SELECT e.dst AS node,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE) * CAST(SUM(
             CAST(r.rank * (CAST(e.w AS DOUBLE) / o.totw) AS DECIMAL(28,12))
           ) AS DOUBLE) AS rank
  FROM edges e
  JOIN r{t} r ON r.node = e.src
  JOIN outw o ON o.src = e.src
  GROUP BY e.dst
)"""
        )
    final = f"""
SELECT node, CAST(ROUND(rank, 8) AS DOUBLE) + 0.0 AS rank
FROM r{_PR_ITERS}
ORDER BY node
"""
    return prelude + "," + ",".join(steps) + final


@spark_query("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 iterations) on the part co-purchase
    graph — "which parts sit at the center of purchasing behavior".

    Determinism through an iterative FLOAT fixpoint: each iteration's
    per-node contribution sum runs in DECIMAL(28,12) (the per-edge
    contribution ``rank * w/totw`` is one double multiply of
    bit-identical doubles, then a correctly-rounded decimal cast, so
    the SUM is exact and order-independent); the damping update is the
    same IEEE double expression in both engines.  Every node has
    out-edges by construction (symmetric graph), so there is no
    dangling-mass term.

    Scale: rank state is one row per node; each iteration is one
    shuffle (join on src, reduce on dst) — the textbook distributed
    PageRank dataflow.  The driver loop only CONSTRUCTS plans; with
    many iterations you would localCheckpoint every few steps to cut
    lineage (as q_dedup_components does).  Measured at sf0.1 (600k
    lineitems -> 2.39M weighted edges over 20k nodes): ~9 s edge build
    + normalize, ~5 s for the 3 iterations — real iterative-graph
    cost, the transition table is cached per (session, sf_dir) for
    any follow-on graph queries."""
    e, nodes, n = _transitions(spark, sf_dir)
    # rank init straight off the cached node table (one row per src by
    # construction) — the old e.select("src").distinct() paid another
    # full exchange over the 2.4M-row transition table (r12).
    ranks = nodes.select(
        F.col("src").alias("node"), (F.lit(1.0) / F.lit(float(n))).alias("rank")
    )
    # Rank state is one row per NODE (20k at sf0.1) while e is one row
    # per EDGE (2.39M); broadcast_bounded ships the rank state to every
    # executor while its MEASURED count (n) stays bounded, so each
    # iteration is narrow until the per-dst reduce (map-side combined)
    # — and degrades to a per-iteration shuffle join, never an OOM,
    # when nodes outgrow the broadcast budget.  The localCheckpoint is
    # load-bearing: a broadcast subtree runs as its own job BEFORE the
    # consuming job, so broadcasting a lazy iteration-t plan would
    # re-execute iterations 1..t-1 every round (quadratic); cutting
    # lineage makes each iteration run exactly once.
    for _ in range(_PR_ITERS):
        ranks = ranks.localCheckpoint()
        ranks_side = broadcast_bounded(ranks, n)
        ranks = (
            e.join(ranks_side, e.src == ranks.node)
            .select(
                F.col("dst"),
                (F.col("rank") * F.col("p")).cast("decimal(28,12)").alias("contrib"),
            )
            .groupBy("dst")
            .agg(
                (
                    F.lit(0.15) / F.lit(float(n))
                    + F.lit(0.85) * F.sum("contrib").cast("double")
                ).alias("rank")
            )
            .select(F.col("dst").alias("node"), "rank")
        )
    return ranks.orderBy("node").select(
        "node", (F.round("rank", 8).cast("double") + F.lit(0.0)).alias("rank")
    )


@spark_query(
    "q_zorder_layout",
    oracle="""
WITH keyed AS (
  SELECT o_orderkey,
         CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) % 64 AS d_bucket,
         o_custkey % 64 AS c_bucket
  FROM orders
),
z AS (
  SELECT o_orderkey, d_bucket, c_bucket,
         ((d_bucket & 1))          | ((c_bucket & 1) << 1)
       | ((d_bucket & 2) << 1)     | ((c_bucket & 2) << 2)
       | ((d_bucket & 4) << 2)     | ((c_bucket & 4) << 3)
       | ((d_bucket & 8) << 3)     | ((c_bucket & 8) << 4)
       | ((d_bucket & 16) << 4)    | ((c_bucket & 16) << 5)
       | ((d_bucket & 32) << 5)    | ((c_bucket & 32) << 6) AS zkey
  FROM keyed
)
SELECT zkey // 64 AS file_id,
       COUNT(*) AS n_rows,
       MIN(d_bucket) AS min_day, MAX(d_bucket) AS max_day,
       MIN(c_bucket) AS min_cust, MAX(c_bucket) AS max_cust
FROM z
GROUP BY 1
ORDER BY 1
""",
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) layout optimization: interleave the bits
    of two query dimensions (order day, customer) into one sort key,
    then report per-"file" min/max stats — the data-skipping index a
    lakehouse writer would persist.

    Sorting by zkey co-locates rows that are close in BOTH dimensions,
    so file-level min/max zone maps prune scans for predicates on
    either column — the point of Z-ordering vs single-column sort.
    The emitted table IS the zone map: each 64-key z-range ("file")
    with its per-dimension bounds; the narrower those bounds, the
    better the skip rate.  Bit interleaving is pure integer codegen,
    identical in both engines.

    Scale: in production this feeds ``df.repartitionByRange(zkey)
    .sortWithinPartitions(zkey).write...`` — the stats table here is
    the verifiable (and hash-matched) core of that writer."""
    o = load_table(spark, sf_dir, "orders")
    d_bucket = (
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).cast(
            "bigint"
        )
        % 64
    )
    c_bucket = F.col("o_custkey") % 64
    keyed = o.select(
        "o_orderkey", d_bucket.alias("d_bucket"), c_bucket.alias("c_bucket")
    )
    zkey = F.lit(0).cast("bigint")
    for bit in range(6):
        zkey = zkey.bitwiseOR(
            F.shiftleft(F.col("d_bucket").bitwiseAND(F.lit(1 << bit)), bit)
        ).bitwiseOR(
            F.shiftleft(F.col("c_bucket").bitwiseAND(F.lit(1 << bit)), bit + 1)
        )
    z = keyed.select("o_orderkey", "d_bucket", "c_bucket", zkey.alias("zkey"))
    return (
        z.groupBy(F.floor(F.col("zkey") / 64).alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("d_bucket").alias("min_day"),
            F.max("d_bucket").alias("max_day"),
            F.min("c_bucket").alias("min_cust"),
            F.max("c_bucket").alias("max_cust"),
        )
        .orderBy("file_id")
    )


@spark_query(
    "q_length_histogram",
    oracle="""
SELECT lang,
       CAST(FLOOR(n_chars / 50) * 50 AS BIGINT) AS bucket_lo,
       COUNT(*) AS n_docs,
       CAST(ROUND(AVG(n_chars), 2) AS DOUBLE) + 0.0 AS avg_chars
FROM documents
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram per language (50-char buckets) — the
    distribution diagnostic behind every length-based curation cut.
    Integral bucket math; AVG over exact integer sums.  Map-side
    combine reduces to (lang x bucket) rows — scale-free."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "lang",
            (F.floor(F.col("n_chars") / 50) * 50).cast("bigint").alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.round(F.avg("n_chars"), 2).cast("double") + F.lit(0.0)).alias(
                "avg_chars"
            ),
        )
        .orderBy("lang", "bucket_lo")
    )


@spark_query(
    "q_graph_triangles",
    oracle=f"""
WITH {_CAPPED_LINES_SQL},
und AS (
  SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
         GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM capped a JOIN capped b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und
  ) GROUP BY node
),
tri AS (
  SELECT COUNT(*) AS n_tri
  FROM und e1 JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
tots AS (
  SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
         (SELECT COUNT(*) FROM und) AS n_edges,
         (SELECT SUM(d * (d - 1) / 2) FROM deg) AS n_wedges,
         (SELECT n_tri FROM tri) AS n_triangles
)
SELECT n_nodes, n_edges, CAST(n_wedges AS BIGINT) AS n_wedges, n_triangles,
       CAST(ROUND(3.0 * n_triangles / n_wedges, 6) AS DOUBLE) AS clustering_coeff
FROM tots
""",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (support >= 2
    co-orders per edge): node/edge/wedge counts, the exact triangle
    count, and the global clustering coefficient 3*triangles/wedges.

    The Spark plan uses the degree-ordered orientation (the
    "compact-forward" trick): every undirected edge points from its
    (degree, id)-smaller endpoint to the larger one, so each triangle
    has exactly ONE source node with out-edges to the other two and is
    counted once — and the wedge join's fan-out is bounded by the
    out-degree, which orientation caps at O(sqrt(E)) even for hub
    nodes.  The oracle counts the same triangles with the plain
    id-ordered u<v formulation (triangle count is orientation-
    invariant), which is simpler SQL but quadratic in hub degree —
    exactly the asymmetry that makes orientation the 100 TB plan:
    wedge volume drops from sum(deg^2) to sum(outdeg^2) <= E^1.5.
    All terms are integers; the single float (clustering coefficient)
    is one rounded division."""
    # Edge = parts co-ordered in >= 2 DISTINCT orders: single-order
    # co-occurrence is sampling noise on a dense random basket mix
    # (sf0.1: 1.196M w>=1 edges vs 3,853 at w>=2 — avg degree ~80 vs
    # ~0.4), and a census over the noise graph is O(sum outdeg^2)
    # wedge work with no analytic meaning.  The support threshold is
    # ALSO the standard market-basket practice (min-support).  The
    # edge table is materialized once (and shared session-wide via
    # support2_edges): three consumers below (both wedge sides + the
    # closing-edge probe) would otherwise re-run the lineitem
    # self-join three times.
    und = support2_edges(spark, sf_dir)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): u -> v iff (d_u, u) < (d_v, v)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    # deg is per-node; ship it broadcast while the node count (bounded
    # by the part catalog, measured cheaply from parquet stats) allows,
    # so the per-edge table is never shuffled just to look up endpoint
    # degrees
    n_parts = load_table(spark, sf_dir, "part").count()
    oriented = (
        und.join(broadcast_bounded(du, n_parts), "u")
        .join(broadcast_bounded(dv, n_parts), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
        .localCheckpoint()
    )
    w1 = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
    w2 = oriented.select(F.col("s").alias("a"), F.col("t").alias("c"))
    wedges = w1.join(w2, "a").filter(F.col("b") != F.col("c"))
    # each unoriented wedge appears twice ((b,c) and (c,b)); closing
    # edge (b,c) exists in exactly one orientation, so the semi join
    # keeps each triangle once
    closed = wedges.join(
        oriented,
        (F.col("b") == F.col("s")) & (F.col("c") == F.col("t")),
        "left_semi",
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    tots = (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"),
        )
        .crossJoin(und.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri)
    )
    return tots.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6)
        .cast("double")
        .alias("clustering_coeff"),
    )


@spark_query(
    "q_market_basket_lift",
    oracle=f"""
WITH ranked AS (
  SELECT l_orderkey AS ok, l_partkey AS item,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey)
           AS rn
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
),
items AS (
  SELECT ok, item FROM ranked WHERE rn <= {SKEW_LINE_CAP}
),
tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
freq AS (SELECT item, COUNT(*) AS c FROM items GROUP BY item),
pairs AS (
  SELECT a.item AS u, b.item AS v, COUNT(*) AS c_ab
  FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING COUNT(*) >= 3
)
SELECT p.u, p.v,
       CAST(p.c_ab AS BIGINT) AS n_coorders,
       ROUND(CAST(t.n_orders * p.c_ab AS DOUBLE)
             / CAST(fu.c * fv.c AS DOUBLE), 6) AS lift
FROM pairs p
JOIN freq fu ON fu.item = p.u
JOIN freq fv ON fv.item = p.v
CROSS JOIN tot t
ORDER BY lift DESC, p.u, p.v
LIMIT 50
""",
)
def q_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: top-50 item pairs by lift
    N·c(a,b) / (c(a)·c(b)) with min-support 3 co-orders — the
    classic retail affinity query (and the same co-order pair build
    as q_graph_triangles, which consumes the pairs structurally
    instead of statistically).

    Scale shape: the pair fan-out is per-order and bounded by basket
    size — ENFORCED, not assumed: the same SKEW_LINE_CAP guard as the
    graph pair build keeps the CAP lowest distinct items per order, so
    the self-join explodes O(orders·CAP²) even against a pathological
    giant basket (identity on the ≤7-line fixtures, mirrored in the
    oracle); min-support prunes before the frequency joins, and the
    final ranking is a bounded TakeOrdered(50).  Lift is an exact
    integer rational converted to double once — identical in both
    engines, so even the tie-broken top-50 cut hash-matches.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Materialize the capped item list ONCE (r12): the plan consumed
    # this subtree FIVE times (self-join a/b sides, two frequency
    # broadcasts, the order total) and runtime exchange reuse only
    # covers the distinct's exchange — the cap window re-ran per
    # branch (plan evidence: plans/r12/q_market_basket_lift_before.txt,
    # five Window/WindowGroupLimit chains).  One eager checkpoint of
    # the ~|order,item| narrow rows replaces four recomputes.
    items = cap_distinct_items(
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
        ).distinct()
    ).localCheckpoint()
    total = items.agg(F.countDistinct("ok").alias("n_orders"))
    freq = items.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("u"), F.col("b.item").alias("v"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    fu = freq.select(F.col("item").alias("u"), F.col("c").alias("cu"))
    fv = freq.select(F.col("item").alias("v"), F.col("c").alias("cv"))
    return (
        pairs.join(fu, "u")
        .join(fv, "v")
        .crossJoin(bcast(total, "1-row total aggregate"))
        .select(
            "u",
            "v",
            F.col("c_ab").cast("long").alias("n_coorders"),
            F.round(
                (F.col("n_orders") * F.col("c_ab")).cast("double")
                / (F.col("cu") * F.col("cv")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "u", "v")
        .limit(50)
    )


@spark_query(
    "q_link_prediction_adamic",
    oracle=f"""
WITH {_CAPPED_LINES_SQL},
und AS (
  SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
         GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM capped a JOIN capped b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
sym AS (
  SELECT u AS s, v AS d FROM und UNION ALL SELECT v, u FROM und
),
deg AS (
  SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS dg FROM sym GROUP BY s
),
wedges AS (
  SELECT n1.s AS u, n2.d AS v, n1.d AS z
  FROM sym n1 JOIN sym n2 ON n1.d = n2.s AND n1.s < n2.d
),
cand AS (
  SELECT w.u, w.v,
         CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         SUM(CAST(1.0 / LN(CAST(dz.dg AS DOUBLE)) AS DECIMAL(18,9))) AS aa
  FROM wedges w
  JOIN deg dz ON dz.node = w.z
  LEFT JOIN und e ON e.u = w.u AND e.v = w.v
  WHERE e.u IS NULL
  GROUP BY w.u, w.v
)
SELECT u, v, common_neighbors,
       CAST(ROUND(CAST(aa AS DOUBLE), 4) AS DOUBLE) + 0.0 AS adamic_adar
FROM cand
ORDER BY aa DESC, u, v
LIMIT 50
""",
)
def q_link_prediction_adamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph: top-50
    non-edges ranked by Adamic-Adar score
    ``Σ_{z ∈ N(u)∩N(v)} 1/ln(deg z)`` — "which parts will be
    co-ordered next" — the classic common-neighbor predictor where
    rare shared neighbors count more than hubs.

    Runs on the same support-≥2 edge set as q_graph_triangles (the
    min-support cut that turns the dense co-occurrence noise graph
    into a sparse signal graph), so the wedge join's fan-out is the
    SQUARE OF A SPARSE degree sequence: at sf0.1 the graph is ~3.9k
    edges, and at 100 TB the same support threshold (or a degree
    cap — hub z's contribute ≤ 1/ln(deg) ≈ nothing anyway) keeps
    wedge volume subquadratic.  Existing edges are removed by an
    anti-join AFTER wedge aggregation, which runs at candidate
    cardinality, not wedge cardinality.

    Determinism: degrees are exact ints; each 1/ln(deg) term is one
    IEEE op identical in both engines; the AA sum accumulates in
    DECIMAL(18,9) and the top-50 orders by that EXACT decimal (tie
    broken u, v) — no double comparison anywhere in the cut.
    """
    und = support2_edges(spark, sf_dir)
    sym = und.select(F.col("u").alias("s"), F.col("v").alias("d")).unionAll(
        und.select(F.col("v").alias("s"), F.col("u").alias("d"))
    )
    deg = sym.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("dg")
    )
    n1, n2 = sym.alias("n1"), sym.alias("n2")
    wedges = n1.join(
        n2, (F.col("n1.d") == F.col("n2.s")) & (F.col("n1.s") < F.col("n2.d"))
    ).select(
        F.col("n1.s").alias("u"), F.col("n2.d").alias("v"), F.col("n1.d").alias("z")
    )
    n_parts = load_table(spark, sf_dir, "part").count()
    scored = (
        wedges.join(
            broadcast_bounded(deg.select(F.col("node").alias("z"), "dg"), n_parts),
            "z",
        )
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(
                (1.0 / F.log(F.col("dg").cast("double"))).cast("decimal(18,9)")
            ).alias("aa"),
        )
        .join(und, ["u", "v"], "left_anti")
    )
    return (
        scored.orderBy(F.col("aa").desc(), "u", "v")
        .limit(50)
        .select(
            "u",
            "v",
            "common_neighbors",
            (F.round(F.col("aa").cast("double"), 4).cast("double") + F.lit(0.0)).alias(
                "adamic_adar"
            ),
        )
    )
