"""Physical-plan assertions (SURVEY §5.2.5): guard the scale
properties that correctness tests can't see — pushdown, pruning,
broadcast strategy, top-k, and the no-Python-on-hot-paths rule."""

from __future__ import annotations

import os

import __spark_entry__ as entrymod
from antidote_data_framework_spark.plans import (
    broadcast_join_count,
    has_partial_aggregation,
    physical_plan,
    pushed_filters,
    uses_python_eval,
)

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_scan_pushes_filter_and_prunes_columns(spark, sf_dir):
    df = QUERIES["q_scan_project_filter"](spark, sf_dir)
    assert any("l_shipdate" in f for f in pushed_filters(df))
    plan = physical_plan(df)
    # column pruning: the scan schema must not include unused columns
    assert "l_comment" not in plan and "l_tax" not in plan


def test_small_dim_join_is_broadcast(spark, sf_dir):
    assert broadcast_join_count(QUERIES["q_join_broadcast"](spark, sf_dir)) >= 1


def test_star_join_broadcasts_dims(spark, sf_dir):
    assert broadcast_join_count(QUERIES["q_join_5way_star"](spark, sf_dir)) >= 3


def test_orderby_limit_is_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in physical_plan(QUERIES["q_orderby_limit"](spark, sf_dir))


def test_flagship_uses_partial_aggregation(spark, sf_dir):
    assert has_partial_aggregation(QUERIES["q_agg_pricing_summary"](spark, sf_dir))


def test_approx_quantile_exact_leg_plan_shape(spark, sf_dir):
    """r12: the exact-rank verifier must keep its scale shape — the
    fixed-width cents pre-bin (r11 VERDICT #4) bounds every cumulative
    window by the price DOMAIN instead of the distinct-value count
    (the bin expression must appear in the plan), histograms aggregate
    with a map-side partial pass before any window, and the small
    frames (sketch output, target-bin map) join in as broadcasts, all
    JVM-side."""
    from antidote_data_framework_spark.operators.aggregates import _QBIN_CENTS

    df = QUERIES["q_agg_approx_quantile"](spark, sf_dir)
    assert has_partial_aggregation(df)
    assert broadcast_join_count(df) >= 2
    assert not uses_python_eval(df)
    plan = df._jdf.queryExecution().toString()
    assert f"div {_QBIN_CENTS}" in plan, "value pre-bin missing from plan"


def test_no_python_udfs_on_oracled_paths(spark, sf_dir):
    """The engine-wide rule: every hash-matched query stays JVM-side
    in its TRANSFORMS (Python eval nodes only in declared UDF /
    multimodal / streaming demos, which are rows-only).  Two sanctioned
    Python boundaries on oracled paths:
    - q_source_custom_pyds: a custom Python DataSource is the ingest
      connector, not a transform — everything downstream of its
      BatchScan is JVM;
    - q_heavy_hitters: the Misra-Gries mapInPandas stage emits only a
      bounded CANDIDATE set (<= k x partitions keys); every count in
      the output comes from the JVM-side exact recount, and the
      hash-match against the direct GROUP BY oracle proves the Python
      pruning lossless."""
    sanctioned_python = {
        "q_heavy_hitters",
        "q_source_avro_roundtrip",
        # The r8 recurrence upgrades: per-key sequential folds ARE the
        # operator (no JVM expression states them), and each one's
        # recursive-CTE oracle replays the fold step by step — the
        # hash-match proves the Python fold faithful, which is the
        # strongest check a sequential recurrence can get.  Same
        # category as q_heavy_hitters' proven-lossless Python stage.
        "q_holt_linear",
        "q_holt_linear_chunked",
        "q_ewma_recurrence_chunked",
        # r9: the Python UDTF IS this operator (the declared
        # row-expanding Python boundary); its DuckDB oracle restates
        # the 32-token chunking law and the hash-match proves the
        # Python expansion faithful — the declarative twin
        # (q_text_chunk) remains the JVM hot path.
        "q_udtf_chunker",
    }
    # q_source_avro_roundtrip: the mapInPandas stage is the INGEST
    # CONNECTOR decoding a foreign binary format (stdlib Avro codec,
    # sources/avro_py.py) — same category as q_source_custom_pyds'
    # BatchScan; the hash-match against the nation table proves the
    # decode lossless.
    for name in sorted(set(ORACLES) - sanctioned_python):
        assert not uses_python_eval(QUERIES[name](spark, sf_dir)), (
            f"{name} runs Python in its plan"
        )


def test_bucketed_join_eliminates_join_shuffle(spark, sf_dir):
    """Bucket-aligned scans must feed the sort-merge join directly:
    the only Exchange allowed is the final small aggregation."""
    df = QUERIES["q_bucketed_join_noshuffle"](spark, sf_dir)
    df.collect()  # materialize so the AQE final plan exists
    plan = physical_plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final
    assert final.count("Bucketed: true") == 2
    join_subtree = final[final.index("SortMergeJoin"):]
    assert "Exchange" not in join_subtree


def test_q19_derives_single_side_pushdown(spark, sf_dir):
    """The disjunctive OR-of-ANDs predicate must still shrink the part
    scan: Catalyst extracts the implied p_brand IN (...) filter and
    pushes it to the parquet reader."""
    df = QUERIES["q_tpch_q19_disjunctive"](spark, sf_dir)
    assert any("p_brand" in f for f in pushed_filters(df))


def test_q4_semi_join_no_fanout(spark, sf_dir):
    """The EXISTS rewrite must plan a semi join (each order emitted at
    most once), never an inner join + distinct."""
    plan = physical_plan(QUERIES["q_tpch_q4_priority"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_no_forced_broadcast_of_sf_proportional_tables():
    """r01 VERDICT anti-pattern: an explicit F.broadcast hint is honored
    unconditionally (it bypasses autoBroadcastJoinThreshold), so hinting
    an SF-proportional table = build-side OOM at 100 TB.

    MECHANICAL contract (r5 verdict replaced the regex allowlist): raw
    ``F.broadcast(`` may appear ONLY in functions/hints.py (the two
    chokepoint helpers) and operators/joins.py (structural dims:
    region 5 rows / nation 25 rows).  Every other hint site must call
    ``broadcast_small(df, reason)`` (structural bound, reason
    mandatory) or ``broadcast_bounded(df, n_rows)`` (measured bound,
    shuffle fallback beyond the limit).  A new raw site anywhere else
    fails this test — no allowlist to forget to update."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "antidote_data_framework_spark"
    raw_allowed = {"hints.py", "joins.py"}
    bad: list[str] = []
    for py in sorted(pkg.rglob("*.py")):
        if py.name in raw_allowed:
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if "F.broadcast(" in line and "``F.broadcast``" not in line:
                bad.append(f"{py.name}:{i}: {line.strip()}")
    assert not bad, (
        "raw F.broadcast outside hints.py/joins.py — route through "
        "broadcast_small(df, reason) or broadcast_bounded(df, n_rows):\n" + "\n".join(bad)
    )

    # joins.py raw sites must still be the structural dims only.
    import re
    joins = (pkg / "operators" / "joins.py").read_text()
    for m in re.finditer(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)", joins):
        assert m.group(1) in {"region", "nation", "n", "cn", "sn", "r"}, (
            f"joins.py broadcasts non-structural frame {m.group(1)!r}"
        )


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    """NOT EXISTS plans as LeftAnti; the global-average scalar arrives
    via a broadcast, not a shuffle."""
    plan = physical_plan(QUERIES["q_tpch_q22_idle_custs"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """A-ES weighted sampling must be a bounded top-k (per-partition
    heaps), never a global sort of the corpus."""
    assert "TakeOrderedAndProject" in physical_plan(
        QUERIES["q_sample_weighted"](spark, sf_dir)
    )


def test_bloom_prune_probes_before_join(spark, sf_dir):
    """The Bloom probe (xxhash64 + bitwise mask) must appear as a
    Filter in the fact scan stage, and the bit-array map must arrive
    via broadcast — rows die BEFORE any join exchange."""
    plan = physical_plan(QUERIES["q_bloom_join_prune"](spark, sf_dir))
    assert "xxhash64" in plan
    assert broadcast_join_count(QUERIES["q_bloom_join_prune"](spark, sf_dir)) >= 1


def test_iterative_graph_state_broadcasts_when_bounded(spark, sf_dir):
    """At test scale the measured node count is under the
    broadcast_bounded limit, so the pagerank iteration join must be a
    broadcast join (the shuffle fallback only engages beyond the
    limit)."""
    assert broadcast_join_count(QUERIES["q_graph_pagerank"](spark, sf_dir)) >= 1


def test_global_sort_is_range_partitioned(spark, sf_dir):
    """A full ORDER BY must compile to a range-partitioned exchange +
    per-partition sort (the scalable total order), never a
    single-partition global sort or a row_number-over-empty-window."""
    plan = physical_plan(QUERIES["q_global_sort_range"](spark, sf_dir))
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan


def test_join_hint_produces_shuffled_hash_join(spark, sf_dir):
    """The SHUFFLE_HASH hint must be honored: the physical plan builds
    a hash map from the hinted (filtered customer) side instead of
    the default sort-merge."""
    plan = physical_plan(QUERIES["q_join_strategy_hints"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan


def test_map_literal_lookup_is_join_free(spark, sf_dir):
    """The enum-dimension map-literal rewrite must contain NO join
    node of any kind — the lookup compiles into the scan stage."""
    plan = physical_plan(QUERIES["q_map_literal_lookup"](spark, sf_dir))
    assert "Join" not in plan


def test_dpp_join_injects_runtime_partition_filter(spark, sf_dir):
    """The partitioned-fact star join must carry a dynamicpruning
    subquery in the fact scan's partition filters — proof the dim
    filter prunes fact partitions at runtime, not a full scan."""
    plan = physical_plan(QUERIES["q_dpp_partition_pruned_join"](spark, sf_dir))
    assert "dynamicpruning" in plan.lower()


def test_cbo_stats_pick_broadcast_without_hint(spark, sf_dir):
    """The ANALYZE'd, filtered dim must arrive via BroadcastHashJoin
    with NO broadcast hint in the query (CBO decides from stats)."""
    plan = physical_plan(QUERIES["q_cbo_stats_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_stable_row_ids_never_windows_data_globally(spark, sf_dir):
    """The id-assignment window must partition by bucket; the only
    SinglePartition exchanges allowed are for the 32-row offset
    table's own prefix-sum window (they sit under the tiny groupBy,
    never under the data-sized window)."""
    plan = physical_plan(QUERIES["q_stable_row_ids"](spark, sf_dir))
    assert "row_number() windowspecdefinition(bucket" in plan, (
        "data window lost its bucket partitioning"
    )


def test_geo_knn_uses_group_limit_and_no_cartesian(spark, sf_dir):
    """The cell equi-join must plan as a hash/broadcast join (never a
    cartesian), and the rank<=1 filter must push into WindowGroupLimit
    so losers drop before the final window sort."""
    plan = physical_plan(QUERIES["q_geo_grid_knn"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_winnow_and_chunk_dedup_join_on_hash_keys(spark, sf_dir):
    """Posting-list self-joins must be equi-joins on the fingerprint/
    hash keys — no nested-loop fallbacks anywhere."""
    for key in ("q_winnow_neardup", "q_dedup_chunk_prune"):
        plan = physical_plan(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_python_fold_stage_keeps_parallelism(spark):
    """AQE's byte-based coalescing must not starve CPU-bound Python
    stages: with the session's 64k coalescing floor, the shuffle
    feeding a per-key applyInPandas fold over the (small-byte, 2 MB)
    sf0.1 events table must keep multiple partitions, so the fold
    actually fans out across cores.  Guards the r6 fix for
    q_holt_linear (6.5 s -> 2.6 s at sf0.1 when the exchange stopped
    coalescing to 1-2 partitions).  Pinned at sf0.1 — the bench SF
    where the collapse was measured; smaller SFs are under the floor
    and legitimately coalesce to one partition."""
    import pytest

    floor = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", None
    )
    if floor is None or floor.lower() not in ("64k", "65536", "65536b"):
        pytest.skip("session built without the engine's coalescing floor")
    bench_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(bench_dir):
        pytest.skip("bench fixtures absent")
    from antidote_data_framework_spark.sources import load_table

    def _per_key_count(pdf):
        import pandas as pd

        return pd.DataFrame(
            {"user_id": [int(pdf["user_id"].iloc[0])], "n": [len(pdf)]}
        )

    ev = load_table(spark, bench_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    folded = ev.groupBy("user_id").applyInPandas(
        _per_key_count, "user_id bigint, n bigint"
    )
    folded.collect()  # materialize so AQE fixes the stage partitioning
    n = folded.rdd.getNumPartitions()
    # full fan-out on small hosts, more than 4 partitions on big ones
    want = min(5, int(spark.conf.get("spark.sql.shuffle.partitions")))
    assert n >= want, f"Python fold stage coalesced to {n} partition(s)"
    # the production holt FOLD stage (mapInPandas over
    # repartition(user), before the final tiny-output orderBy — which
    # legitimately coalesces ~1.5k rows to one partition) must keep
    # the same fan-out guarantee
    from antidote_data_framework_spark.operators.timeseries import (
        _holt_stream_fold,
    )

    hp = (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(
            _holt_stream_fold,
            "user_id bigint, n_events bigint, level double, trend double, "
            "forecast_1 double",
        )
    )
    hp.collect()
    assert hp.rdd.getNumPartitions() >= want


def test_chunk_rewrite_plan_shape(spark, sf_dir):
    """The rewrite's keeper election must be a hash equi-join on the
    chunk md5 (never a nested loop), and the election groupBy must
    partial-aggregate map-side so the shuffled election state is
    |distinct hashes|, not |chunks|."""
    df = QUERIES["q_dedup_chunk_rewrite"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert has_partial_aggregation(df)


def test_threshold_curve_joins_thresholds_on_broadcast(spark, sf_dir):
    """The 5-row threshold table must broadcast into the range join
    against the per-doc maxima (a shuffle for 5 rows would be
    absurd), and the trigram pair join must stay an equi-join."""
    plan = physical_plan(QUERIES["q_dedup_threshold_curve"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, (
        "threshold/totals range joins should be the only broadcast "
        "nested loops, driven by 5-row/1-row build sides"
    )
