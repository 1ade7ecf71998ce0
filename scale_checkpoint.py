"""Third-scale checkpoint (r7 VERDICT #5): measure sf0.1 -> sf0.3 wall
ratios for the bench's most expensive queries so the 100-TB linearity
claims are measurements for the heavy family, not design notes.

The driver's fixture generator is not in this repo (TESTDATA.md: the
parquet at /root/testdata is driver-generated and read-only), so the
sf0.3 input is DERIVED deterministically from the driver's sf0.1
tables: three replicas, all entity keys shifted by r * 10_000_000 per
replica r so every join key space triples without collisions.

Replica semantics, chosen so each operator's WORK triples rather than
its structure changing:
- region/nation are dimensions — kept single (customers keep valid
  n_nationkey references);
- customer/supplier/part/orders/lineitem/embeddings: key columns
  shifted, payload untouched — ratings, graphs and vector sets
  replicate with disjoint keys;
- events: keys shifted AND ts shifted by r * 3650 days — replicas
  sharing the same days/values would make any time- or value-band
  join's TRUE OUTPUT quadratic in the replica count (measured: the
  binned range join went 71x on 9x data against same-day replicas —
  an artifact of the fixture, not the plan), while disjoint days
  replicate the workload linearly;
- documents: doc_id shifted, every token suffixed "~r", AND the token
  list rotated by r/n_replicas of its length for replicas >= 1 —
  replicas share no shingles (suffix) and no byte LAYOUT (rotation),
  so both the shingle-based near-dup structure AND the image-view
  dHash structure replicate instead of every doc gaining cross-replica
  near-twins.  The suffix alone was NOT enough for the image leg:
  dHash block means are robust to uniformly-sprinkled character
  changes (that robustness is the algorithm's point), and the r8
  tier-3 run measured q_image_phash_neardup at 8.13x on 9x data with
  96% of its output being cross-replica pairs.  Rotation moves whole
  rows of the pseudo-image, which block means are NOT robust to,
  while preserving ~all within-replica shingles (one seam per doc).
- embeddings: vec_id shifted AND vector dimensions rolled by r per
  replica — a coordinate permutation is orthogonal, so EVERY
  within-replica pairwise cosine (and centroid/cluster geometry) is
  exactly preserved, while a vector and its rolled twin are no longer
  identical, so cosine-near-dup truth replicates linearly instead of
  quadratically.

RULE (r8 VERDICT #3): every table's replicas must be disjoint under
the ops that self-join it — keys (all tables), time bands (events),
shingles + byte layout (documents), vector identity (embeddings).

The derived tables live under .scale/sf0.3_derived/ (gitignored;
regenerate with --gen).  Results go to SCALE_CHECKPOINT.json
(committed) and are summarized in SCALE.md.  This is a TIMING fixture:
correctness at sf0.3 is covered by each query's invariants elsewhere,
not by oracle hashes here.

A second derived point (sf0.9, nine replicas) turns the single ratio
into a growth curve: wall(1x) -> wall(3x) -> wall(9x) per query.

Usage:
    python scale_checkpoint.py --gen           # build sf0.3_derived
    python scale_checkpoint.py --gen sf0.9     # build sf0.9_derived
    python scale_checkpoint.py --run           # measure sf0.1 + sf0.3
    python scale_checkpoint.py --run sf0.9     # add the sf0.9 point
                                               # (merges into artifact)
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SRC = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
POINTS = {"sf0.3": 3, "sf0.9": 9, "sf2.7": 27}
OFFSET = 10_000_000


def _dst(point: str) -> str:
    return os.path.join(HERE, ".scale", f"{point}_derived")

# int64 key columns to shift per table (dims region/nation excluded)
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# the bench's top-10 most expensive queries (bench_queries.json, r7)
TOP_QUERIES = [
    "q_antidote_loop",
    "q_als_warmstart_refit",
    "q_graph_pagerank",
    "q_stream_dedup_stateful",
    "q_ivfpq_topk",
    "q_stream_pattern_match",
    "q_minhash_lsh",
    "q_stream_python_source",
    "q_slopeone_rmse",
    "q_stream_outer_join",
]

# the next tier (r8: the 9x point caught two defects in the first ten,
# so the curve is worth extending) — run with
#   SPARK_GRAFT_SCALE_QUERIES=tier2 python scale_checkpoint.py --run ...
TIER2_QUERIES = [
    "q_item_item_cosine",
    "q_dedup_incremental",
    "q_pq_adc_topk",
    "q_negative_sampling",
    "q_dedup_components",
    "q_dedup_components_star",
    "q_antidote_grad_sharded",
    "q_als_train_predict",
    "q_join_range_binned",
    "q_simhash_neardup",
    "q_dedup_ngram_jaccard",
    "q_winsorize_outliers",
]


# third tier: mid-cost queries across operator families (r8: tiers 1-2
# surfaced three real defects, so breadth pays)
TIER3_QUERIES = [
    "q_market_basket_lift",
    "q_graph_triangles",
    "q_udf_surface",
    "q_scalar_math_cond",
    "q_agg_rollup",
    "q_image_phash_neardup",
    "q_bucketed_join_noshuffle",
    "q_als_recommend_ann",
    "q_stream_heavy_hitters",
    "q_rollup_multires",
    "q_join_asof",
    "q_winnow_neardup",
    "q_decontaminate_bloom",
    "q_embed_quantize",
    "q_conformal_interval",
    "q_glm_logreg_irls",
]


# frontier tier (r10): a 4th scale point — 27 replicas — for a
# representative heavy from each family, asking "does the 9x ratio
# keep tracking N at 3x more data?"  Run ONLY at the sf2.7 point (the
# lower points are already recorded):
#   SPARK_GRAFT_SCALE_QUERIES=frontier python scale_checkpoint.py --gen sf2.7
#   SPARK_GRAFT_SCALE_QUERIES=frontier python scale_checkpoint.py --run sf2.7
FRONTIER_QUERIES = [
    "q_simhash_neardup",       # highest dedup-family 9x ratio (6.99)
    "q_join_range_binned",     # binned range join — quadratic risk
    "q_winnow_neardup",        # winnowing shingle join
    "q_decontaminate_bloom",   # sized bloom filter growth
    "q_dedup_ngram_jaccard",   # shingle-blocked jaccard
    "q_embed_quantize",        # pure codegen scan
    "q_rollup_multires",       # multi-resolution re-agg (6.77)
    "q_ann_recall_curve",      # validates the r10 panel-cap fix
    "q_join_asof",             # validates the r9 union/sort-merge form
    "q_multimodal_features",   # validates the r10 widen work gate
]

# sixth tier (r10, continuation): the next 12 costliest off the curve
TIER6_QUERIES = [
    "q_stream_cusum_stateful",
    "q_stream_ewma_stateful",
    "q_stream_checkpoint_recovery",
    "q_stream_lakehouse_ingest",
    "q_stream_backfill_availablenow",
    "q_polarization",
    "q_corpus_boilerplate_ngrams",
    "q_kmeans_labels",
    "q_sink_compaction",
    "q_source_csv_json_roundtrip",
    "q_equidepth_histogram",
    "q_text_containment",
]

# fifth tier (r10): the costliest bench queries still off the curve —
# picked by descending driver median among keys absent from
# SCALE_CHECKPOINT.json; the three streaming entries were also touched
# by the r10 integer-cents oracle change, so their curves re-anchor at
# the new scope
TIER5_QUERIES = [
    "q_stream_stream_join",
    "q_stream_session_window",
    "q_stream_tumbling_watermark",
    "q_sink_codec_tradeoff",
    "q_tpch_q21_waiting",
    "q_jaccard_block",
    "q_bias_baseline_rmse",
    "q_ivf_cosine_topk",
    "q_recursive_bfs",
    "q_ann_recall_curve",
    "q_minhash_scurve",
    "q_mi_feature_ranking",
]

# fourth tier (r9 VERDICT #3): the round-9-touched heavies the curve
# missed — the multimodal widen trade is exactly a 1x/3x/9x question,
# TWS is a new stateful operator, and q_stream_outer_join's r9 oracle
# upgrade changed its staging scope (the old curve point predates it)
TIER4_QUERIES = [
    "q_multimodal_features",
    "q_multimodal_framesample",
    "q_stream_transform_with_state",
    "q_stream_outer_join",
]


def _query_list() -> list[str]:
    sel = os.environ.get("SPARK_GRAFT_SCALE_QUERIES", "top")
    if sel.startswith("q_"):  # explicit comma-separated key list
        return [k.strip() for k in sel.split(",") if k.strip()]
    if sel == "tier2":
        return TIER2_QUERIES
    if sel == "tier3":
        return TIER3_QUERIES
    if sel == "tier4":
        return TIER4_QUERIES
    if sel == "tier5":
        return TIER5_QUERIES
    if sel == "tier6":
        return TIER6_QUERIES
    if sel == "frontier":
        return FRONTIER_QUERIES
    if sel == "tier7":
        # r11: the proxy-registry shape representatives with no measured
        # sibling (antidote_data_framework_spark/scale_proxies.py) —
        # single source of truth so the curve and the claim map can't drift
        from antidote_data_framework_spark.scale_proxies import TIER7_QUERIES

        return TIER7_QUERIES
    if sel == "all":
        return (
            TOP_QUERIES
            + TIER2_QUERIES
            + TIER3_QUERIES
            + TIER4_QUERIES
            + TIER5_QUERIES
            + TIER6_QUERIES
        )
    return TOP_QUERIES


def gen(point: str) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n_replicas = POINTS[point]
    dst = _dst(point)
    os.makedirs(dst, exist_ok=True)
    for t in ["region", "nation"]:
        pq.write_table(pq.read_table(f"{SRC}/{t}.parquet"), f"{dst}/{t}.parquet")
        print(f"gen[{point}]: {t} copied (dimension, single copy)", flush=True)
    for t, keys in KEY_COLS.items():
        base = pq.read_table(f"{SRC}/{t}.parquet")
        reps = []
        for r in range(n_replicas):
            tab = base
            for k in keys:
                idx = tab.schema.get_field_index(k)
                tab = tab.set_column(
                    idx, k, pc.add(tab.column(k), r * OFFSET)
                )
            if t == "events" and r > 0:
                # disjoint day ranges per replica (see module docstring)
                idx = tab.schema.get_field_index("ts")
                shifted = pc.add(
                    tab.column("ts"),
                    pa.scalar(r * 3650 * 86400 * 1_000_000, pa.duration("us")),
                )
                tab = tab.set_column(idx, "ts", shifted)
            if t == "documents" and r > 0:
                suffix = f"~{r}"
                texts = []
                for s in tab.column("text").to_pylist():
                    toks = [tok + suffix for tok in s.split(" ")]
                    # rotate the token list by r/n_replicas of its
                    # length: breaks the byte layout the image-view
                    # dHash reads (suffixes alone leave block-mean
                    # gradients intact — measured 96% cross-replica
                    # phash pairs at 9x) while keeping ~all
                    # within-replica shingles (one seam per doc)
                    k = len(toks) * r // n_replicas
                    texts.append(" ".join(toks[k:] + toks[:k]))
                idx = tab.schema.get_field_index("text")
                tab = tab.set_column(idx, "text", pa.array(texts, pa.string()))
                # n_chars tracks the suffixed text
                idx = tab.schema.get_field_index("n_chars")
                tab = tab.set_column(
                    idx, "n_chars", pa.array([len(s) for s in texts], pa.int64())
                )
            if t == "embeddings" and r > 0:
                # roll vector dimensions by r: orthogonal coordinate
                # permutation — within-replica cosines are EXACTLY
                # preserved, cross-replica identity is broken, so
                # near-dup/ANN truth replicates linearly
                import numpy as np

                col = tab.column("embedding")
                mat = np.asarray(col.to_pylist(), dtype=np.float32)
                rolled = np.roll(mat, r % mat.shape[1], axis=1)
                idx = tab.schema.get_field_index("embedding")
                tab = tab.set_column(
                    idx,
                    "embedding",
                    pa.array(rolled.tolist(), pa.list_(pa.float32())),
                )
            reps.append(tab)
        out = pa.concat_tables(reps)
        pq.write_table(out, f"{dst}/{t}.parquet")
        print(f"gen[{point}]: {t} {base.num_rows} -> {out.num_rows} rows", flush=True)


def run(points: list[str]) -> None:
    import __spark_entry__ as entrymod
    from antidote_data_framework_spark.session import (
        clear_derived_caches,
        get_spark,
    )
    from antidote_data_framework_spark.sources import load_table
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from perfbench.spans import SparkCounters

    arrow_unfriendly = (T.ArrayType, T.MapType, T.StructType)
    ts_types = (T.TimestampType, T.TimestampNTZType)
    spark = get_spark("scale-checkpoint")
    qs = entrymod.queries()
    n_runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "2"))
    # shuffle/spill bytes per run from the in-process status store
    # (r11 VERDICT #5: the curve measured wall only, so a byte-level
    # quadratic could hide under CPU-bound wall at small multipliers)
    counters = SparkCounters(spark)

    def run_once(name: str, sf_dir: str) -> tuple[float, dict]:
        counters.harvest()  # discard jobs that finished before this run
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        if any(isinstance(f.dataType, arrow_unfriendly) for f in df.schema.fields):
            df.collect()
        else:
            # keep the Arrow transfer path for timestamp columns by
            # casting them to strings first: the sf2.7 point's
            # 27-replica shifts land past pandas datetime64[ns]'s 2262
            # ceiling (toPandas overflows), and row-pickling collect()
            # would bill multi-M-row results ~10x transfer cost the
            # other points don't pay
            cols = [
                F.col(f.name).cast("string").alias(f.name)
                if isinstance(f.dataType, ts_types)
                else F.col(f.name)
                for f in df.schema.fields
            ]
            df.select(cols).toPandas()
        wall = time.time() - t0
        return wall, counters.harvest()

    out_path = os.path.join(HERE, "SCALE_CHECKPOINT.json")
    results: dict[str, dict] = {}
    if os.path.exists(out_path):  # merge new points into the artifact
        with open(out_path) as f:
            results = json.load(f).get("queries", {})

    for sf_name in points:
        sf_dir = SRC if sf_name == "sf0.1" else _dst(sf_name)
        load_table(spark, sf_dir, "lineitem").count()  # footer warm-up
        for name in _query_list():
            best, best_bytes = None, {}
            for _ in range(n_runs):
                clear_derived_caches(spark)
                try:
                    sec, b = run_once(name, sf_dir)
                except Exception as exc:
                    print(f"{sf_name}: {name} FAILED: {exc}", flush=True)
                    sec = -1.0
                    break
                if best is None or sec < best:
                    best, best_bytes = sec, b
            rec = results.setdefault(name, {})
            rec[sf_name] = round(best, 2) if best is not None else -1.0
            if best_bytes:
                rec[f"shuffle_bytes_{sf_name}"] = (
                    best_bytes["shuffle_read_bytes"] + best_bytes["shuffle_write_bytes"]
                )
                rec[f"spill_bytes_{sf_name}"] = best_bytes["spill_bytes"]
            print(
                f"{sf_name}: {name} {rec[sf_name]}s "
                f"sh={rec.get(f'shuffle_bytes_{sf_name}', 'n/a')}",
                flush=True,
            )

    bytes_flags: dict[str, dict] = {}
    for name, r in results.items():
        base = r.get("sf0.1", -1)
        base_sh = r.get("shuffle_bytes_sf0.1", 0)
        for point, mult in POINTS.items():
            b = r.get(point, -1)
            wall_ratio = (
                round(b / base, 2) if base and base > 0 and b > 0 else None
            )
            r[f"ratio_{mult}x"] = wall_ratio
            sh = r.get(f"shuffle_bytes_{point}")
            if sh is not None and base_sh and base_sh > 0:
                br = round(sh / base_sh, 2)
                r[f"bytes_ratio_{mult}x"] = br
                # byte-level super-linearity hiding under CPU-bound
                # wall (r11 VERDICT #5): flag for BUILDLOG adjudication
                if wall_ratio and br > wall_ratio * 1.5 and br > mult:
                    bytes_flags.setdefault(name, {})[f"{mult}x"] = {
                        "bytes_ratio": br,
                        "wall_ratio": wall_ratio,
                    }
        r.pop("ratio", None)  # legacy single-ratio field

    doc = {
        "src": SRC,
        "points": {p: {"replicas": m, "dir": _dst(p)} for p, m in POINTS.items()},
        "runs_per_point": n_runs,
        "note": "min-of-runs wall seconds; Nx data -> linear operator "
        "expects ratio_Nx <= ~N (streaming queries carry a fixed "
        "micro-batch + checkpoint floor, so their ratios read BELOW "
        "the data ratio).  shuffle/spill bytes come from the status "
        "store summed over the best run's stages; bytes_flags "
        "lists queries whose bytes-step exceeds wall-step x1.5 AND "
        "the data multiplier (candidates for a byte-level "
        "super-linearity adjudication in BUILDLOG).",
        "bytes_flags": bytes_flags,
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print(
        json.dumps(
            {
                k: {kk: vv for kk, vv in v.items() if kk.startswith("ratio")}
                for k, v in results.items()
            }
        )
    )
    print(f"wrote {out_path}", flush=True)


if __name__ == "__main__":
    args = sys.argv[1:]
    named = [a for a in args if not a.startswith("--")]
    if "--gen" in args:
        for p in named or ["sf0.3"]:
            gen(p)
    if "--run" in args:
        run(named or ["sf0.1", "sf0.3"])
    if not args:
        print(__doc__)
