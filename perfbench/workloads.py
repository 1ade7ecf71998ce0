"""The benchmark's workloads: which registered query keys each runs, and
the seeded order they run in.

Each pass runs every key of its workload once, in the order given by
``pass_order``; the engine sees only that order.  Keys were sized on a
4-core box at sf0.1 so that a set-up plus the first pass of a fresh
session fit the benchmark's time budget (see README.md).
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Joins, correlated subqueries and a large group-by, each with its
    # per-query cost (plan build, Catalyst, scheduling, toPandas).  ml/,
    # streaming/ and the derived caches do no work here: the no-change
    # workload for derived-cache, antidote-loop and pair-build changes.
    # Lighter TPC-H keys spent their first pass mostly compiling, and
    # spread twice as much between runs.
    "relational_tpch": (
        "q_tpch_q2_min_cost",
        "q_tpch_q9_profit",
        "q_tpch_q18_big_orders",
        "q_tpch_q21_waiting",
    ),
    # The paper's pipeline: the bias-prediction pipeline behind the
    # fairness metrics and the antidote gradient step (Alg. 1), plus an
    # upsert and a stream feeding lakehouse commits, which exercise
    # streaming/ and the sources write path.  Each pass starts from
    # cleared derived caches, so it pays the shared fit.
    "antidote_pipeline": (
        "q_fairness_absolute",
        "q_antidote_step",
        "q_antidote_step_fairness",
        "q_upsert_merge",
        "q_stream_lakehouse_ingest",
    ),
}


def pass_order(workload: str, seed: int) -> list[str]:
    """The workload's keys in the order a run with ``seed`` uses."""
    keys = list(WORKLOADS[workload])
    random.Random(f"{workload}:{seed}").shuffle(keys)
    return keys
