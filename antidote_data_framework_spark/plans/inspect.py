"""Physical-plan inspection — the engine's performance guardrails.

Correctness tests can't see a plan regression (a filter that stopped
pushing down still returns the right rows — it just reads 100 TB to do
it).  These helpers turn `.explain()` output into assertable facts;
tests/test_plans.py pins the properties every scale-sensitive operator
must keep.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The executed (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (predicate pushdown)."""
    out: list[str] = []
    # plan text elides long filter lists ("...") before the closing
    # bracket — stop at whichever comes first
    for m in re.finditer(r"PushedFilters: \[(.*?)(?:\]|\.\.\.)", physical_plan(df)):
        out.extend(f.strip() for f in m.group(1).split(",") if f.strip())
    return out


def broadcast_join_count(df: DataFrame) -> int:
    """How many joins chose the broadcast-hash strategy."""
    return physical_plan(df).count("BroadcastHashJoin")


def has_partial_aggregation(df: DataFrame) -> bool:
    """True when the plan pre-aggregates map-side before the shuffle."""
    plan = physical_plan(df)
    return "HashAggregate" in plan and "partial" in plan.lower()


def uses_python_eval(df: DataFrame) -> bool:
    """True when the plan crosses into Python (BatchEvalPython /
    ArrowEvalPython / mapInPandas...) — banned on hash-matched paths."""
    plan = physical_plan(df)
    return "EvalPython" in plan or "PythonMapInArrow" in plan or "MapInPandas" in plan


def final_plan(df: DataFrame) -> str:
    """The final adaptive plan of an executed DataFrame, without the
    ``== Initial Plan ==`` sections (AQE prints one per adaptive plan,
    nested ones included, and they show scans that were replanned)."""
    plan = physical_plan(df)
    if "isFinalPlan=false" in plan:
        raise ValueError("final_plan needs the plan of an executed DataFrame")
    kept: list[str] = []
    cut = -1  # column of the "+- == Initial Plan ==" being skipped
    for line in plan.splitlines():
        if cut >= 0 and not line[: cut + 1].strip():
            continue
        cut = line.find("+- == Initial Plan ==")
        if cut < 0:
            kept.append(line)
    return "\n".join(kept)


def scan_count(df: DataFrame, table: str) -> int:
    """Parquet ``FileScan``s of fixture ``table`` in the final plan of
    an executed DataFrame.  A ``ReusedExchange`` re-reads shuffle
    output, not the table, so it counts as no scan; a cached relation
    prints its plan under every ``InMemoryTableScan`` of it but runs it
    once, so identical scan lines count once."""
    scans = re.findall(
        rf"FileScan parquet [^\n]*/{re.escape(table)}\.parquet\][^\n]*", final_plan(df)
    )
    return len(set(scans))
