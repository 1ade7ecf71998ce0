"""Differential oracle tests: every SQL-oracled query must hash-match
DuckDB at sf0.001 (the driver repeats this at sf0.01).

Rows-only keys (no oracle SQL) get a REAL local verdict too — r2
proved they can silently break outside the driver's 50-slot window:
each must run, canonicalize under driver-strict rules, match its
golden schema, and meet its golden minimum row count
(tests/rows_only_golden.json; regenerate with
``python gen_rows_only_golden.py`` after intentional shape changes).
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from oracle_check import canon_rows

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

with open(os.path.join(os.path.dirname(__file__), "rows_only_golden.json")) as _f:
    ROWS_ONLY_GOLDEN = json.load(_f)


def test_rows_only_golden_covers_every_rows_only_key():
    assert set(ROWS_ONLY_GOLDEN) == set(QUERIES) - set(ORACLES), (
        "rows_only_golden.json is stale — run `python gen_rows_only_golden.py`"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(name, spark, duck, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    schema = ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields)
    sdf = df.toPandas()
    sql = ORACLES.get(name)
    # Strict canon must succeed for EVERY registered query — the driver
    # canonicalizes rows-only results too (r01 lesson: array columns
    # crash its hasher even without an oracle).
    scols, srows = canon_rows(sdf)
    if sql is None:
        golden = ROWS_ONLY_GOLDEN[name]
        assert schema == golden["schema"], f"schema drift for rows-only {name}"
        assert len(sdf) >= golden["min_rows"], (
            f"rows-only {name}: {len(sdf)} rows < golden min {golden['min_rows']}"
        )
        return
    ddf = duck.execute(sql).fetchdf()
    dcols, drows = canon_rows(ddf)
    assert scols == dcols
    assert len(srows) == len(drows)
    assert srows == drows


def test_q21_null_suppkey_counts_as_count_distinct(spark, duck, sf_dir, tmp_path):
    """Q21 counts suppliers per order from (order, supplier) pairs,
    where COUNT(DISTINCT l_suppkey) skips nulls.  The fixtures hold no
    null supplier, so this nulls every 5th line's and re-runs the key
    against its oracle on that copy: a null-supplier pair that counted
    toward n_supps or n_late_supps would flip orders in or out."""
    lineitem = duck.execute(
        "SELECT * REPLACE (CASE WHEN l_linenumber % 5 = 0 THEN NULL"
        " ELSE l_suppkey END AS l_suppkey) FROM lineitem"
    ).arrow()
    pq.write_table(lineitem, str(tmp_path / "lineitem.parquet"))
    for name in ("orders", "supplier"):
        pq.write_table(pq.read_table(f"{sf_dir}/{name}.parquet"), str(tmp_path / f"{name}.parquet"))
    con = duckdb.connect()
    for name in ("lineitem", "orders", "supplier"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tmp_path}/{name}.parquet')")
    want = canon_rows(con.execute(ORACLES["q_tpch_q21_waiting"]).fetchdf())
    con.close()
    got = canon_rows(QUERIES["q_tpch_q21_waiting"](spark, str(tmp_path)).toPandas())
    assert got == want
    assert want[1], "the nulled copy must still leave suppliers to count"
