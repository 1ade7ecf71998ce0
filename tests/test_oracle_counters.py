"""The per-key counters oracle_check.py records are the regression
signal: a plan that gains an Exchange must show up as changed stages
and shuffle bytes, and a plain rerun must change nothing."""

from __future__ import annotations

import __spark_entry__ as entrymod
from oracle_check import compare_blocker, compare_one, counter_changes
from perfbench.spans import SparkCounters

KEY = "q_scan_project_filter"


def test_counter_compare_flags_an_added_exchange(spark, sf_dir):
    fn = entrymod.queries()[KEY]
    counters = SparkCounters(spark)

    def run(f):
        ok, msg, rec = compare_one(spark, None, KEY, f, None, sf_dir, counters)
        assert ok, msg
        return {KEY: rec}

    try:
        run(fn)  # first read of the fixture in this session
        base = run(fn)
        assert counter_changes(base, run(fn)) == {}
        changed = counter_changes(base, run(lambda s, d: fn(s, d).repartition(3)))
    finally:
        spark.streams.removeListener(counters.batches)
    assert {"stages", "shuffle_write_bytes"} <= set(changed[KEY])
    was, now = changed[KEY]["stages"]
    assert now > was


def test_compare_needs_same_setup_and_no_staging():
    art = {"sf_dir": "sf", "cpus": 4, "shuffle_partitions": 4,
           "keys": ["q_a", "q_b"], "staged": []}
    assert compare_blocker(dict(art), art) is None
    assert "keys" in compare_blocker(dict(art, keys=["q_b", "q_a"]), art)
    assert "cpus" in compare_blocker(dict(art, cpus=8), art)
    assert "staged" in compare_blocker(art, dict(art, staged=["events_sf_1x4"]))
