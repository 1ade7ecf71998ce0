"""Tests of the benchmark harness itself; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import worker  # noqa: E402
from check import Checker, digest  # noqa: E402
from metrics import END_TO_END_UNITS, LAYER_UNITS  # noqa: E402
from oracle_check import canon_rows  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_seed_fixes_the_order_and_every_key_runs_once(workload):
    orders = [pass_order(workload, seed) for seed in range(20)]
    assert orders[3] == pass_order(workload, 3)
    for order in orders:
        assert sorted(order) == sorted(WORKLOADS[workload])
    assert len({tuple(o) for o in orders}) > 1


class _FakeFrame:
    def __init__(self, pdf):
        self.pdf = pdf
        self.schema = types.SimpleNamespace(simpleString=lambda: "struct<k:bigint>")

    def toPandas(self):
        return self.pdf


def _pass_failures(expected):
    pdf = pd.DataFrame({"k": [3, 1, 2]})
    fns = {"q_fake": lambda spark, sf: _FakeFrame(pdf)}
    fns["q_fake"].__module__ = "antidote_data_framework_spark.operators.fake"
    session = types.SimpleNamespace(clear_derived_caches=lambda spark: None)
    _, _, failures = worker.run_pass(
        None, session, fns, ["q_fake"], "sf", Checker({"q_fake": expected}), Tracer(),
        "t/0", dict,
    )
    return failures


def test_wrong_digest_counts_as_a_failure():
    good = digest(*canon_rows(pd.DataFrame({"k": [1, 2, 3]})))
    assert _pass_failures({"rows": 3, "sha256": good}) == []
    assert len(_pass_failures({"rows": 3, "sha256": "0" * 64})) == 1
    assert len(_pass_failures({"rows": 4, "sha256": good})) == 1


def test_rows_only_key_is_checked_on_schema():
    assert _pass_failures({"rows": 3, "schema": "struct<k:bigint>"}) == []
    assert len(_pass_failures({"rows": 3, "schema": "struct<k:int>"})) == 1


def test_committed_digests_cover_every_workload_key():
    checker = Checker.load(ROOT, sorted({k for ks in WORKLOADS.values() for k in ks}))
    for key, want in checker.expected.items():
        assert want["rows"] > 0, key
        assert ("sha256" in want) != ("schema" in want), key


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "name": "pass", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    assert self_times(spans) == {"pass": 5.0, "a": 3.0, "b": 3.0}


def test_fails_without_a_result_outside_a_checkout(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("out"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational_tpch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
