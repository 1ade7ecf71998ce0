"""ORACLE_SWEEP_sf0.01.json is standing correctness evidence for every
registered query outside the driver's 50-slot CORRECTNESS window
(VERDICT r4 #1).  r5 found it silently stale — 250 entries while the
registry had grown to 291 — so this test makes the artifact
self-enforcing: adding an operator without regenerating the sweep
(``python oracle_check.py --sf /root/testdata/sf0.01 --json
ORACLE_SWEEP_sf0.01.json``) is now a red test, not a round-end chore.
"""

from __future__ import annotations

import json
import pathlib

import __spark_entry__ as entrymod

ARTIFACT = pathlib.Path(__file__).resolve().parent.parent / "ORACLE_SWEEP_sf0.01.json"


def test_sweep_artifact_tracks_registry():
    sweep = json.loads(ARTIFACT.read_text())
    artifact_keys = set(sweep["queries"])
    registry_keys = set(entrymod.queries())
    missing = sorted(registry_keys - artifact_keys)
    stale = sorted(artifact_keys - registry_keys)
    assert not missing, (
        f"{len(missing)} registered queries missing from ORACLE_SWEEP_sf0.01.json "
        f"(regenerate it at HEAD): {missing[:10]}"
    )
    assert not stale, (
        f"ORACLE_SWEEP_sf0.01.json names {len(stale)} unregistered queries: {stale[:10]}"
    )
    assert sweep["n_queries"] == len(registry_keys)


def test_sweep_artifact_all_green():
    sweep = json.loads(ARTIFACT.read_text())
    failed = sorted(k for k, v in sweep["queries"].items() if not v.get("pass"))
    assert sweep["n_failed"] == 0 and not failed, f"sweep has failures: {failed}"


def test_sweep_artifact_records_counters():
    """The per-key counters are the regression signal oracle_check.py
    compares; a compare needs the setup they were measured under."""
    from oracle_check import COUNTERS

    sweep = json.loads(ARTIFACT.read_text())
    assert sweep["cpus"] > 0 and sweep["shuffle_partitions"] > 0
    assert sorted(sweep["keys"]) == sorted(sweep["queries"])
    missing = sorted(
        k for k, v in sweep["queries"].items()
        if sorted(v.get("counters", {})) != sorted(COUNTERS)
    )
    assert not missing, f"entries without the six counters: {missing[:10]}"


def test_sweep_artifact_modes_match_oracle_declarations():
    """A query with an oracle_sql() entry must have been verified in
    'sql' (hash-match) mode — a silent fallback to rows-only would
    weaken the evidence without failing anything."""
    sweep = json.loads(ARTIFACT.read_text())
    oracles = set(entrymod.oracle_sql())
    wrong = sorted(
        k
        for k, v in sweep["queries"].items()
        if (v["mode"] == "sql") != (k in oracles)
    )
    assert not wrong, f"sweep mode disagrees with oracle_sql() declaration: {wrong[:10]}"


def test_sweep_artifact_no_vacuous_zero_row_passes():
    """Zero-row lint over the committed evidence (VERDICT r6 #2): a
    query whose Spark result is empty hash-matches vacuously — r6 found
    three operators whose core logic had never executed yet sat green
    in every sweep.  oracle_check.py now fails such queries at sweep
    time; this test enforces the same invariant on the committed
    artifacts so a stale pre-lint artifact can't mask one either."""
    from antidote_data_framework_spark.registry import EXPECTED_EMPTY

    for path in (ARTIFACT, SF01_ARTIFACT):
        if not path.exists():
            continue
        sweep = json.loads(path.read_text())
        vacuous = sorted(
            k
            for k, v in sweep["queries"].items()
            if v.get("spark_rows") == 0 and k not in EXPECTED_EMPTY
        )
        assert not vacuous, (
            f"{path.name}: zero-row (vacuous) passes not declared "
            f"expected_empty: {vacuous}"
        )


SF01_ARTIFACT = pathlib.Path(__file__).resolve().parent.parent / "ORACLE_SWEEP_sf0.1.json"


def test_sf01_sweep_artifact_green_when_present():
    """Round-6 continuation added a third-SF differential sweep
    (ORACLE_SWEEP_sf0.1.json — bench-scale hash-matching catches
    rounding-boundary and scale-dependent determinism bugs the small
    SFs can't).  The artifact is optional standing evidence: when it
    exists it must be all-green and cover the registry; it is NOT
    required to exist (regenerating it costs a ~30 min sweep, so it
    tracks operator-changing rounds, not every commit)."""
    if not SF01_ARTIFACT.exists():
        import pytest

        pytest.skip("sf0.1 sweep artifact not generated")
    sweep = json.loads(SF01_ARTIFACT.read_text())
    failed = sorted(k for k, v in sweep["queries"].items() if not v.get("pass"))
    assert sweep["n_failed"] == 0 and not failed, f"sf0.1 sweep failures: {failed}"
    missing = sorted(set(entrymod.queries()) - set(sweep["queries"]))
    assert not missing, (
        f"sf0.1 sweep artifact stale — {len(missing)} registered queries missing "
        f"(regenerate or delete the artifact): {missing[:10]}"
    )
