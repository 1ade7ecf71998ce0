"""Per-cpu bench record files (r12 VERDICT #3).

The driver's 8-core scaling run used to overwrite bench_queries.json —
the 32-core tracker anchor — destroying the anchor and its regression
flags (it happened twice in r12).  bench.py now routes records through
``_record_paths``: the anchor is written ONLY by 32-core full runs,
every other core count gets its own ``bench_queries_c<cpus>.json``,
and comparisons never cross core counts.
"""

from __future__ import annotations

import os

from bench import _record_paths


def test_record_paths_anchor_only_at_32_cores():
    here = "/repo"
    # subset runs write the scratch file and never compare
    f, prev = _record_paths(here, "32", "q_a,q_b")
    assert f == os.path.join(here, "bench_queries_subset.json")
    assert prev is None
    # 32-core full run: the anchor, compared against itself
    f, prev = _record_paths(here, "32", "")
    assert f == os.path.join(here, "bench_queries.json")
    assert prev == f
    # any other core count: its own per-cpu record — the anchor is
    # untouched and the comparison stays within the core count
    f, prev = _record_paths(here, "8", "")
    assert f == os.path.join(here, "bench_queries_c8.json")
    assert prev == f
    assert "bench_queries.json" not in f
