"""Write the expected results the benchmark checks against.

    python3 perfbench/gen_digests.py [key ...]

Run it from the root of a checkout; the default keys are those of every
workload.  Each key runs once at sf0.1 through ``oracle_check.compare_one``.
A SQL-oracled key gets the digest of its canonical rows, and only when
the Spark result hash-matches the DuckDB oracle; a rows-only key gets
its Spark schema.  Entries for keys not named are kept.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

from check import DIGESTS, digest  # noqa: E402
from worker import sf_dir  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main(keys: list[str]) -> int:
    import __spark_entry__ as entry
    from oracle_check import canon_rows, compare_one, duck_connect
    from antidote_data_framework_spark.session import get_spark

    keys = keys or sorted({k for ks in WORKLOADS.values() for k in ks})
    fns, oracles = entry.queries(), entry.oracle_sql()
    sf = sf_dir(entry)
    spark = get_spark("perfbench_digests")
    con = duck_connect(sf)
    out = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as fh:
            out = json.load(fh)
    failed = []
    for key in keys:
        ok, msg, _ = compare_one(spark, con, key, fns[key], oracles.get(key), sf)
        print(f"[{'PASS' if ok else 'FAIL'}] {key}: {msg}", flush=True)
        if not ok:
            failed.append(key)
        elif key in oracles:
            out[key] = {"sha256": digest(*canon_rows(con.execute(oracles[key]).fetchdf()))}
        else:
            out[key] = {"schema": fns[key](spark, sf).schema.simpleString()}
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    spark.stop()
    if failed:
        print("no digest written for:", " ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
