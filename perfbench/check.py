"""Output check for benchmark results, run outside the timed region.

Every result must have the row count recorded as ``spark_rows`` in the
committed ``ORACLE_SWEEP_sf0.1.json``.  A SQL-oracled key must also
have the canonical-row digest recorded in ``digests_sf0.1.json`` (rows
canonicalized by ``oracle_check.canon_rows``, the driver's own rules);
a rows-only key must have the recorded schema.  ``gen_digests.py``
writes the digest file from results that hash-match DuckDB.
``oracle_check`` is imported from the checkout root, which must be on
``sys.path``.
"""

from __future__ import annotations

import hashlib
import json
import os

from oracle_check import canon_rows

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests_sf0.1.json")
SWEEP = "ORACLE_SWEEP_sf0.1.json"


def digest(cols: list[str], rows: list[tuple[str, ...]]) -> str:
    h = hashlib.sha256(json.dumps(cols).encode())
    for row in rows:
        h.update(b"\n")
        h.update(json.dumps(row).encode())
    return h.hexdigest()


class Checker:
    """Compares one query result against the committed expectations."""

    def __init__(self, expected: dict[str, dict]):
        self.expected = expected

    @classmethod
    def load(cls, root: str, keys) -> "Checker":
        with open(os.path.join(root, SWEEP)) as fh:
            sweep = json.load(fh)["queries"]
        with open(DIGESTS) as fh:
            digests = json.load(fh)
        return cls({k: dict(digests[k], rows=sweep[k]["spark_rows"]) for k in keys})

    def problem(self, key: str, pdf, schema: str) -> str | None:
        """Return why the result ``pdf`` (with Spark schema string
        ``schema``) is wrong, or None when it is right."""
        want = self.expected[key]
        if len(pdf) != want["rows"]:
            return f"{len(pdf)} rows, expected {want['rows']}"
        if "sha256" in want:
            if digest(*canon_rows(pdf)) != want["sha256"]:
                return "canonical-row digest differs"
        elif schema != want["schema"]:
            return f"schema {schema}, expected {want['schema']}"
        return None
