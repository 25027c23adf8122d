"""Correctness gate, run outside the timed window.

- graph responses against `tests/reference_oracle.analyze_network`;
- uploads against the pure-Python twin of the ETL rules in
  `tests/test_etl.py`;
- registry entries against their DuckDB oracle SQL, compared with
  `tools/check_correctness.compare`.

The test-side oracles are loaded from their files, so the benchmark
shares them with the test suite instead of carrying copies.
"""

from __future__ import annotations

import importlib.util
import json
import os


def _load(root: str, rel: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def graph_oracle(root: str):
    """`analyze_network(lines, start, end, limit)` of the reference oracle."""
    return _load(root, "tests/reference_oracle.py", "perfbench_reference_oracle").analyze_network


def etl_twin(root: str):
    """`_reference_etl(lines) -> (group_name, rows)` of the ETL tests."""
    return _load(root, "tests/test_etl.py", "perfbench_etl_twin")._reference_etl


def graph_matches(body: str, expected) -> bool:
    """True when a JSON response body holds exactly the oracle's nodes
    and weighted, canonically ordered links."""
    nodes, weights = expected
    resp = json.loads(body)
    ids = [n["id"] for n in resp["nodes"]]
    links = {}
    for link in resp["links"]:
        key = (link["source"], link["target"])
        if key[0] > key[1] or key in links:
            return False
        links[key] = link["weight"]
    return len(ids) == len(set(ids)) and sorted(ids) == nodes and links == weights


def registry_problems(got, expected, name: str) -> list[str]:
    """Mismatches between an entry's Spark result and its DuckDB oracle
    result; an entry with no oracle (`expected` None) only has to
    produce rows."""
    from tools.check_correctness import compare

    if expected is None:
        return [] if len(got) else ["no rows and no oracle"]
    return compare(name, got, expected)
