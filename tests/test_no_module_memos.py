"""Lint: derived inputs are memoized through inventory.artifact, not through
module-level containers. Parses inventory/*.py and session.py and fails on
any module-level assignment of an empty dict, set or list outside the
allowlist."""

from __future__ import annotations

import ast
import glob
import os

import crane_stream_processing_spark.inventory as inventory
import crane_stream_processing_spark.session as session

# name → why it is module state rather than an artifact
ALLOWED = {
    # session-scoped handles: valid only while the live session is
    "_ISOLATED_SESSIONS": "clone sessions of the live SparkContext",
    "_CBO_DBS": "ANALYZEd copies registered in the live session's catalog",
    "_BUCKETED_SFS": "bucketed tables registered in the live session's catalog",
    # release bookkeeping: emptied by release_query_caches after each query
    "_QUERY_CACHES": "cached frames a query must persist until it is collected",
    "_MEMORY_SINKS": "memory-sink views dropped after each query",
    "_PROTECTED_RDD_IDS": "host-owned cached RDDs the release sweep must skip",
    # the query registry itself, filled at import time by @query
    "REGISTRY": "named queries, registered once per import",
}


def _is_empty_container(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, (ast.Set, ast.List)):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("dict", "set", "list")
        and not node.args
        and not node.keywords
    )


def _module_memos(source: str) -> list[str]:
    """Names bound to an empty container at module level in ``source``."""
    found = []
    for node in ast.parse(source).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        if _is_empty_container(value):
            found += [t.id for t in targets if isinstance(t, ast.Name)]
    return found


def _inventory_memos() -> list[tuple[str, str]]:
    pkg = os.path.dirname(inventory.__file__)
    paths = sorted(glob.glob(os.path.join(pkg, "*.py"))) + [session.__file__]
    out = []
    for path in paths:
        with open(path) as fh:
            out += [(os.path.basename(path), n) for n in _module_memos(fh.read())]
    return out


def test_no_module_level_memo_containers():
    offenders = [f"{f}: {n}" for f, n in _inventory_memos() if n not in ALLOWED]
    assert not offenders, (
        f"module-level memo containers (use inventory.artifact): {offenders}"
    )


def test_allowlist_names_exist():
    """Every allowlisted name is still a module-level container, so the
    allowlist cannot outlive the state it excuses."""
    present = {n for _, n in _inventory_memos()}
    assert set(ALLOWED) <= present, set(ALLOWED) - present


def test_lint_detects_memo_containers():
    source = "_X: dict[str, str] = {}\n_Y = set()\n_Z = []\n_OK = {'a': 1}\n"
    assert _module_memos(source) == ["_X", "_Y", "_Z"]
