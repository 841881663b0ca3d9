"""Lint: session.py owns every partition-width input the engine reads from
Spark. The core count (``defaultParallelism``) is read only in
``session.cores`` and a frame's split count (``getNumPartitions``) only in
``session.scan_splits``; ``spread`` and ``small_state_width`` build on
them. Parses every package module and fails on either attribute anywhere
else, so a hand-placed width probe cannot come back beside them."""

from __future__ import annotations

import ast
import glob
import os

import crane_stream_processing_spark as pkg

WATCHED = ("getNumPartitions", "defaultParallelism")
ALLOWED = {
    ("session.py", "cores", "defaultParallelism"),
    ("session.py", "scan_splits", "getNumPartitions"),
}


def _width_reads(source: str) -> list[tuple[str | None, str]]:
    """(enclosing top-level function or None, attribute) for each read of
    a watched attribute in ``source``."""
    found = []
    for top in ast.parse(source).body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr in WATCHED:
                found.append((owner, node.attr))
    return found


def _package_width_reads() -> set[tuple[str, str | None, str]]:
    root = os.path.dirname(pkg.__file__)
    out = set()
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, root)
        with open(path) as fh:
            out |= {(rel, fn, attr) for fn, attr in _width_reads(fh.read())}
    return out


def test_width_reads_only_in_the_owner():
    offenders = sorted(_package_width_reads() - ALLOWED, key=str)
    assert not offenders, (
        f"partition-width reads outside session.cores/scan_splits (use "
        f"session.spread, scan_splits or small_state_width): {offenders}"
    )


def test_owner_still_reads_them():
    """The allowlist cannot outlive the reads it excuses."""
    assert _package_width_reads() == ALLOWED


def test_lint_detects_width_reads():
    source = (
        "def f(df):\n    return df.rdd.getNumPartitions()\n"
        "n = spark.sparkContext.defaultParallelism\n"
        "def g(sc):\n    return sc.getNumPartitions\n"
        "def h(df):\n    return df.rdd.partitions\n"
    )
    assert _width_reads(source) == [
        ("f", "getNumPartitions"),
        (None, "defaultParallelism"),
        ("g", "getNumPartitions"),
    ]
