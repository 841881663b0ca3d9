"""Lint: streaming state is published through the versioned store in
streaming/sinks.py, the one module whose commit marker is an atomic
rename. Parses every package module and fails on ``os.rename`` /
``os.replace`` anywhere else, so a hand-rolled pointer flip cannot come
back beside the store."""

from __future__ import annotations

import ast
import glob
import os

import crane_stream_processing_spark as pkg

RENAMES = {"rename", "replace"}
ALLOWED = {os.path.join("streaming", "sinks.py")}


def _renames(source: str) -> list[str]:
    """``os.<rename|replace>`` references and ``from os import`` of them."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in RENAMES
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            found.append(f"os.{node.attr}")
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            found += [f"os.{a.name}" for a in node.names if a.name in RENAMES]
    return found


def _package_renames() -> list[tuple[str, str]]:
    root = os.path.dirname(pkg.__file__)
    out = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, root)
        with open(path) as fh:
            out += [(rel, r) for r in _renames(fh.read())]
    return out


def test_renames_only_in_the_versioned_store():
    offenders = [f"{f}: {r}" for f, r in _package_renames() if f not in ALLOWED]
    assert not offenders, (
        f"atomic renames outside streaming/sinks.py (publish through "
        f"VersionedSink): {offenders}"
    )


def test_allowed_module_still_renames():
    """The allowlist cannot outlive the commit it excuses."""
    assert {f for f, _ in _package_renames()} == ALLOWED


def test_lint_detects_renames():
    source = (
        "import os\nos.rename('a', 'b')\nf = os.replace\n"
        "from os import replace, path\nos.path.join('a')\n"
    )
    assert sorted(_renames(source)) == ["os.rename", "os.replace", "os.replace"]
