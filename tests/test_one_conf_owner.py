"""Lint: session.py is the only module that writes a session conf (see its
three mechanisms: ensure_engine_confs, clone_session, scoped_confs). Parses
every package module and fails on a ``<x>.conf.set(...)``,
``<x>.conf.unset(...)`` or ``<x>.newSession()`` call anywhere else, so a
hand-placed conf write cannot come back beside them."""

from __future__ import annotations

import ast
import glob
import os

import crane_stream_processing_spark as pkg

ALLOWED = {"session.py"}


def _conf_writes(source: str) -> list[str]:
    """The conf-writing calls in ``source``, as ``conf.set`` /
    ``conf.unset`` / ``newSession``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        attr, owner = node.func.attr, node.func.value
        if (
            attr in ("set", "unset")
            and isinstance(owner, ast.Attribute)
            and owner.attr == "conf"
        ):
            found.append(f"conf.{attr}")
        elif attr == "newSession":
            found.append("newSession")
    return found


def _package_conf_writes() -> list[tuple[str, str]]:
    root = os.path.dirname(pkg.__file__)
    out = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, root)
        with open(path) as fh:
            out += [(rel, w) for w in _conf_writes(fh.read())]
    return out


def test_conf_writes_only_in_session_module():
    offenders = [f"{f}: {w}" for f, w in _package_conf_writes() if f not in ALLOWED]
    assert not offenders, (
        f"session conf writes outside session.py (use ensure_engine_confs, "
        f"clone_session or scoped_confs): {offenders}"
    )


def test_allowed_module_still_writes_confs():
    """The allowlist cannot outlive the writes it excuses."""
    assert {f for f, _ in _package_conf_writes()} == ALLOWED


def test_lint_detects_conf_writes():
    source = (
        "spark.conf.set('k', 'v')\ndf.sparkSession.conf.unset('k')\n"
        "iso = spark.newSession()\nspark.conf.get('k')\nd.set('k')\n"
    )
    assert _conf_writes(source) == ["conf.set", "conf.unset", "newSession"]
