"""COVERAGE.md cites tests and code by name. Every citation must resolve,
so a change that deletes or renames what a row cites fails here instead
of leaving the row stale:

- a backticked ``test_*`` name (``test_x``, ``test_x[param]``, or the
  prefix form ``test_x_*``) is a def under ``tests/`` or ``perfbench/``,
  and a backticked ``test_*.py`` file exists there;
- a ``path.py::name`` (or ``pkg/::name``) citation names a def, a class
  or an annotated (dataclass) field of that file; ``A.b`` names both,
  ``a/b`` names each.
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TEST_DIRS = ("tests", "perfbench")
#: where a cited path is looked up, in order
PATH_ROOTS = ("trialsync_etl_spark", "", *TEST_DIRS)

with open(os.path.join(ROOT, "COVERAGE.md"), encoding="utf-8") as _fh:
    SPANS = sorted(set(re.findall(r"`([^`\n]+)`", _fh.read())))

NAME = re.compile(r"(\w+)(\*|\[[^\]]*\])?")
PATH_CITATION = re.compile(r"([\w/]+(?:\.py|/))::(\S+)")


def _defs(path: str) -> set[str]:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.add(node.target.id)
    return names


def _resolves(name: str, defined: set[str]) -> bool:
    """``name`` (``x``, ``x[param]`` or the prefix form ``x*``) is in
    ``defined``."""
    m = NAME.fullmatch(name)
    if m is None:
        return False
    stem, suffix = m.groups()
    if suffix == "*":
        return any(d.startswith(stem) for d in defined)
    return stem in defined


def _test_files() -> dict[str, str]:
    return {
        name: os.path.join(ROOT, d, name)
        for d in TEST_DIRS
        for name in os.listdir(os.path.join(ROOT, d))
        if name.endswith(".py")
    }


def _cited_file(cited: str) -> str | None:
    for root in PATH_ROOTS:
        path = os.path.join(ROOT, root, cited)
        if cited.endswith("/"):
            path = os.path.join(path, "__init__.py")
        if os.path.isfile(path):
            return path
    return None


def test_every_coverage_citation_resolves():
    files = _test_files()
    tests = set().union(*map(_defs, files.values()))
    stale = []
    for span in SPANS:
        m = PATH_CITATION.fullmatch(span)
        if m is not None:
            cited, names = m.groups()
            path = _cited_file(cited)
            parts = [p for alt in names.split("/") for p in alt.split(".")]
            defined = _defs(path) if path else set()
            if not all(_resolves(p, defined) for p in parts):
                stale.append(span)
        elif span.startswith("test_"):
            if not (span in files if span.endswith(".py") else _resolves(span, tests)):
                stale.append(span)
    assert not stale, f"COVERAGE.md cites tests or code that do not exist: {stale}"
