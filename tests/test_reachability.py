"""Every top-level package function and class has a caller outside the
tests: a package module-level statement, a console script, the
``run_ingest`` CLI, ``bench.py``, ``__spark_entry__.py`` or a
non-test ``perfbench/*.py`` module.  Code only tests reach is deleted,
not kept; the few reference implementations that tests compare against
are the explicit allowlist below, each naming the test that uses it.

The scan is pure AST and resolves names, not modules: a definition is
reachable when its name is loaded (as a bare name or an attribute) in
a root or in the body of a reachable definition.  Imports, ``__all__``
strings and docstrings are not uses."""

from __future__ import annotations

import ast
import functools
import tomllib
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
_PKG = _REPO / "semantic_similarity_system_using_aws_mapreduce_spark"

# name -> the test that uses it as an oracle or fixture
ORACLE_ALLOWLIST = {
    "cosine_topk_bruteforce": "tests/test_ann.py::test_bruteforce_matches_workload_knn",
    "synthesize_media": "tests/test_multimodal.py::test_decode_real_raises_on_undecodable_format",
}


def _defs(tree: ast.Module) -> dict[str, ast.AST]:
    return {
        node.name: node
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }


def _loaded_names(nodes) -> set[str]:
    names = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
    return names


def _module_roots(tree: ast.Module) -> list[ast.AST]:
    return [
        node
        for node in tree.body
        if not isinstance(
            node,
            (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Import, ast.ImportFrom),
        )
        and not (
            isinstance(node, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
        )
    ]


def _console_scripts() -> set[str]:
    """The pyproject console-script functions (``run_ingest``'s
    ``python -m`` entry is its module-level ``__main__`` block)."""
    meta = tomllib.loads((_REPO / "pyproject.toml").read_text())
    return {target.split(":")[1] for target in meta["project"]["scripts"].values()}


@functools.cache
def unreachable() -> list[str]:
    """Sorted ``module:name`` of each top-level package definition no
    root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: list[ast.AST] = []
    for path in sorted(_PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        rel = path.relative_to(_REPO).as_posix()
        for name, node in _defs(tree).items():
            defs.setdefault(name, []).append((rel, node))
        roots += _module_roots(tree)
    outside = [_REPO / "bench.py", _REPO / "__spark_entry__.py"] + [
        p for p in sorted((_REPO / "perfbench").glob("*.py")) if not p.name.startswith("test_")
    ]
    for path in outside:
        roots.append(ast.parse(path.read_text(), str(path)))

    seen: set[str] = set()
    todo = _loaded_names(roots) | _console_scripts()
    while todo:
        name = todo.pop()
        if name in seen or name not in defs:
            continue
        seen.add(name)
        todo |= _loaded_names(node for _, node in defs[name]) - seen
    return sorted(
        f"{rel}:{name}" for name, places in defs.items() if name not in seen for rel, _ in places
    )


def test_every_package_definition_has_a_non_test_caller():
    assert [u for u in unreachable() if u.rsplit(":", 1)[1] not in ORACLE_ALLOWLIST] == []


def test_allowlist_names_only_unreachable_definitions():
    """An allowlisted name that gains a real caller leaves the list."""
    dead = {u.rsplit(":", 1)[1] for u in unreachable()}
    assert set(ORACLE_ALLOWLIST) <= dead
