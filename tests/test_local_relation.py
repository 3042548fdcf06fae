"""Driver-side relations: every small relation the package builds from
Python rows goes through ``session.local_relation``, whose plan leaf is
an Arrow-built ``LocalRelation`` (size statistics, no Python worker at
scan or broadcast time), and whose rows equal the pickled
``createDataFrame(<list>, ddl)`` path it replaced."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import semantic_similarity_system_using_aws_mapreduce_spark as pkg
from semantic_similarity_system_using_aws_mapreduce_spark.session import local_relation

_DDL = "id long, n int, s string, v array<float>, b binary"
_ROWS = [
    (1, 7, "a", [0.1, 2.5, -3.25], b"\x00\xff"),
    (2**40, -3, "", [], b""),
    (None, None, None, None, None),
    (5, 0, "z", [None, 1.0], b"ab"),
]


def test_create_dataframe_only_in_local_relation():
    """An AST scan of the package: the one ``createDataFrame`` call is
    the body of ``local_relation``."""
    root = Path(pkg.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "createDataFrame":
                found.append((path.relative_to(root).as_posix(), owner.get(node)))
    assert found == [("session.py", "local_relation")]


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_local_relation_plan_and_rows_match_pickled_path(spark, rows):
    df = local_relation(spark, rows, _DDL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    old = spark.createDataFrame(rows, _DDL)
    assert df.schema == old.schema
    assert sorted(df.collect(), key=repr) == sorted(old.collect(), key=repr)
