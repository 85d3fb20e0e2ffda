"""Seam guard: every durability decision of the mapping and ER
pipelines goes through the ``Snapshotter`` passed as ``snap=``.  Only
the commit log itself, the snapshotters and the incremental landing
path (whose append commits are not cuts) may touch ``IceLiteTable``
directly, and no library function takes a ``checkpoint`` flag that
would bypass the seam."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "metasra_pipeline_spark")

ICELITE_TABLE_USERS = {"icelite.py", "ops.py",
                       os.path.join("er", "incremental.py")}


def _sources():
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, PKG), f.read()


def test_icelite_table_only_behind_the_seam():
    users = {rel for rel, src in _sources() if "IceLiteTable" in src}
    assert users <= ICELITE_TABLE_USERS, users - ICELITE_TABLE_USERS


def test_icelite_wrappers_commit_only_through_the_snapshotter():
    wrappers = {"run_icelite_pipeline", "resolve_entities_checkpointed"}
    seen = set()
    for _rel, src in _sources():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.name in wrappers:
                seen.add(node.name)
                assert "IceLiteTable" not in ast.get_source_segment(src, node)
    assert seen == wrappers


def test_no_function_takes_a_checkpoint_flag():
    offenders = []
    for rel, src in _sources():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.Lambda)):
                a = node.args
                names = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                if "checkpoint" in names:
                    offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []
