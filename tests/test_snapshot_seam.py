"""Seam guard: every durability decision of the mapping and ER
pipelines and of the end-to-end job goes through the ``Snapshotter``
passed as ``snap=``.  Only the commit log itself, the snapshotters and
the incremental landing path (whose append commits are not cuts) may
touch ``IceLiteTable`` directly, only the commit log, the snapshotters
and the streaming sinks write DataFrames, and no library function
takes a ``checkpoint`` flag that would bypass the seam."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "metasra_pipeline_spark")

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
    wrappers = {"run_job", "land_job"}
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


def _dataframe_writes(src):
    """(enclosing class or None, line) of every DataFrame writer in
    ``src``: ``.writeTo(...)``, ``.writeStream``, and a ``.write`` that
    is not itself called (``f.write(s)`` writes a file)."""
    tree = ast.parse(src)
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    out = []

    def visit(node, cls):
        if isinstance(node, ast.ClassDef):
            cls = node.name
        if isinstance(node, ast.Attribute) and (
                node.attr in ("writeTo", "writeStream")
                or (node.attr == "write" and id(node) not in called)):
            out.append((cls, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, cls)

    visit(tree, None)
    return out


def test_dataframes_are_written_only_behind_the_seam():
    offenders = []
    for rel, src in _sources():
        for cls, line in _dataframe_writes(src):
            allowed = (rel == "icelite.py"
                       or rel.startswith("streaming" + os.sep)
                       or (rel == "ops.py" and cls is not None
                           and cls.endswith("Snapshotter")))
            if not allowed:
                offenders.append(f"{rel}:{line}")
    with open(os.path.join(ROOT, "spark_submit_main.py"),
              encoding="utf-8") as f:
        offenders += [f"spark_submit_main.py:{line}"
                      for _cls, line in _dataframe_writes(f.read())]
    assert offenders == []
    # the guard sees the writers it allows
    seen = {rel for rel, src in _sources() if _dataframe_writes(src)}
    assert {"icelite.py", "ops.py"} <= seen
