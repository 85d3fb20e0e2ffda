"""Driver-built frames stay JVM-local: ``refdata.local_frame`` matches
``createDataFrame(list)`` row for row, every reference table plans as a
``LocalRelation`` (frames past the size cap keep an unknown size), and a
mapping pass starts no job that reads a ``PythonRDD`` (a side table
re-pickled through Python workers)."""

import ast
import dataclasses
import os
import re

from pyspark.sql import DataFrame

from metasra_pipeline_spark.refdata import (
    LOCAL_MAX_BYTES,
    load_refdata,
    local_frame,
)

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "metasra_pipeline_spark")

DDL = "s: string, i: int, l: long, d: double, b: boolean"
ROWS = [("a", 1, 2**40, 1.5, True),
        (None, None, None, None, None),
        ("ü", -3, 7, -0.25, False)]


def _plan_root(df: DataFrame) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_local_frame_matches_create_dataframe(spark):
    for rows in (ROWS, []):
        got = local_frame(spark, rows, DDL)
        want = spark.createDataFrame(rows, DDL)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert _plan_root(got) == "LocalRelation"


def test_local_frame_above_cap_keeps_unknown_size(spark):
    """Past ``LOCAL_MAX_BYTES`` the frame is not a LocalRelation, so
    Catalyst sizes it as unknown and never broadcasts it on the strength
    of its exact size; rows are unchanged."""
    n = LOCAL_MAX_BYTES // 8
    rows = [(f"s{i:07d}", i) for i in range(n)]
    got = local_frame(spark, rows, "s: string, i: int")
    assert _plan_root(got) == "LogicalRDD"
    assert (got._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            == spark.sparkContext._jvm.Long.MAX_VALUE)
    assert sorted(got.collect()) == sorted(
        spark.createDataFrame(rows, "s: string, i: int").collect())


def test_refdata_tables_are_local_relations(spark):
    ref = load_refdata(spark)
    frames = {f.name: getattr(ref, f.name) for f in dataclasses.fields(ref)
              if isinstance(getattr(ref, f.name), DataFrame)}
    assert frames
    assert {n: _plan_root(df) for n, df in frames.items()} == \
        {n: "LocalRelation" for n in frames}


def _python_rdd_jobs(spark, after_job: int) -> list[int]:
    """Ids of jobs after ``after_job`` that ran a stage whose RDD graph
    holds a ``PythonRDD`` node, read from the driver's status store.
    Skipped stages ran nothing (and the store may have evicted their
    graphs in a long session), so only stages that ran are read."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    ran = {s.stageId() for s in conv.asJava(store.stageList(
               None, False, False, no_quantiles, None))
           if s.status().toString() != "SKIPPED"}

    def node_names(cluster):
        for n in conv.asJava(cluster.childNodes()):
            yield n.name()
        for c in conv.asJava(cluster.childClusters()):
            yield from node_names(c)

    bad = []
    for job in conv.asJava(store.jobsList(None)):
        if job.jobId() <= after_job:
            continue
        for sid in conv.asJava(job.stageIds()):
            if int(sid) not in ran:
                continue
            graph = store.operationGraphForStage(int(sid))
            if "PythonRDD" in set(node_names(graph.rootCluster())):
                bad.append(job.jobId())
                break
    return bad


def test_mapping_pass_reads_no_python_rdd(spark, refdata):
    from metasra_pipeline_spark.datagen import docs_from_kv
    from metasra_pipeline_spark.plans.pipeline import run_mapping_pipeline

    docs = docs_from_kv(spark, [
        ("d1", [("age", "48 years"), ("sex", "m"),
                ("tissue", "vastus lateralis muscle")]),
        ("d2", [("cell line", "MDA-MB-231"), ("time", "48h")]),
        ("d3", [("cell type", "T cell"), ("marker", "CD4+")]),
    ]).localCheckpoint(eager=True)   # the test input itself is pickled
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    last = jobs.head().jobId() if jobs.nonEmpty() else -1

    res = run_mapping_pipeline(spark, docs, refdata)
    assert res.mapped_terms.collect()
    res.real_values.collect()
    assert _python_rdd_jobs(spark, last) == []


def test_driver_built_frames_go_through_local_frame():
    """Guard: the map and ER layers build driver-side frames only with
    ``local_frame``; ``createDataFrame(`` appears nowhere else there."""
    hits = []
    for sub in ("operators", "plans", "er"):
        for root, _dirs, files in os.walk(os.path.join(PKG, sub)):
            for fn in files:
                if fn.endswith(".py"):
                    path = os.path.join(root, fn)
                    with open(path, encoding="utf-8") as f:
                        for i, line in enumerate(f, 1):
                            if "createDataFrame(" in line:
                                hits.append(f"{path}:{i}")
    path = os.path.join(PKG, "refdata.py")
    with open(path, encoding="utf-8") as f:
        src = f.read()
    helper = next(n for n in ast.parse(src).body
                  if isinstance(n, ast.FunctionDef) and n.name == "local_frame")
    for m in re.finditer(r"createDataFrame\(", src):
        line = src.count("\n", 0, m.start()) + 1
        if not helper.lineno <= line <= helper.end_lineno:
            hits.append(f"{path}:{line}")
    assert hits == []
