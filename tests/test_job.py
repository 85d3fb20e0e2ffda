"""The end-to-end job (``job.run_job``, driven in-process through
``spark_submit_main.main``): every output commits through the one
snapshotter over ``--workdir``, next to the map and ER stages; a kill
between two outputs resumes after the last commit; a fully committed
re-run computes and writes nothing; and a landing keeps
``cluster_terms`` on the landing's cluster ids."""

import os
from collections import Counter

import pytest

import spark_submit_main
from metasra_pipeline_spark.datagen import docs_from_kv
from metasra_pipeline_spark.icelite import IceLiteTable
from metasra_pipeline_spark.job import _Chunk, land_job, run_job
from metasra_pipeline_spark.ops import IceLiteSnapshotter, LocalSnapshotter
from metasra_pipeline_spark.plans.pipeline import run_mapping_pipeline

MAP_OUTPUTS = ["mapped_terms", "errors", "match_metrics"]
ER_OUTPUTS = ["er_match_metrics", "er_hot_keys", "clusters", "cluster_terms"]
ER_STAGES = {"er_profiles", "er_reps", "er_scored", "er_labels"}


class _Names(LocalSnapshotter):
    """In-memory cuts that record the stage names."""

    def __init__(self):
        self.names = []

    def cut(self, df, name, identity=None):
        self.names.append(name)
        return super().cut(df, name, identity)


class _Killed(Exception):
    pass


class _KillAfter(IceLiteSnapshotter):
    """Dies right after the k-th output commits: a kill between two
    output commits."""

    def __init__(self, spark, workdir, k):
        super().__init__(spark, workdir)
        self.k = k

    def cut(self, df, name, identity=None):
        out = super().cut(df, name, identity)
        outputs = MAP_OUTPUTS + ER_OUTPUTS
        if name in outputs and outputs.index(name) + 1 == self.k:
            raise _Killed(name)
        return out


@pytest.fixture()
def docs_path(spark, tmp_path):
    path = str(tmp_path / "docs.parquet")
    docs_from_kv(spark, [
        ("r1", [("tissue", "vastus lateralis muscle"), ("age", "48")]),
        ("r2", [("cell line", "MDA-MB-231"), ("passage", "3")]),
        ("r3", [("gender", "female"), ("source_name", "Lymphoblastoid")]),
    ]).write.parquet(path)
    return path


def _frozen(v):
    if isinstance(v, (list, tuple)):
        return tuple(_frozen(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _frozen(x)) for k, x in v.items()))
    return v


def _rows(df):
    return Counter(_frozen(tuple(r)) for r in df.collect())


def _table(wd, name):
    return IceLiteTable.load(os.path.join(wd, name))


def _files(wd):
    return {os.path.relpath(os.path.join(root, fn), wd)
            for root, _dirs, files in os.walk(wd) for fn in files}


def _assert_lineage(spark, wd, tables):
    """Every table is a committed IceLite table whose manifest lineage
    names it and accounts for every row."""
    for name in tables:
        t = _table(wd, name)
        assert t.snapshot_for_stage(name) is not None, name
        lin = t.lineage()
        assert {x["stage"] for x in lin} <= {name}, name
        assert sum(x["record_count"] for x in lin) \
            == t.read(spark).count(), name
    assert {x["stage"] for name in tables
            for x in _table(wd, name).lineage()} == set(tables)


def test_chunk_stages_are_prefixed_cuts_of_any_snapshotter(spark):
    """A chunk's snapshotter needs nothing of the job's but ``cut`` and
    ``committed``: here an in-memory one."""
    names = _Names()
    chunk = _Chunk(names, 1)
    assert sorted(r.id for r in chunk.cut(spark.range(3), "kv").collect()) \
        == [0, 1, 2]
    assert chunk.committed("kv") is None
    assert names.names == ["chunk1_kv"]


@pytest.mark.parametrize("chunks", [1, 2])
def test_main_without_er(spark, refdata, docs_path, tmp_path, chunks):
    """With --chunks 2 each chunk's stages are chunk<i>_-prefixed tables
    of the one workdir, and the outputs, real_values included, still
    commit at its top."""
    wd = str(tmp_path / "wd")
    spark_submit_main.main(["--documents", docs_path, "--workdir", wd,
                            "--chunks", str(chunks)])

    names = _Names()
    mem = run_mapping_pipeline(spark, spark.read.parquet(docs_path), refdata,
                               snap=names)
    stages = (names.names if chunks == 1 else
              [f"chunk{i}_{n}" for i in range(chunks) for n in names.names])
    tables = {"documents", "real_values", *stages, *MAP_OUTPUTS}
    assert set(os.listdir(wd)) == tables
    _assert_lineage(spark, wd, tables)
    mapped = _table(wd, "mapped_terms").read(spark)
    assert _rows(mapped) == _rows(mem.mapped_terms)
    assert sum(_rows(mapped).values()) > 0
    assert _rows(_table(wd, "real_values").read(spark)) \
        == _rows(mem.real_values)
    assert _table(wd, "errors").read(spark).count() == 0


def test_main_with_er_kill_between_outputs_and_rerun(spark, refdata,
                                                     docs_path, tmp_path):
    clean = str(tmp_path / "clean")
    spark_submit_main.main(["--documents", docs_path, "--workdir", clean,
                            "--er"])
    tables = set(os.listdir(clean))
    assert {"documents", "kv", "m_final", "real_values", *ER_STAGES,
            *MAP_OUTPUTS, *ER_OUTPUTS} <= tables
    assert not tables & {"stages", "er"}
    _assert_lineage(spark, clean, tables)
    clusters = _table(clean, "clusters").read(spark)
    assert {r["doc_id"] for r in clusters.collect()} == {"r1", "r2", "r3"}

    # killed right after the 4th output commit (er_match_metrics)
    k = 4
    wd = str(tmp_path / "wd")
    with pytest.raises(_Killed):
        run_job(spark, spark.read.parquet(docs_path), refdata,
                _KillAfter(spark, wd, k), er=True)
    # a POISONED input: any recompute from documents would show
    poisoned = docs_from_kv(spark, [("zz", [("tissue", "liver")])])
    snap = IceLiteSnapshotter(spark, wd)
    out = run_job(spark, poisoned, refdata, snap, er=True)
    assert snap.stages_computed == (MAP_OUTPUTS + ER_OUTPUTS)[k:]
    for name in ["real_values", *MAP_OUTPUTS, *ER_OUTPUTS]:
        assert _rows(out[name]) == \
            _rows(_table(clean, name).read(spark)), name

    # a fully committed third run computes nothing and writes nothing
    before = _files(wd)
    snap3 = IceLiteSnapshotter(spark, wd)
    run_job(spark, poisoned, refdata, snap3, er=True)
    assert snap3.stages_computed == []
    spark_submit_main.main(["--documents", docs_path, "--workdir", wd,
                            "--er"])
    assert _files(wd) == before


def test_landing_keeps_cluster_terms_on_landed_clusters(spark, refdata,
                                                        tmp_path):
    """The bridge fixture of tests/test_er_incremental.py
    (test_incremental_merges_bridged_clusters), with a mapped
    ``tissue: liver`` on both base sides: the landing merges a1's and
    b1's clusters, and its committed cluster_terms follows."""
    com = ("human hepatocyte culture protocol liver biopsy primary donor"
           .split())
    # "liver" is already a `com` token: profiles equal the bridge
    # fixture's, so its measured kernel scores hold
    base = docs_from_kv(spark, [
        ("a1", [("description", " ".join(com + ["alphaone", "alphatwo"])),
                ("tissue", "liver")]),
        ("b1", [("description", " ".join(com + ["betaone", "betatwo"])),
                ("tissue", "liver")]),
        ("z1", [("description",
                 "totally unrelated mouse kidney sample zinc")]),
    ])
    bridge = docs_from_kv(spark, [
        ("n1", [("description", " ".join(com + ["alphaone", "betaone"]))])])
    wd = str(tmp_path / "wd")
    run_job(spark, base, refdata, IceLiteSnapshotter(spark, wd), er=True,
            threshold=0.87)
    pre = {r["cluster_id"]
           for r in _table(wd, "cluster_terms").read(spark).collect()}
    assert {"a1", "b1"} <= pre

    snap = IceLiteSnapshotter(spark, wd)
    out = land_job(spark, bridge, snap, threshold=0.87)
    assert {"clusters", "cluster_merges", "cluster_terms"} \
        <= set(snap.stages_computed)
    cids = {r["cluster_id"] for r in out["clusters"].collect()}
    assert {r["doc_id"] for r in out["clusters"].where(
        "cluster_id = 'a1'").collect()} == {"a1", "b1", "n1"}
    assert out["cluster_merges"].count() >= 1
    for name in ("clusters", "cluster_merges", "cluster_terms"):
        assert _rows(out[name]) == _rows(_table(wd, name).read(spark))
    terms = {r["cluster_id"] for r in out["cluster_terms"].collect()}
    assert terms and terms <= cids

    # a re-landing commits a new er_labels snapshot, so it recomputes
    # the outputs instead of resuming the first landing's
    again = IceLiteSnapshotter(spark, wd)
    land_job(spark, bridge, again, threshold=0.87)
    assert {"clusters", "cluster_merges", "cluster_terms"} \
        <= set(again.stages_computed)
