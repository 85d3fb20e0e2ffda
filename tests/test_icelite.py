"""IceLite (Iceberg-shaped snapshot log) semantics: atomic commit,
snapshot lineage, time travel, per-partition manifest lineage,
optimistic-concurrency conflict, and kill-and-rerun pipeline resume
through IceLiteSnapshotter (the north rule's "resumable from Iceberg
snapshot checkpoints with per-partition lineage and match-count
metrics", made testable instead of asserted)."""

import os

import pytest

from metasra_pipeline_spark.datagen import docs_from_kv
from metasra_pipeline_spark.icelite import CommitConflict, IceLiteTable
from metasra_pipeline_spark.ops import IceLiteSnapshotter


def _resolve(spark, docs, wd, **kw):
    """``resolve_entities`` over an IceLite snapshotter on ``wd``:
    (result dict, snapshotter)."""
    from metasra_pipeline_spark.er.resolution import resolve_entities

    snap = IceLiteSnapshotter(spark, wd)
    return resolve_entities(spark, docs, snap=snap, **kw), snap


def _run_job(spark, docs, refdata, wd):
    """The end-to-end job over an IceLite snapshotter on ``wd``:
    (mapped terms, real values, snapshotter)."""
    from metasra_pipeline_spark.job import run_job

    snap = IceLiteSnapshotter(spark, wd)
    out = run_job(spark, docs, refdata, snap)
    return out["mapped_terms"], out["real_values"], snap


def _df(spark, n, start=0):
    return spark.range(start, start + n).selectExpr(
        "id", "concat('v', id) AS val")


def test_commit_read_roundtrip_and_manifest_lineage(spark, tmp_path):
    t = IceLiteTable.create(str(tmp_path / "t"))
    sid = t.commit(_df(spark, 100).repartition(4), stage="s0")
    assert t.current_snapshot_id() == sid
    got = t.read(spark)
    assert got.count() == 100
    assert set(got.columns) == {"id", "val"}
    # manifest = per-partition lineage: one data file per write
    # partition, record counts from footers sum to the row count
    lin = t.lineage()
    assert len(lin) == 4
    assert sum(x["record_count"] for x in lin) == 100
    assert all(x["stage"] == "s0" and x["file_size_bytes"] > 0
               for x in lin)
    snap = t.snapshots()[-1]
    assert snap["summary"]["total-records"] == 100
    assert snap["parent-snapshot-id"] is None


def test_append_lineage_and_time_travel(spark, tmp_path):
    t = IceLiteTable.create(str(tmp_path / "t"))
    s1 = t.commit(_df(spark, 10), operation="overwrite")
    s2 = t.commit(_df(spark, 5, start=100), operation="append")
    s3 = t.commit(_df(spark, 3, start=200), operation="overwrite")
    # lineage chain
    snaps = {s["snapshot-id"]: s for s in t.snapshots()}
    assert snaps[s2]["parent-snapshot-id"] == s1
    assert snaps[s3]["parent-snapshot-id"] == s2
    # time travel reads exactly each snapshot's file set
    assert t.read(spark, snapshot_id=s1).count() == 10
    assert t.read(spark, snapshot_id=s2).count() == 15
    assert t.read(spark).count() == 3
    ids = {r["id"] for r in t.read(spark, snapshot_id=s2).collect()}
    assert ids == set(range(10)) | set(range(100, 105))


def test_atomic_pointer_crash_between_data_and_metadata(spark, tmp_path):
    """A crash after data files are written but before the metadata
    pointer swap must leave readers at the previous snapshot."""
    path = str(tmp_path / "t")
    t = IceLiteTable.create(path)
    s1 = t.commit(_df(spark, 10))
    # simulate the torn commit: data files land, no metadata commit
    _df(spark, 99).write.parquet(os.path.join(path, "data", "orphan"))
    t2 = IceLiteTable.load(path)
    assert t2.current_snapshot_id() == s1
    assert t2.read(spark).count() == 10
    # the table remains writable; the orphan files stay invisible
    t2.commit(_df(spark, 7))
    assert t2.read(spark).count() == 7


def test_commit_conflict(spark, tmp_path):
    """Optimistic concurrency: two writers loaded at the same base —
    the second commit must raise CommitConflict, not clobber."""
    path = str(tmp_path / "t")
    IceLiteTable.create(path)
    w1, w2 = IceLiteTable.load(path), IceLiteTable.load(path)
    base = w1.version()
    w1.commit(_df(spark, 5))
    meta_stale = {"format-version": 2, "table-uuid": "x", "location": path,
                  "last-sequence-number": 9, "current-snapshot-id": None,
                  "snapshots": []}
    with pytest.raises(CommitConflict):
        w2._write_version(base + 1, meta_stale, base_version=base)
    # and a plain re-commit from the refreshed state succeeds
    w2.commit(_df(spark, 6))
    assert IceLiteTable.load(path).read(spark).count() == 6


def test_empty_commit_preserves_schema(spark, tmp_path):
    t = IceLiteTable.create(str(tmp_path / "t"))
    t.commit(_df(spark, 0))
    got = t.read(spark)
    assert got.count() == 0 and set(got.columns) == {"id", "val"}


def test_er_checkpointed_resume_and_metrics(spark, tmp_path):
    """The record-linkage pipeline itself (north rule sentence) resumes
    from IceLite snapshots: with er_scored + er_labels committed, a
    re-run against a POISONED corpus reproduces the original clusters
    (committed snapshots read, blocking/scoring/CC skipped), F1 gate
    unchanged, and the match-count metrics agree with the committed
    er_scored manifest (the job commits them as er_match_metrics,
    tests/test_job.py)."""
    from metasra_pipeline_spark.datagen import synth_documents
    from metasra_pipeline_spark.er.resolution import pairwise_f1

    gen = synth_documents(spark, 120, seed=11).localCheckpoint()
    docs = gen.select("doc_id", "spans")
    truth = gen.select("doc_id", "entity_id")
    wd = str(tmp_path / "er")
    res1, snap1 = _resolve(spark, docs, wd, threshold=0.65)
    clusters1 = {(r["doc_id"], r["cluster_id"])
                 for r in res1["clusters"].collect()}
    # measured identical to the plain resolve_entities path on this
    # corpus (0.9692 both — 120-doc seed-11 draw has 8 blocking fn);
    # the canonical F1 ≥ 0.99 gate runs in test_er.py on 300/seed42
    assert pairwise_f1(res1["pairs"], truth, 0.65)["f1"] >= 0.95
    assert {"er_profiles", "er_reps", "er_scored",
            "er_labels"} <= set(snap1.stages_computed)
    mm = res1["match_metrics"].first()
    assert mm["candidate_pairs"] > 0 and mm["accepted_pairs"] > 0
    # manifest lineage exists for the expensive stage
    lin = IceLiteTable.load(os.path.join(wd, "er_scored")).lineage()
    assert sum(x["record_count"] for x in lin) == mm["candidate_pairs"]

    # poisoned re-run: every stage committed → everything resumes
    poisoned = synth_documents(spark, 30, seed=99).select("doc_id", "spans")
    res2, snap2 = _resolve(spark, poisoned, wd, threshold=0.65)
    assert snap2.stages_computed == []
    assert {"er_profiles", "er_scored",
            "er_labels"} <= set(snap2.stages_resumed)
    # labels come from the committed snapshots, not the poisoned input
    # (assign_clusters joins the poisoned doc list, so compare labels)
    labels1 = IceLiteTable.load(os.path.join(wd, "er_labels")).read(spark)
    assert {(r["doc_id"], r["cluster_id"]) for r in labels1.collect()} \
        <= clusters1


def test_icelite_pipeline_kill_and_rerun_resume(spark, refdata, tmp_path):
    """Same kill-and-rerun contract as tests/test_resume.py but through
    the Iceberg-shaped commit log: wipe the snapshots after a chosen
    stage, re-run with a POISONED input — identical output proves the
    surviving snapshots were read, not recomputed — and verify the
    match-count metrics table was committed alongside."""
    import shutil

    docs = docs_from_kv(spark, [
        ("r1", [("tissue", "vastus lateralis muscle"), ("age", "48")]),
        ("r2", [("cell line", "MDA-MB-231"), ("passage", "3")]),
    ])
    wd = str(tmp_path / "wd")
    mapped1, rv1, snap1 = _run_job(spark, docs, refdata, wd)
    out1 = {(r["doc_id"], r["term_id"], r["consequent"])
            for r in mapped1.collect()}
    assert out1
    assert snap1.stages_computed and not snap1.stages_resumed
    # match-count metrics table committed in the same catalog dir
    mm = IceLiteTable.load(os.path.join(wd, "match_metrics")).read(spark)
    assert {"match_target", "edit_dist", "n"} <= set(mm.columns)
    assert mm.count() > 0

    # kill right after tok_final: wipe every later stage table
    survivors = {"kv", "deriv_expand", "tok_final"}
    for name in set(os.listdir(wd)) - survivors:
        shutil.rmtree(os.path.join(wd, name))
    poisoned = docs_from_kv(spark, [("zz", [("tissue", "liver")])])
    mapped2, rv2, snap2 = _run_job(spark, poisoned, refdata, wd)
    assert {(r["doc_id"], r["term_id"], r["consequent"])
            for r in mapped2.collect()} == out1
    assert set(survivors) <= set(snap2.stages_resumed)
    assert "m_final" in snap2.stages_computed

    # fully-committed third run: everything resumes, nothing computed
    mapped3, _, snap3 = _run_job(spark, poisoned, refdata, wd)
    assert snap3.stages_computed == []
    assert {(r["doc_id"], r["term_id"], r["consequent"])
            for r in mapped3.collect()} == out1


def test_er_scored_resume_invalidated_on_blocking_param_change(
        spark, tmp_path):
    """A committed er_scored snapshot records its blocking and scoring
    parameters; a re-run with DIFFERENT parameters must recompute
    er_scored AND er_labels instead of resuming (mixed-semantics resume
    guard, ADVICE r05)."""
    from metasra_pipeline_spark.datagen import synth_documents
    from metasra_pipeline_spark.er.resolution import resolve_entities

    docs = (synth_documents(spark, 60, seed=21)
            .select("doc_id", "spans").localCheckpoint())
    wd = str(tmp_path / "er_params")
    def both_computed(snap):
        # er_labels is derived from er_scored: it must never resume
        # across a recomputed er_scored
        return ({"er_scored", "er_labels"} <= set(snap.stages_computed)
                and not {"er_scored", "er_labels"}
                & set(snap.stages_resumed))

    _res1, snap1 = _resolve(spark, docs, wd, threshold=0.65)
    assert "er_scored" in snap1.stages_computed
    assert both_computed(snap1)

    # same params: resumes
    _res2, snap2 = _resolve(spark, docs, wd, threshold=0.65)
    assert "er_scored" in snap2.stages_resumed
    assert {"er_scored", "er_labels"} <= set(snap2.stages_resumed)
    assert snap2.stages_computed == []

    # different max_block: the committed snapshot's blocking params no
    # longer match -> er_scored must be recomputed, not resumed
    _res3, snap3 = _resolve(spark, docs, wd, threshold=0.65,
                           max_block=50)
    assert "er_scored" in snap3.stages_computed
    assert "er_scored" not in snap3.stages_resumed
    assert both_computed(snap3)

    # different threshold only: er_scored's rejected flags were computed
    # against the old cut, so it must be recomputed too
    res4, snap4 = _resolve(spark, docs, wd, threshold=0.6,
                          max_block=50)
    assert both_computed(snap4)
    fresh = resolve_entities(spark, docs, threshold=0.6, max_block=50)
    assert (sorted(tuple(r) for r in res4["clusters"].collect())
            == sorted(tuple(r) for r in fresh["clusters"].collect()))
    assert res4["match_metrics"].first() == fresh["match_metrics"].first()


def test_er_checkpointed_equals_in_memory(spark, tmp_path):
    """The IceLite-committed run and the default in-memory run are the
    same body over different snapshotters: identical clusters, an
    identical pairs multiset and identical match metrics."""
    from collections import Counter

    from metasra_pipeline_spark.datagen import synth_documents
    from metasra_pipeline_spark.er.resolution import resolve_entities

    docs = (synth_documents(spark, 120, seed=11)
            .select("doc_id", "spans").localCheckpoint())
    mem = resolve_entities(spark, docs, threshold=0.65)
    dur, _snap = _resolve(
        spark, docs, str(tmp_path / "er"), threshold=0.65)

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    assert rows(dur["clusters"]) == rows(mem["clusters"])
    assert rows(dur["pairs"]) == rows(mem["pairs"])
    assert sum(rows(mem["pairs"]).values()) > 0
    assert dur["match_metrics"].first() == mem["match_metrics"].first()
