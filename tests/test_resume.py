"""Kill-and-rerun resume: committed stage snapshots are READ on re-run,
never recomputed (the round-1 resume path rebuilt everything from raw
documents; this proves the fixed contract).

Strategy: run the IceLite-committed job to completion, wipe
the snapshots *after* a chosen stage (simulating a kill there), then
re-run with a POISONED documents frame.  If resume recomputed from
documents, the output would reflect the poisoned input; identical output
proves the surviving snapshots were read."""

import os
import shutil

import pytest

from metasra_pipeline_spark.datagen import docs_from_kv
from metasra_pipeline_spark.icelite import IceLiteTable
from metasra_pipeline_spark.job import run_job
from metasra_pipeline_spark.ops import IceLiteSnapshotter


@pytest.fixture()
def docs(spark):
    return docs_from_kv(spark, [
        ("r1", [("tissue", "vastus lateralis muscle"), ("age", "48")]),
        ("r2", [("cell line", "MDA-MB-231"), ("passage", "3")]),
        ("r3", [("gender", "female"), ("source_name", "Lymphoblastoid")]),
    ])


def _mapped_set(df):
    return {(r["doc_id"], r["term_id"], r["consequent"]) for r in df.collect()}


def _rv_set(df):
    return {(r["doc_id"], r["property_id"], r["value"], r["unit_id"])
            for r in df.collect()}


def _run(spark, docs, refdata, wd):
    snap = IceLiteSnapshotter(spark, wd)
    out = run_job(spark, docs, refdata, snap)
    return out["mapped_terms"], out["real_values"], snap


def test_kill_and_rerun_resumes_from_snapshots(spark, refdata, docs, tmp_path):
    wd = str(tmp_path / "wd")
    mapped1, rv1, _ = _run(spark, docs, refdata, wd)
    out1, rvs1 = _mapped_set(mapped1), _rv_set(rv1)
    assert out1, "pipeline produced terms"

    committed = set(os.listdir(wd))
    # every pipeline cut point must be a durable commit
    for stage in ("kv", "deriv_expand", "tok_final", "m_matched", "m_p4",
                  "m_p3", "m_final", "inf_edges", "real_values",
                  "node_terms0", "node_terms", "mapped_terms"):
        assert stage in committed, f"missing snapshot for {stage}"
        t = IceLiteTable.load(os.path.join(wd, stage))
        assert t.snapshot_for_stage(stage) is not None, stage

    # simulate a kill right after the tok_final commit: wipe later stages
    survivors = {"kv", "deriv_expand", "tok_final"}
    for name in committed - survivors:
        shutil.rmtree(os.path.join(wd, name))

    # poisoned input: totally different doc — any recompute-from-documents
    # path would change kv and therefore the output
    poisoned = docs_from_kv(spark, [("zz", [("tissue", "liver")])])
    mapped2, rv2, snap2 = _run(spark, poisoned, refdata, wd)
    assert _mapped_set(mapped2) == out1
    assert _rv_set(rv2) == rvs1
    assert survivors <= set(snap2.stages_resumed)

    # fully-committed re-run: every stage resumes, zero computed
    mapped3, _, snap3 = _run(spark, poisoned, refdata, wd)
    assert _mapped_set(mapped3) == out1
    assert snap3.stages_computed == []
    assert "kv" in snap3.stages_resumed and "m_final" in snap3.stages_resumed
