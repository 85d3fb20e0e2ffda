"""Incremental ER: delta-batch resolution against an existing
clustering must reproduce the batch partition and handle
transitive cluster merges."""

import pytest
from pyspark.sql import functions as F

from metasra_pipeline_spark.datagen import synth_documents
from metasra_pipeline_spark.er.incremental import incremental_resolve
from metasra_pipeline_spark.er.resolution import resolve_entities
from metasra_pipeline_spark.ops import IceLiteSnapshotter


def _resolve_into(spark, docs, wd):
    """Batch-resolve ``docs`` with every ER stage committed under
    ``wd``: the base a landing resolves against."""
    return resolve_entities(spark, docs, snap=IceLiteSnapshotter(spark, wd))


def _partition(rows):
    """cluster assignment rows -> frozenset of frozensets of doc_ids."""
    by_c = {}
    for r in rows:
        by_c.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    return frozenset(frozenset(s) for s in by_c.values())


def test_incremental_matches_batch_partition(spark):
    """Split the generator corpus 75/25, resolve the base, land the
    delta incrementally — the final partition must equal the full
    batch run's (cluster ids are representatives and may differ;
    co-membership may not)."""
    gen = synth_documents(spark, 300, seed=42).localCheckpoint()
    docs = gen.select("doc_id", "spans")
    base = docs.where(F.pmod(F.hash("doc_id"), F.lit(4)) < 3)
    delta = docs.where(F.pmod(F.hash("doc_id"), F.lit(4)) == 3)
    assert 0 < delta.count() < 300

    full = resolve_entities(spark, docs, threshold=0.65)
    base_res = resolve_entities(spark, base, threshold=0.65)
    incr = incremental_resolve(spark,
                               base_profiles=base_res["profiles"],
                               base_clusters=base_res["clusters"],
                               new_documents=delta,
                               threshold=0.65)

    got = _partition(incr["clusters"].collect())
    want = _partition(full["clusters"].collect())
    assert got == want

    # every doc assigned exactly once
    n = incr["clusters"].count()
    assert n == 300
    assert incr["clusters"].select("doc_id").distinct().count() == 300


def test_incremental_f1_gate(spark):
    """The north_rule F1 gate holds when 25% of the corpus lands as a
    delta batch instead of being present at base-build time."""
    gen = synth_documents(spark, 300, seed=7).localCheckpoint()
    docs = gen.select("doc_id", "spans")
    truth = {r["doc_id"]: r["entity_id"]
             for r in gen.select("doc_id", "entity_id").collect()}
    base = docs.where(F.pmod(F.hash("doc_id"), F.lit(4)) < 3)
    delta = docs.where(F.pmod(F.hash("doc_id"), F.lit(4)) == 3)

    base_res = resolve_entities(spark, base, threshold=0.65)
    incr = incremental_resolve(spark,
                               base_profiles=base_res["profiles"],
                               base_clusters=base_res["clusters"],
                               new_documents=delta,
                               threshold=0.65)
    assign = {r["doc_id"]: r["cluster_id"]
              for r in incr["clusters"].collect()}
    ids = sorted(truth)
    tp = fp = fn = 0
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            same_truth = truth[a] == truth[b]
            same_got = assign[a] == assign[b]
            tp += same_truth and same_got
            fp += same_got and not same_truth
            fn += same_truth and not same_got
    p = tp / max(tp + fp, 1)
    r = tp / max(tp + fn, 1)
    f1 = 2 * p * r / max(p + r, 1e-9)
    assert f1 >= 0.99, (tp, fp, fn, f1)


def _docs(spark, rows):
    """[(doc_id, text)] -> (doc_id, spans) frame in the input_hint
    span shape."""
    data = [(d, [{"kind": "text", "text": t, "media_ref": None,
                  "offset": 0}]) for d, t in rows]
    return spark.createDataFrame(
        data, "doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")


def test_incremental_merges_bridged_clusters(spark):
    """A new document similar to members of TWO existing clusters must
    merge them, and the merge log must record the relabel."""
    com = ("human hepatocyte culture protocol liver biopsy primary donor"
           .split())
    a_toks = com + ["alphaone", "alphatwo"]
    b_toks = com + ["betaone", "betatwo"]
    # base: two singleton clusters sharing `com` whose distinctive
    # tails differ enough to stay separate at the threshold.  The
    # corpus is kept small enough that every token's document
    # frequency < token_idf's min_df, so all weights are the uniform
    # default and the kernel scores are exactly the measured ones:
    # a-b 0.811 < 0.87 <= n-b 0.911, n-a 0.929.
    base = _docs(spark, [
        ("a1", " ".join(a_toks)),
        ("b1", " ".join(b_toks)),
        ("z1", "totally unrelated mouse kidney sample zinc"),
    ])
    base_res = resolve_entities(spark, base, threshold=0.87)
    base_part = _partition(base_res["clusters"].collect())
    assert frozenset({"a1"}) in base_part
    assert frozenset({"b1"}) in base_part

    # the bridge: shares almost everything with both sides
    bridge = _docs(spark, [
        ("n1", " ".join(com + ["alphaone", "betaone"]))])
    incr = incremental_resolve(spark,
                               base_profiles=base_res["profiles"],
                               base_clusters=base_res["clusters"],
                               new_documents=bridge,
                               threshold=0.87)
    part = _partition(incr["clusters"].collect())
    assert frozenset({"a1", "b1", "n1"}) in part
    assert frozenset({"z1"}) in part
    merges = incr["merges"].collect()
    assert len(merges) >= 1, "bridging must produce a merge-log entry"


def test_incremental_exact_attach_and_singleton(spark):
    """A new doc byte-identical to a base profile joins that cluster
    without scoring; an unrelated new doc becomes a singleton."""
    base = _docs(spark, [
        ("a1", "human liver tissue rna extraction alpha"),
        ("a2", "human liver tissue rna extraction alpha"),
    ])
    base_res = resolve_entities(spark, base)
    incr = incremental_resolve(
        spark, base_profiles=base_res["profiles"],
        base_clusters=base_res["clusters"],
        new_documents=_docs(spark, [
            ("n1", "human liver tissue rna extraction alpha"),
            ("n2", "completely different zebra granite xylophone"),
        ]))
    part = _partition(incr["clusters"].collect())
    assert frozenset({"a1", "a2", "n1"}) in part
    assert frozenset({"n2"}) in part
    assert incr["merges"].count() == 0


def test_incremental_checkpointed_landing(spark, tmp_path):
    """Landing a delta through IceLite: er_profiles appends, er_labels
    overwrites with the merge applied, time travel shows the
    pre-landing clustering, metrics row committed."""
    from metasra_pipeline_spark.er.incremental import (
        incremental_resolve_checkpointed,
    )
    from metasra_pipeline_spark.icelite import IceLiteTable

    wd = str(tmp_path / "er")
    base = _docs(spark, [
        ("a1", "human liver tissue rna extraction alpha"),
        ("a2", "human liver tissue rna extraction alpha"),
        ("z1", "totally unrelated mouse kidney sample zinc"),
    ])
    _resolve_into(spark, base, wd)

    import os
    labels_t = IceLiteTable.load(os.path.join(wd, "er_labels"))
    pre_snap = labels_t.current_snapshot_id()

    res = incremental_resolve_checkpointed(
        spark, wd, _docs(spark, [
            ("n1", "human liver tissue rna extraction alpha"),
            ("n2", "completely different zebra granite xylophone"),
        ]))
    part = _partition(res["clusters"].collect())
    assert frozenset({"a1", "a2", "n1"}) in part

    # committed state matches the returned state
    labels_t = IceLiteTable.load(os.path.join(wd, "er_labels"))
    committed = _partition(labels_t.read(spark).collect())
    assert committed == part
    # time travel: the pre-landing snapshot has no n1/n2
    old = {r["doc_id"] for r in
           labels_t.read(spark, snapshot_id=pre_snap).collect()}
    assert "n1" not in old and "a1" in old
    # er_profiles appended, not rewritten
    prof_t = IceLiteTable.load(os.path.join(wd, "er_profiles"))
    assert prof_t.snapshots()[-1]["operation"] == "append"
    assert prof_t.read(spark).count() == 5
    # landing metrics committed
    m = res["landing_metrics"].collect()
    assert len(m) == 1 and m[0]["n_new_docs"] == 2
    assert m[0]["n_merges"] == 0


def test_incremental_checkpointed_second_landing(spark, tmp_path):
    """Landings compose: a second batch lands against the profiles and
    labels the first landing committed."""
    import os

    from metasra_pipeline_spark.er.incremental import (
        incremental_resolve_checkpointed,
    )
    from metasra_pipeline_spark.icelite import IceLiteTable

    wd = str(tmp_path / "er")
    _resolve_into(spark, _docs(spark, [
        ("a1", "human liver tissue rna extraction alpha"),
    ]), wd)
    incremental_resolve_checkpointed(spark, wd, _docs(spark, [
        ("n1", "standalone second batch profile gamma"),
    ]))
    res = incremental_resolve_checkpointed(spark, wd, _docs(spark, [
        # identical to the FIRST landing's doc: must attach to n1's
        # cluster, proving landing 2 sees landing 1's committed state
        ("m1", "standalone second batch profile gamma"),
    ]))
    part = _partition(res["clusters"].collect())
    assert frozenset({"n1", "m1"}) in part
    assert frozenset({"a1"}) in part
    prof_t = IceLiteTable.load(os.path.join(wd, "er_profiles"))
    assert prof_t.read(spark).count() == 3
    m = IceLiteTable.load(os.path.join(wd, "er_landing_metrics"))
    assert m.read(spark).count() == 2


def test_incremental_zero_token_doc_gets_singleton(spark):
    """A delta doc whose spans yield no tokens still appears in the
    result as its own singleton, matching the batch path's
    assign_clusters coalesce."""
    base = _docs(spark, [("a1", "human liver tissue rna alpha")])
    base_res = resolve_entities(spark, base)
    incr = incremental_resolve(
        spark, base_profiles=base_res["profiles"],
        base_clusters=base_res["clusters"],
        new_documents=_docs(spark, [("n1", "---"), ("n2", "")]))
    out = {r["doc_id"]: r["cluster_id"]
           for r in incr["clusters"].collect()}
    assert out == {"a1": "a1", "n1": "n1", "n2": "n2"}


def test_incremental_checkpointed_relanding_is_idempotent(spark, tmp_path):
    """Re-running the same landing (operator retry after a crash) must
    not duplicate profile rows or change the clustering."""
    import os

    from metasra_pipeline_spark.er.incremental import (
        incremental_resolve_checkpointed,
    )
    from metasra_pipeline_spark.icelite import IceLiteTable

    wd = str(tmp_path / "er")
    _resolve_into(spark, _docs(spark, [
        ("a1", "human liver tissue rna extraction alpha"),
    ]), wd)
    batch = [("n1", "human liver tissue rna extraction alpha")]
    first = incremental_resolve_checkpointed(spark, wd,
                                             _docs(spark, batch))
    again = incremental_resolve_checkpointed(spark, wd,
                                             _docs(spark, batch))
    part = _partition(IceLiteTable.load(
        os.path.join(wd, "er_labels")).read(spark).collect())
    assert part == _partition(first["clusters"].collect())
    assert part == _partition(again["clusters"].collect())
    prof_t = IceLiteTable.load(os.path.join(wd, "er_profiles"))
    assert prof_t.read(spark).count() == 2  # a1 + n1, no duplicates
    # the retry is recorded as an empty landing in the audit log
    m = again["landing_metrics"].collect()
    assert sorted(r["n_new_docs"] for r in m) == [0, 1]


def test_three_successive_landings_match_batch(spark, tmp_path):
    """Production cadence: resolve a base quarter, then land three
    successive delta quarters through the IceLite workdir.  The final
    committed partition must equal one full batch run over the whole
    corpus, labels must stay one-per-doc after every landing, and the
    landing-metrics log holds one row per landing."""
    import os

    from metasra_pipeline_spark.er.incremental import (
        incremental_resolve_checkpointed,
    )
    from metasra_pipeline_spark.icelite import IceLiteTable

    gen = synth_documents(spark, 300, seed=42).localCheckpoint()
    docs = gen.select("doc_id", "spans")
    quarters = [docs.where(F.pmod(F.hash("doc_id"), F.lit(4)) == q)
                for q in range(4)]

    wd = str(tmp_path / "er")
    _resolve_into(spark, quarters[0], wd)
    n_seen = quarters[0].count()
    for q in (1, 2, 3):
        res = incremental_resolve_checkpointed(spark, wd, quarters[q])
        n_seen += quarters[q].count()
        labeled = res["clusters"]
        assert labeled.count() == n_seen
        assert labeled.select("doc_id").distinct().count() == n_seen

    labels_t = IceLiteTable.load(os.path.join(wd, "er_labels"))
    got = _partition(labels_t.read(spark).collect())
    want = _partition(
        resolve_entities(spark, docs)["clusters"].collect())
    assert got == want

    metrics = IceLiteTable.load(
        os.path.join(wd, "er_landing_metrics")).read(spark)
    assert metrics.count() == 3


def test_incremental_native_scorer_matches_batch_native(spark):
    """scorer="native" (the q94-oracled configuration): landing the
    25% delta with the IDF-free native composite must reproduce the
    partition of a full batch resolve_entities_native run over the
    same corpus.  Unlike the softtfidf path there is no IDF drift
    between base and combined corpora (the scorer is closed-form), so
    batch equality is exact by construction — this pins it."""
    from metasra_pipeline_spark.er.resolution import resolve_entities_native

    gen = synth_documents(spark, 300, seed=7).localCheckpoint()
    docs = gen.select("doc_id", "spans")
    base = docs.where(F.pmod(F.hash("doc_id"), F.lit(4)) < 3)
    delta = docs.where(F.pmod(F.hash("doc_id"), F.lit(4)) == 3)
    assert 0 < delta.count() < 300

    full = resolve_entities_native(spark, docs)
    base_res = resolve_entities_native(spark, base)
    incr = incremental_resolve(spark,
                               base_profiles=base_res["profiles"],
                               base_clusters=base_res["clusters"],
                               new_documents=delta,
                               ngram=0, scorer="native")

    got = _partition(incr["clusters"].collect())
    want = _partition(full["clusters"].collect())
    assert got == want
    assert incr["clusters"].count() == 300


def test_incremental_unknown_scorer_rejected(spark):
    docs = synth_documents(spark, 10, seed=1).select("doc_id", "spans")
    from metasra_pipeline_spark.er.resolution import resolve_entities_native
    base_res = resolve_entities_native(spark, docs)
    with pytest.raises(ValueError, match="unknown scorer"):
        incremental_resolve(spark, base_profiles=base_res["profiles"],
                            base_clusters=base_res["clusters"],
                            new_documents=docs, scorer="bogus")
