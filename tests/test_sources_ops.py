"""Sources (OBO / SPECIALIST / SQLite), ops (partition metrics),
multimodal plumbing, classifier."""

import os

OBO_SAMPLE = """format-version: 1.2

[Term]
id: UBERON:0001379
name: vastus lateralis
synonym: "vastus lateralis muscle" EXACT []
is_a: UBERON:0001134 ! skeletal muscle tissue

[Term]
id: UBERON:0001134
name: skeletal muscle tissue
relationship: part_of UBERON:0000383 ! muscle organ

[Term]
id: UBERON:0000383
name: muscle organ

[Term]
id: UBERON:9999999
name: obsolete thing
is_obsolete: true

[Typedef]
id: part_of
"""


def test_obo_parser(spark, tmp_path):
    from metasra_pipeline_spark.sources.obo import ancestors_closure, load_obo
    p = tmp_path / "mini.obo"
    p.write_text(OBO_SAMPLE)
    tables = load_obo(spark, str(p))
    terms = {r["term_id"]: r["name"] for r in tables["terms"].collect()}
    assert terms == {"UBERON:0001379": "vastus lateralis",
                     "UBERON:0001134": "skeletal muscle tissue",
                     "UBERON:0000383": "muscle organ"}
    syns = {(r["term_id"], r["syn_str"], r["syn_type"])
            for r in tables["synonyms"].collect()}
    assert ("UBERON:0001379", "vastus lateralis muscle", "EXACT") in syns
    closure = {(r["term_id"], r["anc_id"])
               for r in ancestors_closure(tables["edges"]).collect()}
    # transitive: 1379 -is_a-> 1134 -part_of-> 0383
    assert ("UBERON:0001379", "UBERON:0001134") in closure
    assert ("UBERON:0001379", "UBERON:0000383") in closure


def test_specialist_lragr(spark, tmp_path):
    from metasra_pipeline_spark.sources.specialist import load_lragr
    p = tmp_path / "LRAGR"
    p.write_text("E1|cells|noun|plural|cell|cell\n"
                 "E2|ran|verb|past|run|run\n")
    v = {(r["base"], r["variant"]) for r in load_lragr(spark, str(p)).collect()}
    assert ("cell", "cells") in v and ("cells", "cell") in v
    assert ("run", "ran") in v and ("ran", "run") in v


def test_sqlite_roundtrip(spark, tmp_path):
    import sqlite3

    from metasra_pipeline_spark.sources.sqlite_src import (
        kv_rows_to_documents,
        read_sample_attributes,
    )
    db = tmp_path / "sra.sqlite"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE sample_attribute "
                     "(sample_accession TEXT, tag TEXT, value TEXT)")
        conn.executemany(
            "INSERT INTO sample_attribute VALUES (?, ?, ?)",
            [("SRS1", "tissue", "liver"), ("SRS1", "sex", "male"),
             ("SRS2", "cell line", "HeLa")])
    kv = read_sample_attributes(spark, str(db))
    assert kv.count() == 3
    docs = kv_rows_to_documents(kv)
    rows = {r["doc_id"]: [s["text"] for s in r["spans"]]
            for r in docs.collect()}
    assert rows["SRS2"] == ["cell line: HeLa"]
    assert set(rows["SRS1"]) == {"tissue: liver", "sex: male"}
    offsets = {tuple(s["offset"] for s in r["spans"])
               for r in docs.collect()}
    assert all(o == tuple(range(len(o))) for o in offsets)


def test_partition_metrics(spark):
    # per-partition lineage is each IceLite manifest's
    # (tests/test_icelite.py::test_commit_read_roundtrip_and_manifest_lineage)
    from metasra_pipeline_spark.ops import match_metrics
    matches = spark.createDataFrame(
        [("d1", "t", 0, 1, "X:1", "TERM_NAME", 0),
         ("d1", "t", 0, 1, "X:2", "EXACT_SYNONYM", 1)],
        "doc_id: string, token: string, start: int, end: int, "
        "target_id: string, match_target: string, edit_dist: int")
    mm = {(r["match_target"], r["edit_dist"]): r["n"]
          for r in match_metrics(matches).collect()}
    assert mm == {("TERM_NAME", 0): 1, ("EXACT_SYNONYM", 1): 1}


def test_multimodal_plumbing(spark):
    from metasra_pipeline_spark.datagen import synth_documents
    from metasra_pipeline_spark.functions.multimodal import (
        decode_media,
        extract_media_spans,
        frame_sample,
        media_feature_stub,
    )
    docs = synth_documents(spark, 60, seed=42).select("doc_id", "spans")
    media = extract_media_spans(docs)
    assert media.count() > 0
    decoded = decode_media(media).localCheckpoint()
    rows = decoded.collect()
    assert all(r["media_kind"] == "image" for r in rows)  # datagen emits .png
    assert all(len(r["content_sha"]) == 64 for r in rows)
    # determinism: same ref → same sha
    again = {(r["doc_id"], r["media_ref"]): r["content_sha"]
             for r in decode_media(media).collect()}
    for r in rows:
        assert again[(r["doc_id"], r["media_ref"])] == r["content_sha"]
    feats = media_feature_stub(decoded).collect()
    assert all(len(r["feature"]) == 8 for r in feats)
    # no videos in datagen → frame_sample empty but schema-stable
    fs = frame_sample(decoded)
    assert fs.columns == ["doc_id", "media_ref", "frame_idx"]
    assert fs.count() == 0


def test_classifier_end_to_end(spark):
    from metasra_pipeline_spark.functions.classifier import (
        predict_sample_type,
        train_sample_type_model,
    )
    rows = []
    labels = []
    for i in range(60):
        kind = i % 3
        if kind == 0:
            rows += [(f"d{i}", "tissue", "liver"), (f"d{i}", "sex", "male")]
            labels.append((f"d{i}", "tissue"))
        elif kind == 1:
            rows += [(f"d{i}", "cell line", "HeLa"),
                     (f"d{i}", "passage", str(i))]
            labels.append((f"d{i}", "cell_line"))
        else:
            rows += [(f"d{i}", "cell type", "T cell"),
                     (f"d{i}", "marker", "CD4+")]
            labels.append((f"d{i}", "primary_cells"))
    kv = spark.createDataFrame(rows, "doc_id: string, key: string, value: string")
    lab = spark.createDataFrame(labels, "doc_id: string, sample_type: string")
    model, ll = train_sample_type_model(kv, lab)
    pred = predict_sample_type(model, ll, kv)
    joined = pred.join(lab.withColumnRenamed("sample_type", "truth"),
                       on="doc_id")
    acc = joined.where("sample_type = truth").count() / joined.count()
    assert acc >= 0.95, acc
    # C5 rules (one_vs_rest_classifier_same_features.py:185-254): masks
    # zero confidences and the survivors renormalize — never a hard class
    kv2 = spark.createDataFrame(
        [("x1", "cell line", "HeLa"), ("x1", "note", "model")],
        "doc_id: string, key: string, value: string")
    # xenograft term EFO:0003942 → every non-tissue class zeroed
    mt = spark.createDataFrame([("x1", "EFO:0003942")],
                               "doc_id: string, term_id: string")
    p2 = predict_sample_type(model, ll, kv2, mapped_terms=mt).collect()[0]
    assert p2["sample_type"] == "tissue" and p2["confidence"] == 1.0
    # passage number (EFO:0007061 in UO:0000189) > 0 → not tissue, not
    # primary_cells; this sample's kv text favors cell_line anyway
    rv = spark.createDataFrame([("x1", "EFO:0007061", 3.0, "UO:0000189")],
                               "doc_id: string, property_id: string, "
                               "value: double, unit_id: string")
    p3 = predict_sample_type(model, ll, kv2, real_values=rv).collect()[0]
    assert p3["sample_type"] not in ("tissue", "primary_cells")
    # Cellosaurus subset: an Embryonic_stem_cell CVCL term restricts the
    # allowed set to {stem_cells, in_vitro_differentiated_cells} — but
    # neither was trained here, so the zeroing must eliminate all three
    # trained classes and confidence collapses to the unnormalized path
    mt2 = spark.createDataFrame([("x1", "CVCL:0000X")],
                                "doc_id: string, term_id: string")
    subs = spark.createDataFrame([("CVCL:0000X", "Cancer_cell_line")],
                                 "cvcl_id: string, subset: string")
    p4 = predict_sample_type(model, ll, kv2, mapped_terms=mt2,
                             cvcl_subsets=subs).collect()[0]
    assert p4["sample_type"] == "cell_line" and p4["confidence"] == 1.0
    # stem-cell term CL:0000034 with no cell-line type found → zeroes
    # cell_line/tissue/primary_cells — ALL trained classes here, so the
    # confidence vector collapses to zero (the reference returns an
    # arbitrary key of an all-zero dict in that degenerate case)
    mt3 = spark.createDataFrame([("x1", "CL:0000034")],
                                "doc_id: string, term_id: string")
    p5 = predict_sample_type(model, ll, kv2, mapped_terms=mt3).collect()[0]
    assert p5["confidence"] == 0.0
    # ADVICE r03: a doc whose every token is length<=1 or a stop-gram
    # must still get a prediction row (zero-vector features), not be
    # silently dropped from the output / accuracy denominators
    kv3 = spark.createDataFrame(
        [("z1", "a", "1"), ("z1", "b", "2")],
        "doc_id: string, key: string, value: string")
    p6 = predict_sample_type(model, ll, kv3).collect()
    assert len(p6) == 1 and p6[0]["doc_id"] == "z1"


def test_specialist_full_tables(spark, tmp_path):
    """LEXICON + LRAGR/LRSPL/LRNOM/LRTRM → EUI-keyed entries → variants
    (load_specialist_lex.py:25-224 re-expressed relationally)."""
    from metasra_pipeline_spark.sources.specialist import (
        load_lexicon_bases,
        specialist_entries,
        variants_from_entries,
    )
    (tmp_path / "LEXICON").write_text(
        "{base=tumor\n\tentry=E001\n\tcat=noun\n}\n"
        "{base=anneal\n\tentry=E002\n\tcat=verb\n}\n")
    (tmp_path / "LRAGR").write_text(
        "E001|tumors|noun|plural|tumor|tumor\n"
        "E001|tumor|noun|base|tumor|tumor\n")      # base row skipped
    (tmp_path / "LRSPL").write_text("E001|tumour|tumor\n")
    (tmp_path / "LRNOM").write_text("E002|annealing|X\n")
    (tmp_path / "LRTRM").write_text("E001|x|Tumorex\n")

    bases = load_lexicon_bases(spark, str(tmp_path / "LEXICON"))
    entries = specialist_entries(
        spark, bases,
        lragr_path=str(tmp_path / "LRAGR"),
        lrspl_path=str(tmp_path / "LRSPL"),
        lrnom_path=str(tmp_path / "LRNOM"),
        lrtrm_path=str(tmp_path / "LRTRM"))
    got = {(r["eui"], r["string"], r["kind"]) for r in entries.collect()}
    assert ("E001", "tumor", "base") in got
    assert ("E001", "tumors", "inflection") in got
    assert ("E001", "tumor", "inflection") not in got   # base-dup skipped
    assert ("E001", "tumour", "spelling") in got
    assert ("E002", "annealing", "nominalization") in got
    assert ("E001", "Tumorex", "trademark") in got

    var = {(r["base"], r["variant"]) for r in
           variants_from_entries(entries).collect()}
    # a query on ANY entry string reaches the others of the same EUI
    assert ("tumour", "tumors") in var and ("tumors", "tumour") in var
    assert ("Tumorex", "tumor") in var                  # trademark query
    nom = {(r["base"], r["variant"]) for r in variants_from_entries(
        entries, kinds=("nominalization",)).collect()}
    assert ("anneal", "annealing") in nom
