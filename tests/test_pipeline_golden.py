"""End-to-end golden tests — expected outputs hand-derived by tracing the
reference's p_53 semantics (run_pipeline.py:180-211) over the fixture
lexicon.  Docs replay the reference's own sample shapes
(example.json, test/test_input.json, pipeline_components.py:1617-1620)."""

import pytest

from metasra_pipeline_spark.datagen import docs_from_kv
from metasra_pipeline_spark.plans.pipeline import run_mapping_pipeline


@pytest.fixture(scope="module")
def result(spark, refdata):
    docs = docs_from_kv(spark, [
        # SRS779971-style (example.json:1-16)
        ("g1", [("ID", "P352_141"), ("age", "48"), ("bmi", "24"),
                ("gender", "female"),
                ("source_name", "vastus lateralis muscle_female"),
                ("tissue", "vastus lateralis muscle")]),
        # SRS1371609-style
        ("g2", [("age", "7 Year old"), ("batch", "1L"),
                ("condition", "Disomic"), ("gender", "female"),
                ("source_name", "Lymphoblastoid")]),
        # reference smoke main (pipeline_components.py:1617-1620)
        ("g3", [("cell type", "T cell"), ("marker", "CD4+")]),
        # cell-line sample with passage
        ("g4", [("cell line", "MDA-MB-231"), ("passage", "3")]),
        # cell-line term under a non-cell-line key must be blocked (P4)
        ("g5", [("treatment", "HeLa conditioned medium")]),
    ])
    res = run_mapping_pipeline(spark, docs, refdata)
    # collect once — every .collect() would re-run the consolidation tail
    mapped = res.mapped_terms.collect()
    rvs = res.real_values.collect()
    return {"mapped": mapped, "rv": rvs}


def _mapped(result, doc):
    return {(r["term_id"], r["consequent"])
            for r in result["mapped"] if r["doc_id"] == doc}


def _rv(result, doc):
    return {(r["property_id"], r["value"], r["unit_id"])
            for r in result["rv"] if r["doc_id"] == doc}


def test_g1_vastus_lateralis(result):
    assert _mapped(result, "g1") == {
        ("EFO_PATO:0000383", False),     # gender: female
        ("UBERON:0003100", False),       # female (EXACT syn of female organism)
        ("UBERON:0001379", False),       # vastus lateralis (+ muscle synonym)
        ("EFO_UBERON:0001379", False),
    }
    assert _rv(result, "g1") == {
        ("EFO:0000246", 48.0, "missing"),
        ("EFO:0004340", 24.0, "missing"),
    }


def test_g2_lymphoblastoid_with_unit(result):
    assert _mapped(result, "g2") == {
        ("EFO:0005292", False),          # lymphoblastoid (syn-set → name)
        ("EFO_PATO:0000383", False),
        ("UBERON:0003100", False),
    }
    assert _rv(result, "g2") == {("EFO:0000246", 7.0, "UO:0000036")}


def test_g3_term_artifact_combo(result):
    # T cell + CD4+ ⇒ CL:0000624; 'Found co-occuring artifacts' is NOT a
    # consequent-marking edge type (pipeline_components.py:176-187)
    assert _mapped(result, "g3") == {
        ("CL:0000084", False),
        ("CL:0000624", False),
        ("EFO:0000324", False),          # key 'cell type'
    }
    assert _rv(result, "g3") == set()


def test_g4_cell_line_inference_cascade(result):
    assert _mapped(result, "g4") == {
        ("CVCL:0062", False),            # MDA-MB-231
        ("EFO:0000322", False),          # key 'cell line' (also linked term)
        ("DOID:3459", False),            # implied disease — explicit type
        ("EFO_BTO:0000214", True),       # custom consequent / cultured cell
        ("CL:0000010", True),
        ("UBERON:0000310", True),        # cvcl_mappings
        ("EFO_PATO:0000383", True),
        ("UBERON:0003100", True),
        ("EFO:0001272", True),           # adult from inferred age 51 years
        ("UBERON:0007023", True),
    }
    assert _rv(result, "g4") == {
        ("EFO:0007061", 3.0, "UO:0000189"),   # passage default unit
        ("EFO:0000246", 51.0, "UO:0000036"),  # from cvcl_mappings
    }


def test_g5_cell_line_blocked_under_non_cell_line_key(result):
    # 'HeLa' under key 'treatment' (no cell-line key term) → P4 deletes the
    # CVCL node and with it the whole inference cascade
    assert _mapped(result, "g5") == set()


def _prov(result, doc, term):
    rows = [r for r in result["mapped"]
            if r["doc_id"] == doc and r["term_id"] == term]
    assert len(rows) == 1
    return rows[0]


def test_g1_provenance(result):
    # A1 lineage: direct match carries the originating kv pair + path
    p = _prov(result, "g1", "UBERON:0001379")
    assert p["orig_key"] in ("tissue", "source_name")
    assert "vastus lateralis" in p["orig_val"]
    assert p["mapping_path"][0].startswith("kv[")
    assert any(s.startswith("match:") for s in p["mapping_path"])
    # real values carry their kv too
    rv = [r for r in result["rv"]
          if r["doc_id"] == "g1" and r["property_id"] == "EFO:0000246"]
    assert rv[0]["orig_key"] == "age" and rv[0]["orig_val"] == "48"


def test_g4_provenance_through_inference(result):
    # consequent terms walk back through the inference chain to the
    # cell-line kv (min-depth path)
    p = _prov(result, "g4", "CL:0000010")
    assert p["orig_key"] == "cell line"
    assert p["orig_val"] == "MDA-MB-231"
    assert any(s.startswith("inf:") for s in p["mapping_path"])
    # direct terms stay depth-0: no inference hop in the path
    d = _prov(result, "g4", "CVCL:0062")
    assert not any(s.startswith("inf:") for s in d["mapping_path"])
