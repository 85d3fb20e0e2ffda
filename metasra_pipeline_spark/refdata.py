"""Reference-data layer: the ontology term lexicon + curated side tables.

The reference engine loads its lookup structures eagerly per stage
(marisa trie ``pipeline_components.py:771-791``, BK-tree pickle
``pipeline_components.py:852-859``, JSON overlays).  Here the whole layer
is a :class:`RefData` bundle of DataFrames built on the driver by
:func:`local_frame`: up to :data:`LOCAL_MAX_BYTES` a table goes to the JVM
once, as Arrow batches, and is a ``LocalRelation`` that Catalyst inlines
and broadcasts without a Python worker; a larger one (a full-size
lexicon) stays a pickled ``createDataFrame`` frame of unknown size,
planned like any large scan.

Source of truth is a JSON fixture (``resources/fixture_refdata.json``)
whose *formats* mirror the reference's metadata files; a full-size lexicon
can be produced by :mod:`metasra_pipeline_spark.sources.obo` from public
OBO ontology releases.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

_HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_REFDATA = os.path.join(_HERE, "resources", "fixture_refdata.json")

#: Arrow bytes up to which :func:`local_frame` builds a ``LocalRelation``.
#: Its exact statistics let Catalyst broadcast a side that an explode then
#: multiplies (``fuzzy_match``: up to ~400 deletion keys per lexicon
#: string); 128 KiB x 400 stays under the session's 64 MB broadcast
#: threshold, and the fixture lexicon is 5 KiB.  Spark's own Arrow path
#: for larger tables (a JVM-side RDD of Arrow batches) was measured to
#: grow the driver from 4 GB to an OOM kill at 15 GB on a 300k-string
#: lexicon (``tests/test_lexicon_scale.py`` after
#: ``tests/test_lexicon_build.py``), so larger tables keep the pickled path.
LOCAL_MAX_BYTES = 128 * 1024


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``'s DDL
    column order); up to :data:`LOCAL_MAX_BYTES` no job reads it through a
    Python worker.

    ``createDataFrame(list)`` plans a ``LogicalRDD`` over a ``PythonRDD``,
    so every job that scans it pickles the rows again in Python tasks.
    An Arrow table goes to the JVM once and plans as a ``LocalRelation``.
    Built from pyarrow, not pandas: an empty pandas frame falls back to
    the pickled path.
    """
    struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    if table.nbytes > LOCAL_MAX_BYTES:
        return spark.createDataFrame(rows, schema=struct)
    return spark.createDataFrame(table, schema=struct)


@dataclass
class RefData:
    """The reference side tables as JVM-local DataFrames (see
    :func:`local_frame`), plus the raw dict and the short key lists."""

    raw: dict[str, Any]
    lexicon: DataFrame          # (string, term_id, match_target, ont, exact_ok, fuzzy_ok)
    ancestors: DataFrame        # (term_id, anc_id, rel)
    syn_sets: DataFrame         # (set_id, member)
    acronyms: DataFrame         # (acronym, expansion)
    variants: DataFrame         # (base, variant, kind)
    two_char: DataFrame         # (token, term_id)
    noun_phrases: DataFrame     # (phrase,)
    filter_keys: DataFrame      # (key,)
    filter_values: DataFrame    # (value,)
    linked_terms: DataFrame     # (term_id, linked_id)
    implied_disease: DataFrame  # (term_id, implied_id)
    consequent_terms: DataFrame  # (term_id, conseq_id)
    cvcl_terms: DataFrame       # (cvcl_id, mapped_id)
    cvcl_real_vals: DataFrame   # (cvcl_id, property_id, value, unit_id)
    prop_syn_sets: DataFrame    # (property_id, set_id, member)
    combo_required_terms: DataFrame    # (combo_id, required_term, n_required_artifacts, consequent_term)
    combo_artifacts: DataFrame  # (combo_id, artifact_set_id, artifact)
    real_val_props: DataFrame   # (property_id,)
    default_units: DataFrame    # (property_id, unit_id)
    mappable_prefixes: list[str] = field(default_factory=list)
    nonmappable_terms: list[str] = field(default_factory=list)
    cell_line_keys: list[str] = field(default_factory=list)
    time_keys: list[str] = field(default_factory=list)
    cvcl_subsets: DataFrame | None = None   # (cvcl_id, subset)
    cvcl_syn_sets: DataFrame | None = None  # (set_id, member) — T7
    atcc_filter_keys: DataFrame | None = None    # (key,)   — F2
    atcc_filter_values: DataFrame | None = None  # (value,) — F2


def _lexicon_rows(raw: dict[str, Any]) -> list[tuple]:
    """One row per (string, term) pair.

    Reference trie semantics (pipeline_components.py:817-843): when the
    query equals the term *name* a TERM_NAME edge is emitted (even if the
    string is also a synonym); otherwise one edge per equal synonym with
    target ``{syn_type}_SYNONYM``.
    """
    exact_onts = set(raw["exact_match_onts"])
    fuzzy_onts = set(raw["fuzzy_match_onts"])
    rows = []
    for t in raw["terms"]:
        ont = t["ont"]
        pfx = t["id"].split(":")[0]
        e_ok = ont in exact_onts or pfx in exact_onts
        f_ok = ont in fuzzy_onts or pfx in fuzzy_onts
        rows.append((t["name"], t["id"], "TERM_NAME", ont, e_ok, f_ok))
        for syn, styp in t["syns"]:
            if syn == t["name"]:
                continue
            rows.append((syn, t["id"], f"{styp}_SYNONYM", ont, e_ok, f_ok))
    return rows


#: every key a raw refdata dict must carry (empty defaults for tests)
EMPTY_RAW: dict[str, Any] = {
    "terms": [], "exact_match_onts": [], "fuzzy_match_onts": [],
    "ancestors": [], "syn_sets": [], "acronyms": {},
    "inflection_variants": {}, "spelling_variants": {}, "two_char": {},
    "noun_phrases": [], "filter_keys": [], "filter_values": [],
    "linked_terms": {}, "implied_disease": {}, "consequent_terms": {},
    "cvcl_mappings": {}, "prop_syn_sets": {}, "term_artifact_combos": [],
    "real_value_properties": {"property_term_ids": [], "default_units": {}},
    "mappable_prefixes": [], "nonmappable_terms": [],
    "cell_line_keys": [], "time_keys": [], "cvcl_subsets": {},
    "cvcl_syn_sets": [], "cell_line_filter_keys": [],
    "cell_line_filter_values": [],
}


def load_refdata(spark: SparkSession, path: str | None = None) -> RefData:
    with open(path or DEFAULT_REFDATA) as f:
        raw = json.load(f)
    return refdata_from_raw(spark, raw)


def refdata_from_raw(spark: SparkSession, raw: dict[str, Any]) -> RefData:
    """Build the RefData bundle from a raw dict (the JSON
    fixture's in-memory form; tests construct minimal ones from
    ``EMPTY_RAW``)."""

    def df(data: list[tuple], schema: str) -> DataFrame:
        return local_frame(spark, data, schema)

    lexicon = df(_lexicon_rows(raw),
                 "string: string, term_id: string, match_target: string, "
                 "ont: string, exact_ok: boolean, fuzzy_ok: boolean")
    ancestors = df([tuple(r) for r in raw["ancestors"]],
                   "term_id: string, anc_id: string, rel: string")
    syn_sets = df(
        [(i, m) for i, s in enumerate(raw["syn_sets"]) for m in s],
        "set_id: long, member: string")
    acronyms = df(
        [(a, e) for a, es in raw["acronyms"].items() for e in es],
        "acronym: string, expansion: string")
    variants = df(
        [(b, v, "inflection") for b, vs in raw["inflection_variants"].items() for v in vs]
        + [(b, v, "spelling") for b, vs in raw["spelling_variants"].items() for v in vs],
        "base: string, variant: string, kind: string")
    two_char = df(
        [(tok, tid) for tok, tids in raw["two_char"].items() for tid in tids],
        "token: string, term_id: string")
    noun_phrases = df([(p,) for p in raw["noun_phrases"]], "phrase: string")
    filter_keys = df([(k,) for k in raw["filter_keys"]], "key: string")
    filter_values = df([(v,) for v in raw["filter_values"]], "value: string")
    linked_terms = df(
        [(t, l) for t, ls in raw["linked_terms"].items() for l in ls],
        "term_id: string, linked_id: string")
    implied_disease = df(
        [(t, l) for t, ls in raw["implied_disease"].items() for l in ls],
        "term_id: string, implied_id: string")
    consequent_terms = df(
        [(t, c) for t, cs in raw["consequent_terms"].items() for c in cs],
        "term_id: string, conseq_id: string")
    cvcl_terms = df(
        [(cv, t) for cv, m in raw["cvcl_mappings"].items() for t in m["mapped_terms"]],
        "cvcl_id: string, mapped_id: string")
    cvcl_real_vals = df(
        [(cv, r[0], float(r[1]), r[2]) for cv, m in raw["cvcl_mappings"].items()
         for r in m["real_value_properties"]],
        "cvcl_id: string, property_id: string, value: double, unit_id: string")
    prop_syn_sets = df(
        [(pid, i, m) for pid, sets in raw["prop_syn_sets"].items()
         for i, s in enumerate(sets) for m in s],
        "property_id: string, set_id: long, member: string")
    combo_required_terms = df(
        [(i, rt, len(c["required_artifacts"]), c["consequent_term"])
         for i, c in enumerate(raw["term_artifact_combos"])
         for rt in c["required_terms"]],
        "combo_id: long, required_term: string, n_required_artifacts: int, "
        "consequent_term: string")
    combo_artifacts = df(
        [(i, j, a) for i, c in enumerate(raw["term_artifact_combos"])
         for j, aset in enumerate(c["required_artifacts"]) for a in aset],
        "combo_id: long, artifact_set_id: long, artifact: string")
    real_val_props = df(
        [(p,) for p in raw["real_value_properties"]["property_term_ids"]],
        "property_id: string")
    default_units = df(
        [(p, u) for p, u in raw["real_value_properties"]["default_units"].items()],
        "property_id: string, unit_id: string")

    return RefData(
        raw=raw, lexicon=lexicon, ancestors=ancestors, syn_sets=syn_sets,
        acronyms=acronyms, variants=variants, two_char=two_char,
        noun_phrases=noun_phrases, filter_keys=filter_keys,
        filter_values=filter_values, linked_terms=linked_terms,
        implied_disease=implied_disease, consequent_terms=consequent_terms,
        cvcl_terms=cvcl_terms, cvcl_real_vals=cvcl_real_vals,
        prop_syn_sets=prop_syn_sets,
        combo_required_terms=combo_required_terms,
        combo_artifacts=combo_artifacts,
        real_val_props=real_val_props, default_units=default_units,
        mappable_prefixes=list(raw["mappable_prefixes"]),
        nonmappable_terms=list(raw.get("nonmappable_terms", [])),
        cell_line_keys=list(raw["cell_line_keys"]),
        time_keys=list(raw["time_keys"]),
        cvcl_subsets=df(
            [(cv, s) for cv, ss in raw.get("cvcl_subsets", {}).items()
             for s in ss],
            "cvcl_id: string, subset: string"),
        cvcl_syn_sets=df(
            [(i, m) for i, s in enumerate(raw.get("cvcl_syn_sets", []))
             for m in s],
            "set_id: long, member: string"),
        atcc_filter_keys=df(
            [(k,) for k in raw.get("cell_line_filter_keys", [])],
            "key: string"),
        atcc_filter_values=df(
            [(v,) for v in raw.get("cell_line_filter_values", [])],
            "value: string"),
    )
