"""Inference / consequent stages I1–I7 and real-value extraction R1.

Inference stages are lookup-join row generators over the term set existing
at their point in the p_53 order (node existence, not reachability —
pipeline_components.py iterates ``ontology_term_nodes`` directly).  Each
returns new (doc_id, src_id, dst_id, itype) edges; final reachability is
resolved in consolidate.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..refdata import RefData, local_frame
from .stages import key_side_targets

INF_COLS = ["doc_id", "src_id", "dst_id", "itype"]


def _edges_from_lookup(terms: DataFrame, lookup: DataFrame, src_col: str,
                       dst_col: str, itype: str) -> DataFrame:
    lk = (lookup.withColumnRenamed(src_col, "__src")
          .withColumnRenamed(dst_col, "__dst"))
    return (terms.join(F.broadcast(lk), terms.term_id == lk.__src)
            .select("doc_id", F.col("term_id").alias("src_id"),
                    F.col("__dst").alias("dst_id"),
                    F.lit(itype).alias("itype")))


# I1 — LinkedTermsOfSuperterms_Stage (pipeline_components.py:1458-1477)
def linked_terms_of_superterms(terms: DataFrame, ref: RefData) -> DataFrame:
    return _edges_from_lookup(terms, ref.linked_terms, "term_id", "linked_id",
                              "Linked term of superterm")


# I2 — CellLineToImpliedDisease_Stage (pipeline_components.py:1109-1128)
def cell_line_to_implied_disease(terms: DataFrame, ref: RefData) -> DataFrame:
    return _edges_from_lookup(terms, ref.implied_disease, "term_id",
                              "implied_id", "Cell line to implied disease")


# I3 — CustomConsequentTerms_Stage (pipeline_components.py:1436-1455)
def custom_consequent_terms(terms: DataFrame, ref: RefData) -> DataFrame:
    return _edges_from_lookup(terms, ref.consequent_terms, "term_id",
                              "conseq_id", "Custom consequent term")


# I4 — ConsequentCulturedCell_Stage (pipeline_components.py:1481-1500)
def consequent_cultured_cell(terms: DataFrame) -> DataFrame:
    cvcl = terms.where(F.split("term_id", ":").getItem(0) == "CVCL")
    return (cvcl.select("doc_id", F.col("term_id").alias("src_id"))
            .crossJoin(F.broadcast(
                local_frame(cvcl.sparkSession,
                            [("CL:0000010",), ("EFO_BTO:0000214",)],
                            "dst_id: string")))
            .withColumn("itype", F.lit("Cell culture from cell line")))


# I5 — InferCellLineTerms_Stage (pipeline_components.py:1517-1537)
def infer_cell_line_terms(terms: DataFrame, ref: RefData
                          ) -> tuple[DataFrame, DataFrame]:
    """Returns (inference edges, inferred real-value rows)."""
    edges = _edges_from_lookup(terms, ref.cvcl_terms, "cvcl_id", "mapped_id",
                               "Inferred from cell line data")
    rvs = (terms.join(F.broadcast(ref.cvcl_real_vals),
                      terms.term_id == ref.cvcl_real_vals.cvcl_id)
           .select("doc_id", F.col("term_id").alias("src_id"),
                   "property_id", "value", "unit_id"))
    return edges, rvs


# I6 — ImpliedDevelopmentalStageFromAge_Stage (pipeline_components.py:1503-1514)
def implied_developmental_stage(real_values: DataFrame) -> DataFrame:
    adult = real_values.where(
        (F.col("property_id") == "EFO:0000246")
        & (F.col("unit_id") == "UO:0000036")
        & (F.col("value") > 18))
    spark = real_values.sparkSession
    return (adult.select("doc_id").distinct()
            .crossJoin(F.broadcast(local_frame(
                spark, [("EFO:0001272",), ("UBERON:0007023",)],
                "dst_id: string")))
            # src carries the property id so provenance can walk back to
            # the age kv pair (the reference's real-value node)
            .select("doc_id", F.lit("RV:EFO:0000246").alias("src_id"),
                    "dst_id",
                    F.lit("Infer developmental stage").alias("itype")))


# I7 — TermArtifactCombinations_Stage (pipeline_components.py:951-1009)
def term_artifact_combinations(tok: DataFrame, terms: DataFrame,
                               ref: RefData) -> DataFrame:
    """Doc-level rule: all required terms present (node existence) and at
    least one artifact from each required artifact set ⇒ consequent term,
    with an edge from every required term node."""
    req = ref.combo_required_terms
    # required-term coverage per (doc, combo)
    have_terms = (terms.join(F.broadcast(req),
                             terms.term_id == req.required_term)
                  .groupBy("doc_id", "combo_id", "n_required_artifacts",
                           "consequent_term")
                  .agg(F.countDistinct("required_term").alias("n_have")))
    n_req = (req.groupBy("combo_id")
             .agg(F.countDistinct("required_term").alias("n_req")))
    terms_ok = (have_terms.join(F.broadcast(n_req), on="combo_id")
                .where(F.col("n_have") == F.col("n_req"))
                .select("doc_id", "combo_id", "n_required_artifacts",
                        "consequent_term"))
    # artifact-set coverage per (doc, combo)
    art_hits = (tok.join(F.broadcast(ref.combo_artifacts),
                         tok.token == ref.combo_artifacts.artifact)
                .groupBy("doc_id", "combo_id")
                .agg(F.countDistinct("artifact_set_id").alias("n_sets")))
    fired = (terms_ok.join(art_hits, on=["doc_id", "combo_id"])
             .where(F.col("n_sets") >= F.col("n_required_artifacts"))
             .select("doc_id", "combo_id", "consequent_term"))
    # one edge per required term node (reference adds edges from each)
    return (fired.join(F.broadcast(req.select("combo_id", "required_term")),
                       on="combo_id")
            .join(terms.withColumnRenamed("term_id", "required_term")
                  .withColumn("_present", F.lit(True)),
                  on=["doc_id", "required_term"])
            .select("doc_id", F.col("required_term").alias("src_id"),
                    F.col("consequent_term").alias("dst_id"),
                    F.lit("Found co-occuring artifacts").alias("itype"))
            .distinct())


# R1 — ExtractRealValue_Stage (pipeline_components.py:1199-1338)
#: Curated property-id preference applied before the one-property
#: guard: the reference's labeled set records every time-typed
#: real-value against EFO:0000724 "timepoint" and never its superterm
#: EFO:0000721 "time" (0/75 labeled tuples use 721 —
#: analysis_data/term_mapping/test_ontology_mapping_data.json), which
#: the reference reaches through the full public EFO synonym set.
#: Folding 721 into 724 here also keeps a key matching both ids from
#: tripping the exactly-one-property guard (:1307).
PROPERTY_PREFERENCE = {"EFO:0000721": "EFO:0000724"}


def extract_real_values(kv: DataFrame, tok: DataFrame, matches: DataFrame,
                        inf_edges: DataFrame, ref: RefData) -> DataFrame:
    """Per kv pair: exactly one property term reachable from the key +
    numeric tokens under the value + 0/1 unit (UO:*) term under the value
    → (property, float(value), unit | default | 'missing' | null) rows.

    Key-side property detection includes terms added by inference edges
    generated before this stage (downstream_nodes walks them).
    """
    key_targets = key_side_targets(kv, matches)
    # extend key-side targets by the inference closure existing at R1
    # time — FRONTIER form: hop only the newest layer instead of
    # re-joining the whole accumulated set each iteration (the old
    # accumulate-and-distinct shape re-derived hop 1 inside hop 2 and
    # paid a full distinct per hop).  The union below may carry
    # duplicate rows (multiple paths to the same target); the ``props``
    # projection right after dedups, so the row SET downstream is
    # unchanged.
    edges = inf_edges.select("doc_id", F.col("src_id").alias("target_id"),
                             "dst_id")
    frontier = key_targets
    layers = [key_targets]
    for _ in range(2):
        frontier = (frontier.join(edges, on=["doc_id", "target_id"])
                    .select("doc_id", "key_start", "key_end", "val_start",
                            "val_end", F.col("dst_id").alias("target_id")))
        layers.append(frontier)
    ext = layers[0]
    for f in layers[1:]:
        ext = ext.unionByName(f)

    pref = F.create_map(
        *[F.lit(x) for kv_ in PROPERTY_PREFERENCE.items() for x in kv_])
    props = (ext.join(F.broadcast(ref.real_val_props),
                      ext.target_id == ref.real_val_props.property_id)
             .withColumn("property_id",
                         F.coalesce(pref[F.col("property_id")],
                                    F.col("property_id")))
             .select("doc_id", "key_start", "val_start", "val_end",
                     "property_id").distinct())
    # "exactly one property term" guard (:1307) — groupBy, not window
    # (countDistinct is not a window function)
    one_prop = (props.groupBy("doc_id", "key_start", "val_start", "val_end")
                .agg(F.countDistinct("property_id").alias("n_props"),
                     F.min("property_id").alias("property_id"))
                .where(F.col("n_props") == 1).drop("n_props"))

    val_toks = (one_prop.join(tok, on="doc_id")
                .where((F.col("start") >= F.col("val_start"))
                       & (F.col("end") <= F.col("val_end"))))
    numeric = (val_toks
               .where(F.col("token").try_cast("double").isNotNull())
               .select("doc_id", "key_start", "property_id",
                       F.col("token").try_cast("double").alias("value"))
               .distinct())

    val_units = (one_prop.join(matches, on="doc_id")
                 .where((F.col("start") >= F.col("val_start"))
                        & (F.col("end") <= F.col("val_end"))
                        & (F.split("target_id", ":").getItem(0) == "UO"))
                 .select("doc_id", "key_start",
                         F.col("target_id").alias("unit_term"))
                 .distinct())
    unit_agg = (val_units.groupBy("doc_id", "key_start")
                .agg(F.countDistinct("unit_term").alias("n_units"),
                     F.min("unit_term").alias("the_unit")))

    out = (numeric.join(unit_agg, on=["doc_id", "key_start"], how="left")
           .join(F.broadcast(ref.default_units), on="property_id", how="left")
           .join(kv.select("doc_id", "key_start",
                           F.col("key").alias("orig_key"),
                           F.col("value").alias("orig_val")).distinct(),
                 on=["doc_id", "key_start"], how="left")
           .select(
               "doc_id", "property_id", "value",
               F.when(F.col("n_units") == 1, F.col("the_unit"))
                .when(F.col("n_units").isNull() | (F.col("n_units") == 0),
                      F.coalesce(F.col("unit_id"), F.lit("missing")))
                .otherwise(F.lit(None).cast("string")).alias("unit_id"),
               "orig_key", "orig_val")
           .distinct())
    return out
