"""Final public output surface (A7/A8 + website read path).

The reference's end-of-pipeline deliverable is a 3-table database plus a
per-sample JSON document
(create_metasra/build_metasra_database_files.py:48-181), assembled from
per-Condor-job mapping files (create_metasra/gather_mappings.py:25-41)
and queried by term on the website (website/query_metasra.py:3-56).
Re-expressed Spark-first: gather = union over job outputs, the tables
are projections of mapped_terms / real_values / sample-type predictions,
JSON is one to_json per sample, and the website query is a filtered
join — all committable as ``Snapshotter`` cuts (IceLite/Iceberg, as
``job.run_job`` commits its outputs) or through the SQLite sink for the
reference's exact artifact shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: raw classifier label → display sample type
#: (build_metasra_database_files.py:77-83)
RAW_PRED_TO_SAMPLE_TYPE = {
    "cell_line": "cell line",
    "stem_cells": "stem cells",
    "in_vitro_differentiated_cells": "in vitro differentiated cells",
    "primary_cells": "primary cells",
    "induced_pluripotent_stem_cells": "induced pluripotent stem cell line",
    "tissue": "tissue",
}


def gather_mappings(parts: list[tuple[DataFrame, DataFrame]]
                    ) -> tuple[DataFrame, DataFrame]:
    """A7 (gather_mappings.py:25-41): merge per-job (mapped_terms,
    real_values) outputs into one logical table each.  The reference
    merges per-sample dicts (identical jobs ⇒ identical rows), so a
    union + distinct is the set-equivalent."""
    mapped = parts[0][0]
    rv = parts[0][1]
    for m, r in parts[1:]:
        mapped = mapped.unionByName(m, allowMissingColumns=True)
        rv = rv.unionByName(r, allowMissingColumns=True)
    return mapped.distinct(), rv.distinct()


def build_metasra_tables(mapped_terms: DataFrame, real_values: DataFrame,
                         sample_types: DataFrame | None = None
                         ) -> dict[str, DataFrame]:
    """A8 (build_metasra_database_files.py:138-181): the three public
    tables, keyed by sample_accession (= doc_id)."""
    spark = mapped_terms.sparkSession
    acc = F.col("doc_id").alias("sample_accession")
    out = {
        "mapped_ontology_terms":
            mapped_terms.select(acc, "term_id").distinct(),
        "real_value_properties":
            real_values.select(
                acc, F.col("property_id").alias("property_term_id"),
                "value", "unit_id").distinct(),
    }
    if sample_types is not None:
        name_map = F.create_map(*[F.lit(x) for kv in
                                  RAW_PRED_TO_SAMPLE_TYPE.items()
                                  for x in kv])
        out["sample_type"] = sample_types.select(
            acc,
            F.coalesce(name_map[F.col("sample_type")],
                       F.col("sample_type")).alias("sample_type"),
            "confidence")
    else:
        out["sample_type"] = spark.createDataFrame(
            [], "sample_accession: string, sample_type: string, "
                "confidence: double")
    return out


def metasra_json(mapped_terms: DataFrame, real_values: DataFrame,
                 sample_types: DataFrame | None = None) -> DataFrame:
    """The per-sample JSON document (build_metasra_json,
    build_metasra_database_files.py:76-112) → (sample_accession, json)."""
    t = build_metasra_tables(mapped_terms, real_values, sample_types)
    terms = (t["mapped_ontology_terms"]
             .groupBy("sample_accession")
             .agg(F.array_sort(F.collect_set("term_id")).alias("terms")))
    rvs = (t["real_value_properties"]
           .groupBy("sample_accession")
           .agg(F.collect_list(F.struct("property_term_id", "value",
                                        "unit_id")).alias("rvs")))
    j = (terms.join(rvs, on="sample_accession", how="left")
         .join(t["sample_type"], on="sample_accession", how="left"))
    doc = F.struct(
        F.col("terms").alias("mapped ontology terms"),
        F.coalesce("rvs", F.array()).alias("real-value properties"),
        F.col("sample_type").alias("sample type"),
        F.col("confidence").alias("sample-type confidence"))
    return j.select("sample_accession", F.to_json(doc).alias("json"))


def write_metasra_sqlite(tables: dict[str, DataFrame], path: str) -> None:
    """The reference's exact SQLite artifact (3 tables; small-output
    driver-side sink — production commits Iceberg snapshots through
    ``ops.IcebergSnapshotter``)."""
    from .sources.sqlite_src import write_sqlite
    for name, df in tables.items():
        write_sqlite(df, path, name)


def query_metasra_for_term(tables: dict[str, DataFrame], term_id: str,
                           sample_type: str | None = None,
                           sample_meta: DataFrame | None = None) -> DataFrame:
    """Website read path (website/query_metasra.py:3-56): samples mapped
    to a term, joined to sample metadata and the predicted sample type,
    optionally filtered by type.  Term/type arrive as literal filters so
    partition pruning on term_id applies at scale."""
    hits = (tables["mapped_ontology_terms"]
            .where(F.col("term_id") == term_id)
            .join(tables["sample_type"], on="sample_accession", how="left"))
    if sample_type is not None:
        hits = hits.where(F.col("sample_type") == sample_type)
    if sample_meta is not None:
        hits = hits.join(sample_meta, on="sample_accession", how="left")
    return hits
