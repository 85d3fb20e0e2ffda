"""SQLite / JDBC source-sink (SURVEY.md §2.1 S2/S3/S7).

The reference extracts ``sample_attribute`` rows from the SRAdb SQLite
(create_metasra/extract_raw_metadata_json.py:19-33) and writes its final
three-table DB (build_metasra_database_files.py:138-181).  On a real
cluster this is ``spark.read.jdbc`` against the warehouse; the sandbox
path uses stdlib sqlite3 → Arrow → DataFrame for small side databases.
"""

from __future__ import annotations

import sqlite3

from pyspark.sql import DataFrame, SparkSession


def read_sqlite(spark: SparkSession, path: str, query: str) -> DataFrame:
    import pandas as pd
    with sqlite3.connect(path) as conn:
        pdf = pd.read_sql_query(query, conn)
    return spark.createDataFrame(pdf)


def read_sample_attributes(spark: SparkSession, path: str) -> DataFrame:
    """→ (doc_id, key, value): the reference's kv extraction query."""
    df = read_sqlite(
        spark, path,
        "SELECT sample_accession, tag, value FROM sample_attribute")
    return df.toDF("doc_id", "key", "value")


def write_sqlite(df: DataFrame, path: str, table: str,
                 if_exists: str = "replace") -> None:
    """Final-DB sink (small outputs only — driver-side collect; the
    production sink is Iceberg through ``ops.IcebergSnapshotter``)."""
    import pandas as pd  # noqa: F401
    pdf = df.toPandas()
    with sqlite3.connect(path) as conn:
        pdf.to_sql(table, conn, if_exists=if_exists, index=False)


def kv_rows_to_documents(kv: DataFrame) -> DataFrame:
    """(doc_id, key, value) → the canonical spans `documents` shape:
    one text span per kv pair in (key, value) order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    w = Window.partitionBy("doc_id").orderBy("key", "value")
    spans = (kv.withColumn("ord", F.row_number().over(w) - 1)
             .select("doc_id", F.struct(
                 F.lit("text").alias("kind"),
                 F.concat_ws(": ", "key", "value").alias("text"),
                 F.lit("").alias("media_ref"),
                 F.col("ord").cast("int").alias("offset")).alias("span"),
                 "ord"))
    return (spans.groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(F.struct("ord", "span")))
                 .alias("os"))
            .select("doc_id",
                    F.expr("transform(os, x -> x.span)").alias("spans")))
