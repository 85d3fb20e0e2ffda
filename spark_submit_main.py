"""Cluster entry point.

    spark-submit --py-files dist/metasra_pipeline_spark.zip \\
        spark_submit_main.py --documents <path-or-table> \\
        --workdir <checkpoint dir> [--refdata <json>] [--er | --er-land] \\
        [--chunks N]

Runs :func:`metasra_pipeline_spark.job.run_job` (``land_job`` with
--er-land) over an Iceberg table name or parquet path of span
documents, with one IceLite snapshotter over --workdir: the map stages,
the ER stages and every output table (real_values, mapped_terms,
errors, match_metrics, and with --er er_match_metrics, er_hot_keys,
clusters, cluster_terms) commit side by side there, and a re-run
resumes after the last commit.
"""

from __future__ import annotations

import argparse


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--refdata", default=None)
    ap.add_argument("--er", action="store_true")
    ap.add_argument("--er-land", action="store_true",
                    help="incremental mode: treat --documents as a DELTA "
                         "batch and land it against the er_profiles/"
                         "er_labels snapshots a prior --er run committed "
                         "under --workdir (profiles append, labels "
                         "overwrite with merges applied, landing metrics, "
                         "clusters, cluster_merges and cluster_terms "
                         "committed); skips the mapping pipeline")
    ap.add_argument("--chunks", type=int, default=1,
                    help="concurrent per-chunk pipelines (the reference's "
                         "Condor-chunk production shape); each chunk "
                         "snapshots and resumes independently")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("metasra-pipeline").getOrCreate()

    from metasra_pipeline_spark.job import land_job, run_job
    from metasra_pipeline_spark.ops import IceLiteSnapshotter
    from metasra_pipeline_spark.refdata import load_refdata

    if "/" in args.documents or args.documents.endswith(".parquet"):
        documents = spark.read.parquet(args.documents)
    else:
        documents = spark.read.table(args.documents)
    snap = IceLiteSnapshotter(spark, args.workdir)
    if args.er_land:
        land_job(spark, documents, snap)
        return
    # --chunks > 1 snapshots each chunk's stages as chunk<i>_<stage>, so
    # a failed chunk re-runs alone (reference: failed-Condor-chunk
    # re-submission, create_metasra/Snakefile:481-486)
    run_job(spark, documents, load_refdata(spark, args.refdata), snap,
            er=args.er, chunks=args.chunks)


if __name__ == "__main__":
    main()
