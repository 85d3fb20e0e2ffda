"""Cluster entry point.

    spark-submit --py-files dist/metasra_pipeline_spark.zip \\
        spark_submit_main.py --documents <path-or-table> \\
        --workdir <checkpoint dir> [--refdata <json>] [--er] \\
        [--chunks N]

Runs the mapping pipeline (and optionally entity resolution) over an
Iceberg table name or parquet path of span documents, with IceLite
snapshot checkpoints under --workdir, and writes mapped_terms / real_values /
clusters plus the metrics tables.
"""

from __future__ import annotations

import argparse
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--refdata", default=None)
    ap.add_argument("--er", action="store_true")
    ap.add_argument("--er-land", action="store_true",
                    help="incremental mode: treat --documents as a DELTA "
                         "batch and land it against the er_profiles/"
                         "er_labels snapshots a prior --er run committed "
                         "under --workdir/er (profiles append, labels "
                         "overwrite with merges applied, landing metrics "
                         "committed); skips the mapping pipeline")
    ap.add_argument("--chunks", type=int, default=1,
                    help="concurrent per-chunk pipelines (the reference's "
                         "Condor-chunk production shape); each chunk "
                         "snapshots and resumes independently")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("metasra-pipeline").getOrCreate()

    from metasra_pipeline_spark import ops
    from metasra_pipeline_spark.plans.pipeline import (
        run_chunked_pipeline,
        run_mapping_pipeline,
    )
    from metasra_pipeline_spark.refdata import load_refdata

    if "/" in args.documents or args.documents.endswith(".parquet"):
        documents = spark.read.parquet(args.documents)
    else:
        documents = spark.read.table(args.documents)

    if args.er_land:
        from metasra_pipeline_spark.er.incremental import (
            incremental_resolve_checkpointed,
        )
        res = incremental_resolve_checkpointed(
            spark, os.path.join(args.workdir, "er"), documents)
        ops.write_table(res["clusters"],
                        os.path.join(args.workdir, "clusters"))
        ops.write_table(res["merges"],
                        os.path.join(args.workdir, "cluster_merges"))
        ops.write_run_manifest(args.workdir, {
            "documents": args.documents, "er_land": True})
        return

    ref = load_refdata(spark, args.refdata)
    # durable per-stage snapshots under --workdir/stages: kill the job
    # after any stage and a re-run resumes from the last commit; with
    # --chunks > 1 each chunk snapshots under stages/chunk=<i> and a
    # failed chunk re-runs alone (reference: failed-Condor-chunk
    # re-submission, create_metasra/Snakefile:481-486)
    if args.chunks > 1:
        def snap_factory(i: int):
            return ops.IceLiteSnapshotter(
                spark, os.path.join(args.workdir, "stages", f"chunk={i}"))
        res = run_chunked_pipeline(spark, documents, ref,
                                   n_chunks=args.chunks,
                                   snap_factory=snap_factory)
    else:
        snap = ops.IceLiteSnapshotter(
            spark, os.path.join(args.workdir, "stages"))
        res = run_mapping_pipeline(spark, documents, ref, snap=snap)

    ops.write_table(res.mapped_terms,
                    os.path.join(args.workdir, "mapped_terms"))
    ops.write_table(res.real_values,
                    os.path.join(args.workdir, "real_values"))
    # per-document failure isolation side table (reference skips-and-
    # logs, condor_run_pipeline.py:87-89): poison docs land here
    ops.write_table(res.errors, os.path.join(args.workdir, "errors"))
    ops.write_table(ops.match_metrics(res.matches),
                    os.path.join(args.workdir, "metrics_matches"))
    ops.write_table(ops.partition_lineage(res.mapped_terms, "mapped_terms"),
                    os.path.join(args.workdir, "metrics_lineage"))

    if args.er:
        from metasra_pipeline_spark.er.resolution import (
            cluster_terms,
            resolve_entities_checkpointed,
        )
        # resumable ER: er_profiles / er_reps / er_scored / er_labels
        # each commit atomically; kill-and-rerun resumes after the last
        # committed stage, and er_match_metrics commits alongside
        er, _snap = resolve_entities_checkpointed(
            spark, documents, workdir=os.path.join(args.workdir, "er"))
        ops.write_table(er["hot_keys"],
                        os.path.join(args.workdir, "metrics_hot_keys"))
        ops.write_table(er["clusters"], os.path.join(args.workdir, "clusters"))
        ops.write_table(cluster_terms(er["clusters"], res.mapped_terms),
                        os.path.join(args.workdir, "cluster_terms"))

    ops.write_run_manifest(args.workdir, {
        "documents": args.documents, "er": args.er})


if __name__ == "__main__":
    main()
