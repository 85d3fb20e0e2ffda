"""Ops layer: storage shim, snapshot checkpoint / resume, per-partition
lineage + metrics (BASELINE.json north_rule requirements).

The production design writes every stage boundary as an Iceberg snapshot
(resume = read the last committed snapshot).  The sandbox has no Iceberg
runtime jar, so the one durable snapshotter is
:class:`IceLiteSnapshotter`: an Iceberg-shaped commit log
(:mod:`metasra_pipeline_spark.icelite`) with atomic snapshot commits and
per-data-file row counts.  :class:`IcebergSnapshotter` honors the same
``Snapshotter.cut`` contract against a real catalog, so swapping one for
the other is a config change, not a code change.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark.sql("SELECT 1").collect()
        return bool(spark.conf.get("spark.sql.catalog.local", None))
    except Exception:
        return False


def write_table(df: DataFrame, target: str, mode: str = "overwrite") -> None:
    """Iceberg table name (``catalog.db.tbl``) or parquet path."""
    spark = df.sparkSession
    if "/" not in target and iceberg_available(spark):
        writer = df.writeTo(target)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
    else:
        df.write.mode(mode).parquet(target)


# ------------------------------------------------------- snapshotters
class Snapshotter:
    """Stage-boundary materialization policy for the mapping pipeline.

    Every named ``cut`` is both a lineage cut (the plan downstream reads
    a materialized frame, not a re-derived subtree) and the resume
    granularity: ``IceLiteSnapshotter`` commits each cut as a snapshot
    and a re-run *reads the committed snapshot instead of recomputing*
    (the reference's resume story is manual re-runs of failed Condor
    chunks, create_metasra/Snakefile:481-486)."""

    def cut(self, df: DataFrame, name: str) -> DataFrame:
        raise NotImplementedError


class NoSnapshotter(Snapshotter):
    """No materialization — fully lazy plan (unit tests, tiny inputs)."""

    def cut(self, df: DataFrame, name: str) -> DataFrame:
        return df


class LocalSnapshotter(Snapshotter):
    """In-memory lineage cuts.  eager=True beats lazy empirically here
    (lazy caused ~2× recompute patterns; see round-1 measurements).
    Every cut is load-bearing (OPTIMIZATION_r06 retested each one);
    per-cut wall / jobs / rows come from ``perfbench --trace 1``."""

    def cut(self, df: DataFrame, name: str) -> DataFrame:
        return df.localCheckpoint(eager=True)


class IceLiteSnapshotter(Snapshotter):
    """Durable per-stage snapshots through the Iceberg-shaped commit
    log (:mod:`metasra_pipeline_spark.icelite`): each cut is an ATOMIC
    snapshot commit (versioned metadata + manifest + pointer swap), so
    a kill at any point leaves every stage table either fully committed
    or absent — there is no torn state for resume to misread.  Each
    stage's manifest records per-data-file row counts —
    the per-partition lineage of the north rule — and ``cut`` accepts
    no recompute on resume: a committed stage is read back from its
    snapshot."""

    def __init__(self, spark: SparkSession, workdir: str):
        from .icelite import IceLiteTable
        self._Table = IceLiteTable
        self.spark = spark
        self.workdir = workdir
        self.stages_resumed: list[str] = []
        self.stages_computed: list[str] = []

    def cut(self, df: DataFrame, name: str) -> DataFrame:
        path = os.path.join(self.workdir, name)
        if self._Table.exists(path):
            t = self._Table.load(path)
            if t.snapshot_for_stage(name) is not None:
                self.stages_resumed.append(name)
                return t.read(self.spark)
        else:
            t = self._Table.create(path)
        t.commit(df, operation="overwrite", stage=name)
        self.stages_computed.append(name)
        return t.read(self.spark)


class IcebergSnapshotter(Snapshotter):
    """The SAME stage-boundary contract against a real Apache Iceberg
    catalog — the production target the IceLite commit log stands in
    for in this jar-less sandbox.

    Each cut is one atomic ``writeTo(ident).createOrReplace()`` (an
    Iceberg snapshot commit: metadata + manifest + catalog pointer
    swap — the exact properties IceLite re-implements); resume reads
    the committed table instead of recomputing.  Table identifiers are
    ``<catalog>.<namespace>.<stage>``, so swapping
    :class:`IceLiteSnapshotter` → :class:`IcebergSnapshotter` is a
    CONFIG-ONLY change for any pipeline written against the
    :class:`Snapshotter` seam (resolve_entities_checkpointed,
    run_icelite_pipeline).  Conformance is pinned by
    tests/test_snapshotter_contract.py, which runs the same
    compute/resume/overwrite scenarios against every implementation and
    skips this one only when no Iceberg catalog is configured
    (``iceberg_available``) — enable it with the standard runtime jar +
    catalog conf:

        spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-...
        spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.local.type=hadoop
        spark.sql.catalog.local.warehouse=/path/to/warehouse
    """

    def __init__(self, spark: SparkSession, namespace: str,
                 catalog: str = "local"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.stages_resumed: list[str] = []
        self.stages_computed: list[str] = []
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS "
                  f"{catalog}.{namespace}")

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def cut(self, df: DataFrame, name: str) -> DataFrame:
        ident = self._ident(name)
        if self.spark.catalog.tableExists(ident):
            self.stages_resumed.append(name)
            return self.spark.table(ident)
        df.writeTo(ident).createOrReplace()
        self.stages_computed.append(name)
        return self.spark.table(ident)


def run_icelite_pipeline(spark: SparkSession, documents: DataFrame,
                         ref, workdir: str):
    """The mapping pipeline with every stage boundary committed as an
    IceLite (Iceberg-semantics) snapshot, plus the north rule's two
    observability tables committed into the same catalog directory:
    ``match_metrics`` (match-count metrics over the final match stage)
    and the per-partition lineage already carried by every stage
    manifest (``IceLiteTable.lineage``).  Kill-and-rerun resumes from
    the last committed snapshot (tests/test_icelite.py)."""
    from .icelite import IceLiteTable
    from .plans.pipeline import run_mapping_pipeline

    snap = IceLiteSnapshotter(spark, workdir)
    res = run_mapping_pipeline(spark, documents, ref, snap=snap)
    mapped = snap.cut(res.mapped_terms, "mapped_terms")
    # real_values is already a pipeline-internal cut — read its snapshot
    rv = IceLiteTable.load(
        os.path.join(workdir, "real_values")).read(spark)
    mpath = os.path.join(workdir, "match_metrics")
    t = (IceLiteTable.load(mpath) if IceLiteTable.exists(mpath)
         else IceLiteTable.create(mpath))
    if not t.snapshots():
        m_final = IceLiteTable.load(
            os.path.join(workdir, "m_final")).read(spark)
        t.commit(match_metrics(m_final), stage="match_metrics")
    return mapped, rv, snap


# ------------------------------------------------------------- metrics
def partition_lineage(df: DataFrame, stage: str) -> DataFrame:
    """(stage, partition_id, n_rows) — per-partition lineage/row counts,
    computed with spark_partition_id (no extra shuffle)."""
    return (df.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid").agg(F.count("*").alias("n_rows"))
            .select(F.lit(stage).alias("stage"),
                    F.col("_pid").alias("partition_id"), "n_rows"))


def match_metrics(matches: DataFrame) -> DataFrame:
    """(match_target, edit_dist, n) — match-count metrics table."""
    return (matches.groupBy("match_target", "edit_dist")
            .agg(F.count("*").alias("n")))


def write_run_manifest(workdir: str, payload: dict) -> str:
    os.makedirs(workdir, exist_ok=True)
    path = os.path.join(workdir, "_MANIFEST.json")
    payload = dict(payload)
    payload["ts"] = time.time()
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    return path
