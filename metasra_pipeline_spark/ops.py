"""Ops layer: snapshot checkpoint / resume and match-count metrics
(BASELINE.json north_rule requirements).

The production design writes every stage boundary as an Iceberg snapshot
(resume = read the last committed snapshot).  The sandbox has no Iceberg
runtime jar, so the one durable snapshotter is
:class:`IceLiteSnapshotter`: an Iceberg-shaped commit log
(:mod:`metasra_pipeline_spark.icelite`) with atomic snapshot commits and
per-data-file row counts.  :class:`IcebergSnapshotter` honors the same
``Snapshotter.cut`` / ``committed`` contract against a real catalog, so
swapping one for the other is a config change, not a code change.

``run_mapping_pipeline`` and ``er.resolution.resolve_entities`` take
that choice as their one ``snap=`` argument (default
:class:`LocalSnapshotter`, in-memory cuts); ``job.run_job`` runs both
and commits every output table over the same snapshotter.  The
per-partition lineage is each durable table's manifest
(``IceLiteTable.lineage()``; Iceberg's ``files`` metadata table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark.sql("SELECT 1").collect()
        return bool(spark.conf.get("spark.sql.catalog.local", None))
    except Exception:
        return False


# ------------------------------------------------------- snapshotters
#: snapshot-summary key prefix under which a durable cut records its
#: identity (IceLite summary entries / Iceberg snapshot properties)
_IDENTITY = "identity."


def _identity_summary(identity: dict | None) -> dict[str, str]:
    return {_IDENTITY + k: str(v) for k, v in (identity or {}).items()}


def _same_identity(summary: dict | None, identity: dict | None) -> bool:
    recorded = {k: str(v) for k, v in (summary or {}).items()
                if k.startswith(_IDENTITY)}
    return recorded == _identity_summary(identity)


class Snapshotter:
    """Stage-boundary materialization policy for the mapping pipeline
    and the ER pipeline.

    Every named ``cut`` is both a lineage cut (the plan downstream reads
    a materialized frame, not a re-derived subtree) and the resume
    granularity: a durable snapshotter commits each cut as a snapshot
    and a re-run *reads the committed snapshot instead of recomputing*
    (the reference's resume story is manual re-runs of failed Condor
    chunks, create_metasra/Snakefile:481-486).

    ``identity`` names the parameters a stage's rows depend on beyond
    its input frame.  A durable cut records it with the commit and
    resumes only a commit whose recorded identity equals it, so a
    re-run with different parameters recomputes instead of resuming
    stale rows.  ``committed`` is that lookup on its own, for a caller
    that must skip building an expensive input when the stage is
    already committed; an in-memory snapshotter has nothing committed."""

    def cut(self, df: DataFrame, name: str,
            identity: dict | None = None) -> DataFrame:
        raise NotImplementedError

    def committed(self, name: str,
                  identity: dict | None = None) -> DataFrame | None:
        return None


class LocalSnapshotter(Snapshotter):
    """In-memory lineage cuts.  eager=True beats lazy empirically here
    (lazy caused ~2× recompute patterns; see round-1 measurements).
    Every cut is load-bearing (OPTIMIZATION_r06 retested each one);
    per-cut wall / jobs / rows come from ``perfbench --trace 1``."""

    def cut(self, df: DataFrame, name: str,
            identity: dict | None = None) -> DataFrame:
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
    snapshot.  The identity rides in the snapshot summary."""

    def __init__(self, spark: SparkSession, workdir: str):
        from .icelite import IceLiteTable
        self._Table = IceLiteTable
        self.spark = spark
        self.workdir = workdir
        self.stages_resumed: list[str] = []
        self.stages_computed: list[str] = []

    def committed(self, name: str,
                  identity: dict | None = None) -> DataFrame | None:
        path = os.path.join(self.workdir, name)
        if not self._Table.exists(path):
            return None
        t = self._Table.load(path)
        s = t.snapshot_for_stage(name)
        if s is None or not _same_identity(s.get("summary"), identity):
            return None
        self.stages_resumed.append(name)
        return t.read(self.spark)

    def cut(self, df: DataFrame, name: str,
            identity: dict | None = None) -> DataFrame:
        done = self.committed(name, identity)
        if done is not None:
            return done
        path = os.path.join(self.workdir, name)
        t = (self._Table.load(path) if self._Table.exists(path)
             else self._Table.create(path))
        t.commit(df, operation="overwrite", stage=name,
                 summary=_identity_summary(identity))
        self.stages_computed.append(name)
        return t.read(self.spark)


class IcebergSnapshotter(Snapshotter):
    """The SAME stage-boundary contract against a real Apache Iceberg
    catalog — the production target the IceLite commit log stands in
    for in this jar-less sandbox.

    Each cut is one atomic ``writeTo(ident).createOrReplace()`` (an
    Iceberg snapshot commit: metadata + manifest + catalog pointer
    swap — the exact properties IceLite re-implements); resume reads
    the committed table instead of recomputing.  The identity is
    written as snapshot properties (``snapshot-property.*`` write
    options) and compared against the current snapshot's summary on
    resume.  Table identifiers are ``<catalog>.<namespace>.<stage>``,
    so swapping :class:`IceLiteSnapshotter` → :class:`IcebergSnapshotter`
    is a CONFIG-ONLY change for any pipeline written against the
    :class:`Snapshotter` seam (``run_mapping_pipeline(snap=...)``,
    ``resolve_entities(snap=...)``).  Conformance is pinned by
    tests/test_snapshotter_contract.py, which runs the same
    compute/resume/overwrite/identity scenarios against every
    implementation and skips this one only when no Iceberg catalog is
    configured (``iceberg_available``) — enable it with the standard
    runtime jar + catalog conf:

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

    def committed(self, name: str,
                  identity: dict | None = None) -> DataFrame | None:
        ident = self._ident(name)
        if not self.spark.catalog.tableExists(ident):
            return None
        last = self.spark.sql(f"SELECT summary FROM {ident}.snapshots "
                              f"ORDER BY committed_at DESC LIMIT 1").first()
        if not _same_identity(last and last["summary"], identity):
            return None
        self.stages_resumed.append(name)
        return self.spark.table(ident)

    def cut(self, df: DataFrame, name: str,
            identity: dict | None = None) -> DataFrame:
        done = self.committed(name, identity)
        if done is not None:
            return done
        ident = self._ident(name)
        writer = df.writeTo(ident)
        for k, v in _identity_summary(identity).items():
            writer = writer.option("snapshot-property." + k, v)
        writer.createOrReplace()
        self.stages_computed.append(name)
        return self.spark.table(ident)


# ------------------------------------------------------------- metrics
def match_metrics(matches: DataFrame) -> DataFrame:
    """(match_target, edit_dist, n) — match-count metrics table."""
    return (matches.groupBy("match_target", "edit_dist")
            .agg(F.count("*").alias("n")))

