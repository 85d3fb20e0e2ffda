"""IceLite — an Iceberg-shaped snapshot log over parquet data files.

BASELINE.json's north_rule requires the pipeline to be "resumable from
Iceberg snapshot checkpoints with per-partition lineage and match-count
metrics".  The sandbox ships no Iceberg runtime jar, so instead of a
docstring promise this module implements the *table-format semantics*
that resume/lineage/time-travel actually depend on, shaped after the
public Apache Iceberg spec (https://iceberg.apache.org/spec/):

- **versioned metadata files** ``metadata/v<N>.metadata.json`` holding
  the snapshot log (snapshot-id, parent-snapshot-id, sequence-number,
  timestamp-ms, operation, summary) — spec §"Table Metadata";
- **manifests** ``metadata/snap-<id>.manifest.json`` listing every
  live data file with its record count and byte size (the per-file =
  per-write-partition lineage the rule asks for) — spec §"Manifests";
- **atomic commit** via the HadoopTables protocol: write the new
  metadata file, then atomically swap the ``version-hint.text``
  pointer (``os.replace``); a crash between data-file write and
  pointer swap leaves the table at the previous snapshot — readers
  never observe a half-commit;
- **optimistic concurrency**: a commit whose next version file already
  exists raises :class:`CommitConflict` (the loser of a concurrent
  commit race must retry against the new base), matching Iceberg's
  CommitFailedException contract;
- **time travel**: ``read(spark, snapshot_id=...)`` reads the exact
  file set of any historical snapshot.

Record counts come from parquet footers via pyarrow (driver-side, no
Spark job) — the same statistics a real Iceberg writer collects.

On a cluster with an Iceberg catalog, ``ops.IcebergSnapshotter``
commits the same cuts to the real thing; IceLite is the sandbox-faithful
fallback whose commit, resume and lineage semantics are *testable here*
(tests/test_icelite.py) instead of asserted in prose.  Reference resume story for contrast:
manual re-runs of failed Condor chunks (create_metasra/Snakefile:481-486,
condor_run_pipeline.py:87-89) — no atomicity, no lineage, no time travel.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(Exception):
    """Another writer committed the version this commit was based on
    (Iceberg CommitFailedException analog) — retry against the new base."""


def _footer_stats(data_dir: str) -> list[dict]:
    """Per-file record counts/sizes from parquet footers (pyarrow,
    driver-side, no Spark job) — one data file per write partition, so
    this IS the per-partition lineage of the committing stage."""
    import pyarrow.parquet as pq

    files = []
    for p in sorted(glob.glob(os.path.join(data_dir, "part-*.parquet"))):
        files.append({
            "file-path": p,
            "record-count": pq.ParquetFile(p).metadata.num_rows,
            "file-size-bytes": os.path.getsize(p),
        })
    return files


class IceLiteTable:
    """One table = one directory: ``data/`` (parquet) + ``metadata/``
    (the snapshot log).  All state lives in the files — reloading the
    table from the path always reflects exactly the committed log."""

    def __init__(self, path: str):
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")

    # ---------------------------------------------------- load / create
    @classmethod
    def create(cls, path: str) -> "IceLiteTable":
        t = cls(path)
        os.makedirs(t.meta_dir, exist_ok=True)
        if t.version() is not None:
            raise ValueError(f"table already exists at {path}")
        meta = {"format-version": 2, "table-uuid": str(uuid.uuid4()),
                "location": path, "last-sequence-number": 0,
                "current-snapshot-id": None, "snapshots": []}
        t._write_version(1, meta, base_version=None)
        return t

    @classmethod
    def load(cls, path: str) -> "IceLiteTable":
        t = cls(path)
        if t.version() is None:
            raise FileNotFoundError(f"no committed IceLite table at {path}")
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        return IceLiteTable(path).version() is not None

    def version(self) -> int | None:
        hint = os.path.join(self.meta_dir, "version-hint.text")
        try:
            with open(hint) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def metadata(self) -> dict:
        v = self.version()
        if v is None:
            raise FileNotFoundError(f"no committed IceLite table at {self.path}")
        with open(os.path.join(self.meta_dir, f"v{v}.metadata.json")) as f:
            return json.load(f)

    # ---------------------------------------------------------- commit
    def _write_version(self, v: int, meta: dict, base_version: int | None):
        """HadoopTables commit: the new metadata file is the lock —
        O_EXCL create fails if a concurrent writer took this version —
        then the version-hint pointer swap (os.replace) is atomic."""
        if self.version() != base_version:
            raise CommitConflict(
                f"base version {base_version} is stale "
                f"(current {self.version()})")
        target = os.path.join(self.meta_dir, f"v{v}.metadata.json")
        try:
            fd = os.open(target, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            raise CommitConflict(f"version {v} already committed") from None
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        hint = os.path.join(self.meta_dir, "version-hint.text")
        tmp = hint + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, hint)

    def commit(self, df: DataFrame, operation: str = "overwrite",
               stage: str | None = None,
               summary: dict | None = None) -> int:
        """Write ``df``'s partitions as data files, then commit them as
        a new snapshot.  ``operation`` is ``overwrite`` (new live file
        set) or ``append`` (parent's files + new files).  The data-file
        write happens BEFORE the metadata swap: a crash mid-commit
        orphans data files but never corrupts the readable table."""
        if operation not in ("overwrite", "append"):
            raise ValueError(operation)
        base = self.version()
        meta = self.metadata()
        data_dir = os.path.join(self.path, "data", uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(data_dir)
        new_files = _footer_stats(data_dir)
        files = new_files
        if operation == "append" and meta["current-snapshot-id"] is not None:
            files = self._manifest(meta["current-snapshot-id"])["data-files"] \
                + new_files
        seq = meta["last-sequence-number"] + 1
        snap_id = seq  # deterministic ids: snapshot-id == sequence-number
        manifest = {"snapshot-id": snap_id,
                    "schema": df.schema.jsonValue(),
                    "data-files": files}
        mpath = os.path.join(self.meta_dir, f"snap-{snap_id}.manifest.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f, indent=1)
        snap = {"snapshot-id": snap_id,
                "parent-snapshot-id": meta["current-snapshot-id"],
                "sequence-number": seq,
                "timestamp-ms": int(time.time() * 1000),
                "operation": operation,
                "stage": stage,
                "manifest-list": os.path.relpath(mpath, self.path),
                "summary": dict(summary or {},
                                **{"added-data-files": len(new_files),
                                   "added-records": sum(
                                       x["record-count"] for x in new_files),
                                   "total-data-files": len(files),
                                   "total-records": sum(
                                       x["record-count"] for x in files)})}
        new_meta = dict(meta, **{"last-sequence-number": seq,
                                 "current-snapshot-id": snap_id,
                                 "snapshots": meta["snapshots"] + [snap]})
        self._write_version((base or 0) + 1, new_meta, base_version=base)
        return snap_id

    # ----------------------------------------------------------- reads
    def _manifest(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.meta_dir,
                               f"snap-{snapshot_id}.manifest.json")) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        return self.metadata()["snapshots"]

    def current_snapshot_id(self) -> int | None:
        return self.metadata()["current-snapshot-id"]

    def snapshot_for_stage(self, stage: str) -> dict | None:
        """Latest committed snapshot tagged with ``stage`` (the resume
        lookup used by :class:`ops.IceLiteSnapshotter`)."""
        hits = [s for s in self.snapshots() if s.get("stage") == stage]
        return hits[-1] if hits else None

    def read(self, spark: SparkSession,
             snapshot_id: int | None = None) -> DataFrame:
        """Read the table at ``snapshot_id`` (time travel) or at the
        current snapshot.  Reads exactly the snapshot's manifest file
        set — files added by later snapshots are invisible."""
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"table at {self.path} has no snapshot")
        manifest = self._manifest(sid)
        paths = [f["file-path"] for f in manifest["data-files"]]
        if not paths:  # empty commit: recover schema from the manifest
            from pyspark.sql.types import StructType
            schema = StructType.fromJson(manifest["schema"])
            return spark.createDataFrame([], schema)
        return spark.read.parquet(*paths)

    def lineage(self) -> list[dict]:
        """Flattened per-partition lineage across the whole snapshot
        log: one row per (snapshot, data file) with stage tag, record
        count and byte size — the north_rule's "per-partition lineage"
        as a queryable list instead of a log line."""
        out = []
        for s in self.snapshots():
            for f in self._manifest(s["snapshot-id"])["data-files"]:
                out.append({"snapshot_id": s["snapshot-id"],
                            "stage": s.get("stage"),
                            "operation": s["operation"],
                            "file_path": f["file-path"],
                            "record_count": f["record-count"],
                            "file_size_bytes": f["file-size-bytes"]})
        return out
