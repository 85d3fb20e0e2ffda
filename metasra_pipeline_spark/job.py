"""The end-to-end job: mapping pipeline, optional entity resolution, and
every output table, all committed through one :class:`..ops.Snapshotter`.

Under an :class:`..ops.IceLiteSnapshotter` the job's map stages, ER
stages and outputs sit side by side in one workdir, each an atomic
commit.  A re-run resumes after the last committed table: a kill
between two outputs leaves no half-written directory, and a fully
committed re-run computes and writes nothing.  Per-partition lineage is
every committed table's manifest (``lineage()`` in :mod:`.icelite`).

``spark_submit_main.py`` is argument parsing plus one :func:`run_job`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .er.incremental import incremental_resolve_checkpointed
from .er.resolution import _identity, cluster_terms, resolve_entities
from .ops import IceLiteSnapshotter, Snapshotter, match_metrics
from .plans.pipeline import run_chunked_pipeline, run_mapping_pipeline
from .refdata import RefData


class _Chunk(Snapshotter):
    """Chunk ``i``'s stages as ``chunk<i>_<stage>`` cuts of ``snap``."""

    def __init__(self, snap: Snapshotter, i: int):
        self.snap, self.prefix = snap, f"chunk{i}_"

    def cut(self, df, name, identity=None):
        return self.snap.cut(df, self.prefix + name, identity)

    def committed(self, name, identity=None):
        return self.snap.committed(self.prefix + name, identity)


def run_job(spark: SparkSession, documents: DataFrame, ref: RefData,
            snap: Snapshotter, *, er: bool = False, chunks: int = 1,
            threshold: float = 0.65, ngram: int = 4,
            max_block: int = 200) -> dict[str, DataFrame]:
    """Run the job over ``snap`` and return its outputs by name.

    The input is the ``documents`` cut, so every later stage, and a
    resumed run, reads the same rows.  The outputs are cuts too:
    ``real_values``, ``mapped_terms``, ``errors`` and ``match_metrics``
    carry no identity, like the map stages under them; with ``er``,
    ``er_match_metrics``, ``er_hot_keys``, ``clusters`` and
    ``cluster_terms`` carry ER's blocking and scoring identity.

    ``chunks > 1`` runs the mapping pipeline as concurrent per-chunk
    pipelines whose stages are ``chunk<i>_``-prefixed cuts of ``snap``,
    each chunk resumable on its own."""
    documents = snap.cut(documents, "documents")
    if chunks > 1:
        res = run_chunked_pipeline(spark, documents, ref, n_chunks=chunks,
                                   snap_factory=lambda i: _Chunk(snap, i))
        # the chunks' union; an unchunked pipeline cuts real_values itself
        res.real_values = snap.cut(res.real_values, "real_values")
    else:
        res = run_mapping_pipeline(spark, documents, ref, snap=snap)
    if er:
        ident = _identity(threshold, ngram, max_block, "softtfidf")
        ent = resolve_entities(spark, documents, threshold=threshold,
                               ngram=ngram, max_block=max_block, snap=snap)
    # outputs commit after every stage, so a kill among them resumes
    # with nothing but the uncommitted outputs left to compute
    out = {"real_values": res.real_values,
           "mapped_terms": snap.cut(res.mapped_terms, "mapped_terms"),
           "errors": snap.cut(res.errors, "errors"),
           "match_metrics": snap.cut(match_metrics(res.matches),
                                     "match_metrics")}
    if er:
        out["er_match_metrics"] = snap.cut(ent["match_metrics"],
                                           "er_match_metrics", ident)
        out["er_hot_keys"] = snap.cut(ent["hot_keys"], "er_hot_keys", ident)
        out["clusters"] = snap.cut(ent["clusters"], "clusters", ident)
        out["cluster_terms"] = snap.cut(
            cluster_terms(out["clusters"], out["mapped_terms"]),
            "cluster_terms", ident)
    return out


def land_job(spark: SparkSession, documents: DataFrame,
             snap: IceLiteSnapshotter, **params) -> dict[str, DataFrame]:
    """Land ``documents`` as a delta batch against the ER stages a prior
    ``run_job(er=True)`` committed under ``snap.workdir``, through
    :func:`..er.incremental.incremental_resolve_checkpointed`, and commit
    ``clusters``, ``cluster_merges`` and a ``cluster_terms`` recomputed
    from the committed ``mapped_terms``, so no output keeps a cluster id
    the landing merged away.  Their identity is the landing's
    ``er_labels`` snapshot: a later landing never resumes an earlier
    one's outputs.  ``params`` are the blocking and scoring ones."""
    mapped = snap.committed("mapped_terms")
    if mapped is None:
        raise FileNotFoundError(
            f"no committed mapped_terms under {snap.workdir}: landing "
            "needs a prior er job on the same workdir")
    res = incremental_resolve_checkpointed(spark, snap.workdir, documents,
                                           **params)
    ident = {"er-labels-snapshot": res["labels_snapshot_id"]}
    clusters = snap.cut(res["clusters"], "clusters", ident)
    return {"clusters": clusters,
            "cluster_merges": snap.cut(res["merges"], "cluster_merges",
                                       ident),
            "cluster_terms": snap.cut(cluster_terms(clusters, mapped),
                                      "cluster_terms", ident)}
