"""The benchmark's workloads.

Each workload builds its inputs from the seed in :meth:`prepare`, runs one
closed-loop pass of the library in :meth:`run_pass` (the timed part) and
checks that pass's output in :meth:`check` (untimed).  A pass returns a
small record of its output; checks compare records across the passes of a
run, so a pass that comes out different from the first one fails.

``run_pass`` takes a :class:`tracing.Tracer` or ``None``.  With a tracer
the pass records per-layer spans; without one it calls the library exactly
as a user would.
"""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metasra_pipeline_spark import ingest
from metasra_pipeline_spark.datagen import synth_documents
from metasra_pipeline_spark.er import resolution
from metasra_pipeline_spark.er.resolution import pairwise_f1, resolve_entities
from metasra_pipeline_spark.plans.pipeline import run_mapping_pipeline
from metasra_pipeline_spark.refdata import load_refdata

from tracing import TimingSnapshotter, Tracer, interposed

ER_THRESHOLD = 0.65   # resolve_entities' default decision threshold
MIN_F1 = 0.99         # the north rule's pairwise F1 floor

MAP_CUTS = ("kv", "deriv_expand", "edges_t10", "edges_t9", "tok_final",
            "m_matched", "m_p4", "node_terms0", "inf12", "m_p3",
            "inf_pre_rv", "node_terms", "real_values", "m_final",
            "inf_edges", "closure2", "closure4")
ER_PHASES = ("profiles", "idf", "reps", "blocking", "score", "cc", "assign")


def digest(df: DataFrame) -> tuple[int, str]:
    """(rows, order-independent hash) of a frame, in one job."""
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                 .alias("h")).first()
    return int(row["n"]), str(row["h"])


def _span(tracer: Tracer | None, layer: str):
    return tracer.span(layer) if tracer else nullcontext()


class Workload:
    name = ""
    per_layer: tuple[str, ...] = ()   # metric names this workload fills

    def __init__(self, spark, seed: int, size: dict):
        self.spark, self.seed, self.size = spark, seed, size
        self.records: list = []

    def prepare(self) -> list[str]:
        """Build inputs; return failed set-up checks."""
        raise NotImplementedError

    def run_pass(self, tracer: Tracer | None):
        raise NotImplementedError

    def check(self, record) -> list[str]:
        """Failures of one pass's record; also compares it with the
        run's first record."""
        raise NotImplementedError

    def layer_metrics(self, tracer: Tracer, jobs: dict[str, int]) -> dict:
        raise NotImplementedError

    def _same_as_first(self, record, key) -> list[str]:
        first = self.records[0] if self.records else record
        self.records.append(record)
        if key(record) != key(first):
            return [f"{self.name}: output differs from the run's first pass"]
        return []


def _span_metrics(prefix: str, names, tracer: Tracer,
                  jobs: dict[str, int]) -> dict:
    secs = tracer.seconds()
    out = {}
    for n in names:
        layer = f"{prefix}.{n}"
        out[f"{layer}.s"] = secs.get(layer, 0.0)
        out[f"{layer}.jobs"] = jobs.get(layer, 0)
    return out


# ----------------------------------------------------------------- map_batch
class MapBatch(Workload):
    """Full mapping pipeline over synthesized documents, one chunk."""

    name = "map_batch"
    per_layer = tuple(f"plans.pipeline.cut.{c}.{m}" for c in MAP_CUTS
                      for m in ("s", "jobs", "rows")) + (
        "plans.pipeline.tail.s", "plans.pipeline.tail.jobs")

    def prepare(self) -> list[str]:
        self.ref = load_refdata(self.spark)
        self.docs = (synth_documents(self.spark, self.size["docs"],
                                     seed=self.seed, dup_factor=5)
                     .select("doc_id", "spans").localCheckpoint(eager=True))
        self.n_docs = self.docs.count()
        # span-sequence invariant: the ingest view of the input is the input
        if digest(ingest.spans_roundtrip(self.docs)) != digest(self.docs):
            return ["map_batch: ingest.spans_roundtrip changed the spans"]
        return []

    def run_pass(self, tracer):
        snap = TimingSnapshotter(tracer) if tracer else None
        res = run_mapping_pipeline(self.spark, self.docs, self.ref, snap=snap)
        with _span(tracer, "plans.pipeline.tail"):
            terms = digest(res.mapped_terms)
        return {"terms": terms, "errors": res.errors,
                "mapped": res.mapped_terms}

    def check(self, record) -> list[str]:
        fails = []
        if not record.pop("errors").isEmpty():
            fails.append("map_batch: errors frame is not empty")
        mapped = record.pop("mapped")
        n_rows = record["terms"][0]
        n_mapped_docs = mapped.select("doc_id").distinct().count()
        if n_rows == 0 or not 0 < n_mapped_docs <= self.n_docs:
            fails.append(f"map_batch: {n_rows} mapped rows over "
                         f"{n_mapped_docs} docs")
        return fails + self._same_as_first(record, lambda r: r["terms"])

    def layer_metrics(self, tracer, jobs):
        out = _span_metrics("plans.pipeline.cut", MAP_CUTS, tracer, jobs)
        for c in MAP_CUTS:
            out[f"plans.pipeline.cut.{c}.rows"] = tracer.values.get(
                f"plans.pipeline.cut.{c}.rows", 0)
        out.update(_span_metrics("plans.pipeline", ["tail"], tracer, jobs))
        return out


# ------------------------------------------------------------------ er_batch
class ErBatch(Workload):
    """Batch entity resolution over synthesized duplicate clusters."""

    name = "er_batch"
    per_layer = tuple(f"er.resolution.{p}.{m}" for p in ER_PHASES
                      for m in ("s", "jobs")) + (
        "er.resolution.pairs.rows", "er.resolution.hot_keys.rows",
        "er.resolution.score.accept_ratio")

    def prepare(self) -> list[str]:
        gen = (synth_documents(self.spark, self.size["docs"], seed=self.seed,
                               dup_factor=5).localCheckpoint(eager=True))
        self.docs = gen.select("doc_id", "spans")
        self.truth = gen.select("doc_id", "entity_id")
        self.n_docs = gen.count()
        return []

    def run_pass(self, tracer):
        if tracer is None:
            res = resolve_entities(self.spark, self.docs)
        else:
            with interposed(tracer, resolution, self._spec(tracer)):
                res = resolve_entities(self.spark, self.docs)
        c = res["clusters"]
        row = c.agg(F.count(F.lit(1)).alias("n"),
                    F.countDistinct("doc_id").alias("d"),
                    F.sum(F.xxhash64("doc_id", "cluster_id")
                          .cast("decimal(38,0)")).alias("h")).first()
        return {"rows": int(row["n"]), "docs": int(row["d"]),
                "hash": str(row["h"]), "pairs": res["pairs"]}

    def check(self, record) -> list[str]:
        fails = []
        pairs = record.pop("pairs")
        if record["rows"] != self.n_docs or record["docs"] != self.n_docs:
            fails.append(f"er_batch: {record['rows']} cluster rows for "
                         f"{record['docs']} of {self.n_docs} docs")
        f1 = pairwise_f1(pairs, self.truth, ER_THRESHOLD)["f1"]
        record["f1"] = f1
        if f1 < MIN_F1:
            fails.append(f"er_batch: pairwise F1 {f1:.4f} < {MIN_F1}")
        return fails + self._same_as_first(record, lambda r: r["hash"])

    def _spec(self, tracer: Tracer) -> dict:
        def rows(name):
            return lambda out, kw: tracer.add(name, tracer.count(out))

        def hot(out, kw):
            tracer.add("er.resolution.hot_keys.rows", tracer.count(out[1]))

        def accepted(out, kw):
            thr = kw.get("reject_below") or ER_THRESHOLD
            tracer.add("er.resolution.score.scored", tracer.count(out))
            tracer.add("er.resolution.score.accepted", tracer.count(
                out.where((F.col("score") >= thr) & ~F.col("rejected"))))

        p = "er.resolution."
        return {"doc_profiles": (p + "profiles", None),
                "token_idf": (p + "idf", None),
                "representative_profiles": (p + "reps", None),
                "blocking_keys": (p + "blocking", hot),
                "candidate_pairs": (p + "blocking",
                                    rows("er.resolution.pairs.rows")),
                "score_pairs": (p + "score", accepted),
                "connected_components": (p + "cc", None),
                "assign_clusters": (p + "assign", None)}

    def layer_metrics(self, tracer, jobs):
        out = _span_metrics("er.resolution", ER_PHASES, tracer, jobs)
        v = tracer.values
        out["er.resolution.pairs.rows"] = v.get("er.resolution.pairs.rows", 0)
        out["er.resolution.hot_keys.rows"] = v.get(
            "er.resolution.hot_keys.rows", 0)
        scored = v.get("er.resolution.score.scored", 0)
        out["er.resolution.score.accept_ratio"] = (
            v.get("er.resolution.score.accepted", 0) / scored
            if scored else 0.0)
        return out


WORKLOADS = {w.name: w for w in (MapBatch, ErBatch)}
