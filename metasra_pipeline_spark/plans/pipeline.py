"""The p_53 mapping pipeline as one declarative DataFrame plan.

Stage order is semantics, not an optimization, and follows
``run_pipeline.py:180-211`` exactly (see SURVEY.md §2).  Inference stages
act on *node existence* (all term nodes created so far, surviving P4's
node deletion), while the final consolidation resolves *reachability*
through surviving edges — mirroring the reference's
graph-mutation-then-extraction split.

Materialization policy: the plan has a small fixed set of **named cut
points** (``Snapshotter.cut`` — 16 incl. consolidation's, see the cut
calls below), chosen where a frame is re-read by several downstream
consumers or closes a large fan-out.  Everything between cuts stays
lazy — intermediate node-term unions are cheap re-scans of cut leaves,
so the lazy chains cost plan size (bounded, ~2× per inference stage
over materialized leaves), not recompute.  Round-1 measured ~31
driver-synchronized jobs (a cut or a count each) costing 50–80 s of
fixed overhead at sf0.1 — the direct cause of the 0.333 scaling
efficiency; the cut policy is re-derived from per-cut profiles
(``perfbench --trace 1`` reports ``plans.pipeline.cut.*.{s,jobs,rows}``;
round 4: cutting the T10/T9 edge deltas removed 2 redundant chain
evaluations, 40.4→31.6 s warm at 1k docs).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest import documents_to_kv
from ..operators import consolidate as C
from ..operators import inference as I
from ..operators import precedence as P
from ..operators import stages as S
from ..ops import LocalSnapshotter, Snapshotter
from ..refdata import RefData


@dataclass
class PipelineResult:
    kv: DataFrame
    tokens: DataFrame
    matches: DataFrame
    inf_edges: DataFrame
    real_values: DataFrame          # (doc_id, property_id, value, unit_id, consequent)
    mapped_terms: DataFrame         # (doc_id, term_id, consequent)
    errors: DataFrame = None        # (doc_id, stage, error) — per-doc
    # failure isolation: a doc whose expansion UDF or P3 graph walk threw
    # is EXCLUDED from every output frame and recorded here (reference
    # skips-and-logs, condor_run_pipeline.py:87-89, gather_mappings.py:37-44)


def _targets(matches: DataFrame) -> DataFrame:
    return (matches.where(~F.col("target_id").startswith("NP:"))
            .select("doc_id", F.col("target_id").alias("term_id"))
            .distinct())


def _dsts(inf: DataFrame) -> DataFrame:
    return inf.select("doc_id", F.col("dst_id").alias("term_id")).distinct()


def cell_line_term_ids(ref: RefData) -> DataFrame:
    """CVCL ids ∪ their superterm-linked ids
    (pipeline_components.py:473-482)."""
    cvcl = (ref.lexicon.where(F.split("term_id", ":").getItem(0) == "CVCL")
            .select("term_id").distinct())
    linked = (cvcl.join(ref.linked_terms, on="term_id")
              .select(F.col("linked_id").alias("term_id")))
    return cvcl.unionByName(linked).distinct()


def run_mapping_pipeline(spark: SparkSession, documents: DataFrame,
                         ref: RefData, with_ancestors: bool = False,
                         exclude_real_value_properties: bool = True,
                         snap: Snapshotter | None = None) -> PipelineResult:
    if snap is None:
        snap = LocalSnapshotter()
    # Partition ONCE by doc_id.  Every downstream per-doc window /
    # groupBy / self-join keys on (doc_id, …) — HashPartitioning(doc_id)
    # satisfies ClusteredDistribution of any superset key, so Catalyst
    # inserts no further exchanges for the per-doc stages; token-keyed
    # join-backs broadcast under AQE.  Net: ~one full-data shuffle for
    # the whole pipeline — the shape that survives 100 TB.
    kv = S.key_value_filter(documents_to_kv(documents), ref)   # F1
    kv = snap.cut(kv.repartition("doc_id"), "kv")

    roots = S.init_tokens(kv)                                  # F3
    # T1–T8 fused; the cut materializes the derivation-edge graph ONCE
    # (one pandas-UDF eval per distinct string); the token set is its
    # child projection — no second expansion job
    deriv = snap.cut(S.expansion_edges(roots, ref), "deriv_expand")
    # per-doc failure isolation: error marker edges (kind='__error__',
    # emitted by the expansion UDF's per-string try/except) route their
    # doc into the _errors side table and OUT of every pipeline frame.
    # ``bad`` is a tiny broadcast anti-join probe over the materialized
    # deriv cut — no extra job, near-zero cost on the clean path.
    err_expand = (deriv.where(F.col("kind") == "__error__")
                  .select("doc_id", F.lit("expand").alias("stage"),
                          F.concat(F.col("ptoken"), F.lit(" :: "),
                                   F.col("token")).alias("error")))
    bad = F.broadcast(err_expand.select("doc_id").distinct())
    deriv = (deriv.where(F.col("kind") != "__error__")
             .join(bad, on="doc_id", how="left_anti"))
    roots = roots.join(bad, on="doc_id", how="left_anti")
    kv = kv.join(bad, on="doc_id", how="left_anti")
    tok = S.tokens_from_edges(roots, deriv)

    m = S.exact_match(tok, ref)                                # J1
    # T10/T9 defer their full-token distinct (dedup=False): J3/T9's
    # joins in between are duplicate-insensitive and matches are
    # deduped at the m_matched cut, so one distinct at tok_final
    # replaces three full-table shuffles
    _, e10 = S.parse_time_with_unit(kv, tok, m, ref, spark,    # T10
                                    with_edges=True, dedup=False)
    # Cut the T10 edge delta: its chain (time-key gating joins over
    # kv/tok/matches) otherwise re-evaluates in THREE downstream cuts —
    # the token set (tok_final), the delta exact pass (m_matched) and
    # P3's graph build (m_p3).  The stage's added tokens are exactly
    # the edge dsts, so the union below rebuilds them from the cut
    # leaf.  Measured (1k docs, 32 cores, warm rep): tok_final 5.1→0.6 s,
    # m_p3 6.6→2.1 s, m_matched 3.3→2.6 s against 3.8 s for the two new
    # cut jobs — whole pipeline 40.4→31.6 s in a same-session A/B.
    e10 = snap.cut(e10, "edges_t10")
    t10_new = e10.select("doc_id", "token", "start", "end").distinct()
    tok = tok.unionByName(t10_new)
    # T10's value/unit/expansion tokens are created AFTER J1 ran, so
    # the reference can only match them through the later fuzzy pass —
    # which skips len<=3 strings, losing "day"/"min" units entirely
    # (pipeline_components.py:915-916).  A delta exact pass over just
    # the newly created tokens (tiny frame, broadcast lexicon join)
    # restores exact-match semantics for them; measured +4 labeled rv
    # tuples with zero extra shuffles.
    m = m.unionByName(S.exact_match(t10_new, ref))
    m = m.unionByName(S.two_char_match(tok, ref))              # J3
    _, e9 = S.property_specific_synonyms(kv, tok, m, ref,      # T9
                                         with_edges=True, dedup=False)
    # same re-evaluation argument for T9's edge delta (consumers:
    # tok_final's token set and m_p3's graph build)
    e9 = snap.cut(e9, "edges_t9")
    tok = tok.unionByName(e9.select("doc_id", "token", "start", "end"))
    tok = snap.cut(S.dedup_tokens(tok), "tok_final")
    deriv = deriv.unionByName(e10).unionByName(e9)
    m = m.unionByName(S.fuzzy_match(tok, ref))                 # J2
    m = m.unionByName(S.noun_phrase_match(tok, ref))           # J4
    m = snap.cut(m.dropDuplicates(S.MATCH_COLS), "m_matched")

    m = P.block_cell_line_matches(kv, m, ref.cell_line_keys,   # P4
                                  cell_line_term_ids(ref))
    m = snap.cut(m, "m_p4")

    # node-existence term set is frozen after P4 (later stages delete
    # edges, not nodes) and grows with each inference stage's outputs.
    # The incremental unions stay LAZY: each is a re-scan of the nt0 /
    # edge leaves (plan doubles per stage over cut leaves — bounded at
    # 5 stages), which beats one driver-synchronized job per stage.
    node_terms0 = snap.cut(_targets(m), "node_terms0")
    nt = node_terms0

    e1 = I.linked_terms_of_superterms(nt, ref)                 # I1
    nt = nt.unionByName(_dsts(e1)).distinct()
    e2 = I.cell_line_to_implied_disease(nt, ref)               # I2
    # Cut the I1∪I2 edge accumulator: it feeds FIVE downstream subtrees
    # (P3's graph build, e3's node-term set, e7's node-term set twice,
    # the inf_pre_rv union) — without the cut each consumer re-derives
    # the broadcast-join + distinct chain (measured: inf_pre_rv cut
    # 6.2–8.5 s at 1k docs, the pipeline's most expensive cut; see
    # OPTIMIZATION_r06.md).  The node-term set after I2 is then rebuilt
    # from the two cut leaves as node_terms0 ∪ dsts(inf12) — the same
    # row set ((A ∪ d1).distinct() ∪ d2).distinct() ≡
    # (A ∪ (d1 ∪ d2)).distinct() under distinct — so every downstream
    # stage sees identical input rows.
    inf12 = snap.cut(e1.unionByName(e2), "inf12")
    nt = node_terms0.unionByName(_dsts(inf12)).distinct()

    m = P.remove_subinterval_matches(m, deriv, inf12, roots)   # P3
    m = snap.cut(m, "m_p3")
    # P3 per-doc isolation: a marker row means the doc's graph walk
    # threw — exclude the doc from matches/kv/tok and record the error
    err_p3 = (m.where(F.col("match_target") == "__error__")
              .select("doc_id", F.lit("p3").alias("stage"),
                      F.col("token").alias("error")))
    bad_p3 = F.broadcast(err_p3.select("doc_id").distinct())
    m = (m.where(F.col("match_target") != "__error__")
         .join(bad_p3, on="doc_id", how="left_anti"))
    kv = kv.join(bad_p3, on="doc_id", how="left_anti")
    tok = tok.join(bad_p3, on="doc_id", how="left_anti")

    e3 = I.custom_consequent_terms(nt, ref)                    # I3
    nt = nt.unionByName(_dsts(e3)).distinct()
    e7 = I.term_artifact_combinations(tok, nt, ref)            # I7
    # cut the edge accumulator right after I7: I7 is the one expensive
    # inference stage (full-token joins + groupBys) and the accumulator
    # is re-read 3× by R1's closure loop and again by the final union —
    # without this cut I7 re-evaluates ~5× (measured 21 s at 1k docs)
    inf_r1 = snap.cut(inf12.unionByName(e3).unionByName(e7), "inf_pre_rv")
    # nt after I7 ≡ nt0 ∪ dsts(all edges so far) — rebuild from the two
    # cut leaves instead of re-evaluating the lazy union chain
    nt = snap.cut(node_terms0.unionByName(_dsts(inf_r1)).distinct(),
                  "node_terms")

    rv = I.extract_real_values(kv, tok, m, inf_r1, ref)        # R1
    rv = rv.withColumn("consequent", F.lit(False))

    m = P.filter_matches_by_priority(m)                        # P2

    e5, rv_cvcl = I.infer_cell_line_terms(nt, ref)             # I5
    nt = nt.unionByName(_dsts(e5)).distinct()
    rv_inf = (rv_cvcl.select("doc_id", "property_id", "value", "unit_id")
              .withColumn("consequent", F.lit(True))
              .withColumn("orig_key", F.lit(None).cast("string"))
              .withColumn("orig_val", F.lit(None).cast("string")))
    # groupBy-min merge (not dropDuplicates): deterministic when a row is
    # both extracted and cvcl-inferred — explicit extraction wins the
    # consequent flag, and provenance prefers the non-null kv pair
    pick = F.min(F.struct(F.col("orig_key").isNull().alias("n"),
                          "orig_key", "orig_val")).alias("_p")
    rv_all = (rv.unionByName(rv_inf)
              .groupBy("doc_id", "property_id", "value", "unit_id")
              .agg(F.min(F.col("consequent").cast("int")).cast("boolean")
                   .alias("consequent"), pick)
              .select("doc_id", "property_id", "value", "unit_id",
                      "consequent", F.col("_p.orig_key").alias("orig_key"),
                      F.col("_p.orig_val").alias("orig_val")))
    # real_values and m_final are independent consumers of the m_p3 /
    # inf_pre_rv cuts — materialize the two cuts CONCURRENTLY from
    # driver threads (guide §2.6: one job's tasks fill the other's
    # stage-barrier drains; the FAIR scheduler is session default).
    # Results are frames either way; only wall-clock changes.
    m_pri = P.prioritize_exact_over_fuzzy(m)                   # P1
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as _ex:
        _f_rv = _ex.submit(snap.cut, rv_all, "real_values")
        _f_m = _ex.submit(snap.cut, m_pri, "m_final")
        rv_all, m = _f_rv.result(), _f_m.result()

    e6 = I.implied_developmental_stage(rv_all)                 # I6
    e4 = I.consequent_cultured_cell(nt)                        # I4
    inf = inf_r1.unionByName(e5).unionByName(e6).unionByName(e4)
    inf = snap.cut(inf, "inf_edges")

    mapped = C.consolidate(
        m, inf, rv_all, ref, with_ancestors=with_ancestors,
        exclude_real_value_properties=exclude_real_value_properties,
        kv=kv, snap=snap)
    return PipelineResult(kv=kv, tokens=tok, matches=m, inf_edges=inf,
                          real_values=rv_all, mapped_terms=mapped,
                          errors=err_expand.unionByName(err_p3))


def run_chunked_pipeline(spark: SparkSession, documents: DataFrame,
                         ref: RefData, n_chunks: int | None = None,
                         with_ancestors: bool = False,
                         snap_factory=None) -> PipelineResult:
    """The mapping pipeline as a pool of concurrent per-chunk jobs.

    Every stage of the pipeline is keyed on ``doc_id`` — no operator
    looks across documents — so hash-splitting the corpus into chunks
    and running the full pipeline per chunk is semantics-preserving
    (it is exactly the reference's production shape: per-chunk Condor
    jobs merged by ``create_metasra/gather_mappings.py:25-41``).

    Why: a single pipeline DAG is a chain of ~60 jobs whose stages
    drain at every barrier — measured 52% core utilization at 8 cores.
    Submitting C chunk-pipelines from threads (FAIR scheduler) lets one
    chunk's map tasks fill another chunk's barrier drain; utilization
    and N→4N scaling efficiency rise accordingly.  On a real cluster
    C scales with executor count (a 4N-executor deployment runs 4× the
    chunks concurrently); locally we default C = max(1, cores // 2).

    ``snap_factory(i)`` may supply a per-chunk Snapshotter for
    per-chunk resume (``job.run_job`` gives chunk i ``chunk<i>_``-named
    cuts of the job's snapshotter) — a failed chunk re-runs alone, like
    the reference's failed-chunk re-submission.
    """
    from concurrent.futures import ThreadPoolExecutor
    from functools import reduce

    if n_chunks is None:
        n_chunks = max(1, spark.sparkContext.defaultParallelism // 2)
    if n_chunks <= 1:
        snap = snap_factory(0) if snap_factory else None
        return run_mapping_pipeline(spark, documents, ref,
                                    with_ancestors=with_ancestors,
                                    snap=snap)

    tagged = documents.withColumn(
        "_chunk", F.pmod(F.xxhash64("doc_id"), F.lit(n_chunks)))
    results: list[PipelineResult | None] = [None] * n_chunks

    def _work(i: int) -> None:
        chunk = tagged.where(F.col("_chunk") == i).drop("_chunk")
        snap = snap_factory(i) if snap_factory else None
        results[i] = run_mapping_pipeline(spark, chunk, ref,
                                          with_ancestors=with_ancestors,
                                          snap=snap)

    with ThreadPoolExecutor(max_workers=n_chunks) as ex:
        list(ex.map(_work, range(n_chunks)))

    def _union(frames: list[DataFrame]) -> DataFrame:
        return reduce(lambda a, b: a.unionByName(b), frames)

    rs = [r for r in results if r is not None]
    return PipelineResult(
        kv=_union([r.kv for r in rs]),
        tokens=_union([r.tokens for r in rs]),
        matches=_union([r.matches for r in rs]),
        inf_edges=_union([r.inf_edges for r in rs]),
        real_values=_union([r.real_values for r in rs]),
        mapped_terms=_union([r.mapped_terms for r in rs]),
        errors=_union([r.errors for r in rs]),
    )
