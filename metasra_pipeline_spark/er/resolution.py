"""Cross-document entity resolution (the north_rule layer).

blocking → pairwise scoring → transitive clustering:

1. **Profiles**: per doc, a normalized profile string + token set derived
   from span text (values only, keys are schema-ish noise).
2. **Blocking**: lowercased token keys + char-n-gram keys over span text
   (north_star).  Hot keys (stopword-ish) are capped: keys whose doc
   count exceeds ``max_block`` are dropped and logged to the metrics
   frame — explicit skew handling on top of AQE's skew-join splitting.
3. **Pairwise scoring**: candidates = doc pairs sharing a key; scored in
   one vectorized pandas UDF fusing Jaro-Winkler + token-set Jaccard +
   Levenshtein ratio (functions/similarity.py).
4. **Connected components**: a driver union-find for graphs up to
   ``CC_DRIVER_MAX_EDGES`` edges, else alternating large-star /
   small-star (Kiveris et al., "Connected Components in MapReduce and
   Beyond") as self-joins, localCheckpoint per round to cut lineage;
   min-doc_id as cluster representative either way.
5. **Consolidation**: per-cluster canonical mapped-term set
   (build_metasra_database_files.py:48-110 at cluster grain).

:func:`resolve_entities` is the one orchestration body for steps 1-4.
Its stage boundaries (``er_profiles``, ``er_reps``, ``er_scored``,
``er_labels``) are cuts of the ``snap=`` :class:`..ops.Snapshotter`
it is handed — in-memory by default, durable and resumable under
IceLite or real Iceberg — exactly as ``run_mapping_pipeline(snap=...)``
does for the mapping pipeline.  :func:`resolve_entities_native` (the
SQL-oracled scorer) is a thin wrapper of it; ``job.run_job`` runs it
over the job's snapshotter and commits its outputs.

The reference has no cross-doc clustering (its Condor jobs are
shared-nothing, create_condorized_pipeline.py:81-119); BASELINE.json
north_rule makes it explicit.
"""

from __future__ import annotations

from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ops import LocalSnapshotter, Snapshotter
from ..refdata import local_frame


_STOPWORDS = {
    "the", "and", "for", "with", "from", "this", "that", "was", "were",
    "not", "applicable", "missing", "none", "n/a", "sample", "cell",
    "cells", "type", "line", "name", "source", "tissue",
}


# ------------------------------------------------------------------ 1
def doc_profiles(documents: DataFrame) -> DataFrame:
    """(doc_id, tokens, profile, id_kv) — normalized value text per doc.

    Pure native ops: explode spans, keep text payload values, lowercase,
    split; one groupBy(doc_id) shuffle that every downstream step reuses.

    ``id_kv`` is the sorted set of ``normkey=digits`` entries of the
    doc's digit-bearing values (``normkey``: the span key with
    non-alphanumerics stripped, so ``cell line`` and ``cell_line``
    agree; ``digits``: the value's digit sequence, so a typo such as
    ``2Y ear old`` keeps ``age=2``) — the identifier veto's input (see
    :data:`_KV_CONFLICT`).  It rides the same aggregation as ``tokens``:
    every token row carries its span's entry and ``collect_set`` dedups.
    """
    sp = (documents
          .select("doc_id", F.explode("spans").alias("span"))
          .where(F.col("span.kind") == "text")
          .select("doc_id",
                  F.lower(F.col("span.text")).alias("payload")))
    sep = F.instr("payload", ": ")
    val = F.when(sep > 0,
                 F.expr("substring(payload, instr(payload, ': ') + 2)")
                 ).otherwise(F.col("payload"))
    key = F.regexp_replace(
        F.expr("substring(payload, 1, instr(payload, ': ') - 1)"),
        "[^0-9a-z]", "")
    digits = F.regexp_replace(val, "[^0-9]", "")
    kv = F.when((sep > 0) & (F.length(digits) > 0),
                F.concat(key, F.lit("="), digits))
    toks = (sp.select("doc_id", val.alias("value"), kv.alias("kv"))
            .select("doc_id", "kv",
                    F.explode(F.split("value", r"[^0-9a-z+']+")).alias("tok"))
            .where(F.length("tok") > 0))
    return (toks.groupBy("doc_id")
            .agg(F.array_sort(F.collect_set("tok")).alias("tokens"),
                 F.array_sort(F.collect_set("kv")).alias("id_kv"))
            .select("doc_id", "tokens",
                    F.array_join("tokens", " ").alias("profile"), "id_kv"))


# ------------------------------------------------------------------ 2
def blocking_keys(profiles: DataFrame, ngram: int = 4,
                  max_block: int = 200) -> tuple[DataFrame, DataFrame]:
    """(doc_id, key) blocking table + (key, n_docs) dropped-hot-keys
    metrics.  Keys: lowercased tokens (len ≥ 3, non-numeric, non-stop)
    and char-n-grams of the distinctive tokens."""
    tok_keys = (profiles
                .select("doc_id", F.explode("tokens").alias("tok"))
                .where((F.length("tok") >= 3)
                       & ~F.col("tok").isin(*sorted(_STOPWORDS)))
                .select("doc_id", F.col("tok").alias("key")))
    if ngram > 0:
        gram_keys = (tok_keys
                     .where(F.length("key") >= ngram + 2)
                     .select("doc_id",
                             F.explode(F.expr(
                                 f"transform(sequence(1, length(key) - {ngram - 1}),"
                                 f" i -> substring(key, i, {ngram}))")).alias("key"))
                     .select("doc_id", F.concat(F.lit("g:"), "key").alias("key")))
        keys = tok_keys.unionByName(gram_keys).distinct()
    else:
        keys = tok_keys.distinct()
    # NOTE: exact duplicates are NOT entrusted to blocking at all —
    # _doc_rep_star() links identical profiles directly (O(n) star
    # edges per dup group, immune to both the hot-key cap and the
    # meta-blocking min_shared prune).  Blocking only has to recall
    # non-identical near-duplicates.
    sizes = keys.groupBy("key").agg(F.countDistinct("doc_id").alias("n_docs"))
    hot = sizes.where(F.col("n_docs") > max_block)
    # inner-join the under-cap sizes instead of anti-joining the hot
    # set: same kept rows, but each carries its document frequency as
    # ``df`` — candidate_pairs' rare-key bypass then reuses this
    # aggregation instead of re-shuffling the key table to recount
    kept = (keys.join(sizes.where(F.col("n_docs") <= max_block)
                      .select("key", F.col("n_docs").alias("df")), on="key"))
    return kept, hot


def representative_profiles(profiles: DataFrame) -> DataFrame:
    """One row per DISTINCT profile (the group's min doc_id).

    Dedup-before-ER: identical-profile docs are linked by
    _doc_rep_star star edges, so blocking / candidate pairs /
    scoring only ever need ONE member per identical-profile group — a
    non-rep member scores identically to its rep against every other
    doc, and connected components merges the star.  In dup-heavy
    corpora (the normal case for a dedup workload) this shrinks the
    pair volume quadratically for free.  ``tokens`` is determined by
    ``profile`` (profile = array_join(tokens)), so any group member's
    tokens are the group's tokens; ``id_kv`` (keys are not in the
    profile) is the rep doc's own."""
    return (profiles.groupBy("profile")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.first("tokens").alias("tokens"),
                 F.min_by("id_kv", "doc_id").alias("id_kv"))
            .select("doc_id", "tokens", "profile", "id_kv"))


# ------------------------------------------------------------------ 3
_PAIR_SCHEMA = T.StructType([
    T.StructField("doc_a", T.StringType()),
    T.StructField("doc_b", T.StringType()),
    T.StructField("score", T.DoubleType()),
    # True ⇒ the pair was rejected by the native upper bound WITHOUT
    # computing its true score; ``score`` is then an upper bound on the
    # true score (guaranteed < the decision threshold), not the score
    # itself.  Consumers re-thresholding at a lower cutoff must filter
    # on this flag instead of trusting ``score``.
    T.StructField("rejected", T.BooleanType()),
])


#: meta-blocking defaults shared by every caller of candidate_pairs —
#: resolve_entities records them in er_scored's identity
MIN_SHARED = 2
RARE_DF = 16


def candidate_pairs(keys: DataFrame, min_shared: int = MIN_SHARED,
                    rare_df: int = RARE_DF) -> DataFrame:
    """Self-join on blocking key; doc_a < doc_b dedups orientation.
    AQE skew-join handles residual hot keys.

    Meta-blocking (common-block scheme): a pair must co-occur in
    ``min_shared`` blocks to become a candidate.  True near-duplicates
    share many token/char-n-gram keys, while the spurious bulk of the
    candidate set shares exactly one mid-frequency key — the same
    groupBy that dedups pair orientation counts shared keys for free,
    so the prune costs nothing and cuts the downstream profile-join +
    scoring volume severalfold.

    Rare-key bypass (``rare_df``): a pair sharing even ONE key whose
    document frequency is ≤ ``rare_df`` is admitted regardless of
    ``min_shared``.  Near-unique keys (identifier tokens) are
    high-precision blocks on their own, and as the corpus grows past
    the point where every SECOND key type crosses the ``max_block``
    hot cap, they become the only shared block a true near-dup pair
    has — without the bypass, blocking recall cliffs (measured on the
    synth corpus: cluster-pair recall 0.97 at 1M docs → 0.36 at 3M,
    restored by the bypass; BENCH/ANALYSIS.md round-5).  Cost is
    bounded: a rare key yields ≤ C(rare_df, 2) pairs, so the extra
    candidate volume is O(#rare keys) = O(n) with constant ≤ 120.
    The pairs are still scored + thresholded — the bypass admits
    candidates, it never accepts them.  ``rare_df=0`` disables.

    Residual tradeoff: near-dups whose only shared key is a single
    MID-frequency token (df between ``rare_df`` and ``max_block``)
    remain pruned.  Exact duplicates are unaffected — they never rely
    on blocking (see _doc_rep_star)."""
    if min_shared > 1 and rare_df > 0:
        if "df" in keys.columns:
            # blocking_keys already carries per-key document frequency
            # — no extra aggregation/shuffle needed
            keyed = keys
        else:
            # bare (doc_id, key) input: countDistinct, not count(*) —
            # duplicate (doc_id, key) rows from a non-blocking_keys
            # caller would otherwise inflate df and silently distort
            # the rare-key bypass (ADVICE r05); the (key, df) agg
            # shares the join's hash partitioning on key
            sizes = (keys.groupBy("key")
                     .agg(F.countDistinct("doc_id").alias("df")))
            keyed = keys.join(sizes, on="key")
    else:
        keyed = keys.drop("df")
    a = keyed.alias("a")
    b = keyed.alias("b")
    cols = [F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b")]
    if min_shared > 1 and rare_df > 0:
        cols.append(F.col("a.df").alias("df"))
    pairs = (a.join(b, on="key")
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(*cols))
    if min_shared <= 1:
        return pairs.distinct()
    if rare_df > 0:
        return (pairs.groupBy("doc_a", "doc_b")
                .agg(F.count("*").alias("n_shared"),
                     F.min("df").alias("min_df"))
                .where((F.col("n_shared") >= min_shared)
                       | (F.col("min_df") <= rare_df))
                .drop("n_shared", "min_df"))
    return (pairs.groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared)
            .drop("n_shared"))


def token_idf(profiles: DataFrame, min_df: int = 5,
              max_terms: int = 200_000) -> tuple[dict[str, float], float]:
    """IDF weights for the *frequent* head of the token distribution.

    Only tokens with document frequency ≥ ``min_df`` ship to executors
    (Zipf head — bounded size at any corpus scale); everything else is
    rare and defaults to the max idf.  One groupBy + a bounded collect.
    """
    n_docs = profiles.count()
    import math
    rows = (profiles.select(F.explode("tokens").alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("df"))
            .where(F.col("df") >= min_df)
            .orderBy(F.desc("df")).limit(max_terms)
            .collect())
    default_idf = math.log(max(n_docs, 2) / 1.0)
    return ({r["tok"]: math.log(max(n_docs, 2) / r["df"]) for r in rows},
            default_idf)


def augment_profiles(profiles: DataFrame,
                     idf_df: DataFrame | None = None,
                     default_idf: float = 10.0) -> DataFrame:
    """profiles + per-doc scoring structures as NATIVE columns:
    ``tok_w`` map<token,idf-weight>, ``wsum`` Σweights, ``first_chars``
    (distinct first chars of alpha tokens), ``digit_toks``.

    These are exactly the memoized per-doc sets the Python kernel used
    to build per batch — precomputing them once per doc JVM-side lets
    the upper-bound rejection run as whole-plan native expressions.
    One explode + broadcast-idf join (narrow) + a doc_id groupBy that
    reuses profiles' existing doc_id distribution."""
    toks = profiles.select("doc_id", F.explode("tokens").alias("tok"))
    if idf_df is not None:
        toks = (toks.join(F.broadcast(idf_df), on="tok", how="left")
                .withColumn("w", F.coalesce("idf", F.lit(default_idf)))
                .drop("idf"))
    else:
        toks = toks.withColumn("w", F.lit(1.0))
    agg = (toks.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("tok", "w"))).alias("tok_w"),
        F.sum("w").alias("wsum"),
        F.array_sort(F.collect_set(
            F.when(~F.col("tok").rlike("[0-9]"),
                   F.substring("tok", 1, 1)))).alias("first_chars"),
        # digit/alpha split precomputed per DOC so the per-PAIR bound
        # expressions never run a regex inside their lambdas
        F.array_sort(F.collect_set(
            F.when(F.col("tok").rlike("[0-9]"),
                   F.col("tok")))).alias("digit_toks"),
        F.array_sort(F.collect_set(
            F.when(~F.col("tok").rlike("[0-9]"),
                   F.col("tok")))).alias("alpha_toks")))
    return profiles.join(agg, on="doc_id")


def _wsum_expr(mapcol: str, arr: str, default_idf: float) -> str:
    """SQL: Σ over ``arr`` of the idf weight from ``mapcol``."""
    return (f"aggregate({arr}, cast(0 as double), (acc, t) -> "
            f"acc + coalesce(element_at({mapcol}, t), "
            f"cast({default_idf} as double)))")


#: SQL over two ``id_kv`` arrays (doc_profiles): the key-aware
#: identifier veto — some normalized key carries a digit entry on one
#: side that the other side, which has the same key, lacks.  A typo
#: (``2y`` vs ``2``) or attributes dropped differently on each side
#: (``h7`` under cell line vs ``1`` under passage) is not a conflict.
#: Scalar spec: functions/similarity.py:kv_conflict.
_KV_CONFLICT = (
    "exists(array_except({a}, {b}), e -> exists({b}, f -> "
    "substring_index(f, '=', 1) = substring_index(e, '=', 1))) OR "
    "exists(array_except({b}, {a}), e -> exists({a}, f -> "
    "substring_index(f, '=', 1) = substring_index(e, '=', 1)))")


#: augmented-profile row count up to which score_pairs broadcasts the
#: profiles to both pair joins
ER_BROADCAST_PROFILES_MAX = 200_000


def score_pairs(pairs: DataFrame, profiles: DataFrame,
                idf: dict[str, float] | None = None,
                default_idf: float = 10.0,
                prefilter_jaccard: float = 0.2,
                reject_below: float | None = None) -> DataFrame:
    """(doc_a, doc_b, score, rejected) via one mapInPandas pass fusing
    IDF-weighted token similarity + JW + Levenshtein-ratio (vectorized
    Arrow batches).

    A native exact-token Jaccard prefilter runs first (whole-stage
    codegen, no Python): candidate pairs sharing only a template token
    sit far below any plausible match threshold and dominate the
    candidate set — pruning them JVM-side keeps the Python kernel off
    the hot path.

    When ``reject_below`` is set, a sound NATIVE upper bound on the
    kernel score (higher-order functions over precomputed per-doc
    weight maps — see augment_profiles) is attached JVM-side; rows
    below the bound skip per-row Python entirely (a vectorized numpy
    mask inside the same Arrow batch), report ``rejected = True``, and
    carry ``score = upper_bound - 0.2`` — an UPPER BOUND on the pair's
    true partial score, not the true score.  It is guaranteed
    < reject_below, so thresholding at ``>= reject_below`` is exact;
    consumers re-thresholding LOWER must filter on ``rejected``.

    The identifier veto caps a pair at ``ID_CONFLICT_CAP``.  With
    ``idf`` it is key-aware (:data:`_KV_CONFLICT` over the profiles'
    ``id_kv``, evaluated natively); the ``idf=None`` native scorer keeps
    the value-only ``batch_id_conflict`` its DuckDB oracles replicate.

    A per-row short-circuit keeps the HOF bound off byte-identical
    profiles (lazy IF — the bound expression never evaluates; they
    score 1.0 directly).
    """
    spark = pairs.sparkSession
    aug = reject_below is not None
    key_veto = idf is not None
    prof = profiles
    a_extra, b_extra = [], []
    if aug:
        idf_df = None
        if idf:
            idf_df = local_frame(
                spark, [(k, float(v)) for k, v in idf.items()],
                "tok string, idf double")
        prof = augment_profiles(profiles, idf_df, default_idf)
        # the augmented frame feeds BOTH sides of the pairs join —
        # without a materialization the explode+join+groupBy subtree
        # runs twice (measured 90.7 s vs 33.4 s for the native scoring
        # plan at 300k docs); one row per doc, bounded memory
        prof = prof.localCheckpoint(eager=True)
        a_extra = [F.col("tok_w").alias("mw_a"), F.col("wsum").alias("wsum_a"),
                   F.col("first_chars").alias("fc_a"),
                   F.col("digit_toks").alias("dg_a"),
                   F.col("alpha_toks").alias("al_a")]
        b_extra = [F.col("tok_w").alias("mw_b"), F.col("wsum").alias("wsum_b"),
                   F.col("first_chars").alias("fc_b"),
                   F.col("digit_toks").alias("dg_b"),
                   F.col("alpha_toks").alias("al_b")]
    if key_veto:
        a_extra.append(F.col("id_kv").alias("kv_a"))
        b_extra.append(F.col("id_kv").alias("kv_b"))
    # Join strategy (guide §3.1): Catalyst sizes a localCheckpoint child
    # at defaultSizeInBytes, so the two profile-enrichment joins plan as
    # shuffle joins even when the profile side is a few thousand rows —
    # shuffling the pair table (and its heavy map/array payload) three
    # times (join a, join b, CPU repartition).  When the MATERIALIZED
    # profile frame is provably small (a cheap count on the checkpoint,
    # bounded by ER_BROADCAST_PROFILES_MAX rows ≈ low hundreds of MB
    # framed), broadcast it to both joins and repartition the LIGHT
    # id-only pair table up front instead — the heavy enriched rows then
    # never cross an exchange at all.  At corpus scale the count exceeds
    # the cap and the plan falls back to the shuffle-join shape
    # unchanged (scale-adaptive, not a local-only tune).
    sc = pairs.sparkSession.sparkContext
    use_bcast = aug and prof.count() <= ER_BROADCAST_PROFILES_MAX
    prof_a = prof.select(F.col("doc_id").alias("doc_a"),
                         F.col("profile").alias("prof_a"),
                         F.col("tokens").alias("toks_a"), *a_extra)
    prof_b = prof.select(F.col("doc_id").alias("doc_b"),
                         F.col("profile").alias("prof_b"),
                         F.col("tokens").alias("toks_b"), *b_extra)
    if use_bcast:
        pairs_sp = pairs.repartition(sc.defaultParallelism * 3)
        enriched = (pairs_sp.join(F.broadcast(prof_a), on="doc_a")
                    .join(F.broadcast(prof_b), on="doc_b"))
    else:
        enriched = pairs.join(prof_a, on="doc_a").join(prof_b, on="doc_b")
    enriched = enriched.withColumn(
        "j0", F.size(F.array_intersect("toks_a", "toks_b"))
        / F.size(F.array_union("toks_a", "toks_b")))
    if prefilter_jaccard > 0:
        enriched = enriched.where(F.col("j0") >= prefilter_jaccard)
    # CPU-bound stages must be partitioned by cores, not bytes: AQE's
    # byte-advisory coalescing starves per-row compute of parallelism
    # (measured 9 tasks/52 s vs 45 tasks/39 s on this very stage), so
    # repartition FIRST, then put both CPU kernels — the native
    # levenshtein and the Python scorer — downstream of that exchange.
    # In the broadcast shape the exchange already happened on the
    # id-only pairs above; broadcast joins preserve it.
    if not use_bcast:
        enriched = enriched.repartition(sc.defaultParallelism * 3)

    lr_expr = ("IF(greatest(length(prof_a), length(prof_b)) = 0, "
               "cast(1.0 as double), 1.0 - levenshtein(prof_a, prof_b) "
               "/ cast(greatest(length(prof_a), length(prof_b)) as double))")
    if aug:
        # Sound upper bound on the kernel score, all native set/HOF ops:
        # exact tokens give full credit; a non-shared alpha token can
        # earn at most w(t) and only when the other side has a token
        # with the same first char (the kernel's own candidate rule);
        # digit tokens earn only exact credit (mutually-exclusive digit
        # tokens additionally inflate the denominator); JW ≤ 1.
        # Lazy IF: identical profiles never evaluate the HOF bound at
        # all (2.0 = "must run the kernel").
        # NOTE a two-tier "skip levenshtein when the token-only bound
        # already rejects" variant was measured WORSE (70 s vs 51 s at
        # 300k docs): the tier needs the token bound referenced from two
        # downstream columns and CollapseProject inlines the expensive
        # HOF aggregate twice — one fused expression wins.
        d = default_idf
        alpha_near = ("filter(array_except(al_{x}, toks_{y}), t -> "
                      "array_contains(fc_{y}, substring(t, 1, 1)))")
        num_ub = (
            f"2 * {_wsum_expr('mw_a', 'array_intersect(toks_a, toks_b)', d)}"
            f" + {_wsum_expr('mw_a', alpha_near.format(x='a', y='b'), d)}"
            f" + {_wsum_expr('mw_b', alpha_near.format(x='b', y='a'), d)}")
        den = (
            "wsum_a + wsum_b + IF("
            "size(array_except(dg_a, toks_b)) > 0 "
            "AND size(array_except(dg_b, toks_a)) > 0, "
            f"{_wsum_expr('mw_a', 'array_except(dg_a, toks_b)', d)}"
            f" + {_wsum_expr('mw_b', 'array_except(dg_b, toks_a)', d)}, "
            "cast(0 as double))")
        bound = (f"0.65 * IF(({den}) = 0, cast(1.0 as double), "
                 f"({num_ub}) / ({den})) + 0.15 * lr + 0.2")
        # also skipping pairs with j0 >= 0.5 measured 2.7x / 1.1x SLOWER
        # at 2k / 20k synth docs: the bound is far cheaper than the kernel
        enriched = (enriched
                    .withColumn("lr", F.expr(lr_expr))
                    .withColumn("upper", F.expr(
                        f"IF(prof_a = prof_b, cast(2.0 as double), {bound})")))
    else:
        enriched = enriched.withColumn("lr", F.expr(lr_expr))
    if key_veto:
        enriched = enriched.withColumn(
            "id_conf", F.expr(_KV_CONFLICT.format(a="kv_a", b="kv_b")))

    from ..functions.similarity import ID_CONFLICT_CAP

    # broadcast the idf dict: a plain closure capture re-serializes it
    # into every task and unpickles it per task; a broadcast ships and
    # unpickles once per executor/python worker
    bc_idf = (pairs.sparkSession.sparkContext.broadcast(idf)
              if idf is not None else None)

    rb = reject_below

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Whole-batch numpy scoring — NO per-row Python anywhere
        (BASELINE.json input_hint).  The kernels live in
        functions/similarity_vec.py; their scalar executable spec in
        functions/similarity.py is equivalence-pinned by
        tests/test_similarity_vec.py."""
        idf_local = bc_idf.value if bc_idf is not None else None
        import numpy as np

        from ..functions.similarity_vec import (
            batch_id_conflict,
            batch_jaro_winkler,
            batch_soft_weighted_jaccard,
        )

        for pdf in batches:
            n = len(pdf)
            pa_v = pdf["prof_a"].to_numpy()
            pb_v = pdf["prof_b"].to_numpy()
            eq = pa_v == pb_v  # identical profiles: score 1.0, no kernel
            if rb is not None:
                # the native upper bound already ran JVM-side: rows
                # below the decision threshold skip the batch kernels
                # entirely (vectorized mask); their reported score is
                # the bound minus the JW cap (an UPPER bound on the
                # true partial score — documented in score_pairs).
                ub = pdf["upper"].to_numpy(dtype=float)
                scores = np.where(eq, 1.0, ub - 0.2)
                rejected = (~eq) & (ub < rb)
                todo = np.nonzero((ub >= rb) & ~eq)[0]
            else:
                scores = np.where(eq, 1.0, 0.0)
                rejected = np.zeros(n, dtype=bool)
                todo = np.nonzero(~eq)[0]
            if todo.size:
                lr_t = pdf["lr"].to_numpy(dtype=float)[todo]
                if idf_local is None:
                    # exact token-set Jaccard ≡ the native j0 column —
                    # already computed JVM-side, zero Python work
                    jac = pdf["j0"].to_numpy(dtype=float)[todo]
                else:
                    jac = batch_soft_weighted_jaccard(
                        pdf["toks_a"].to_numpy()[todo],
                        pdf["toks_b"].to_numpy()[todo],
                        idf_local, default_idf)
                partial = 0.65 * jac + 0.15 * lr_t
                sc_t = partial.copy()
                # JW can add at most 0.2 — skip it when the pair cannot
                # reach the decision region anyway
                need = partial + 0.2 >= 0.60
                if need.any():
                    rows = todo[need]
                    jw = batch_jaro_winkler(pa_v[rows], pb_v[rows])
                    full = partial[need] + 0.2 * jw
                    if idf_local is None:
                        conf = batch_id_conflict(
                            pdf["toks_a"].to_numpy()[rows],
                            pdf["toks_b"].to_numpy()[rows])
                    else:
                        conf = pdf["id_conf"].to_numpy(dtype=bool)[rows]
                    sc_t[need] = np.where(
                        (full > ID_CONFLICT_CAP) & conf,
                        ID_CONFLICT_CAP, full)
                scores[todo] = sc_t
            yield pd.DataFrame({"doc_a": pdf["doc_a"],
                                "doc_b": pdf["doc_b"],
                                "score": scores,
                                "rejected": rejected})

    cols = ["doc_a", "doc_b", "prof_a", "prof_b", "toks_a", "toks_b", "lr",
            "j0"]
    if aug:
        cols.append("upper")
    if key_veto:
        cols.append("id_conf")
    return (enriched.select(*cols)
            .mapInPandas(score_batches, schema=_PAIR_SCHEMA))


# ------------------------------------------------------------------ 4
#: edge count up to which connected_components labels on the driver
CC_DRIVER_MAX_EDGES = 1_000_000


def _driver_components(edges: DataFrame) -> DataFrame:
    """Min-id union-find over edges collected once as Arrow (no ``Row``
    objects).  Python compares ``str`` by code point and Spark by UTF-8
    byte, and the two orders agree, so the roots match the rounds'."""
    t = edges.select("doc_a", "doc_b").toArrow()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(t.column("doc_a").to_pylist(),
                    t.column("doc_b").to_pylist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    typ = edges.schema["doc_a"].dataType.simpleString()
    return local_frame(edges.sparkSession, [(n, find(n)) for n in parent],
                       f"doc_id {typ}, cluster_id {typ}")


def connected_components(edges: DataFrame, max_iter: int = 20,
                         num_salts: int = 0) -> DataFrame:
    """Connected components of (doc_a, doc_b) edges → (doc_id,
    cluster_id), the component's minimum id as cluster_id.  Batch ER,
    the incremental landing and q27 all label through here.

    The path follows the input size: an early-stopping count of at most
    :data:`CC_DRIVER_MAX_EDGES` + 1 rows decides.  Up to the cap the
    edges are collected once and a driver union-find labels them (two
    jobs, whatever the graph's diameter).  Above it, alternating
    large-star / small-star rounds run distributed: two
    self-join+aggregate passes per round, O(log n) rounds, a LAZY
    localCheckpoint per round to cut lineage, and one driver-sync job
    per round (the convergence count materializes that round's
    checkpoint in the same job).

    Skew (rounds path): the min-neighbor aggregations partial-aggregate
    map-side (no salting needed); the edge⋈min-neighbor self-joins are
    skewed on hub nodes and rely on AQE skew-join splitting by default.
    Pass ``num_salts > 0`` to instead salt those joins explicitly
    (functions/skew.py) — for clusters without AQE or with known a
    priori hubs; output labels are identical either way
    (tests/test_er.py::test_cc_salted_join_equivalence).
    """
    if edges.limit(CC_DRIVER_MAX_EDGES + 1).count() <= CC_DRIVER_MAX_EDGES:
        return _driver_components(edges)

    def join_m(E: DataFrame, M: DataFrame) -> DataFrame:
        if num_salts > 0:
            from ..functions.skew import salted_join
            return salted_join(E, M, "u", num_salts,
                               scatter_cols=["v"])
        return E.join(M, on="u")

    def sym_dedup(p: DataFrame) -> DataFrame:
        # ONE exchange per star step: hash-partition the symmetric edge
        # list by u, then dedup on (u, v) WITHOUT a second exchange —
        # HashPartitioning(u) satisfies ClusteredDistribution([u, v]),
        # and the min-neighbor groupBy(u) and the e⋈m join downstream
        # reuse the same partitioning, so the whole star step runs on a
        # single shuffle (was: distinct's (u,v) exchange + the join's u
        # exchange + small-star's extra distinct; measured 7.5 s → 4.2 s
        # on the q27 edge set, identical labels).  Trade-off: a hub
        # node's rows dedup in one task instead of spreading over the
        # (u, v) hash space — bounded because large-star breaks hubs
        # after one round, and callers with known a-priori giant hubs
        # use num_salts > 0 (which keeps its own scatter layout).
        two = p.unionByName(p.select(F.col("v").alias("u"),
                                     F.col("u").alias("v")))
        return two.repartition("u").dropDuplicates(["u", "v"])

    def converged(E: DataFrame) -> bool:
        # Direct fixed-point test instead of a changed-since-last-round
        # signature: the alternating algorithm's fixed point is exactly
        # a star forest rooted at per-component minima — every node
        # either sees only LARGER neighbors (a root) or exactly one
        # SMALLER neighbor (a leaf pointing at its root).  Violations
        # are countable in one aggregation that reuses sym_dedup's
        # hash(u) partitioning (no exchange), and the count() action
        # doubles as the job that materializes the round's lazy
        # checkpoint — so convergence is detected ON the round that
        # reaches the fixed point, saving the signature scheme's extra
        # confirmation round (and short-circuiting inputs that are
        # already star forests before any round runs).
        viol = (E.groupBy("u")
                .agg(F.min("v").alias("_mn"), F.max("v").alias("_mx"),
                     F.count("*").alias("_c"))
                .where(~((F.col("_mn") > F.col("u"))
                         | ((F.col("_mx") < F.col("u"))
                            & (F.col("_c") == 1)))))
        return viol.isEmpty()

    # symmetric edge list (u, v), self-loops implicit via least() below
    e = sym_dedup(edges.select(F.col("doc_a").alias("u"),
                               F.col("doc_b").alias("v")))
    # lazy: the convergence test below materializes the checkpoint and
    # answers in the same driver sync
    e = e.localCheckpoint(eager=False)

    def min_neighbor(E: DataFrame) -> DataFrame:
        return (E.groupBy("u")
                .agg(F.least(F.min("v"), F.first("u")).alias("m")))

    for _ in range(max_iter):
        if converged(e):
            break
        # large-star: for v ∈ N(u) with v > u attach v to m(u)
        m = min_neighbor(e)
        ls = (join_m(e, m)
              .where(F.col("v") > F.col("u"))
              .select(F.col("v").alias("u"), F.col("m").alias("v"))
              .where(F.col("u") != F.col("v")))
        e = sym_dedup(ls)
        # small-star: for v ∈ N(u) with v ≤ u attach v (and u) to m(u)
        m = min_neighbor(e)
        ss_pairs = (join_m(e, m)
                    .where(F.col("v") <= F.col("u"))
                    .select(F.col("v").alias("u"), F.col("m").alias("v"))
                    .unionByName(m.select(F.col("u"), F.col("m").alias("v"))))
        ss = ss_pairs.where(F.col("u") != F.col("v"))
        e = sym_dedup(ss).localCheckpoint(eager=False)

    # after convergence every node points at its component minimum
    labels = (e.groupBy("u").agg(F.min("v").alias("root"))
              .select(F.col("u").alias("doc_id"),
                      F.least("root", "u").alias("cluster_id")))
    return labels


def assign_clusters(documents: DataFrame, labels: DataFrame) -> DataFrame:
    """Every doc gets a cluster; singletons are their own cluster."""
    return (documents.select("doc_id")
            .join(labels, on="doc_id", how="left")
            .select("doc_id",
                    F.coalesce("cluster_id", "doc_id").alias("cluster_id")))


# ------------------------------------------------------------------ 5
def cluster_terms(clusters: DataFrame, mapped_terms: DataFrame) -> DataFrame:
    """(cluster_id, term_id) — canonical union of member mapped terms."""
    return (clusters.join(mapped_terms, on="doc_id")
            .select("cluster_id", "term_id").distinct())


# ------------------------------------------------------------ harness
def _doc_rep_star(profiles: DataFrame,
                  reps: DataFrame) -> tuple[DataFrame, DataFrame]:
    """doc→rep map + exact-dup star edges: identical-profile docs link
    directly (score 1.0) — perfect dedup recall independent of blocking
    caps/prunes; derived from the doc→rep map (one join) rather than a
    second window pass."""
    doc_rep = (profiles
               .join(reps.select(F.col("doc_id").alias("rep"), "profile"),
                     on="profile")
               .select("doc_id", "rep"))
    star = (doc_rep.where(F.col("doc_id") != F.col("rep"))
            .select(F.col("rep").alias("doc_a"),
                    F.col("doc_id").alias("doc_b"),
                    F.lit(1.0).alias("score"),
                    F.lit(False).alias("rejected")))
    return doc_rep, star


def _identity(threshold: float, ngram: int, max_block: int,
              scorer: str) -> dict:
    """What er_scored, er_labels and the job's ER outputs depend on
    beyond their input frames: a durable snapshot resumes only under the same
    blocking and scoring parameters."""
    return {"blocking-min-shared": MIN_SHARED, "blocking-rare-df": RARE_DF,
            "blocking-max-block": max_block, "blocking-ngram": ngram,
            "score-threshold": threshold, "scorer": scorer}


def resolve_entities(spark: SparkSession, documents: DataFrame,
                     threshold: float = 0.65, ngram: int = 4,
                     max_block: int = 200,
                     snap: Snapshotter | None = None, *,
                     _scorer: str = "softtfidf") -> dict[str, DataFrame]:
    """Full ER pass → {profiles, pairs, clusters, hot_keys,
    match_metrics}.

    ``snap`` (a :class:`..ops.Snapshotter`, default in-memory
    :class:`..ops.LocalSnapshotter`) makes every durability decision:
    ``er_profiles``, ``er_reps``, ``er_scored`` (blocking + pairwise
    scoring, the wall) and ``er_labels`` (transitive clustering) are
    its cuts.  ``er_scored`` and ``er_labels`` carry the blocking and
    scoring parameters as their identity, so a durable snapshotter
    resumes them only for a re-run with the same parameters, and a
    committed ``er_scored`` skips blocking, the IDF collect and the
    Arrow scoring kernel entirely.  ``match_metrics`` (candidate /
    accepted / rejected / star-edge pair counts) is returned lazy.

    ``_scorer="native"`` is :func:`resolve_entities_native`'s
    configuration (no IDF, no native bound)."""
    if snap is None:
        snap = LocalSnapshotter()
    native = _scorer == "native"
    identity = _identity(threshold, ngram, max_block, _scorer)
    profiles = snap.cut(doc_profiles(documents), "er_profiles")
    # checked before the IDF collect: a committed er_scored needs no IDF
    scored = snap.committed("er_scored", identity)
    # IDF over the FULL corpus (true document frequencies, dups and all)
    # and the rep dedup both depend only on the materialized profiles —
    # run the IDF collect and the reps cut CONCURRENTLY (guide §2.6;
    # FAIR scheduler is session default).
    # dedup-before-ER: blocking + pairwise scoring see one rep per
    # distinct profile; identical-profile members attach via star edges
    # and CC merges the groups — pair volume shrinks quadratically in
    # dup-heavy data with identical clustering output
    with ThreadPoolExecutor(max_workers=2) as ex:
        f_reps = ex.submit(lambda: snap.cut(
            representative_profiles(profiles), "er_reps"))
        f_idf = (ex.submit(token_idf, profiles)
                 if scored is None and not native else None)
        reps = f_reps.result()
        idf, default_idf = f_idf.result() if f_idf else (None, 10.0)
    keys, hot = blocking_keys(reps, ngram=ngram, max_block=max_block)
    if scored is None:
        scored = snap.cut(
            score_pairs(candidate_pairs(keys), reps, idf=idf,
                        default_idf=default_idf,
                        reject_below=None if native else threshold),
            "er_scored", identity)

    # Star contraction: CC only ever sees the rep-level near-dup graph
    # (scored pairs are rep-vs-rep by construction); identical-profile
    # members attach to their rep's component with one narrow join
    # afterwards instead of entering CC as star edges.
    doc_rep, star = _doc_rep_star(profiles, reps)
    # checked before connected_components, which counts the edges and
    # labels them (union-find or rounds) EAGERLY at construction
    labels = snap.committed("er_labels", identity)
    if labels is None:
        rep_edges = (scored.where(F.col("score") >= threshold)
                     .where(~F.col("rejected")))
        rep_labels = connected_components(rep_edges)
        labels = snap.cut(
            doc_rep.join(rep_labels.withColumnRenamed("doc_id", "rep"),
                         on="rep", how="left")
            .select("doc_id",
                    F.coalesce("cluster_id", "rep").alias("cluster_id")),
            "er_labels", identity)
    clusters = assign_clusters(documents, labels)
    metrics = (scored
               .select(F.count("*").alias("candidate_pairs"),
                       F.sum(((F.col("score") >= threshold)
                              & ~F.col("rejected")).cast("long"))
                       .alias("accepted_pairs"),
                       F.sum(F.col("rejected").cast("long"))
                       .alias("rejected_pairs"))
               .crossJoin(star.select(F.count("*").alias("star_edges"))))
    return {"profiles": profiles, "pairs": scored.unionByName(star),
            "clusters": clusters, "hot_keys": hot,
            "match_metrics": metrics}


def resolve_entities_native(spark: SparkSession, documents: DataFrame,
                            threshold: float = 0.65,
                            max_block: int = 200) -> dict[str, DataFrame]:
    """ER with the NATIVE-ONLY scorer — a deterministic, SQL-expressible
    configuration used as the DuckDB-oracled correctness anchor for the
    full pipeline (driver query q93_er_native).

    Same body as :func:`resolve_entities` (dedup-before-blocking,
    token blocking with hot-key cap, meta-blocking min_shared=2,
    star-contracted connected components); the scorer drops the IDF
    SoftTFIDF kernel for the closed-form composite
    ``0.65·exact-token-Jaccard + 0.15·levenshtein-ratio + 0.2·JW`` —
    every term replicable in ANSI-ish SQL (DuckDB ``jaro_similarity`` +
    explicit Winkler prefix boost, native ``levenshtein``, list ops),
    so blocking, scoring, thresholding AND the transitive clustering are
    all checked hash-exact against an independent engine.  ``ngram=0``
    keeps the oracle's blocking CTE to token keys.
    """
    return resolve_entities(spark, documents, threshold=threshold,
                            ngram=0, max_block=max_block, _scorer="native")


def pairwise_f1(scored_pairs: DataFrame, truth: DataFrame,
                threshold: float) -> dict[str, float]:
    """P/R/F1 of ``score ≥ threshold`` against ground-truth entity ids,
    evaluated over the candidate pairs (labeled pairs at the same
    blocking keys, per BASELINE.json)."""
    t_a = truth.select(F.col("doc_id").alias("doc_a"),
                       F.col("entity_id").alias("ent_a"))
    t_b = truth.select(F.col("doc_id").alias("doc_b"),
                       F.col("entity_id").alias("ent_b"))
    # a pair may be present twice (candidate-scored + exact-dup star
    # edge) — max per pair keeps the eval one-row-per-pair
    scored_pairs = (scored_pairs.groupBy("doc_a", "doc_b")
                    .agg(F.max("score").alias("score")))
    j = (scored_pairs.join(t_a, on="doc_a").join(t_b, on="doc_b")
         .select((F.col("score") >= threshold).alias("pred"),
                 (F.col("ent_a") == F.col("ent_b")).alias("actual")))
    agg = j.agg(
        F.sum(F.when(F.col("pred") & F.col("actual"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("actual"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("actual"), 1).otherwise(0)).alias("fn"),
    ).first()
    tp, fp, fn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0
    p = tp / (tp + fp) if tp + fp else 1.0
    r = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"precision": p, "recall": r, "f1": f1,
            "tp": tp, "fp": fp, "fn": fn}
