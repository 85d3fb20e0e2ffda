"""The 29 p_53 pipeline stages as pure DataFrame → DataFrame transforms.

Stage order and semantics mirror ``run_pipeline.py:180-211`` /
``pipeline_components.py`` (citations per stage).  The reference mutates a
per-document object graph; here the graph is flattened into long-format
frames:

- ``kv``      (doc_id, key, value, key_start, key_end, val_start, val_end)
- ``tok``     (doc_id, token, start, end)   — TokenNode identity
- ``matches`` (doc_id, token, start, end, target_id, match_target, edit_dist)
- ``inf``     (doc_id, src_id, dst_id, itype) — Inference edges
- ``rv``      (doc_id, property_id, value, unit_id, consequent)

Token identity (token, start, end) is load-bearing (interval = source text
region, text_reasoning_graph.py:162-198); dedup on it replaces the graph's
idempotent node insertion.  All lexicon-side joins are broadcast hash
joins; only token dedup and the per-doc windows shuffle, and they all
shuffle on the same doc-keyed partitioning.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..refdata import RefData, local_frame

TOK_COLS = ["doc_id", "token", "start", "end"]
MATCH_COLS = ["doc_id", "token", "start", "end", "target_id",
              "match_target", "edit_dist"]

# terms whose *only* in-edge types are these are flagged consequent
# (pipeline_components.py:176-187)
CONSEQUENT_ITYPES = [
    "Custom consequent term",
    "Linked term of superterm",
    "Cell culture from cell line",
    "Infer developmental stage",
    "Inferred from cell line data",
]

def _is_num():
    # float()-probe parity via native cast (pipeline_components.py:1544-1549)
    return F.col("token").try_cast("double").isNotNull()


def dedup_tokens(tok: DataFrame) -> DataFrame:
    # NOTE r06: a doc_id-aligned variant (repartition(N, doc_id) +
    # dropDuplicates so downstream per-doc joins reuse the layout) was
    # measured and REVERTED: it regressed edges_t10/t9 5-10× at sf0.1 —
    # the explicit exchange loses partial map-side dedup and pins AQE
    # out of its runtime join planning.  Keep the plain dropDuplicates.
    return tok.dropDuplicates(TOK_COLS)


# ---------------------------------------------------------------- F1
def key_value_filter(kv: DataFrame, ref: RefData) -> DataFrame:
    """KeyValueFilter_Stage (pipeline_components.py:264-295): drop kv pairs
    whose key or value is blocklisted.  Two broadcast left-anti joins."""
    out = kv.join(F.broadcast(ref.filter_keys), on="key", how="left_anti")
    return out.join(F.broadcast(ref.filter_values), on="value", how="left_anti")


# ---------------------------------------------------------------- F2
def atcc_key_value_filter(kv: DataFrame, ref: RefData,
                          perform_filter_keys: bool = True,
                          perform_filter_values: bool = True) -> DataFrame:
    """ATCCKeyValueFilter_Stage (pipeline_components.py:1162-1192): the
    cell-line-specific blocklist variant of F1 — drops kv pairs whose key
    (or value) appears in the curated ATCC cell-line filter list.  Same
    broadcast anti-join plan as F1, different side table."""
    out = kv
    if perform_filter_keys:
        out = out.join(F.broadcast(ref.atcc_filter_keys), on="key",
                       how="left_anti")
    if perform_filter_values:
        out = out.join(F.broadcast(ref.atcc_filter_values), on="value",
                       how="left_anti")
    return out


# ---------------------------------------------------------------- F3
def init_tokens(kv: DataFrame) -> DataFrame:
    """InitKeyValueTokens_Stage (pipeline_components.py:238-261): one token
    per key and per value, carrying the running char intervals computed at
    ingest."""
    keys = kv.select("doc_id", F.col("key").alias("token"),
                     F.col("key_start").alias("start"),
                     F.col("key_end").alias("end"))
    vals = kv.select("doc_id", F.col("value").alias("token"),
                     F.col("val_start").alias("start"),
                     F.col("val_end").alias("end"))
    return keys.unionByName(vals)


# ------------------------------------------------------------ T1-T8
DERIV_COLS = ["doc_id", "ptoken", "pstart", "pend",
              "token", "start", "end", "kind"]

_EDGE_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("p", T.StringType()),
    T.StructField("ps", T.IntegerType()),
    T.StructField("pe", T.IntegerType()),
    T.StructField("g", T.StringType()),
    T.StructField("s", T.IntegerType()),
    T.StructField("e", T.IntegerType()),
    T.StructField("k", T.StringType()),
]))

_udf_cache: dict[tuple, object] = {}


def expansion_edges(tok: DataFrame, ref: RefData) -> DataFrame:
    """Stages T1–T8 (NGram → Lowercase → Delimit×4 → Inflectional /
    Spelling variants → ManuallyAnnotatedSynonyms → AcronymToExpansion,
    run_pipeline.py:182-192) fused into one vectorized pandas UDF that
    emits the *derivation edges* (DERIV_COLS; kind = the reference's
    DerivesInto/Inference labels).

    Every one of these stages derives tokens from token *strings* plus
    broadcast side tables — no document context — so the full expansion
    closure is a pure function per string
    (functions/text.py:expand_token_closure_edges).  Evaluating it once
    per corpus-distinct string and joining back replaces a 10-deep
    union-of-unions plan (exponential subtree duplication) with:
    distinct (1 shuffle) → UDF → join back → dedup (1 shuffle).  The
    edge graph feeds exact P3 suppression and mapping_path provenance;
    the token set is its child-node projection (``expand_all_tokens``).
    """
    raw = ref.raw
    syn_sets = [list(s) for s in raw["syn_sets"]]
    member_to_set: dict[str, list[int]] = {}
    for i, ss in enumerate(syn_sets):
        for m in ss:
            member_to_set.setdefault(m, []).append(i)
    acronyms = {k: list(v) for k, v in raw["acronyms"].items()}
    inflections = {k: list(v) for k, v in raw["inflection_variants"].items()}
    spellings = {k: list(v) for k, v in raw["spelling_variants"].items()}

    # fault hook read DRIVER-side and closure-captured (worker env is
    # frozen at python-daemon spawn, so reading it executor-side would
    # race with test setenv)
    import os as _os
    fault = _os.environ.get("SPARK_GRAFT_FAULT_TOKEN")
    key = ("expand_edges", id(ref), fault)
    if key not in _udf_cache:
        from ..functions.text import expand_token_closure_edges

        @F.pandas_udf(_EDGE_SCHEMA)
        def udf(tokens: pd.Series) -> pd.Series:
            # per-string failure isolation (the reference skips-and-logs
            # a bad sample, condor_run_pipeline.py:87-89): an expansion
            # that throws yields a single kind='__error__' edge instead
            # of killing the job; the pipeline routes affected docs to
            # the _errors side table.  SPARK_GRAFT_FAULT_TOKEN is the
            # deterministic fault-injection hook for tests.
            def expand(t):
                try:
                    if fault is not None and t == fault:
                        raise ValueError("injected fault")
                    return [
                        {"p": p, "ps": ps, "pe": pe, "g": g,
                         "s": a, "e": b, "k": k}
                        for p, ps, pe, g, a, b, k in
                        expand_token_closure_edges(
                            t, syn_sets, member_to_set, acronyms,
                            inflections, spellings)
                    ]
                except Exception as ex:  # noqa: BLE001 — isolation seam
                    return [{"p": t, "ps": 0, "pe": 0,
                             "g": f"{type(ex).__name__}: {ex}",
                             "s": 0, "e": 0, "k": "__error__"}]

            return tokens.map(expand)
        _udf_cache[key] = udf
    expand_udf = _udf_cache[key]

    # the UDF stage is CPU-bound Python: pin its parallelism to cores
    # explicitly — an AQE byte-advisory coalesce would otherwise run the
    # whole expansion in 1-2 tasks at benchmark data sizes (same lesson
    # as the ER scorer's pre-kernel repartition)
    par = tok.sparkSession.sparkContext.defaultParallelism * 2
    distinct = tok.select("token").distinct().repartition(par)
    closure = distinct.withColumn("exp", expand_udf("token"))
    return (tok.join(closure, on="token")
            .select("doc_id", F.explode("exp").alias("x"),
                    F.col("start").alias("rstart"))
            .select("doc_id",
                    F.col("x.p").alias("ptoken"),
                    (F.col("rstart") + F.col("x.ps")).cast("int").alias("pstart"),
                    (F.col("rstart") + F.col("x.pe")).cast("int").alias("pend"),
                    F.col("x.g").alias("token"),
                    (F.col("rstart") + F.col("x.s")).cast("int").alias("start"),
                    (F.col("rstart") + F.col("x.e")).cast("int").alias("end"),
                    F.col("x.k").alias("kind"))
            .dropDuplicates(DERIV_COLS))


def tokens_from_edges(roots: DataFrame, edges: DataFrame) -> DataFrame:
    """Token set = root tokens ∪ derivation-edge children."""
    children = edges.select("doc_id", "token", "start", "end")
    return dedup_tokens(roots.select(*TOK_COLS).unionByName(children))


def expand_all_tokens(tok: DataFrame, ref: RefData) -> DataFrame:
    """T1–T8 token set (see ``expansion_edges``); kept for call sites
    that don't need the edge graph."""
    return tokens_from_edges(tok, expansion_edges(tok, ref))


# ------------------------------------------------- side helpers (gating)
def key_side_targets(kv: DataFrame, matches: DataFrame) -> DataFrame:
    """(doc_id, key_start, key_end, val_start, val_end, target_id) for terms
    matched from tokens inside each kv's *key* interval — the flattened
    ``downstream_nodes`` of the key token (derivations preserve or shrink
    intervals, so interval containment ≡ reachability)."""
    return (kv.join(matches, on="doc_id")
            .where((F.col("start") >= F.col("key_start"))
                   & (F.col("end") <= F.col("key_end")))
            .select("doc_id", "key_start", "key_end", "val_start", "val_end",
                    "target_id")
            .distinct())


def tokens_in_value(kv: DataFrame, tok: DataFrame) -> DataFrame:
    """Tokens inside each kv's value interval, tagged with that kv's spans."""
    return (kv.join(tok, on="doc_id")
            .where((F.col("start") >= F.col("val_start"))
                   & (F.col("end") <= F.col("val_end"))
                   & (F.col("val_end") > F.col("val_start")))
            .select("doc_id", "key_start", "val_start", "val_end",
                    "token", "start", "end"))


# ---------------------------------------------------------------- T9
def property_specific_synonyms(kv: DataFrame, tok: DataFrame,
                               matches: DataFrame, ref: RefData,
                               with_edges: bool = False,
                               dedup: bool = True):
    """PropertySpecificSynonym_Stage (pipeline_components.py:415-461): for
    kv pairs whose key mapped to a property with value-synonym sets, expand
    matching value-side tokens by their set (m ↔ male).  With
    ``with_edges`` also returns the DerivesInto("Property-specific
    synonym") derivation edges (:445)."""
    prop_ids = ref.prop_syn_sets.select("property_id").distinct()
    gated_kv = (key_side_targets(kv, matches)
                .join(F.broadcast(prop_ids),
                      F.col("target_id") == F.col("property_id"))
                .select("doc_id", "val_start", "val_end", "property_id")
                .distinct())
    val_toks = (gated_kv.join(tok, on="doc_id")
                .where((F.col("start") >= F.col("val_start"))
                       & (F.col("end") <= F.col("val_end"))))
    expansions = (ref.prop_syn_sets.alias("a")
                  .join(ref.prop_syn_sets.alias("b"),
                        on=["property_id", "set_id"])
                  .where(F.col("a.member") != F.col("b.member"))
                  .select("property_id", F.col("a.member").alias("token"),
                          F.col("b.member").alias("new_token")))
    hit = val_toks.join(F.broadcast(expansions), on=["property_id", "token"])
    new = hit.select("doc_id", F.col("new_token").alias("token"),
                     "start", "end")
    out = tok.unionByName(new)
    if dedup:
        out = dedup_tokens(out)
    if not with_edges:
        return out
    edges = (hit.select("doc_id", F.col("token").alias("ptoken"),
                        F.col("start").alias("pstart"),
                        F.col("end").alias("pend"),
                        F.col("new_token").alias("token"), "start", "end",
                        F.lit("Property-specific synonym").alias("kind"))
             .dropDuplicates(DERIV_COLS))
    return out, edges


# ---------------------------------------------------------------- T7
def cellosaurus_synonyms(tok: DataFrame, ref: RefData,
                         with_edges: bool = False,
                         dedup: bool = True):
    """CellosaurusSynonyms_Stage (pipeline_components.py:356-358, base
    Synonyms_Stage :323-353): every token whose string belongs to a
    Cellosaurus synonym set derives all other members of that set at the
    same character interval.  One broadcast join against the
    pair-expanded set table — the Spark form of the reference's
    per-token set scan."""
    from ..functions.text import EDGE_CVCL_SYNONYM
    sets = ref.cvcl_syn_sets
    expansions = (sets.alias("a").join(sets.alias("b"), on="set_id")
                  .where(F.col("a.member") != F.col("b.member"))
                  .select(F.col("a.member").alias("token"),
                          F.col("b.member").alias("new_token"))
                  .distinct())
    hit = tok.join(F.broadcast(expansions), on="token")
    new = hit.select("doc_id", F.col("new_token").alias("token"),
                     "start", "end")
    out = tok.unionByName(new)
    if dedup:
        out = dedup_tokens(out)
    if not with_edges:
        return out
    edges = (hit.select("doc_id", F.col("token").alias("ptoken"),
                        F.col("start").alias("pstart"),
                        F.col("end").alias("pend"),
                        F.col("new_token").alias("token"), "start", "end",
                        F.lit(EDGE_CVCL_SYNONYM).alias("kind"))
             .dropDuplicates(DERIV_COLS))
    return out, edges


# ---------------------------------------------------------------- T10
_TIME_RE = r"^([0-9]*)\s*(h|hr|mo|d|min)$"
_UNIT_EXPANSION = [("hr", "hour"), ("h", "hour"), ("hrs", "hour"),
                   ("mo", "month"), ("d", "day"), ("min", "minute")]


def parse_time_with_unit(kv: DataFrame, tok: DataFrame, matches: DataFrame,
                         ref: RefData, spark, with_edges: bool = False,
                         dedup: bool = True):
    """ParseTimeWithUnit_Stage (pipeline_components.py:1341-1429): under
    time-typed keys, split '48h' → value token '48' + unit token 'h' + the
    expanded unit synonym 'hour'.  With ``with_edges`` also returns the
    DerivesInto("Parse time and unit") / ("Parse as unit synonym")
    derivation edges (:1415-1427)."""
    time_ids = local_frame(spark, [(t,) for t in ref.time_keys],
                           "target_id: string")
    gated_kv = (key_side_targets(kv, matches)
                .join(F.broadcast(time_ids), on="target_id")
                .select("doc_id", "val_start", "val_end").distinct())
    val_toks = (gated_kv.join(tok, on="doc_id")
                .where((F.col("start") >= F.col("val_start"))
                       & (F.col("end") <= F.col("val_end"))))
    parsed = (val_toks
              .withColumn("v", F.regexp_extract("token", _TIME_RE, 1))
              .withColumn("u", F.regexp_extract("token", _TIME_RE, 2))
              .where(F.col("u") != ""))
    value_toks = parsed.select(
        "doc_id", F.col("v").alias("token"),
        F.col("start").alias("start"),
        (F.col("start") + F.length("v")).cast("int").alias("end"))
    unit_toks = parsed.select(
        "doc_id", F.col("u").alias("token"),
        (F.col("end") - F.length("u")).cast("int").alias("start"),
        F.col("end").alias("end"))
    exp_map = local_frame(spark, _UNIT_EXPANSION,
                          "token: string, expansion: string")
    unit_syn = (unit_toks.join(F.broadcast(exp_map), on="token")
                .select("doc_id", F.col("expansion").alias("token"),
                        "start", "end"))
    out = (tok.unionByName(value_toks).unionByName(unit_toks)
           .unionByName(unit_syn))
    # dedup=False defers the full-table distinct to the caller's next
    # cut (pipeline.py runs T10→J3→T9 back-to-back; every consumer in
    # between is duplicate-insensitive, so one distinct replaces three)
    if dedup:
        out = dedup_tokens(out)
    if not with_edges:
        return out

    pv = (parsed.select("doc_id",
                        F.col("token").alias("ptoken"),
                        F.col("start").alias("pstart"),
                        F.col("end").alias("pend"),
                        F.col("v"), F.col("u")))
    e_val = pv.select("doc_id", "ptoken", "pstart", "pend",
                      F.col("v").alias("token"),
                      F.col("pstart").alias("start"),
                      (F.col("pstart") + F.length("v")).cast("int").alias("end"),
                      F.lit("Parse time and unit").alias("kind"))
    e_unit = pv.select("doc_id", "ptoken", "pstart", "pend",
                       F.col("u").alias("token"),
                       (F.col("pend") - F.length("u")).cast("int").alias("start"),
                       F.col("pend").alias("end"),
                       F.lit("Parse time and unit").alias("kind"))
    e_syn = (e_unit.select("doc_id", F.col("token").alias("t"),
                           "start", "end")
             .join(F.broadcast(exp_map.withColumnRenamed("token", "t")),
                   on="t")
             .select("doc_id", F.col("t").alias("ptoken"),
                     F.col("start").alias("pstart"),
                     F.col("end").alias("pend"),
                     F.col("expansion").alias("token"), "start", "end",
                     F.lit("Parse as unit synonym").alias("kind")))
    edges = (e_val.unionByName(e_unit).unionByName(e_syn)
             .dropDuplicates(DERIV_COLS))
    return out, edges


# ---------------------------------------------------------------- J1
def exact_match(tok: DataFrame, ref: RefData,
                query_len_thresh: int = 3) -> DataFrame:
    """ExactStringMatching_Stage (pipeline_components.py:754-843): trie
    lookup → broadcast hash equi-join on the lexicon; skip short and
    numeric tokens (:810-813)."""
    lex = ref.lexicon.where("exact_ok").select("string", "term_id", "match_target")
    eligible = tok.where((F.length("token") >= query_len_thresh) & ~_is_num())
    return (eligible.join(F.broadcast(lex),
                          eligible.token == lex.string)
            .select("doc_id", "token", "start", "end",
                    F.col("term_id").alias("target_id"),
                    "match_target", F.lit(0).alias("edit_dist")))


# ---------------------------------------------------------------- J2
def _deletion_keys_expr(col: str, max_del_len: int = 18):
    """SymSpell-style ≤2-deletion neighborhood keys, natively:
    {s} ∪ del1(s) always, ∪ del2(s) only for strings ≥ max_del_len (the
    norm-dist ≤ 0.1 bound means edit 2 needs max(len) ≥ 20, so only long
    strings ever need del2 recall)."""
    c = F.col(col)
    d1 = F.expr(
        f"transform(sequence(1, length({col})), i -> "
        f"concat(substring({col}, 1, i-1), substring({col}, i+1, length({col}))))")
    base = F.array_union(F.array(c), d1)
    d2 = F.expr(
        f"flatten(transform(sequence(1, length({col})), i -> "
        f"transform(sequence(i+1, length({col})), j -> "
        f"concat(substring({col}, 1, i-1), substring({col}, i+1, j-i-1), "
        f"substring({col}, j+1, length({col}))))))")
    return F.when(F.length(c) >= max_del_len,
                  F.array_union(base, d2)).otherwise(base)


def fuzzy_match(tok: DataFrame, ref: RefData, thresh: float = 0.1,
                query_len_thresh: int = 3) -> DataFrame:
    """FuzzyStringMatching_Stage (pipeline_components.py:846-948).

    BK-tree (radius-2 bag distance) + Levenshtein recheck becomes a
    deletion-neighborhood blocked join (recall-exact for edit ≤ 2):
    distinct token strings × lexicon strings sharing a deletion key →
    native ``levenshtein`` ≤ 2 → length-diff and normalized-distance
    prunes (:889-898) → per-query min-edit retention (:923-931).
    Skips tokens with len ≤ thresh or numeric (:915-917).
    """
    lex = (ref.lexicon.where("fuzzy_ok")
           .select("string", "term_id", "match_target").distinct()
           .withColumn("lkey", F.explode(_deletion_keys_expr("string"))))
    queries = (tok.select("token").distinct()
               .where((F.length("token") > query_len_thresh) & ~_is_num())
               .withColumn("qkey", F.explode(_deletion_keys_expr("token"))))
    cand = (queries.join(lex, queries.qkey == lex.lkey)
            .select("token", "string", "term_id", "match_target")
            .distinct())
    maxlen = F.greatest(F.length("token"), F.length("string"))
    scored = (cand
              .where((F.abs(F.length("token") - F.length("string")) / maxlen)
                     <= thresh)
              .withColumn("edit_dist", F.levenshtein("token", "string"))
              .where((F.col("edit_dist") <= 2)
                     & ((F.col("edit_dist") / maxlen) <= thresh)))
    w = Window.partitionBy("token")
    best = (scored
            .withColumn("min_ed", F.min("edit_dist").over(w))
            .where(F.col("edit_dist") == F.col("min_ed"))
            .select("token", "term_id", "match_target", "edit_dist"))
    return (tok.join(best, on="token")
            .select("doc_id", "token", "start", "end",
                    F.col("term_id").alias("target_id"),
                    "match_target", "edit_dist"))


# ---------------------------------------------------------------- J3
def two_char_match(tok: DataFrame, ref: RefData) -> DataFrame:
    """TwoCharMappings_Stage (pipeline_components.py:298-320)."""
    return (tok.join(F.broadcast(ref.two_char), on="token")
            .select("doc_id", "token", "start", "end",
                    F.col("term_id").alias("target_id"),
                    F.lit("CUSTOM_TWO_CHAR_MATCH").alias("match_target"),
                    F.lit(0).alias("edit_dist")))


# ---------------------------------------------------------------- J4
def noun_phrase_match(tok: DataFrame, ref: RefData) -> DataFrame:
    """ExactMatchCustomTargets_Stage (pipeline_components.py:1089-1106):
    targets are CustomMappingTargetNodes — modeled as 'NP:<phrase>' ids
    (never ontology terms, excluded from term outputs by prefix)."""
    return (tok.join(F.broadcast(ref.noun_phrases),
                     tok.token == ref.noun_phrases.phrase)
            .select("doc_id", "token", "start", "end",
                    F.concat(F.lit("NP:"), F.col("phrase")).alias("target_id"),
                    F.lit("CUSTOM_NOUN_PHRASE").alias("match_target"),
                    F.lit(0).alias("edit_dist")))
