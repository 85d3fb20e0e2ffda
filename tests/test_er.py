"""Entity-resolution layer: similarity kernels, connected components,
and the pairwise-F1 ≥ 0.99 gate (BASELINE.json north_rule)."""

import pytest

from metasra_pipeline_spark.datagen import synth_documents
from metasra_pipeline_spark.er.resolution import (
    connected_components,
    pairwise_f1,
    resolve_entities,
)
from metasra_pipeline_spark.functions.similarity import (
    jaro_winkler,
    levenshtein,
    pair_score,
    token_set_jaccard,
)


def test_similarity_kernels():
    assert jaro_winkler("martha", "marhta") == pytest.approx(0.9611, abs=1e-3)
    assert jaro_winkler("abc", "abc") == 1.0
    assert jaro_winkler("abc", "xyz") == 0.0
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("", "abc") == 3
    assert token_set_jaccard(["a", "b"], ["b", "c"]) == pytest.approx(1 / 3)
    assert pair_score("same text", "same text",
                      ["same", "text"], ["same", "text"]) == pytest.approx(1.0)


def test_connected_components_vs_python_union_find(spark, monkeypatch):
    """Both paths against a plain union-find: the driver union-find this
    edge count takes by default, and the rounds forced by a zero cap.
    The non-ASCII ids pin that Python's code-point order (the driver
    path) agrees with Spark's UTF-8 byte order (the rounds): U+FF61
    sorts before U+1F600 in both, though after it in UTF-16."""
    import random

    from metasra_pipeline_spark.er import resolution
    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(120)]
    wide = ["\U0001f600", "\uff61", "日本", "é", "ß"]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    edges += [("\U0001f600", "\uff61"), ("日本", "é"), ("é", "ß")]

    # ground truth: plain union-find
    parent = {n: n for n in nodes + wide}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {}
    for n in nodes + wide:
        truth.setdefault(find(n), set()).add(n)
    touched = {x for e in edges for x in e}
    want = {n: min(c) for c in truth.values() if c & touched
            for n in c if n in touched}
    assert want["\U0001f600"] == "\uff61" and want["日本"] == "ß"

    e_df = spark.createDataFrame(edges, "doc_a: string, doc_b: string")
    for cap in (resolution.CC_DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(resolution, "CC_DRIVER_MAX_EDGES", cap)
        got = {r["doc_id"]: r["cluster_id"]
               for r in resolution.connected_components(e_df).collect()}
        assert got == want, cap


def test_cc_driver_gate_each_side_of_the_cap(spark, monkeypatch):
    """connected_components' early-stopping edge count: a cap equal to
    the edge count labels on the driver (a LocalRelation), one below it
    runs the rounds, and both give the same labels."""
    from metasra_pipeline_spark.er import resolution
    edges = [(f"c{i}", f"c{i + 1}") for i in range(12)]   # a chain
    edges += [("h", f"s{i}") for i in range(8)]           # a star
    edges += [("x", "y"), ("y", "x")]
    e_df = spark.createDataFrame(edges, "doc_a: string, doc_b: string")

    def run(cap):
        monkeypatch.setattr(resolution, "CC_DRIVER_MAX_EDGES", cap)
        df = resolution.connected_components(e_df)
        root = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        return (root == "LocalRelation",
                {r["doc_id"]: r["cluster_id"] for r in df.collect()})

    driver_side, at_cap = run(len(edges))
    rounds_side, below_cap = run(len(edges) - 1)
    assert driver_side and not rounds_side
    assert at_cap == below_cap
    assert at_cap["c12"] == "c0" and at_cap["s7"] == "h" and at_cap["y"] == "x"


def test_er_f1_gate(spark):
    """The north_rule gate: pairwise F1 ≥ 0.99 on labeled pairs sharing a
    blocking key, against the generator's ground-truth entities."""
    gen = synth_documents(spark, 300, seed=42).localCheckpoint()
    docs = gen.select("doc_id", "spans")
    truth = gen.select("doc_id", "entity_id")
    res = resolve_entities(spark, docs, threshold=0.65)
    m = pairwise_f1(res["pairs"], truth, threshold=0.65)
    assert m["f1"] >= 0.99, m
    # clusters must cover every document exactly once
    clusters = res["clusters"]
    assert clusters.count() == 300
    assert clusters.select("doc_id").distinct().count() == 300


def test_cc_salted_join_equivalence(spark, monkeypatch):
    """Explicit salting of the CC self-joins (functions/skew.py) must
    yield the same labels as the AQE-default path, on a graph with a
    deliberate hub (one node linked to 80 others) plus random edges.
    A zero driver cap forces the rounds, the only path that salts."""
    import random

    from metasra_pipeline_spark.er import resolution
    monkeypatch.setattr(resolution, "CC_DRIVER_MAX_EDGES", 0)
    rng = random.Random(11)
    nodes = [f"s{i:03d}" for i in range(120)]
    edges = [("s000", n) for n in nodes[1:81]]  # hub: degree 80
    edges += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    e_df = spark.createDataFrame(edges, "doc_a: string, doc_b: string")
    plain = {r["doc_id"]: r["cluster_id"]
             for r in connected_components(e_df).collect()}
    salted = {r["doc_id"]: r["cluster_id"]
              for r in connected_components(e_df, num_salts=4).collect()}
    assert salted == plain and len(plain) > 0


def test_salted_join_multiset_equality(spark):
    """salted_join == plain join (row multiset) for inner and left, on
    keys with skewed fan-out and keys absent from the small side."""
    from collections import Counter

    from metasra_pipeline_spark.functions.skew import salted_join
    big = spark.createDataFrame(
        [("hot", i) for i in range(200)]
        + [("cold", i) for i in range(3)]
        + [("orphan", i) for i in range(2)],
        "k: string, payload: int")
    small = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("unused", "U")], "k: string, tag: string")
    for how in ("inner", "left"):
        exp = Counter(map(tuple, big.join(small, on="k", how=how).collect()))
        got = Counter(map(tuple,
                          salted_join(big, small, "k", num_salts=5,
                                      how=how).collect()))
        assert got == exp, how


def test_resolve_entities_native_covers_and_is_deterministic(spark):
    """The SQL-expressible native-scorer config (q93's engine side):
    every doc labeled exactly once, labels deterministic across runs,
    exact-duplicate docs always co-clustered (star edges bypass
    blocking), and it resolves the same synthetic entities as the
    kernel config at high F1."""
    from metasra_pipeline_spark.er.resolution import resolve_entities_native
    gen = synth_documents(spark, 300, seed=42).localCheckpoint()
    docs = gen.select("doc_id", "spans")
    truth = gen.select("doc_id", "entity_id")
    res = resolve_entities_native(spark, docs)
    clusters = res["clusters"]
    assert clusters.count() == 300
    assert clusters.select("doc_id").distinct().count() == 300
    again = resolve_entities_native(spark, docs)["clusters"]
    assert {tuple(r) for r in clusters.collect()} \
        == {tuple(r) for r in again.collect()}
    m = pairwise_f1(res["pairs"], truth, threshold=0.65)
    assert m["f1"] >= 0.95, m


def test_candidate_pairs_rare_key_bypass(spark):
    """Rare-key meta-blocking bypass (BENCH/ANALYSIS.md round-5 recall
    cliff): one shared key with df <= rare_df admits a pair that
    min_shared=2 alone would prune; one shared MID-frequency key
    (df > rare_df) still prunes; two shared keys admit regardless."""
    from metasra_pipeline_spark.er.resolution import candidate_pairs

    rows = []
    # d1,d2 share ONLY the rare key "id123" (df=2)
    rows += [("d1", "id123"), ("d2", "id123")]
    # d3,d4 share ONLY the mid-frequency key "mid" (df=20 via fillers)
    rows += [("d3", "mid"), ("d4", "mid")]
    rows += [(f"f{i:02d}", "mid") for i in range(18)]
    # d5,d6 share TWO mid-frequency keys -> admitted by min_shared
    rows += [("d5", "mid"), ("d6", "mid"),
             ("d5", "mid2"), ("d6", "mid2")]
    rows += [(f"g{i:02d}", "mid2") for i in range(18)]
    keys = spark.createDataFrame(rows, "doc_id: string, key: string")

    got = {(r.doc_a, r.doc_b)
           for r in candidate_pairs(keys, min_shared=2, rare_df=16)
           .collect()}
    assert ("d1", "d2") in got            # rare-key bypass
    assert ("d3", "d4") not in got        # single mid-df key still pruned
    assert ("d5", "d6") in got            # min_shared path intact
    # fillers share one mid-df key each -> none admitted
    assert not any(a.startswith("f") and b.startswith("f")
                   for a, b in got)

    # rare_df=0 disables the bypass entirely
    got0 = {(r.doc_a, r.doc_b)
            for r in candidate_pairs(keys, min_shared=2, rare_df=0)
            .collect()}
    assert ("d1", "d2") not in got0 and ("d5", "d6") in got0


def test_delta_candidate_pairs_rare_key_bypass(spark):
    """The incremental path honors the same bypass via the combined-df
    table, keeping the batch<->incremental pair-formation invariant."""
    from pyspark.sql import functions as F

    from metasra_pipeline_spark.er.incremental import delta_candidate_pairs

    new_rows = [("n1", "id123"), ("n2", "mid")]
    base_rows = [("b1", "id123"), ("b2", "mid")]
    base_rows += [(f"f{i:02d}", "mid") for i in range(18)]
    new_keys = spark.createDataFrame(new_rows, "doc_id: string, key: string")
    base_keys = spark.createDataFrame(base_rows, "doc_id: string, key: string")
    sizes = (new_keys.unionByName(base_keys).groupBy("key")
             .agg(F.countDistinct("doc_id").alias("n_docs")))

    got = {(r.doc_a, r.doc_b)
           for r in delta_candidate_pairs(new_keys, base_keys, min_shared=2,
                                          key_df=sizes, rare_df=16)
           .collect()}
    assert ("b1", "n1") in got            # rare shared key, new x base
    assert ("b2", "n2") not in got        # mid-df single key still pruned


def _veto_scores(spark, kv_docs):
    """score_pairs (IDF path) over every pair of ``kv_docs`` →
    {(doc_a, doc_b): score}, plus the docs' token lists."""
    from pyspark.sql import functions as F

    from metasra_pipeline_spark.datagen import docs_from_kv
    from metasra_pipeline_spark.er.resolution import doc_profiles, score_pairs

    prof = doc_profiles(docs_from_kv(spark, kv_docs)).localCheckpoint()
    ids = prof.select("doc_id")
    pairs = (ids.alias("a").crossJoin(ids.alias("b"))
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b")))
    scored = score_pairs(pairs, prof, idf={}, default_idf=1.0,
                         prefilter_jaccard=0.0)
    toks = {r["doc_id"]: list(r["tokens"]) for r in prof.collect()}
    return {(r["doc_a"], r["doc_b"]): r["score"]
            for r in scored.collect()}, toks


def test_id_veto_ignores_typo_and_differently_dropped_attributes(spark):
    """The two noise shapes behind er_batch's misses: a typo splitting a
    digit token (``2 Year old`` → ``2Y ear old``) and each side dropping
    a different attribute (``h7`` vs ``1`` left over).  Both carry
    unshared digit tokens on each side — the value-only veto capped
    them — but no key carries different digits, so they score above the
    cap."""
    from metasra_pipeline_spark.functions.similarity import (
        ID_CONFLICT_CAP,
        id_conflict,
    )

    base = [("subject id", "cohort-alpha-000123"), ("cell type", "T cell"),
            ("marker", "CD4+"), ("condition", "untreated control")]
    line = [("subject id", "cohort-beta-000456"),
            ("condition", "serum starved")]
    scores, toks = _veto_scores(spark, [
        ("t1", base + [("age", "2 Year old")]),
        ("t2", base + [("age", "2Y ear old")]),
        ("d1", line + [("cell line", "H7")]),
        ("d2", line + [("passage", "1")]),
    ])
    for a, b in (("t1", "t2"), ("d1", "d2")):
        assert id_conflict(toks[a], toks[b])   # the old veto fired
        assert scores[(a, b)] > ID_CONFLICT_CAP + 0.05, (a, b, scores)


def test_id_veto_caps_same_key_different_ids(spark):
    """A true identifier conflict — the same key with different digits,
    also across a key spelling variant — is still capped."""
    from metasra_pipeline_spark.functions.similarity import ID_CONFLICT_CAP

    rest = [("cell type", "T cell"), ("marker", "CD4+"),
            ("condition", "untreated control"), ("age", "7 Year old")]
    scores, _ = _veto_scores(spark, [
        ("s1", [("subject id", "cohort-alpha-000123")] + rest),
        ("s2", [("subject id", "cohort-alpha-000124")] + rest),
        ("s3", [("subject_id", "cohort-alpha-000125")] + rest),
    ])
    assert scores[("s1", "s2")] == ID_CONFLICT_CAP
    assert scores[("s1", "s3")] == ID_CONFLICT_CAP


def test_kv_conflict_native_matches_scalar(spark):
    """The native veto expression score_pairs evaluates ≡ the scalar
    spec, on random multi-entry id_kv arrays."""
    import random

    from pyspark.sql import functions as F

    from metasra_pipeline_spark.er.resolution import _KV_CONFLICT
    from metasra_pipeline_spark.functions.similarity import kv_conflict

    rng = random.Random(5)

    def kv():
        return sorted({f"{rng.choice('abc')}={rng.randrange(3)}"
                       for _ in range(rng.randrange(0, 4))})

    rows = [(kv(), kv()) for _ in range(400)]
    df = spark.createDataFrame(rows, "kv_a array<string>, kv_b array<string>")
    got = [r[0] for r in df.select(
        F.expr(_KV_CONFLICT.format(a="kv_a", b="kv_b"))).collect()]
    assert got == [kv_conflict(a, b) for a, b in rows]
    assert any(got) and not all(got)
