"""Batch (numpy) similarity kernels ≡ scalar executable spec.

The ER scoring UDF (er/resolution.py:score_pairs) runs only the batch
kernels from functions/similarity_vec.py — zero per-row Python, per
BASELINE.json input_hint.  The scalar kernels in functions/similarity.py
remain the executable spec; these tests pin the two implementations to
each other on random + adversarial inputs (summation-order float drift
bounded at 1e-9).
"""

import random

import numpy as np
import pytest

from metasra_pipeline_spark.functions.similarity import (
    id_conflict,
    jaro_winkler,
    soft_weighted_jaccard,
    token_set_jaccard,
)
from metasra_pipeline_spark.functions.similarity_vec import (
    batch_id_conflict,
    batch_jaro_winkler,
    batch_soft_weighted_jaccard,
)


def _obj(lists):
    out = np.empty(len(lists), dtype=object)
    for i, x in enumerate(lists):
        out[i] = np.array(x, dtype=object)
    return out


def test_batch_jw_matches_scalar_random_and_edges():
    rng = random.Random(7)
    alph = "abcdef 0123+'é"
    pairs = [("".join(rng.choice(alph) for _ in range(rng.randrange(0, 25))),
              "".join(rng.choice(alph) for _ in range(rng.randrange(0, 25))))
             for _ in range(4000)]
    pairs += [("", ""), ("", "abc"), ("abc", ""), ("martha", "marhta"),
              ("dixon", "dicksonx"), ("abc", "abc"), ("abc", "xyz"),
              ("a", "a"), ("a", "b"), ("ab", "ba"),
              # long strings cross the power-of-two bucket boundaries
              ("x" * 300, "x" * 299 + "y"), ("y" + "x" * 511, "x" * 512)]
    got = batch_jaro_winkler(np.array([p[0] for p in pairs], dtype=object),
                             np.array([p[1] for p in pairs], dtype=object))
    exp = np.array([jaro_winkler(a, b) for a, b in pairs])
    assert np.max(np.abs(got - exp)) <= 1e-12


def test_batch_swj_and_conflict_match_scalar():
    rng = random.Random(13)

    def toks():
        return sorted({"".join(rng.choice("abcd019")
                               for _ in range(rng.randrange(1, 8)))
                       for _ in range(rng.randrange(0, 10))})

    ta = [toks() for _ in range(2500)]
    tb = [toks() for _ in range(2500)]
    # empty-vs-empty and empty-vs-nonempty corners
    ta += [[], [], ["abc", "a1"]]
    tb += [[], ["abc"], []]
    vocab = sorted({t for ts in ta + tb for t in ts})
    idf = {t: 1.0 + (i % 7) * 0.5 for i, t in enumerate(vocab) if i % 2 == 0}
    gj = batch_soft_weighted_jaccard(_obj(ta), _obj(tb), idf, 10.0)
    ej = np.array([soft_weighted_jaccard(a, b, idf, 10.0)
                   for a, b in zip(ta, tb)])
    ec = np.array([id_conflict(a, b) for a, b in zip(ta, tb)])
    assert np.max(np.abs(gj - ej)) <= 1e-9
    assert (batch_id_conflict(_obj(ta), _obj(tb)) == ec).all()


def test_batch_swj_unweighted_equals_scalar_unweighted():
    """idf=None weights every token 1.0 — degenerate SoftTFIDF."""
    ta = [["liver", "tissue"], ["heart"], ["k562", "cell"]]
    tb = [["livers", "tissue"], ["hearts"], ["k563", "cell"]]
    gj = batch_soft_weighted_jaccard(_obj(ta), _obj(tb), None, 10.0)
    ej = np.array([soft_weighted_jaccard(a, b, {}, 1.0)
                   for a, b in zip(ta, tb)])
    assert np.max(np.abs(gj - ej)) <= 1e-9


def test_exact_jaccard_native_column_equivalence():
    """score_pairs(idf=None) reads the native j0 column in place of
    token_set_jaccard — they are the same formula; pin it."""
    rng = random.Random(3)
    for _ in range(200):
        a = {f"t{rng.randrange(8)}" for _ in range(rng.randrange(1, 6))}
        b = {f"t{rng.randrange(8)}" for _ in range(rng.randrange(1, 6))}
        j0 = len(a & b) / len(a | b)
        assert token_set_jaccard(a, b) == pytest.approx(j0, abs=1e-15)


def test_score_pairs_has_no_per_row_python_loop():
    """Regression tripwire: the scoring closure must not reintroduce a
    per-row `for i in todo` loop (BASELINE.json: no per-row Python)."""
    import inspect

    from metasra_pipeline_spark.er import resolution
    src = inspect.getsource(resolution.score_pairs)
    assert "for i in todo" not in src
    assert "batch_soft_weighted_jaccard" in src
    assert "batch_jaro_winkler" in src
