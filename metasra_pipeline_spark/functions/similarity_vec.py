"""Numpy-batched similarity kernels — zero per-row Python in the hot path.

These are batch re-expressions of the scalar kernels in
``functions/similarity.py`` (the executable spec, kept for tests): the
whole Arrow batch is scored with padded-codepoint matrices (Jaro-Winkler)
and flattened token tables (SoftTFIDF weighted Jaccard), so the ER
scoring UDF satisfies BASELINE.json's ``input_hint`` — "vectorized
pandas/Arrow UDFs (no per-row Python)" — literally:

* ``batch_jaro_winkler``: strings → one ``(n, L)`` uint32 codepoint
  matrix per power-of-two length bucket (padding waste bounded ≤ 2×);
  the greedy Jaro matching loop runs over CHARACTER POSITIONS, each step
  a vectorized op across all pairs; transpositions via stable-argsort
  compaction of the match flags.
* ``batch_soft_weighted_jaccard``: token lists → one flat (pair, token)
  table; exact credit via a hash merge, soft credit via a first-char
  bucket merge + ONE deduplicated batch-JW call over every candidate
  token pair in the batch (shared vocab ⇒ heavy dedup), weights via a
  C-level dict map; numerators/denominators via ``np.bincount``.

Numeric parity with the scalar kernels is exact up to float summation
order (tokens are summed in table order, not set-iteration order) —
equivalence is pinned to ≤1e-9 in tests/test_similarity_vec.py.

Reference parity note: the reference scores per-token candidates inside
a single-threaded BK-tree loop (map_sra_to_ontology/
pipeline_components.py:871-917); there is no batch analogue to copy —
this layout is Spark/Arrow-first by design.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: per-call row cap for the padded JW matrices: chunks keep the O(n·L)
#: boolean temporaries inside L2-ish cache instead of blowing the heap
#: on a wide batch of long profiles
_JW_CELL_BUDGET = 1 << 24


def _encode_padded(strs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """object array of str → ((n, L) uint32 codepoint matrix, lengths).

    One C-level join + one utf-32 encode; no per-row Python logic.
    """
    s = pd.Series(strs, dtype=object)
    lens = s.str.len().fillna(0).to_numpy(np.int64)
    n = len(s)
    if n == 0:
        return np.zeros((0, 1), np.uint32), lens
    L = max(int(lens.max()), 1)
    padded = s.str.pad(L, side="right", fillchar="\x00")
    buf = "".join(padded.tolist()).encode("utf-32-le")
    return np.frombuffer(buf, dtype="<u4").reshape(n, L), lens


def _jaro_core(A: np.ndarray, la: np.ndarray,
               B: np.ndarray, lb: np.ndarray) -> np.ndarray:
    """Jaro similarity for n aligned rows of padded codepoint matrices.

    Exact same greedy smallest-j matching as the scalar ``jaro``: the
    loop is over character positions (≤ L1 steps), every step vectorized
    across all n pairs.
    """
    n, L1 = A.shape
    _, L2 = B.shape
    if n == 0:
        return np.zeros(0, np.float64)
    win = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    j_idx = np.arange(L2)
    flags1 = np.zeros((n, L1), bool)
    flags2 = np.zeros((n, L2), bool)
    lo = -win  # per-row window start for i=0; shifts by +1 each step
    hi = win + 1
    lb_col = lb[:, None]
    for i in range(L1):
        active = la > i
        if not active.any():
            break
        c = A[:, i][:, None]
        M = ((B == c) & ~flags2
             & (j_idx >= (lo + i)[:, None])
             & (j_idx < np.minimum((hi + i)[:, None], lb_col)))
        if not active.all():
            M &= active[:, None]
        found = M.any(axis=1)
        rows = np.nonzero(found)[0]
        if rows.size:
            flags2[rows, M.argmax(axis=1)[rows]] = True
            flags1[rows, i] = True
    matches = flags1.sum(axis=1)
    # compact matched chars to the left (stable ⇒ original order kept)
    m1 = np.take_along_axis(A, np.argsort(~flags1, axis=1, kind="stable"),
                            axis=1)
    m2 = np.take_along_axis(B, np.argsort(~flags2, axis=1, kind="stable"),
                            axis=1)
    W = min(L1, L2)  # matches ≤ min(la, lb) ≤ W
    valid = np.arange(W)[None, :] < matches[:, None]
    trans = (((m1[:, :W] != m2[:, :W]) & valid).sum(axis=1)) // 2
    with np.errstate(divide="ignore", invalid="ignore"):
        j = (matches / la + matches / lb
             + (matches - trans) / matches) / 3.0
    return np.where(matches == 0, 0.0, j)


def _jaro_winkler_core(A: np.ndarray, la: np.ndarray,
                       B: np.ndarray, lb: np.ndarray,
                       prefix_weight: float = 0.1) -> np.ndarray:
    j = _jaro_core(A, la, B, lb)
    P = min(4, A.shape[1], B.shape[1])
    if P:
        in_range = np.arange(P)[None, :] < np.minimum(la, lb)[:, None]
        pref_eq = (A[:, :P] == B[:, :P]) & in_range
        prefix = np.cumprod(pref_eq, axis=1).sum(axis=1)
    else:
        prefix = np.zeros(len(la), np.int64)
    return j + prefix * prefix_weight * (1.0 - j)


def batch_jaro_winkler(sa: np.ndarray, sb: np.ndarray) -> np.ndarray:
    """Jaro-Winkler over n string pairs, fully batched.

    Rows are bucketed by power-of-two max length so the padded matrices
    never waste more than 2× cells, then chunked to ``_JW_CELL_BUDGET``.
    Equal pairs short-circuit to 1.0 without encoding.
    """
    sa = np.asarray(sa, dtype=object)
    sb = np.asarray(sb, dtype=object)
    n = len(sa)
    out = np.empty(n, np.float64)
    eq = sa == sb
    out[eq] = 1.0
    rest = np.nonzero(~eq)[0]
    if rest.size == 0:
        return out
    la = pd.Series(sa[rest], dtype=object).str.len().to_numpy(np.int64)
    lb = pd.Series(sb[rest], dtype=object).str.len().to_numpy(np.int64)
    mx = np.maximum(np.maximum(la, lb), 1)
    bucket = np.frexp(mx.astype(np.float64) - 0.5)[1]  # ceil(log2(mx))+ε
    for b in np.unique(bucket):
        sel = rest[bucket == b]
        cap = int(mx[bucket == b].max())
        step = max(_JW_CELL_BUDGET // max(cap * cap, 1), 256)
        for s in range(0, sel.size, step):
            idx = sel[s:s + step]
            A, la_c = _encode_padded(sa[idx])
            B, lb_c = _encode_padded(sb[idx])
            out[idx] = _jaro_winkler_core(A, la_c, B, lb_c)
    return out


def _unique_pair_jw(t: pd.Series, o: pd.Series,
                    jw_floor: float) -> np.ndarray:
    """JW for candidate token pairs, deduplicated across the batch
    (shared vocab ⇒ the same (token, other) pair recurs many times);
    values below the SoftTFIDF floor are zeroed here so downstream is a
    plain groupby-max.

    Dedup key: per-column integer codes combined arithmetically — NOT a
    string concat (pandas ``str.cat`` silently drops NUL separators, so
    ("0","00") and ("00","0") would collide)."""
    ct, ut = pd.factorize(t)
    co, uo = pd.factorize(o)
    codes, _uniq = pd.factorize(ct.astype(np.int64) * max(len(uo), 1) + co)
    first = np.zeros(len(_uniq), np.int64)
    first[codes[::-1]] = np.arange(len(codes) - 1, -1, -1)
    jw_u = batch_jaro_winkler(t.to_numpy()[first], o.to_numpy()[first])
    jw_u = np.where(jw_u >= jw_floor, jw_u, 0.0)
    return jw_u[codes]


def _flatten(tok_lists: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """object array of token arrays → (pair_idx, flat_tokens)."""
    n = len(tok_lists)
    counts = np.fromiter(map(len, tok_lists), np.int64, count=n)
    pair = np.repeat(np.arange(n), counts)
    if pair.size == 0:
        return pair, np.zeros(0, dtype=object)
    flat = np.concatenate([np.asarray(t, dtype=object) for t in tok_lists])
    return pair, flat


def _side_table(pair: np.ndarray, toks: np.ndarray,
                idf: dict[str, float] | None,
                default_idf: float) -> pd.DataFrame:
    t = pd.Series(toks, dtype=object)
    if idf is not None:
        w = t.map(idf).fillna(default_idf).to_numpy(np.float64)
    else:
        w = np.ones(len(t), np.float64)
    return pd.DataFrame({
        "p": pair, "t": t, "w": w,
        "dig": t.str.contains(r"[0-9]", regex=True).to_numpy(bool),
        "f": t.str[0], "l": t.str.len().to_numpy(np.int64),
    })


def _exact_flags(A: pd.DataFrame, B: pd.DataFrame
                 ) -> tuple[np.ndarray, np.ndarray]:
    """exact_a[i] ⇔ A row i's token ∈ other side's token set (same pair)."""
    m = pd.merge(A[["p", "t"]].reset_index(names="ia"),
                 B[["p", "t"]].reset_index(names="ib"), on=["p", "t"])
    ea = np.zeros(len(A), bool)
    eb = np.zeros(len(B), bool)
    ea[m["ia"].to_numpy()] = True
    eb[m["ib"].to_numpy()] = True
    return ea, eb


def _soft_credit(side: pd.DataFrame, exact: np.ndarray,
                 other: pd.DataFrame, jw_floor: float) -> np.ndarray:
    """Per-row SoftTFIDF credit: 1.0 exact, else best JW ≥ floor against
    the other side's same-first-char alpha tokens within ±3 length."""
    credit = exact.astype(np.float64)
    need = side.loc[~exact & ~side["dig"], ["p", "t", "f", "l"]]
    if need.empty:
        return credit
    oth = other.loc[~other["dig"], ["p", "t", "f", "l"]]
    if oth.empty:
        return credit
    cand = pd.merge(need.reset_index(names="row"), oth,
                    on=["p", "f"], suffixes=("", "_o"))
    cand = cand[(cand["l"] - cand["l_o"]).abs() <= 3]
    if cand.empty:
        return credit
    jw = _unique_pair_jw(cand["t"].astype(object), cand["t_o"].astype(object),
                         jw_floor)
    best = pd.Series(jw).groupby(cand["row"].to_numpy()).max()
    credit[best.index.to_numpy()] = best.to_numpy()
    return credit


def batch_soft_weighted_jaccard(toks_a: np.ndarray, toks_b: np.ndarray,
                                idf: dict[str, float] | None,
                                default_idf: float,
                                jw_floor: float = 0.88) -> np.ndarray:
    """Soft-weighted-jaccard for n token-list pairs.

    Batch equivalent of ``similarity.soft_weighted_jaccard``: same
    credits, same Fellegi-Sunter digit-conflict denominator penalty,
    summation reordered only.
    """
    n = len(toks_a)
    pa, fa = _flatten(toks_a)
    pb, fb = _flatten(toks_b)
    A = _side_table(pa, fa, idf, default_idf)
    B = _side_table(pb, fb, idf, default_idf)
    ea, eb = _exact_flags(A, B)
    ca = _soft_credit(A, ea, B, jw_floor)
    cb = _soft_credit(B, eb, A, jw_floor)
    wa = A["w"].to_numpy()
    wb = B["w"].to_numpy()
    num = (np.bincount(pa, weights=wa * ca, minlength=n)
           + np.bincount(pb, weights=wb * cb, minlength=n))
    den = (np.bincount(pa, weights=wa, minlength=n)
           + np.bincount(pb, weights=wb, minlength=n))
    dig_a = A["dig"].to_numpy()
    dig_b = B["dig"].to_numpy()
    conf_wa = np.bincount(pa[~ea & dig_a], weights=wa[~ea & dig_a],
                          minlength=n)
    conf_wb = np.bincount(pb[~eb & dig_b], weights=wb[~eb & dig_b],
                          minlength=n)
    conflict = (np.bincount(pa[~ea & dig_a], minlength=n) > 0) \
        & (np.bincount(pb[~eb & dig_b], minlength=n) > 0)
    den = den + np.where(conflict, conf_wa + conf_wb, 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        jac = np.where(den > 0, num / den, 1.0)
    return jac


def batch_id_conflict(toks_a: np.ndarray, toks_b: np.ndarray) -> np.ndarray:
    """Vectorized ``similarity.id_conflict``: both sides carry
    digit-bearing tokens absent from the other."""
    n = len(toks_a)
    pa, fa = _flatten(toks_a)
    pb, fb = _flatten(toks_b)
    A = _side_table(pa, fa, None, 0.0)
    B = _side_table(pb, fb, None, 0.0)
    ea, eb = _exact_flags(A, B)
    dig_a = A["dig"].to_numpy()
    dig_b = B["dig"].to_numpy()
    return (np.bincount(pa[~ea & dig_a], minlength=n) > 0) \
        & (np.bincount(pb[~eb & dig_b], minlength=n) > 0)
