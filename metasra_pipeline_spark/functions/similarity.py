"""Batched string-similarity kernels for pairwise scoring.

The north_star requires Jaro-Winkler, Levenshtein and token-set
similarity computed *inside vectorized pandas/Arrow UDFs* (no per-row
Python UDFs).  These are plain-Python kernels invoked over Arrow batches
from operators/er code; Levenshtein additionally exists natively
(``F.levenshtein``) and the lexicon fuzzy join uses that JVM path — the
UDF variant here is for doc-pair scoring where three metrics are fused
in one batch pass.
"""

from __future__ import annotations


def jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if not len1 or not len2:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = flags2[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    transpositions, j = 0, 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    transpositions //= 2
    return (matches / len1 + matches / len2
            + (matches - transpositions) / matches) / 3.0


def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    j = jaro(s1, s2)
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return j + prefix * prefix_weight * (1.0 - j)


def levenshtein(s1: str, s2: str, cap: int | None = None) -> int:
    """Iterative two-row DP; ``cap`` enables early exit for banded use."""
    if s1 == s2:
        return 0
    if len(s1) < len(s2):
        s1, s2 = s2, s1
    if not s2:
        return len(s1)
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1):
        cur = [i + 1]
        row_min = cur[0]
        for j, c2 in enumerate(s2):
            cur.append(min(prev[j + 1] + 1, cur[j] + 1,
                           prev[j] + (c1 != c2)))
            if cur[-1] < row_min:
                row_min = cur[-1]
        if cap is not None and row_min > cap:
            return cap + 1
        prev = cur
    return prev[-1]


def lev_ratio(s1: str, s2: str) -> float:
    m = max(len(s1), len(s2))
    if m == 0:
        return 1.0
    return 1.0 - levenshtein(s1, s2) / m


def token_set_jaccard(a: list[str] | set[str], b: list[str] | set[str]) -> float:
    sa, sb = set(a), set(b)
    if not sa and not sb:
        return 1.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter) if (sa or sb) else 1.0


def weighted_jaccard(a, b, idf: dict[str, float], default_idf: float) -> float:
    """IDF-weighted token-set similarity.  ``idf`` holds only *frequent*
    tokens (small broadcastable dict even at 10¹² docs — Zipf head);
    unseen tokens are rare by construction and get ``default_idf``."""
    sa, sb = set(a), set(b)
    if not sa and not sb:
        return 1.0
    w = lambda t: idf.get(t, default_idf)  # noqa: E731
    inter = sum(w(t) for t in sa & sb)
    union = sum(w(t) for t in sa | sb)
    return inter / union if union else 1.0


def _bucket_alpha(tokens: set[str]) -> dict[str, list[str]]:
    """First-char buckets of the digit-free tokens — the classic
    SoftTFIDF pruning (a JW ≥ ~0.88 match virtually requires a shared
    prefix char, and the Winkler boost rewards exactly that)."""
    out: dict[str, list[str]] = {}
    for t in tokens:
        if any(c.isdigit() for c in t):
            continue
        out.setdefault(t[0], []).append(t)
    return out


def _soft_token_sim(t: str, others: set[str],
                    others_alpha: dict[str, list[str]],
                    jw_floor: float) -> float:
    """SoftTFIDF-style credit (Cohen/Ravikumar/Fienberg): best JW against
    the other side if ≥ floor, else 0.  Digit-bearing tokens get exact
    credit only — JW between serial-number-ish strings is deceptively
    high ('000013' vs '000193' ≈ 0.93)."""
    if t in others:
        return 1.0
    if any(c.isdigit() for c in t):
        return 0.0
    best = 0.0
    for o in others_alpha.get(t[0], ()):
        if abs(len(o) - len(t)) > 3:
            continue
        s = jaro_winkler(t, o)
        if s > best:
            best = s
    return best if best >= jw_floor else 0.0


def soft_weighted_jaccard(a, b, idf: dict[str, float], default_idf: float,
                          jw_floor: float = 0.88) -> float:
    sa, sb = set(a), set(b)
    if not sa and not sb:
        return 1.0
    w = lambda t: idf.get(t, default_idf)  # noqa: E731
    alpha_a, alpha_b = _bucket_alpha(sa), _bucket_alpha(sb)
    num = sum(w(t) * _soft_token_sim(t, sb, alpha_b, jw_floor) for t in sa) \
        + sum(w(t) * _soft_token_sim(t, sa, alpha_a, jw_floor) for t in sb)
    den = sum(w(t) for t in sa) + sum(w(t) for t in sb)
    # Fellegi-Sunter-style disagreement penalty: identifiers are
    # machine-copied, so *conflicting* digit-bearing tokens on both
    # sides (not merely absent on one) are strong negative evidence —
    # count their weight again in the denominator.
    conf_a = [t for t in sa - sb if any(c.isdigit() for c in t)]
    conf_b = [t for t in sb - sa if any(c.isdigit() for c in t)]
    if conf_a and conf_b:
        den += sum(w(t) for t in conf_a) + sum(w(t) for t in conf_b)
    return num / den if den else 1.0


def id_conflict(a, b) -> bool:
    """True when *both* sides carry digit-bearing tokens absent from the
    other — conflicting machine-copied identifiers."""
    sa, sb = set(a), set(b)
    return (any(any(c.isdigit() for c in t) for t in sa - sb)
            and any(any(c.isdigit() for c in t) for t in sb - sa))


def kv_conflict(kv_a, kv_b) -> bool:
    """Key-aware identifier conflict over ``normkey=digits`` entries
    (``id_kv`` of er.resolution.doc_profiles): some key present on both
    sides carries an entry the other side lacks.  Unlike
    :func:`id_conflict`, a typo'd value or attributes dropped
    differently on each side do not count."""
    sa, sb = set(kv_a), set(kv_b)

    def keys(s):
        return {e.split("=", 1)[0] for e in s}

    return bool(keys(sa - sb) & keys(sb) or keys(sb - sa) & keys(sa))


#: ceiling applied on identifier conflict — the deterministic-linkage
#: veto: two records with different copied identifiers are never a
#: confident match however similar the rest reads
ID_CONFLICT_CAP = 0.60


def pair_score(profile_a: str, profile_b: str,
               toks_a: list[str], toks_b: list[str],
               idf: dict[str, float] | None = None,
               default_idf: float = 10.0,
               kv_a: list[str] = (), kv_b: list[str] = ()) -> float:
    """Fused match score ∈ [0,1]: IDF-weighted soft token similarity (the
    discriminative signal) + Jaro-Winkler + Levenshtein ratio over the
    normalized document profiles (fuzz tolerance for typos).

    The identifier veto is value-only (:func:`id_conflict`) without
    ``idf`` and key-aware (:func:`kv_conflict` over ``kv_a``/``kv_b``)
    with it — the two scorers of er.resolution.score_pairs."""
    jw = jaro_winkler(profile_a, profile_b)
    if idf is None:
        jac = token_set_jaccard(toks_a, toks_b)
    else:
        jac = soft_weighted_jaccard(toks_a, toks_b, idf, default_idf)
    lr = lev_ratio(profile_a, profile_b)
    score = 0.65 * jac + 0.2 * jw + 0.15 * lr
    conflict = (id_conflict(toks_a, toks_b) if idf is None
                else kv_conflict(kv_a, kv_b))
    if score > ID_CONFLICT_CAP and conflict:
        score = ID_CONFLICT_CAP
    return score
