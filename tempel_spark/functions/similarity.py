"""String / set / vector similarity (SURVEY.md §2.8 F5-F7, F16-F17).

Native expressions for Levenshtein (JVM built-in), token Jaccard,
overlap-type classification; an Arrow-batched pandas UDF for
Jaro-Winkler (no JVM built-in exists).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "levenshtein_ratio",
    "set_jaccard",
    "token_jaccard",
    "overlap_type",
    "jaro_winkler_udf",
    "cosine_sim",
    "dot_product",
]


def levenshtein_ratio(a: Column | str, b: Column | str) -> Column:
    """dist / max(len) — `ratio_edit_distance_v2`
    (reference misc/utils.py:22-26). 0 = identical, 1 = disjoint."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return (F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b), F.lit(1))).cast("double")


def set_jaccard(a: Column | str, b: Column | str) -> Column:
    """|A∩B| / max(|A∪B|, 1) of two duplicate-free arrays, as a double:
    the one set-similarity verification every Jaccard filter ends in
    (two empty sets score 0). |A∪B| is |A|+|B|−|A∩B|, exact for
    duplicate-free arrays, so no union array is built per pair."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return (inter / F.greatest(union, F.lit(1))).cast("double")


def token_jaccard(a: Column | str, b: Column | str) -> Column:
    """Distinct-token Jaccard similarity of single-space tokens
    (reference src/stats/s07_analyze_similarity_of_predicted_candidates.py:165-228)."""
    return set_jaccard(F.array_distinct(F.split(a, " ")), F.array_distinct(F.split(b, " ")))


def overlap_type(mention: Column | str, title: Column | str) -> Column:
    """HIGH_OVERLAP / MULTIPLE_CATEGORIES / AMBIGUOUS_SUBSTRING /
    LOW_OVERLAP classifier (reference
    s02_alias_table_generator.py:50-90 `get_overlap_mention_entity_title`):

    - exact (case/underscore-normalized) match → HIGH_OVERLAP
    - mention == title minus a trailing parenthetical `_(...)`
      → MULTIPLE_CATEGORIES (disambiguation-page shape)
    - mention contained in title as whole words → AMBIGUOUS_SUBSTRING
    - else → LOW_OVERLAP
    """
    m = F.col(mention) if isinstance(mention, str) else mention
    t = F.col(title) if isinstance(title, str) else title
    norm = lambda c: F.trim(F.regexp_replace(F.lower(F.translate(c, "_", " ")), " +", " "))  # noqa: E731
    mn, tn = norm(m), norm(t)
    t_nodab = F.trim(F.regexp_replace(tn, r"\s*\(.*?\)\s*$", ""))
    contained = F.regexp_like(
        tn,
        F.concat(F.lit("(^| )"), F.regexp_replace(mn, r"([\\.\[\]\{\}\(\)\*\+\?\^\$\|])", r"\\$1"), F.lit("( |,|$)")),
    )
    return (
        F.when(mn == tn, F.lit("HIGH_OVERLAP"))
        .when(mn == t_nodab, F.lit("MULTIPLE_CATEGORIES"))
        .when(contained, F.lit("AMBIGUOUS_SUBSTRING"))
        .otherwise(F.lit("LOW_OVERLAP"))
    )


def _jaro(s1: str, s2: str) -> float:
    l1, l2 = len(s1), len(s2)
    if not l1 or not l2:
        return 0.0  # empty → 0 even for ("",""), matching the common SQL convention
    if s1 == s2:
        return 1.0
    match_dist = max(l1, l2) // 2 - 1
    f1 = [False] * l1
    f2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_dist)
        hi = min(l2, i + match_dist + 1)
        for j in range(lo, hi):
            if not f2[j] and s2[j] == c:
                f1[i] = f2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if f1[i]:
            while not f2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0


def _jaro_winkler(s1: str, s2: str, p: float = 0.1, max_prefix: int = 4) -> float:
    j = _jaro(s1, s2)
    if j <= 0.7:
        return j
    prefix = 0
    for a, b in zip(s1[:max_prefix], s2[:max_prefix]):
        if a == b:
            prefix += 1
        else:
            break
    return j + prefix * p * (1.0 - j)


# Strings longer than this take the scalar path: the vectorized
# matcher's work is O(N·L²) in the padded batch width, so one huge
# outlier string must not inflate every row's matrices.
_JW_VEC_MAXLEN = 48


def _encode_batch(ss: list[str], width: int, np, pad: int = -1):
    """(n, width) codepoint matrix, `pad`-filled — one bulk decode for
    the whole batch instead of a per-row frombuffer. int16 for
    all-ASCII batches (half the memory traffic of the comparison
    tensor), int64 otherwise. Distinct `pad` sentinels per side make
    padding cells compare unequal with no extra mask op."""
    n = len(ss)
    lens = np.fromiter((len(s) for s in ss), count=n, dtype=np.int64)
    joined = "".join(ss)
    try:
        codes = np.frombuffer(joined.encode("ascii"), dtype=np.uint8).astype(np.int16)
    except UnicodeEncodeError:
        codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
    offs = np.zeros(n, dtype=np.int64)
    if n > 1:
        np.cumsum(lens[:-1], out=offs[1:])
    col = np.arange(width, dtype=np.int64)[None, :]
    valid = col < lens[:, None]
    idx = np.minimum(offs[:, None] + col, max(len(codes) - 1, 0))
    out = np.where(valid, codes[idx] if len(codes) else pad, pad)
    return out, lens


def _jw_batch_numpy(xs: list[str], ys: list[str]) -> "list[float]":
    """Vectorized Jaro-Winkler over a batch of SHORT string pairs —
    bit-identical to `_jaro_winkler` (same greedy matching order, same
    float operation order), computed as ~L² NumPy passes over the
    whole batch instead of N Python-level char loops (guide §4.2:
    hand whole batches to vectorized native code). Caller guarantees
    every string is ≤ _JW_VEC_MAXLEN chars."""
    import numpy as np

    n = len(xs)
    if not n:
        return []
    # distinct pad sentinels: padding never equals padding, so the
    # equality tensor needs no active-cell mask and no j<l2 bound
    # (those cells are padding on the B side)
    A, l1 = _encode_batch(xs, max(1, max(len(s) for s in xs)), np, pad=-1)
    B, l2 = _encode_batch(ys, max(1, max(len(s) for s in ys)), np, pad=-2)
    L1, L2 = A.shape[1], B.shape[1]

    d = np.maximum(l1, l2) // 2 - 1  # may be negative: empty window
    # eligibility tensor: char-equal AND |i−j| ≤ d (the Jaro window)
    D = np.abs(
        np.arange(L1, dtype=np.int64)[None, :, None]
        - np.arange(L2, dtype=np.int64)[None, None, :]
    )
    E = (A[:, :, None] == B[:, None, :]) & (D <= d[:, None, None])

    # greedy matching, exactly _jaro's order: for each i ascending,
    # claim the FIRST unflagged in-window equal char of s2. Bitmask
    # form: row j-candidates pack into one int64 (L2 ≤ 48 bits), the
    # first unclaimed j is the lowest set bit — O(L1) vector ops per
    # batch instead of O(L1·L2). packbits(little) + a zero-padded
    # int64 view is the C-speed bit pack (a bool⊗int64 matmul measured
    # 60× slower than the rest of the loop).
    P = np.packbits(E, axis=-1, bitorder="little")
    if P.shape[2] < 8:
        P = np.concatenate(
            [P, np.zeros((n, L1, 8 - P.shape[2]), dtype=np.uint8)], axis=2
        )
    eqm = np.ascontiguousarray(P).view(np.int64)[:, :, 0]
    f1 = np.zeros((n, L1), dtype=bool)
    f2m = np.zeros(n, dtype=np.int64)
    for i in range(L1):
        avail = eqm[:, i] & ~f2m
        f2m |= avail & -avail  # claim lowest set bit (first j)
        f1[:, i] = avail != 0
    f2 = ((f2m[:, None] >> np.arange(L2, dtype=np.int64)[None, :]) & 1).astype(bool)
    matches = f1.sum(axis=1).astype(np.int64)

    # transpositions: flagged chars of each side in index order
    Lm = min(L1, L2)
    m1 = np.full((n, Lm), -2, dtype=np.int64)
    m2 = np.full((n, Lm), -3, dtype=np.int64)
    r, c = np.nonzero(f1)
    order = np.cumsum(f1, axis=1) - 1
    m1[r, order[r, c]] = A[r, c]
    r, c = np.nonzero(f2)
    order = np.cumsum(f2, axis=1) - 1
    m2[r, order[r, c]] = B[r, c]
    k = np.arange(Lm)[None, :]
    t = ((m1 != m2) & (k < matches[:, None])).sum(axis=1) // 2

    with np.errstate(divide="ignore", invalid="ignore"):
        m = matches.astype(np.float64)
        j = (m / l1 + m / l2 + (m - t) / m) / 3.0
    j = np.where(matches == 0, 0.0, j)
    j = np.where((l1 == 0) | (l2 == 0), 0.0, j)
    eq = np.array([x == y for x, y in zip(xs, ys)]) if n else np.zeros(0, dtype=bool)
    j = np.where(eq & (l1 > 0), 1.0, j)

    # Winkler boost above 0.7, common prefix capped at 4 — same float
    # op order as the scalar: j + (prefix * p) * (1.0 - j)
    P = 4
    pA = A[:, :P] if L1 >= P else np.pad(A[:, :P], ((0, 0), (0, P - L1)), constant_values=-1)
    pB = B[:, :P] if L2 >= P else np.pad(B[:, :P], ((0, 0), (0, P - L2)), constant_values=-2)
    peq = (pA == pB) & (pA >= 0)
    prefix = np.cumprod(peq, axis=1).sum(axis=1).astype(np.float64)
    boost = j + (prefix * 0.1) * (1.0 - j)
    out = np.where(j > 0.7, boost, j)
    return out.tolist()


def _make_jw_batch():
    """Batch-level scorer picker: NumPy vectorized (bit-parity
    probe-gated, long strings routed to the scalar path), else None
    for the pure-Python scalar. The probe runs once per worker process
    at import; any disagreement disables the vectorized path
    entirely."""
    probes = [
        ("martha", "marhta"), ("dwayne", "duane"), ("", ""), ("a", ""),
        ("granite ember", "granite embers"), ("abcdef", "abcdef"),
        ("ab", "ba"), ("jones", "johnson"), ("abcdefgh", "abzzzzzz"),
        ("prefix match low", "prxyzqw"), ("x", "y"), ("aabbcc", "abcabc"),
        ("the quick brown fox", "the quikc brown fxo"), ("aaaa", "aaa"),
        ("xyz", "zyx"), ("abcd", "acbd"), ("ba", "ab"),
    ]
    try:
        got = _jw_batch_numpy([p[0] for p in probes], [p[1] for p in probes])
        if any(g != _jaro_winkler(x, y) for g, (x, y) in zip(got, probes)):
            return None
    except Exception:  # noqa: BLE001 — any numpy issue → scalar path
        return None

    # The matcher's work is O(N·L²) in the PADDED batch width, so one
    # 40-char row must not make every 8-char row pay a 40² loop —
    # bucket pairs by max length class and run each class at its own
    # width (measured 6.0 s → class-width loops on the 5.36M-pair
    # sf1.0 scoring stage).
    classes = (8, 16, 32, _JW_VEC_MAXLEN)

    def np_batch(xs: list[str], ys: list[str]) -> list[float]:
        out: list[float] = [0.0] * len(xs)
        buckets: dict[int, tuple[list[int], list[str], list[str]]] = {
            c: ([], [], []) for c in classes
        }
        for i, (x, y) in enumerate(zip(xs, ys)):
            m = max(len(x), len(y))
            if m > _JW_VEC_MAXLEN:
                out[i] = _jaro_winkler(x, y)
                continue
            for c in classes:
                if m <= c:
                    idx, bx, by = buckets[c]
                    idx.append(i)
                    bx.append(x)
                    by.append(y)
                    break
        for c, (idx, bx, by) in buckets.items():
            # cap the eligibility tensor at ~8M cells per call
            step = max(1024, 8_000_000 // (c * c))
            for s in range(0, len(idx), step):
                vals = _jw_batch_numpy(bx[s : s + step], by[s : s + step])
                for i, v in zip(idx[s : s + step], vals):
                    out[i] = v
        return out

    return np_batch


_JW_BATCH = _make_jw_batch()


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Jaro-Winkler similarity, Arrow-batched. Fills the scoring role
    of the reference's learned bi-encoder dot product
    (biencoder.py:105-123) for surface-form pairs — the scoring
    feature the north_rule names explicitly. Backed by the
    probe-gated NumPy batch matcher (_jw_batch_numpy), verified
    bit-equal to the pure scalar."""
    xs = [x or "" for x in a]
    ys = [y or "" for y in b]
    if _JW_BATCH is not None:
        return pd.Series(_JW_BATCH(xs, ys), dtype="float64")
    return pd.Series([_jaro_winkler(x, y) for x, y in zip(xs, ys)], dtype="float64")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Native array<float> dot product via zip_with + aggregate —
    stays in codegen; no Python (reference F16, biencoder.py:105)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity over array<float> columns, fully native."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    num = dot_product(a, b)
    na = F.sqrt(dot_product(a, a))
    nb = F.sqrt(dot_product(b, b))
    return (num / F.when(na * nb > 0, na * nb).otherwise(F.lit(1.0))).cast("double")
