"""Numeric kernels that run inside Arrow-vectorized pandas UDFs.

These are the only pieces of the engine that SQL genuinely cannot express
(SURVEY.md §2.7): Jaro-Winkler string distance (reference uses rapidfuzz,
``app/features.py:39,44``) and optimal line assignment (reference uses
``scipy.optimize.linear_sum_assignment``, ``app/features.py:81``). Neither
library ships in this sandbox, so both are implemented here from the public
textbook algorithms: Jaro-Winkler per Winkler (1990), and the
Jonker-Volgenant shortest-augmenting-path solver for the rectangular linear
sum assignment problem.

Semantic parity targets:
- ``line_assign_features`` matches reference ``app/features.py:47-101``
  (cost = 0.7*desc_JW + 0.2*unit_price term + 0.1*qty term, both ratio
  terms capped at 5; empty-side special case at :54-65).
- cost-matrix weights and feature names are pinned by the reference test
  fixtures (``tests/test_features.py``).

Matrices stay group-local (≤200×200 given the reference's 200-line-item
cap, requirements.md:175), so an O(n^2·m) exact solver is cheap.
"""

from __future__ import annotations

import math
from functools import lru_cache
from typing import Any

import numpy as np

__all__ = [
    "jaro_winkler_similarity",
    "linear_sum_assignment",
    "line_assign_features",
    "char_ngrams",
    "dice_3gram",
]


def jaro_similarity(s1: str, s2: str) -> float:
    """Plain Jaro similarity in [0, 1]."""
    if s1 == s2:
        return 1.0
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    window = max(n1, n2) // 2 - 1
    if window < 0:
        window = 0
    flagged1 = [False] * n1
    flagged2 = [False] * n2
    matches = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - window)
        hi = min(n2, i + window + 1)
        for j in range(lo, hi):
            if not flagged2[j] and s2[j] == ch:
                flagged1[i] = True
                flagged2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    k = 0
    for i in range(n1):
        if flagged1[i]:
            while not flagged2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    t = transpositions / 2.0
    m = float(matches)
    return (m / n1 + m / n2 + (m - t) / m) / 3.0


def jaro_winkler_similarity(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Jaro-Winkler similarity with the standard 0.7 boost threshold.

    Matches ``rapidfuzz.distance.JaroWinkler.normalized_similarity``
    semantics (prefix bonus for up to 4 shared leading characters).
    """
    sim = jaro_similarity(s1, s2)
    if sim > 0.7:
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            prefix += 1
        sim += prefix * prefix_weight * (1.0 - sim)
    return float(min(1.0, sim))


_JW_CACHE: dict[tuple[str, str], float] = {}
_JW_CACHE_MAX = 1 << 21
_JW_BATCH_MAXLEN = 48  # longer strings take the scalar path


def jw_cached(s1: str, s2: str) -> float:
    """Memoized symmetric Jaro-Winkler. Line descriptions repeat heavily
    across candidate pairs, so the executor-local cache removes most of
    the string-kernel cost of the Hungarian cost matrix. The pair kernel
    pre-warms this cache per Arrow batch via ``jw_warm_cache`` (one
    vectorized numpy evaluation of every distinct uncached pair)."""
    if s1 > s2:
        s1, s2 = s2, s1
    v = _JW_CACHE.get((s1, s2))
    if v is None:
        v = jaro_winkler_similarity(s1, s2)
        if len(_JW_CACHE) > _JW_CACHE_MAX:
            _JW_CACHE.clear()
        _JW_CACHE[(s1, s2)] = v
    return v


def jw_key(s1: str, s2: str) -> tuple[str, str]:
    return (s2, s1) if s1 > s2 else (s1, s2)


def jw_warm_cache(keys) -> None:
    """Vectorized fill of the JW cache for every missing (s1, s2) key.

    Splits the misses into a numpy-batch set (both strings ≤
    ``_JW_BATCH_MAXLEN``) and a scalar remainder; ``jw_batch`` computes the
    former in O(L²) masked vector passes over the whole miss set instead of
    a Python char loop per pair (~10× on the profile's 23 µs/call)."""
    missing = [k for k in keys if k not in _JW_CACHE]
    if not missing:
        return
    if len(_JW_CACHE) + len(missing) > _JW_CACHE_MAX:
        _JW_CACHE.clear()
    batch = [k for k in missing if len(k[0]) <= _JW_BATCH_MAXLEN and len(k[1]) <= _JW_BATCH_MAXLEN]
    if batch:
        sims = jw_batch([k[0] for k in batch], [k[1] for k in batch])
        _JW_CACHE.update(zip(batch, sims.tolist()))
    for k in missing:
        if k not in _JW_CACHE:
            _JW_CACHE[k] = jaro_winkler_similarity(k[0], k[1])


def _pad_codes(strs: list[str], length: int) -> np.ndarray:
    """Strings → padded code matrix. Jaro needs only char EQUALITY, so any
    1:1 encoding works: latin-1 (uint8, 4× less memory traffic — the
    batch is bandwidth-bound under concurrent workers) when every string
    fits, else utf-32 codepoints."""
    pad = b"\x00" * length
    try:
        joined = b"".join(
            (s.encode("latin-1") + pad)[:length] if s else pad for s in strs
        )
        return np.frombuffer(joined, dtype=np.uint8).reshape(len(strs), length)
    except UnicodeEncodeError:
        pad4 = b"\x00" * (4 * length)
        joined = b"".join(
            (s.encode("utf-32-le") + pad4)[: 4 * length] if s else pad4 for s in strs
        )
        return np.frombuffer(joined, dtype=np.uint32).reshape(len(strs), length)


# Cache-blocking size for jw_batch: each masked pass streams ~8 arrays of
# `block × length` bytes, so 2048 pairs × ≤48 chars ≈ 100 KiB per array —
# L2-resident. The unblocked formulation streamed the FULL miss set
# (measured 260k pairs ⇒ ~6 GB of DRAM traffic per warm call) through
# every one of the ~L·(2w+1) masked steps, which is exactly the shared
# memory-bandwidth wall the round-3 kernel ladder measured at 32 workers
# (419 → 839 µs/pair). Blocking keeps the traffic cache-local without
# changing a single float: each block runs the identical vector program.
_JW_BLOCK = 2048


def jw_batch(a_strs: list[str], b_strs: list[str], prefix_weight: float = 0.1) -> np.ndarray:
    """Jaro-Winkler for N string pairs: cache-blocked vectorized passes.

    Exact re-expression of ``jaro_winkler_similarity`` (same greedy window
    matching, same transposition walk, same float op order); parity pinned
    by tests/test_kernels.py. Pairs are sorted by max length so each block
    pads to ITS longest string (short blocks run fewer masked steps), then
    results scatter back to input order.
    """
    n_pairs = len(a_strs)
    if n_pairs == 0:
        return np.zeros(0)
    if n_pairs > _JW_BLOCK:
        order = sorted(
            range(n_pairs), key=lambda i: max(len(a_strs[i]), len(b_strs[i]))
        )
        out = np.empty(n_pairs)
        for lo in range(0, n_pairs, _JW_BLOCK):
            idx = order[lo : lo + _JW_BLOCK]
            out[idx] = _jw_batch_block(
                [a_strs[i] for i in idx], [b_strs[i] for i in idx], prefix_weight
            )
        return out
    return _jw_batch_block(a_strs, b_strs, prefix_weight)


def _jw_batch_block(a_strs: list[str], b_strs: list[str], prefix_weight: float) -> np.ndarray:
    n_pairs = len(a_strs)
    n1 = np.array([len(s) for s in a_strs], dtype=np.int64)
    n2 = np.array([len(s) for s in b_strs], dtype=np.int64)
    length = int(max(int(n1.max(initial=0)), int(n2.max(initial=0)), 1))
    a = _pad_codes(a_strs, length)
    b = _pad_codes(b_strs, length)

    window = np.maximum(np.maximum(n1, n2) // 2 - 1, 0)
    flagged1 = np.zeros((n_pairs, length), dtype=bool)
    flagged2 = np.zeros((n_pairs, length), dtype=bool)
    wmax = int(window.max(initial=0))
    for i in range(length):
        active = n1 > i
        if not active.any():
            break
        found = ~active
        ai = a[:, i]
        lo = np.maximum(0, i - window)
        hi = np.minimum(n2, i + window + 1)
        for j in range(max(0, i - wmax), min(length, i + wmax + 1)):
            if found.all():
                break
            ok = (
                ~found
                & (j >= lo)
                & (j < hi)
                & (b[:, j] == ai)
                & ~flagged2[:, j]
            )
            if ok.any():
                flagged1[ok, i] = True
                flagged2[ok, j] = True
                found |= ok

    m = flagged1.sum(axis=1).astype(np.float64)
    rows1, cols1 = np.nonzero(flagged1)
    rows2, cols2 = np.nonzero(flagged2)
    # np.nonzero is row-major: per row, matched chars appear in order on
    # both sides — the same k-pointer walk as the scalar transposition loop
    diff = (a[rows1, cols1] != b[rows2, cols2]).astype(np.float64)
    transpositions = np.bincount(rows1, weights=diff, minlength=n_pairs)
    t = transpositions / 2.0

    safe_m = np.maximum(m, 1.0)
    safe_n1 = np.maximum(n1, 1)
    safe_n2 = np.maximum(n2, 1)
    sim = (m / safe_n1 + m / safe_n2 + (m - t) / safe_m) / 3.0
    sim = np.where(m > 0, sim, 0.0)

    boost = sim > 0.7
    prefix = np.zeros(n_pairs, dtype=np.float64)
    alive = np.ones(n_pairs, dtype=bool)
    for k in range(min(4, length)):
        eq = alive & (n1 > k) & (n2 > k) & (a[:, k] == b[:, k])
        prefix += eq
        alive = eq
    sim = np.where(boost, sim + prefix * prefix_weight * (1.0 - sim), sim)
    sim = np.minimum(1.0, sim)
    equal = (n1 == n2) & (a == b).all(axis=1)
    return np.where(equal, 1.0, sim)


def _lsa_small(cost: list[list[float]], n: int, m: int) -> list[int]:
    """Jonker-Volgenant on plain Python lists (n ≤ m).

    For the tiny matrices the line matcher actually sees (≤ ~8×8 given
    typical line counts), per-op numpy overhead dominates the vectorized
    solver (~310 µs/call profiled); the same algorithm on lists runs in
    tens of µs. Returns assigned[j] = row (1-based; 0 = unassigned),
    identical optima to the numpy path."""
    inf = math.inf
    u = [0.0] * (n + 1)
    v = [0.0] * (m + 1)
    assigned = [0] * (m + 1)
    predecessor = [0] * (m + 1)
    for row in range(1, n + 1):
        assigned[0] = row
        j0 = 0
        min_reduced = [inf] * (m + 1)
        visited = [False] * (m + 1)
        while True:
            visited[j0] = True
            i0 = assigned[j0]
            delta = inf
            j1 = 0
            cost_row = cost[i0 - 1]
            u0 = u[i0]
            for j in range(1, m + 1):
                if not visited[j]:
                    reduced = cost_row[j - 1] - u0 - v[j]
                    if reduced < min_reduced[j]:
                        min_reduced[j] = reduced
                        predecessor[j] = j0
                    if min_reduced[j] < delta:
                        delta = min_reduced[j]
                        j1 = j
            for j in range(m + 1):
                if visited[j]:
                    u[assigned[j]] += delta
                    v[j] -= delta
                else:
                    min_reduced[j] -= delta
            j0 = j1
            if assigned[j0] == 0:
                break
        while j0 != 0:
            j1 = predecessor[j0]
            assigned[j0] = assigned[j1]
            j0 = j1
    return assigned


def linear_sum_assignment(cost: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact minimum-cost assignment for a rectangular cost matrix.

    Jonker-Volgenant shortest augmenting path with potentials; inner loop
    vectorized with numpy (small matrices dispatch to the list-based
    ``_lsa_small`` — same algorithm, far lower constant). Returns
    (row_ind, col_ind) sorted by row, the same contract as
    ``scipy.optimize.linear_sum_assignment``.
    """
    cost = np.asarray(cost, dtype=np.float64)
    if cost.ndim != 2:
        raise ValueError("cost must be 2-D")
    transposed = cost.shape[0] > cost.shape[1]
    if transposed:
        cost = cost.T
    n, m = cost.shape
    if n == 0:
        return np.array([], dtype=int), np.array([], dtype=int)

    if n * m <= 256:
        assigned_small = _lsa_small(cost.tolist(), n, m)
        rows = np.array(assigned_small[1:], dtype=np.int64) - 1
        cols = np.arange(m)
        keep = rows >= 0
        rows, cols = rows[keep], cols[keep]
        order = np.argsort(rows)
        rows, cols = rows[order], cols[order]
        if transposed:
            rows, cols = cols, rows
            order = np.argsort(rows)
            rows, cols = rows[order], cols[order]
        return rows, cols

    u = np.zeros(n + 1)
    v = np.zeros(m + 1)
    # col j (1-based) -> assigned row (1-based); 0 = unassigned
    assigned = np.zeros(m + 1, dtype=np.int64)
    predecessor = np.zeros(m + 1, dtype=np.int64)

    for row in range(1, n + 1):
        assigned[0] = row
        j0 = 0
        min_reduced = np.full(m + 1, np.inf)
        visited = np.zeros(m + 1, dtype=bool)
        while True:
            visited[j0] = True
            i0 = assigned[j0]
            reduced = cost[i0 - 1, :] - u[i0] - v[1:]
            free = ~visited[1:]
            better = free & (reduced < min_reduced[1:])
            if better.any():
                idx = np.flatnonzero(better) + 1
                min_reduced[idx] = reduced[idx - 1]
                predecessor[idx] = j0
            free_idx = np.flatnonzero(free) + 1
            j1 = free_idx[np.argmin(min_reduced[free_idx])]
            delta = min_reduced[j1]
            u[assigned[visited]] += delta
            v[visited] -= delta
            min_reduced[~visited] -= delta
            j0 = j1
            if assigned[j0] == 0:
                break
        # augment along the alternating path
        while j0 != 0:
            j1 = predecessor[j0]
            assigned[j0] = assigned[j1]
            j0 = j1

    rows = assigned[1:] - 1
    cols = np.arange(m)
    keep = rows >= 0
    rows, cols = rows[keep], cols[keep]
    order = np.argsort(rows)
    rows, cols = rows[order], cols[order]
    if transposed:
        rows, cols = cols, rows
        order = np.argsort(rows)
        rows, cols = rows[order], cols[order]
    return rows, cols


def _f(value: Any, default: float = 0.0) -> float:
    """Tolerant numeric coercion (reference ``_to_float``, app/features.py:11-17)."""
    if value is None:
        return default
    try:
        out = float(value)
    except (TypeError, ValueError):
        return default
    return default if math.isnan(out) else out


def _nan_to_zero(values, n: int) -> np.ndarray:
    """array<double> cell → float array with NULL/NaN ⇒ 0.0 (the tolerant
    ``_to_float`` semantics, app/features.py:11-17, applied JVM-side by the
    extraction's try_cast and finished here)."""
    if n == 0:
        return np.zeros(0)
    out = np.asarray(values, dtype=np.float64)
    nan = np.isnan(out)
    if nan.any():
        out = np.where(nan, 0.0, out)
    return out


def line_assign_features_arrays(
    a_desc, a_qty, a_up, a_amt,
    b_desc, b_qty, b_up,
    alpha: float = 0.7,
    beta: float = 0.2,
    gamma: float = 0.1,
) -> tuple[float, float, float, float]:
    """Array-native core of the line-matching features.

    Takes the four per-line columns of each side as parallel arrays — the
    shape the Arrow boundary hands over when the payload ships
    ``array<string>``/``array<double>`` columns instead of
    ``array<struct>`` (struct cells materialize a Python dict per line;
    flat arrays arrive as numpy, ~an order of magnitude cheaper). Returns
    (line_coverage_pct, unmatched_amount_frac, count_new_items,
    median_unit_price_diff). Math is identical to the dict wrapper below,
    which reference fixtures pin.
    """
    n, m = len(a_desc), len(b_desc)
    if n <= 8 and m <= 8 and n and m:
        # the overwhelmingly common shape; ~15 small-array numpy calls per
        # pair cost more than the math itself — plain Python floats win.
        # The amount sums are Python's left-to-right sum. numpy's
        # add.reduce matches that order only below 8 elements: from 8 on
        # it adds in 8 interleaved partial sums, so at n=8 the two totals
        # can differ ([1e16, 1, -1e16, 1, 1, 1, 1, 1]: numpy 4.0, sum
        # 5.0). The features still agree whenever every a-line is matched
        # (n ≤ m): both paths then subtract the same sum from itself, so
        # the unmatched amount is exactly 0. Only at n=8 > m can
        # unmatched_amount_frac differ from a numpy-summed total.
        return _line_assign_small(a_desc, a_qty, a_up, a_amt, b_desc, b_qty, b_up,
                                  alpha, beta, gamma)
    a_amt0 = _nan_to_zero(a_amt, n)
    if n == 0 or m == 0:
        total_amount = float(a_amt0.sum())
        frac = float(total_amount / max(total_amount, 1.0)) if total_amount else 1.0
        return 0.0, frac, float(n), total_amount

    a_up0 = _nan_to_zero(a_up, n)
    b_up0 = _nan_to_zero(b_up, m)
    a_qty0 = _nan_to_zero(a_qty, n)
    b_qty0 = _nan_to_zero(b_qty, m)

    up_term = np.minimum(
        np.abs(a_up0[:, None] - b_up0[None, :]) / np.maximum(np.abs(a_up0)[:, None], 1.0), 5.0
    )
    qty_term = np.minimum(
        np.abs(a_qty0[:, None] - b_qty0[None, :]) / np.maximum(np.abs(a_qty0)[:, None], 1.0), 5.0
    )
    desc_cost = np.empty((n, m))
    for i in range(n):
        da = a_desc[i] or ""
        row = desc_cost[i]
        for j in range(m):
            row[j] = 1.0 - jw_cached(da, b_desc[j] or "")

    cost = alpha * desc_cost + beta * up_term + gamma * qty_term
    # exact fast paths for degenerate shapes (very common: 1-line docs).
    # Tie-break contract: FIRST index among equal-cost minima — np.argmin,
    # the small-path ``min(range, key=...)`` and the JV solver's strict-<
    # scan all pick the first minimum, so every path yields the same
    # assignment on exact cost ties (pinned by
    # tests/test_kernels.py::test_assignment_tie_break_first_min).
    if n == 1:
        row_ind = np.zeros(1, dtype=np.int64)
        col_ind = np.array([int(np.argmin(cost[0]))], dtype=np.int64)
    elif m == 1:
        row_ind = np.array([int(np.argmin(cost[:, 0]))], dtype=np.int64)
        col_ind = np.zeros(1, dtype=np.int64)
    else:
        row_ind, col_ind = linear_sum_assignment(cost)
    matched = set(row_ind.tolist())

    total_amount = float(a_amt0.sum())
    matched_amount = float(a_amt0[list(matched)].sum()) if matched else 0.0
    unmatched_amount = max(total_amount - matched_amount, 0.0)
    frac = float(unmatched_amount / max(total_amount, 1.0)) if total_amount else 1.0

    diffs = np.abs(a_up0[row_ind] - b_up0[col_ind])
    return float(1.0 - frac), frac, float(max(0, n - len(matched))), _median_small(diffs)


def _fz(v) -> float:
    """float with NULL/NaN ⇒ 0.0 (scalar form of _nan_to_zero)."""
    if v is None:
        return 0.0
    v = float(v)
    return 0.0 if v != v else v


def _line_assign_small(
    a_desc, a_qty, a_up, a_amt, b_desc, b_qty, b_up, alpha, beta, gamma
) -> tuple[float, float, float, float]:
    """numpy-free path for ≤8×8 line matrices — same math, same JW cache,
    same JV solver (``_lsa_small``), python-float arithmetic."""
    n, m = len(a_desc), len(b_desc)
    a_amt0 = [_fz(v) for v in a_amt]
    a_up0 = [_fz(v) for v in a_up]
    b_up0 = [_fz(v) for v in b_up]
    a_qty0 = [_fz(v) for v in a_qty]
    b_qty0 = [_fz(v) for v in b_qty]
    # hoist the b-side null-cleanup out of the cell loop: inline it re-ran
    # ``b_desc[j] or ""`` n times per j
    b_descs0 = [d or "" for d in b_desc]
    cache = _JW_CACHE
    cost = []
    for i in range(n):
        da = a_desc[i] or ""
        aui = a_up0[i]
        aqi = a_qty0[i]
        den_u = abs(aui) if abs(aui) > 1.0 else 1.0
        den_q = abs(aqi) if abs(aqi) > 1.0 else 1.0
        row = []
        for j in range(m):
            db = b_descs0[j]
            key = (db, da) if da > db else (da, db)
            jw = cache.get(key)
            if jw is None:
                jw = jw_cached(da, db)
            u = abs(aui - b_up0[j]) / den_u
            if u > 5.0:
                u = 5.0
            q = abs(aqi - b_qty0[j]) / den_q
            if q > 5.0:
                q = 5.0
            row.append(alpha * (1.0 - jw) + beta * u + gamma * q)
        cost.append(row)

    if n == 1:
        best = min(range(m), key=lambda j: cost[0][j])
        row_ind, col_ind = [0], [best]
    elif m == 1:
        best = min(range(n), key=lambda i: cost[i][0])
        row_ind, col_ind = [best], [0]
    elif n <= m:
        assigned = _lsa_small(cost, n, m)
        pairs_ = sorted((assigned[j] - 1, j - 1) for j in range(1, m + 1) if assigned[j])
        row_ind = [p[0] for p in pairs_]
        col_ind = [p[1] for p in pairs_]
    else:
        cost_t = [[cost[i][j] for i in range(n)] for j in range(m)]
        assigned = _lsa_small(cost_t, m, n)
        pairs_ = sorted((assigned[j] - 1, j - 1) for j in range(1, n + 1) if assigned[j])
        row_ind = [p[1] for p in pairs_]
        col_ind = [p[0] for p in pairs_]
        order = sorted(range(len(row_ind)), key=lambda k: row_ind[k])
        row_ind = [row_ind[k] for k in order]
        col_ind = [col_ind[k] for k in order]

    total_amount = float(sum(a_amt0))
    matched = set(row_ind)
    matched_amount = float(sum(a_amt0[i] for i in sorted(matched))) if matched else 0.0
    unmatched_amount = total_amount - matched_amount
    if unmatched_amount < 0.0:
        unmatched_amount = 0.0
    frac = float(unmatched_amount / max(total_amount, 1.0)) if total_amount else 1.0

    diffs = sorted(abs(a_up0[i] - b_up0[j]) for i, j in zip(row_ind, col_ind))
    k = len(diffs)
    if k == 0:
        med = 0.0
    elif k % 2:
        med = float(diffs[k // 2])
    else:
        med = float((diffs[k // 2 - 1] + diffs[k // 2]) / 2.0)
    return float(1.0 - frac), frac, float(max(0, n - len(matched))), med


def _median_small(diffs: np.ndarray) -> float:
    """np.median semantics (mean of the two middles for even n) without
    np.median's ~55 µs small-array overhead."""
    k = len(diffs)
    if k == 0:
        return 0.0
    s = sorted(diffs.tolist())
    h = k // 2
    if k % 2:
        return float(s[h])
    return float((s[h - 1] + s[h]) / 2.0)


def line_assign_features(
    a_lines: list[dict[str, Any]],
    b_lines: list[dict[str, Any]],
    alpha: float = 0.7,
    beta: float = 0.2,
    gamma: float = 0.1,
) -> dict[str, float]:
    """Optimal line-item matching features between two documents.

    Parity with reference ``app/features.py:47-101``: each line dict has
    ``desc_norm``, ``qty``, ``unit_price``, ``amount``. Either side empty
    triggers the degenerate branch (:54-65). Thin dict-API wrapper over
    ``line_assign_features_arrays`` (tests and the reference fixtures use
    this form; the pair kernel calls the array form directly).
    """
    def unpack(lines, with_amt):
        descs = [x.get("desc_norm") for x in lines]
        qty = [_f(x.get("qty")) for x in lines]
        up = [_f(x.get("unit_price")) for x in lines]
        if not with_amt:
            return descs, qty, up
        return descs, qty, up, [_f(x.get("amount")) for x in lines]

    # the b-side amounts never enter the math (reference app/features.py
    # reads only the A side's amounts for the unmatched fraction), so the
    # array form does not take them — and the pair kernel does not ship
    # them across Arrow
    cov, frac, new_items, med = line_assign_features_arrays(
        *unpack(a_lines, True), *unpack(b_lines, False),
        alpha=alpha, beta=beta, gamma=gamma
    )
    return {
        "line_coverage_pct": cov,
        "unmatched_amount_frac": frac,
        "count_new_items": new_items,
        "median_unit_price_diff": med,
    }


def char_ngrams(text: str, n: int = 3) -> set[str]:
    """Distinct character n-grams (reference ``_ngram_slices``, app/main.py:205-208)."""
    if len(text) < n:
        return set()
    return {text[i : i + n] for i in range(len(text) - n + 1)}


@lru_cache(maxsize=1 << 14)
def _gram_set_cached(text: str) -> frozenset[str]:
    return frozenset(char_ngrams(text))


def dice_3gram(a_text: str, b_text: str) -> float:
    """Dice overlap on distinct char-3-gram sets (app/main.py:290-296).
    Gram sets are memoized per text — each doc's blob recurs across all
    its candidate pairs."""
    a, b = _gram_set_cached(a_text), _gram_set_cached(b_text)
    denom = max(len(a) + len(b), 1)
    return float(min(1.0, 2.0 * len(a & b) / denom))

