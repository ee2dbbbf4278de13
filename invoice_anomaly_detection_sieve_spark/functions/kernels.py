"""Numeric kernels that run inside Arrow-vectorized pandas UDFs.

These are the only pieces of the engine that SQL genuinely cannot express
(SURVEY.md §2.7): Jaro-Winkler string distance (reference uses rapidfuzz,
``app/features.py:39,44``) and optimal line assignment (reference uses
``scipy.optimize.linear_sum_assignment``, ``app/features.py:81``). Neither
library ships in this sandbox, so both are implemented here from the public
textbook algorithms: Jaro-Winkler per Winkler (1990), and the
Jonker-Volgenant shortest-augmenting-path solver for the rectangular linear
sum assignment problem.

Both run over a whole Arrow batch at once, not row by row:

- ``line_assign_batch`` flattens each side's per-line arrays once, groups
  the batch's pairs by line-count shape ``(n, m)`` and scores every group
  as one ``(B, n, m)`` cost stack. ``_jv_lockstep`` runs the solver over
  the stack in lockstep: each pair takes the same pivots, in the same
  order, with the same first-minimum tie-break, as the solver run on its
  own matrix, so the features are bit-identical row by row and do not
  depend on which rows share a batch.
- Jaro-Winkler values come from a worker-global cache keyed on the
  (smaller, larger) string pair. A batch factorizes its strings once,
  dedupes the pair keys with numpy and computes only the misses, in
  ``jw_batch``'s vector passes (one pass per character position).

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
import pandas as pd

__all__ = [
    "jaro_winkler_similarity",
    "jw_pairs",
    "linear_sum_assignment",
    "line_assign_batch",
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


# Winkler's prefix scale; ``jw_batch`` must apply the same one
_JW_PREFIX_WEIGHT = 0.1


def jaro_winkler_similarity(s1: str, s2: str) -> float:
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
        sim += prefix * _JW_PREFIX_WEIGHT * (1.0 - sim)
    return float(min(1.0, sim))


_JW_CACHE: dict[tuple[str, str], float] = {}
_JW_CACHE_MAX = 1 << 21
_JW_BATCH_MAXLEN = 48  # longer strings take the scalar path


def _str_array(values) -> np.ndarray:
    """Strings as an object array, NULL as '' (the reference's ``or ''``)."""
    out = np.array(values, dtype=object)
    out[pd.isna(out)] = ""
    return out


def _factorize(strs) -> tuple[np.ndarray, np.ndarray]:
    """Codes and distinct strings; codes order as the strings do, so a
    (min code, max code) pair is the cache's (min string, max string) key.
    A dict, not ``pd.factorize``: pandas' string hash table stops at NUL,
    so it merges '' with '\\x00' and 'ab' with 'ab\\x00'."""
    distinct = sorted(dict.fromkeys(strs))
    index = {x: i for i, x in enumerate(distinct)}
    uniques = np.empty(len(distinct), dtype=object)
    uniques[:] = distinct
    return np.fromiter(map(index.__getitem__, strs), np.int64, count=len(strs)), uniques


def _jw_codes(uniques: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Jaro-Winkler of ``uniques[lo]`` and ``uniques[hi]`` (lo ≤ hi), any
    shape. Each distinct pair is looked up once in the worker cache; the
    misses are computed together (``_jw_indexed``, scalar above
    ``_JW_BATCH_MAXLEN``) and cached."""
    keys, inverse = np.unique(lo * len(uniques) + hi, return_inverse=True)
    klo, khi = np.divmod(keys, len(uniques))
    vals = np.ones(len(keys))  # equal strings score 1.0
    todo = np.flatnonzero(klo != khi)
    if todo.size:
        cache = _JW_CACHE
        pairs = list(zip(uniques[klo[todo]].tolist(), uniques[khi[todo]].tolist()))
        got = np.array([cache.get(k, np.nan) for k in pairs])
        miss = np.flatnonzero(np.isnan(got))
        if miss.size:
            mlo, mhi = klo[todo[miss]], khi[todo[miss]]
            lens = np.fromiter(map(len, uniques), np.int64, count=len(uniques))
            short = (lens[mlo] <= _JW_BATCH_MAXLEN) & (lens[mhi] <= _JW_BATCH_MAXLEN)
            sims = np.empty(len(miss))
            sims[short] = _jw_indexed(uniques, mlo[short], mhi[short])
            sims[~short] = [
                jaro_winkler_similarity(uniques[i], uniques[j])
                for i, j in zip(mlo[~short].tolist(), mhi[~short].tolist())
            ]
            if len(cache) + len(miss) > _JW_CACHE_MAX:
                cache.clear()
            cache.update(zip([pairs[i] for i in miss.tolist()], sims.tolist()))
            got[miss] = sims
        vals[todo] = got
    return vals[inverse.reshape(lo.shape)]


def jw_pairs(a_strs, b_strs) -> np.ndarray:
    """Symmetric Jaro-Winkler of each (a, b) pair of two equal-length
    string sequences, NULL as ''. Computes ``jaro_winkler_similarity`` on
    the (smaller, larger) string of each pair, the worker cache's key."""
    n = len(a_strs)
    if n == 0:
        return np.zeros(0)
    codes, uniques = _factorize(np.concatenate([_str_array(a_strs), _str_array(b_strs)]))
    a, b = codes[:n], codes[n:]
    return _jw_codes(uniques, np.minimum(a, b), np.maximum(a, b))


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


# Cache-blocking size for jw_batch: each position's window pass streams
# ~6 arrays of ``block × (2·window+1)`` bytes (latin-1 codes, masks), so
# 2048 pairs × ≤48 chars stay L2-resident. The unblocked formulation
# streamed the FULL miss set (measured 260k pairs ⇒ ~6 GB of DRAM traffic
# per warm call) through every masked step, the shared memory-bandwidth
# wall the round-3 kernel ladder measured at 32 workers (419 → 839
# µs/pair). Blocking keeps the traffic cache-local without changing a
# single float: each block runs the identical vector program, about ten
# numpy calls per character position of its longest string.
_JW_BLOCK = 2048


def jw_batch(a_strs: list[str], b_strs: list[str]) -> np.ndarray:
    """Jaro-Winkler for N string pairs: cache-blocked vectorized passes.

    Exact re-expression of ``jaro_winkler_similarity`` (same greedy window
    matching, same transposition walk, same float op order); parity pinned
    by tests/test_kernels.py.
    """
    n_pairs = len(a_strs)
    if n_pairs == 0:
        return np.zeros(0)
    codes, strs = _factorize([*a_strs, *b_strs])
    return _jw_indexed(strs, codes[:n_pairs], codes[n_pairs:])


def _jw_indexed(strs, ia: np.ndarray, ib: np.ndarray) -> np.ndarray:
    """Jaro-Winkler of ``(strs[ia[k]], strs[ib[k]])`` for every k. Each
    string is encoded once; pairs are sorted by max length so each block
    pads to ITS longest string (short blocks run fewer position passes),
    then results scatter back to input order."""
    if len(ia) == 0:
        return np.zeros(0)
    used, inverse = np.unique(np.concatenate([ia, ib]), return_inverse=True)
    used_strs = [strs[i] for i in used.tolist()]
    lens = np.fromiter(map(len, used_strs), np.int64, count=len(used_strs))
    ia, ib = inverse[: len(ia)], inverse[len(ia) :]
    n1, n2 = lens[ia], lens[ib]
    longest = np.maximum(n1, n2)
    codes = _pad_codes(used_strs, max(int(longest.max()), 1))
    order = np.argsort(longest, kind="stable")
    out = np.empty(len(ia))
    for lo in range(0, len(ia), _JW_BLOCK):
        idx = order[lo : lo + _JW_BLOCK]
        length = max(int(longest[idx[-1]]), 1)
        out[idx] = _jw_batch_block(
            codes[ia[idx], :length], codes[ib[idx], :length], n1[idx], n2[idx]
        )
    return out


def _jw_batch_block(a: np.ndarray, b: np.ndarray, n1: np.ndarray, n2: np.ndarray) -> np.ndarray:
    """One block of pairs as padded code rows ``a``/``b`` of lengths n1/n2."""
    n_pairs, length = a.shape

    window = np.maximum(np.maximum(n1, n2) // 2 - 1, 0)
    wmax = int(window.max(initial=0))
    # in_window[p, d + wmax]: offset d = j - i lies in pair p's match window
    offsets = np.arange(-wmax, wmax + 1)
    in_window = np.abs(offsets)[None, :] <= window[:, None]
    # working codes one size wider, so two values no char code takes can
    # mark s1's padding and s2's padding or already-matched chars: then an
    # equality test alone finds the free chars of s2 equal to s1[i]
    pos = np.arange(length)[None, :]
    wide = np.uint16 if a.dtype == np.uint8 else np.uint32
    taken = np.iinfo(wide).max
    a_w = a.astype(wide)
    a_w[pos >= n1[:, None]] = taken - 1
    b_w = b.astype(wide)
    b_w[pos >= n2[:, None]] = taken
    flagged1 = np.zeros((n_pairs, length), dtype=bool)
    rows = np.arange(n_pairs)
    for i in range(int(n1.max(initial=0))):
        j_lo, j_hi = max(0, i - wmax), min(length, i + wmax + 1)
        # one pass per position: s1[i] against its whole window; the scalar
        # loop takes the FIRST free equal char, i.e. the row's first True
        cand = b_w[:, j_lo:j_hi] == a_w[:, i : i + 1]
        cand &= in_window[:, j_lo - i + wmax : j_hi - i + wmax]
        first = cand.argmax(axis=1)
        hit = rows[cand[rows, first]]
        flagged1[hit, i] = True
        b_w[hit, j_lo + first[hit]] = taken
    flagged2 = (b_w == taken) & (pos < n2[:, None])

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
    sim = np.where(boost, sim + prefix * _JW_PREFIX_WEIGHT * (1.0 - sim), sim)
    sim = np.minimum(1.0, sim)
    equal = (n1 == n2) & (a == b).all(axis=1)
    return np.where(equal, 1.0, sim)


def _jv_lockstep(cost: np.ndarray) -> np.ndarray:
    """Jonker-Volgenant shortest augmenting paths over a ``(B, n, m)``
    stack, n ≤ m, all B problems in lockstep.

    Each problem takes the pivots the textbook loop takes on its own
    matrix: per row, the reduced costs of the free columns against the
    pivot row, the FIRST free column of minimum reduced cost, the same
    potential updates, the same augmentation. Problems whose path is done
    drop out of the vector ops. Returns ``assigned`` ``(B, m + 1)``:
    assigned[b, j] is the 1-based row of column j (1-based), 0 if free."""
    n_b, n, m = cost.shape
    u = np.zeros((n_b, n + 1))
    v = np.zeros((n_b, m + 1))
    assigned = np.zeros((n_b, m + 1), dtype=np.int64)
    pred = np.zeros((n_b, m + 1), dtype=np.int64)
    every = np.arange(n_b)
    end = np.empty(n_b, dtype=np.int64)
    for row in range(1, n + 1):
        assigned[:, 0] = row
        min_red = np.full((n_b, m), np.inf)  # columns 1..m
        visited = np.zeros((n_b, m + 1), dtype=bool)
        act, j0 = every, np.zeros(n_b, dtype=np.int64)
        while act.size:
            k = np.arange(act.size)
            visited[act, j0] = True
            i0 = assigned[act, j0]
            reduced = cost[act, i0 - 1] - u[act, i0][:, None] - v[act, 1:]
            mr = min_red[act]
            free = ~visited[act, 1:]
            better = free & (reduced < mr)
            mr = np.where(better, reduced, mr)
            pred[act, 1:] = np.where(better, j0[:, None], pred[act, 1:])
            key = np.where(free, mr, np.inf)
            j1 = key.argmin(axis=1)
            delta = key[k, j1]
            stuck = ~(delta < np.inf)
            if stuck.any():
                # only non-finite costs get here; take the first free
                # column so every path still ends
                j1[stuck] = free[stuck].argmax(axis=1)
            vis = visited[act]
            rr, jj = np.nonzero(vis)
            u[act[rr], assigned[act[rr], jj]] += delta[rr]
            v[act] = np.where(vis, v[act] - delta[:, None], v[act])
            min_red[act] = np.where(free, mr - delta[:, None], mr)
            j1 += 1
            done = assigned[act, j1] == 0
            end[act[done]] = j1[done]
            act, j0 = act[~done], j1[~done]
        # augment each problem along its alternating path
        act, j0 = every, end.copy()
        while act.size:
            j1 = pred[act, j0]
            assigned[act, j0] = assigned[act, j1]
            act, j0 = act[j1 != 0], j1[j1 != 0]
    return assigned


def _assign_stack(cost: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Minimum-cost assignment of every matrix of a ``(B, n, m)`` stack
    (n, m ≥ 1). Returns (rows, cols), each ``(B, min(n, m))``: the
    assigned pairs of each matrix, rows ascending."""
    n_b, n, m = cost.shape
    if n > m:
        # columns choose rows; assigned[b, i + 1] is row i's column + 1
        by_row = _jv_lockstep(np.ascontiguousarray(cost.transpose(0, 2, 1)))[:, 1:]
        bb, rows = np.nonzero(by_row)
        cols = by_row[bb, rows] - 1
        return rows.reshape(n_b, m), cols.reshape(n_b, m)
    by_col = _jv_lockstep(cost)[:, 1:]
    bb, cols = np.nonzero(by_col)
    col_of_row = np.empty((n_b, n), dtype=np.int64)
    col_of_row[bb, by_col[bb, cols] - 1] = cols
    return np.broadcast_to(np.arange(n), (n_b, n)), col_of_row


def linear_sum_assignment(cost: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact minimum-cost assignment for a rectangular cost matrix.

    Jonker-Volgenant shortest augmenting path with potentials (the B=1
    case of ``_jv_lockstep``); on exact cost ties the first minimum wins.
    Returns (row_ind, col_ind) sorted by row, the same contract as
    ``scipy.optimize.linear_sum_assignment``.
    """
    cost = np.asarray(cost, dtype=np.float64)
    if cost.ndim != 2:
        raise ValueError("cost must be 2-D")
    if cost.size == 0:
        return np.array([], dtype=int), np.array([], dtype=int)
    rows, cols = _assign_stack(cost[None])
    return np.array(rows[0]), cols[0]


def _f(value: Any) -> float:
    """Tolerant numeric coercion to 0.0 (reference ``_to_float``, app/features.py:11-17)."""
    if value is None:
        return 0.0
    try:
        out = float(value)
    except (TypeError, ValueError):
        return 0.0
    return 0.0 if math.isnan(out) else out


def _flatten(desc_col, num_cols) -> tuple[np.ndarray, np.ndarray, np.ndarray, list]:
    """One side's per-line arrays for a batch of pairs, flattened: line
    counts, offsets, descriptions (NULL as '') and numeric columns (NULL
    or NaN as 0.0, the tolerant ``_to_float`` of app/features.py:11-17,
    applied JVM-side by the extraction's try_cast and finished here). A
    NULL array is a doc without lines."""
    descs = list(desc_col)
    lens = np.fromiter((0 if d is None else len(d) for d in descs), np.int64, count=len(descs))
    offsets = np.zeros(len(descs) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    have = np.flatnonzero(lens).tolist()
    if not have:
        return lens, offsets, np.empty(0, dtype=object), [np.empty(0) for _ in num_cols]
    flat_desc = _str_array(np.concatenate([descs[i] for i in have]))
    nums = []
    for col in num_cols:
        vals = list(col)
        flat = np.concatenate([vals[i] for i in have]).astype(np.float64)
        if len(flat) != len(flat_desc):
            raise ValueError("per-line arrays of one doc differ in length")
        flat[np.isnan(flat)] = 0.0
        nums.append(flat)
    return lens, offsets, flat_desc, nums


# Cost cells scored per JW dedupe pass: bounds a batch's per-pass
# intermediates (a few float64/int64 arrays of this many cells, ~2 MB
# each) when its docs carry many lines; a batch of typical docs is one pass.
_CELL_BLOCK = 1 << 18


def line_assign_batch(
    a_desc, a_qty, a_up, a_amt,
    b_desc, b_qty, b_up,
) -> np.ndarray:
    """Line-matching features of a batch of document pairs, ``(P, 4)``:
    line_coverage_pct, unmatched_amount_frac, count_new_items,
    median_unit_price_diff per pair.

    Each argument holds one per-line array per pair (the Arrow boundary's
    ``array<string>``/``array<double>`` cells; NULL = no lines). The b-side
    amounts never enter the math: the unmatched fraction is over the A
    side's amounts (app/features.py:54-65).

    Pairs are grouped by line-count shape ``(n, m)``; each group is one
    ``(B, n, m)`` cost stack, solved by ``_jv_lockstep`` and reduced with
    array ops. Amount sums keep each shape's established order: ≤8×8
    matrices add left to right (Python ``sum``), larger ones use numpy's
    ``add.reduce`` (pairwise, 8 interleaved partial sums from 8 elements
    on), over the matched rows in ``set`` iteration order.
    """
    na, a_off, a_d, (a_q, a_u, a_a) = _flatten(a_desc, (a_qty, a_up, a_amt))
    nb, b_off, b_d, (b_q, b_u) = _flatten(b_desc, (b_qty, b_up))
    out = np.empty((len(na), 4))
    if not len(na):
        return out
    codes, uniques = _factorize(np.concatenate([a_d, b_d]))
    a_c, b_c = codes[: len(a_d)], codes[len(a_d) :]

    order = np.argsort(na * (int(nb.max()) + 1) + nb, kind="stable")
    na_o, nb_o = na[order], nb[order]
    chunk = (np.cumsum(na_o * nb_o) - 1) // _CELL_BLOCK
    cuts = np.flatnonzero((np.diff(na_o) != 0) | (np.diff(nb_o) != 0) | (np.diff(chunk) != 0)) + 1
    bounds = [0, *cuts.tolist(), len(order)]
    segments = []  # (rows, n, m, a line index, b line index) of one chunk
    for s, e in zip(bounds[:-1], bounds[1:]):
        rows = order[s:e]
        n, m = int(na_o[s]), int(nb_o[s])
        ai = a_off[rows][:, None] + np.arange(n)
        if n == 0 or m == 0:
            # reference degenerate branch (app/features.py:54-65); its
            # numpy total is also the reported median
            total = np.add.reduce(a_a[ai], axis=1)
            frac = np.where(total != 0, total / np.maximum(total, 1.0), 1.0)
            out[rows] = np.stack([np.zeros(len(rows)), frac, np.full(len(rows), float(n)), total], 1)
        else:
            segments.append((rows, n, m, ai, b_off[rows][:, None] + np.arange(m)))
        if e == len(order) or chunk[e] != chunk[s]:
            _score_chunk(segments, a_c, b_c, uniques, a_q, a_u, a_a, b_q, b_u, out)
            segments = []
    return out


def _score_chunk(segments, a_c, b_c, uniques, a_q, a_u, a_a, b_q, b_u, out) -> None:
    if not segments:
        return
    los, his = [], []
    for _, _, _, ai, bi in segments:
        ca, cb = a_c[ai][:, :, None], b_c[bi][:, None, :]
        los.append(np.minimum(ca, cb).ravel())
        his.append(np.maximum(ca, cb).ravel())
    jw = _jw_codes(uniques, np.concatenate(los), np.concatenate(his))
    del los, his
    lo = 0
    for rows, n, m, ai, bi in segments:
        size = len(rows) * n * m
        seg_jw = jw[lo : lo + size].reshape(len(rows), n, m)
        lo += size
        out[rows] = _score_stack(seg_jw, a_q[ai], a_u[ai], a_a[ai], b_q[bi], b_u[bi])


def _score_stack(jw, a_q, a_u, a_a, b_q, b_u) -> np.ndarray:
    """Features of one ``(B, n, m)`` shape group, ``(B, 4)``."""
    n_b, n, m = jw.shape
    up_term = np.minimum(
        np.abs(a_u[:, :, None] - b_u[:, None, :]) / np.maximum(np.abs(a_u), 1.0)[:, :, None], 5.0
    )
    qty_term = np.minimum(
        np.abs(a_q[:, :, None] - b_q[:, None, :]) / np.maximum(np.abs(a_q), 1.0)[:, :, None], 5.0
    )
    cost = 0.7 * (1.0 - jw) + 0.2 * up_term + 0.1 * qty_term
    rows, cols = _assign_stack(cost)

    if n <= 8 and m <= 8:
        total = _sum_left_to_right(a_a)
        matched = total if n <= m else _sum_left_to_right(np.take_along_axis(a_a, rows, 1))
    else:
        total = np.add.reduce(a_a, axis=1)
        matched = total if n <= m else np.array([
            np.add.reduce(amts[list(set(r))]) for amts, r in zip(a_a, rows.tolist())
        ])
    unmatched = np.maximum(total - matched, 0.0)
    frac = np.where(total != 0, unmatched / np.maximum(total, 1.0), 1.0)

    diffs = np.sort(np.abs(np.take_along_axis(a_u, rows, 1) - np.take_along_axis(b_u, cols, 1)), 1)
    k, h = diffs.shape[1], diffs.shape[1] // 2
    med = diffs[:, h] if k % 2 else (diffs[:, h - 1] + diffs[:, h]) / 2.0
    return np.stack([1.0 - frac, frac, np.full(n_b, float(n - k)), med], 1)


def _sum_left_to_right(x: np.ndarray) -> np.ndarray:
    """Row sums of a ``(B, k)`` array in Python ``sum`` order: 0 + x0 + x1 …"""
    acc = np.zeros(len(x))
    for j in range(x.shape[1]):
        acc = acc + x[:, j]
    return acc


def line_assign_features_arrays(
    a_desc, a_qty, a_up, a_amt,
    b_desc, b_qty, b_up,
) -> tuple[float, float, float, float]:
    """Line-matching features of ONE pair from its per-line arrays:
    (line_coverage_pct, unmatched_amount_frac, count_new_items,
    median_unit_price_diff). The B=1 case of ``line_assign_batch``."""
    feats = line_assign_batch(
        [a_desc], [a_qty], [a_up], [a_amt], [b_desc], [b_qty], [b_up]
    )[0]
    return tuple(float(x) for x in feats)


def line_assign_features(
    a_lines: list[dict[str, Any]],
    b_lines: list[dict[str, Any]],
) -> dict[str, float]:
    """Optimal line-item matching features between two documents.

    Parity with reference ``app/features.py:47-101``: each line dict has
    ``desc_norm``, ``qty``, ``unit_price``, ``amount``. Either side empty
    triggers the degenerate branch (:54-65). Thin dict-API wrapper over
    ``line_assign_features_arrays`` (tests and the reference fixtures use
    this form; the pair kernel scores whole batches).
    """
    def unpack(lines, with_amt):
        descs = [x.get("desc_norm") for x in lines]
        qty = [_f(x.get("qty")) for x in lines]
        up = [_f(x.get("unit_price")) for x in lines]
        if not with_amt:
            return descs, qty, up
        return descs, qty, up, [_f(x.get("amount")) for x in lines]

    cov, frac, new_items, med = line_assign_features_arrays(
        *unpack(a_lines, True), *unpack(b_lines, False)
    )
    return {
        "line_coverage_pct": cov,
        "unmatched_amount_frac": frac,
        "count_new_items": new_items,
        "median_unit_price_diff": med,
    }


def char_ngrams(text: str) -> set[str]:
    """Distinct character 3-grams (reference ``_ngram_slices``, app/main.py:205-208)."""
    if len(text) < 3:
        return set()
    return {text[i : i + 3] for i in range(len(text) - 2)}


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

