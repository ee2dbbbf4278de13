"""Kernel tests: Jaro-Winkler, Hungarian assignment, line features.

Golden vectors ported from reference tests/test_features.py:9-36 plus
property checks of the assignment solver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from invoice_anomaly_detection_sieve_spark.functions import kernels as K


def test_jaro_winkler_basics():
    assert K.jaro_winkler_similarity("abc", "abc") == 1.0
    assert K.jaro_winkler_similarity("", "abc") == 0.0
    assert K.jaro_winkler_similarity("abc", "") == 0.0
    # canonical textbook value: JW(MARTHA, MARHTA) = 0.961
    assert abs(K.jaro_winkler_similarity("MARTHA", "MARHTA") - 0.9611111) < 1e-4
    # DWAYNE/DUANE = 0.84
    assert abs(K.jaro_winkler_similarity("DWAYNE", "DUANE") - 0.84) < 1e-3
    sim = K.jaro_winkler_similarity("printer ink", "printer pen")
    assert 0.0 < sim < 1.0


@given(
    st.integers(1, 6),
    st.integers(1, 6),
    st.integers(0, 10_000),
)
@settings(max_examples=60, deadline=None)
def test_assignment_matches_bruteforce(n, m, seed):
    rng = np.random.RandomState(seed)
    cost = rng.rand(n, m)
    rows, cols = K.linear_sum_assignment(cost)
    got = cost[rows, cols].sum()

    import itertools

    k = min(n, m)
    best = np.inf
    if n <= m:
        for perm in itertools.permutations(range(m), k):
            best = min(best, sum(cost[i, perm[i]] for i in range(k)))
    else:
        for perm in itertools.permutations(range(n), k):
            best = min(best, sum(cost[perm[j], j] for j in range(k)))
    assert abs(got - best) < 1e-9
    assert len(rows) == k == len(set(rows.tolist())) == len(set(cols.tolist()))


def test_line_features_identical_single_line():
    # reference tests/test_features.py:9-14
    a = [{"desc_norm": "printer ink", "qty": 1.0, "unit_price": 10.0, "amount": 10.0}]
    out = K.line_assign_features(a, list(a))
    assert out["line_coverage_pct"] >= 0.99
    assert out["unmatched_amount_frac"] <= 0.01


def test_line_features_empty_candidate():
    # reference tests/test_features.py:27-36
    a = [{"desc_norm": "widget", "qty": 10.0, "unit_price": 5.0, "amount": 50.0}]
    out = K.line_assign_features(a, [])
    assert out["line_coverage_pct"] == 0.0
    assert out["unmatched_amount_frac"] == 1.0
    assert out["count_new_items"] == 1.0
    assert out["median_unit_price_diff"] == 50.0


def test_line_features_both_empty():
    out = K.line_assign_features([], [])
    assert out["unmatched_amount_frac"] == 1.0
    assert out["count_new_items"] == 0.0
    assert out["median_unit_price_diff"] == 0.0


def test_line_features_partial_match():
    a = [
        {"desc_norm": "blue widget", "qty": 2.0, "unit_price": 5.0, "amount": 10.0},
        {"desc_norm": "red gadget", "qty": 1.0, "unit_price": 90.0, "amount": 90.0},
    ]
    b = [{"desc_norm": "blue widget", "qty": 2.0, "unit_price": 5.0, "amount": 10.0}]
    out = K.line_assign_features(a, b)
    # only one a-line can match -> one new item, 90/100 unmatched
    assert out["count_new_items"] == 1.0
    assert abs(out["unmatched_amount_frac"] - 0.9) < 1e-9
    assert abs(out["line_coverage_pct"] - 0.1) < 1e-9


def test_dice_3gram():
    assert K.dice_3gram("abcd", "abcd") == 1.0
    assert K.dice_3gram("ab", "ab") == 0.0
    assert abs(K.dice_3gram("abcd", "bcde") - 0.5) < 1e-12


@pytest.mark.parametrize("n,m", [(50, 50), (30, 80)])
def test_assignment_larger_random(n, m):
    rng = np.random.RandomState(7)
    cost = rng.rand(n, m)
    rows, cols = K.linear_sum_assignment(cost)
    assert len(rows) == min(n, m)
    # greedy bound: optimal must be <= greedy
    greedy_total = 0.0
    used = set()
    for i in range(min(n, m)):
        j = int(np.argmin([cost[i, j] if j not in used else np.inf for j in range(m)]))
        used.add(j)
        greedy_total += cost[i, j]
    assert cost[rows, cols].sum() <= greedy_total + 1e-9


@given(
    st.lists(
        st.tuples(st.text(max_size=16), st.text(max_size=16)),
        min_size=1, max_size=40,
    )
)
@settings(max_examples=80, deadline=None)
def test_jw_batch_matches_scalar(pairs):
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    got = K.jw_batch(a, b)
    want = np.array([K.jaro_winkler_similarity(x, y) for x, y in pairs])
    assert np.array_equal(got, want)  # bit-exact, not approximately equal


def test_small_lsa_matches_numpy_path():
    """Small and oblong matrices: the solver's optimum equals brute force,
    and its pairs equal the list-based reference solver's (the algorithm
    the ≤8×8 line matcher ran per row before scoring moved to stacks)."""
    rng = np.random.RandomState(11)
    for n, m in [(1, 1), (2, 5), (5, 2), (7, 7), (3, 40)]:
        cost = rng.rand(n, m)
        rows, cols = K.linear_sum_assignment(cost)
        total = cost[rows, cols].sum()
        assert list(zip(rows.tolist(), cols.tolist())) == _rowwise_assignment(cost.tolist(), n, m)
        # optimal total must match brute force for feasible sizes
        import itertools
        k = min(n, m)
        if n <= m and m <= 8:
            best = min(
                sum(cost[i, perm[i]] for i in range(k))
                for perm in itertools.permutations(range(m), k)
            )
            assert abs(total - best) < 1e-9


def test_assignment_tie_break_first_min():
    """Pinned contract: on exact cost ties every assignment picks the
    FIRST index among the minima — for a lone matrix, for its transpose,
    and for the same matrix inside a lockstep stack (ADVICE round 2: a
    divergent tie-break would silently change median_unit_price_diff)."""
    tie_rows = [
        [3.0, 1.0, 1.0, 4.0],
        [2.0, 2.0, 2.0, 2.0],
        [5.0, 4.0, 4.0, 4.0],
    ]
    for row in tie_rows:
        cost = np.array([row])
        jv_rows, jv_cols = K.linear_sum_assignment(cost)
        assert int(jv_cols[0]) == int(np.argmin(cost[0]))
        # n×1 transpose: first minimum row
        cost_t = cost.T.copy()
        jv_rows_t, jv_cols_t = K.linear_sum_assignment(cost_t)
        assert int(jv_rows_t[0]) == int(np.argmin(cost_t[:, 0]))
    # the stacked solver picks the same column for every matrix of a stack
    stack = np.array([[row] for row in tie_rows])
    rows, cols = K._assign_stack(stack)
    assert cols[:, 0].tolist() == [int(np.argmin(r)) for r in tie_rows]
    # and a tie-heavy square stack assigns each matrix as it would alone
    rng = np.random.RandomState(5)
    square = rng.randint(0, 3, size=(40, 5, 5)).astype(np.float64)
    rows, cols = K._assign_stack(square)
    for b in range(len(square)):
        want = _rowwise_assignment(square[b].tolist(), 5, 5)
        assert list(zip(rows[b].tolist(), cols[b].tolist())) == want


def test_line_assign_tie_equivalence_small_vs_numpy():
    """A tie-heavy 1×m case must produce identical features as a ≤8×8
    shape and as a larger one (m > 8, padded with strictly-worse columns
    so the assignment faces the same tie)."""
    a_desc, a_qty, a_up, a_amt = ["widget"], [2.0], [10.0], [20.0]
    b_desc = ["widget", "widget", "other"]
    b_qty = [2.0, 2.0, 9.0]
    b_up = [10.0, 10.0, 99.0]
    small = K.line_assign_features_arrays(
        a_desc, a_qty, a_up, a_amt, b_desc, b_qty, b_up
    )
    pad = 9  # push m over the ≤8 threshold with strictly-worse columns
    big = K.line_assign_features_arrays(
        a_desc, a_qty, a_up, a_amt,
        b_desc + ["zzz"] * pad, b_qty + [50.0] * pad,
        b_up + [999.0] * pad,
    )
    assert small == big


def test_small_path_amount_sums_bit_exact():
    """≤8×8 shapes sum amounts left to right (Python ``sum``), larger
    ones with numpy add.reduce. The two orders agree only below 8
    elements (from 8 on numpy keeps 8 interleaved partial sums), so the
    totals themselves can differ at n=8; the features still agree
    whenever every a-line is matched (n ≤ m), because the unmatched
    amount is then a sum minus itself. Pin both with order-sensitive
    amount vectors (1e16 + 1.0 rounds away before -1e16 cancels) at n=3
    and n=8 and NaN/None amounts, comparing a ≤8×8 shape against the
    same rows padded with strictly-worse columns past 8×8."""
    a_desc = ["widget", "gear", "bolt"]
    a_qty = [1.0, 2.0, 3.0]
    a_up = [10.0, 20.0, 30.0]
    amts = [1e16, 1.0, -1e16]
    b_desc, b_qty, b_up = ["widget", "gear", "bolt"], [1.0, 2.0, 3.0], [10.0, 20.0, 30.0]
    small = K.line_assign_features_arrays(a_desc, a_qty, a_up, amts, b_desc, b_qty, b_up)
    pad = 9
    big = K.line_assign_features_arrays(
        a_desc, a_qty, a_up, amts,
        b_desc + ["zzz"] * pad, b_qty + [50.0] * pad, b_up + [999.0] * pad,
    )
    assert small == big
    # NaN/None amounts must coerce to 0.0 identically on both paths
    # (padding keeps n ≤ m so the assignment structure is unchanged)
    nan_amts = [float("nan"), 5.0, None]
    small_nan = K.line_assign_features_arrays(
        a_desc, a_qty, a_up, nan_amts, b_desc, b_qty, b_up
    )
    big_nan = K.line_assign_features_arrays(
        a_desc, a_qty, a_up, np.array([np.nan, 5.0, np.nan]),
        b_desc + ["zzz"] * pad, b_qty + [50.0] * pad, b_up + [999.0] * pad,
    )
    assert small_nan == big_nan

    # n=8: the totals differ (numpy 4.0, Python 5.0), the features do not
    amts8 = [1e16, 1.0, -1e16, 1.0, 1.0, 1.0, 1.0, 1.0]
    assert float(np.add.reduce(np.array(amts8))) != sum(amts8)
    desc8 = [f"item{i}" for i in range(8)]
    qty8 = [float(i + 1) for i in range(8)]
    up8 = [10.0 * (i + 1) for i in range(8)]
    small8 = K.line_assign_features_arrays(desc8, qty8, up8, amts8, desc8, qty8, up8)
    big8 = K.line_assign_features_arrays(
        desc8, qty8, up8, amts8,
        desc8 + ["zzz"] * pad, qty8 + [50.0] * pad, up8 + [999.0] * pad,
    )
    assert small8 == big8


def test_bench_kernel_probe_worker_smoke():
    """The bench's kernel-scaling ladder worker must stay call-compatible
    with operators/pairs._pair_kernel_fn — round 4's record lost its
    ladder to a stale arg list (VERDICT r4 'What's wrong' #1). One tiny
    in-process call pins the contract."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "bench_smoke", pathlib.Path(__file__).resolve().parents[1] / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    us = bench._kernel_probe_worker((64, 1))
    assert us > 0.0


# --------------------------------------------------------------------------
# Frozen reference: the per-row line matcher the pair kernel ran before it
# scored whole batches (list-based Jonker-Volgenant for every matrix up to
# 256 cells, a Python-float path for ≤8×8, a numpy path above). Kept
# verbatim in its arithmetic as the oracle of the batch core.


def _rowwise_lsa(cost, n, m):
    inf = float("inf")
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


def _rowwise_assignment(cost, n, m):
    """(row, col) pairs sorted by row, as the per-row solver returned them."""
    if n <= m:
        assigned = _rowwise_lsa(cost, n, m)
        return sorted((assigned[j] - 1, j - 1) for j in range(1, m + 1) if assigned[j])
    cost_t = [[cost[i][j] for i in range(n)] for j in range(m)]
    assigned = _rowwise_lsa(cost_t, m, n)
    return sorted((j - 1, assigned[j] - 1) for j in range(1, n + 1) if assigned[j])


def _rowwise_jw(a, b):
    return K.jaro_winkler_similarity(*((b, a) if a > b else (a, b)))


def _rowwise_fz(v):
    if v is None:
        return 0.0
    v = float(v)
    return 0.0 if v != v else v


def _rowwise_nan_to_zero(values, n):
    if n == 0:
        return np.zeros(0)
    out = np.asarray(values, dtype=np.float64)
    nan = np.isnan(out)
    return np.where(nan, 0.0, out) if nan.any() else out


def _rowwise_small(a_desc, a_qty, a_up, a_amt, b_desc, b_qty, b_up, alpha, beta, gamma):
    n, m = len(a_desc), len(b_desc)
    a_amt0 = [_rowwise_fz(v) for v in a_amt]
    a_up0 = [_rowwise_fz(v) for v in a_up]
    b_up0 = [_rowwise_fz(v) for v in b_up]
    a_qty0 = [_rowwise_fz(v) for v in a_qty]
    b_qty0 = [_rowwise_fz(v) for v in b_qty]
    cost = []
    for i in range(n):
        da = a_desc[i] or ""
        aui, aqi = a_up0[i], a_qty0[i]
        den_u = abs(aui) if abs(aui) > 1.0 else 1.0
        den_q = abs(aqi) if abs(aqi) > 1.0 else 1.0
        row = []
        for j in range(m):
            jw = _rowwise_jw(da, b_desc[j] or "")
            u = abs(aui - b_up0[j]) / den_u
            if u > 5.0:
                u = 5.0
            q = abs(aqi - b_qty0[j]) / den_q
            if q > 5.0:
                q = 5.0
            row.append(alpha * (1.0 - jw) + beta * u + gamma * q)
        cost.append(row)
    if n == 1:
        pairs_ = [(0, min(range(m), key=lambda j: cost[0][j]))]
    elif m == 1:
        pairs_ = [(min(range(n), key=lambda i: cost[i][0]), 0)]
    else:
        pairs_ = _rowwise_assignment(cost, n, m)
    total_amount = float(sum(a_amt0))
    matched = {i for i, _ in pairs_}
    matched_amount = float(sum(a_amt0[i] for i in sorted(matched)))
    unmatched_amount = total_amount - matched_amount
    if unmatched_amount < 0.0:
        unmatched_amount = 0.0
    frac = float(unmatched_amount / max(total_amount, 1.0)) if total_amount else 1.0
    diffs = sorted(abs(a_up0[i] - b_up0[j]) for i, j in pairs_)
    k = len(diffs)
    med = float(diffs[k // 2]) if k % 2 else float((diffs[k // 2 - 1] + diffs[k // 2]) / 2.0)
    return float(1.0 - frac), frac, float(max(0, n - len(matched))), med


def _rowwise_line_features(a_desc, a_qty, a_up, a_amt, b_desc, b_qty, b_up,
                          alpha=0.7, beta=0.2, gamma=0.1):
    a_desc = [] if a_desc is None else a_desc
    b_desc = [] if b_desc is None else b_desc
    n, m = len(a_desc), len(b_desc)
    if n <= 8 and m <= 8 and n and m:
        return _rowwise_small(a_desc, a_qty, a_up, a_amt, b_desc, b_qty, b_up,
                             alpha, beta, gamma)
    a_amt0 = _rowwise_nan_to_zero(a_amt, n)
    if n == 0 or m == 0:
        total_amount = float(a_amt0.sum())
        frac = float(total_amount / max(total_amount, 1.0)) if total_amount else 1.0
        return 0.0, frac, float(n), total_amount
    a_up0, b_up0 = _rowwise_nan_to_zero(a_up, n), _rowwise_nan_to_zero(b_up, m)
    a_qty0, b_qty0 = _rowwise_nan_to_zero(a_qty, n), _rowwise_nan_to_zero(b_qty, m)
    up_term = np.minimum(
        np.abs(a_up0[:, None] - b_up0[None, :]) / np.maximum(np.abs(a_up0)[:, None], 1.0), 5.0
    )
    qty_term = np.minimum(
        np.abs(a_qty0[:, None] - b_qty0[None, :]) / np.maximum(np.abs(a_qty0)[:, None], 1.0), 5.0
    )
    desc_cost = np.empty((n, m))
    for i in range(n):
        for j in range(m):
            desc_cost[i, j] = 1.0 - _rowwise_jw(a_desc[i] or "", b_desc[j] or "")
    cost = alpha * desc_cost + beta * up_term + gamma * qty_term
    if n == 1:
        pairs_ = [(0, int(np.argmin(cost[0])))]
    elif m == 1:
        pairs_ = [(int(np.argmin(cost[:, 0])), 0)]
    else:
        assert n * m <= 256  # the list solver's range; the fixtures stay in it
        pairs_ = _rowwise_assignment(cost.tolist(), n, m)
    row_ind = np.array([p[0] for p in pairs_])
    col_ind = np.array([p[1] for p in pairs_])
    matched = set(row_ind.tolist())
    total_amount = float(a_amt0.sum())
    matched_amount = float(a_amt0[list(matched)].sum())
    unmatched_amount = max(total_amount - matched_amount, 0.0)
    frac = float(unmatched_amount / max(total_amount, 1.0)) if total_amount else 1.0
    s = sorted(np.abs(a_up0[row_ind] - b_up0[col_ind]).tolist())
    h = len(s) // 2
    med = float(s[h]) if len(s) % 2 else float((s[h - 1] + s[h]) / 2.0)
    return float(1.0 - frac), frac, float(max(0, n - len(matched))), med


def _mixed_line_batch():
    """Per-pair line arrays (Arrow's shapes: object/float64 arrays, None
    for a NULL array) covering n, m ∈ 0..10 in four flavours: random,
    tie-heavy (repeated descriptions and prices), NULL/NaN-heavy, and
    order-sensitive amounts where a-lines go unmatched (n > m)."""
    rng = np.random.RandomState(2024)
    vocab = ["bolt", "nut", "bolt nut", "washer", "", "bolts", "tun", "bolt\x00", "\x00"]

    def side(k, flavour):
        if flavour == "ties":
            desc = [vocab[i] for i in rng.randint(0, 2, k)]
            qty = rng.choice([1.0, 2.0], k)
            up = rng.choice([10.0, 10.0, 20.0], k)
        else:
            desc = [vocab[i] for i in rng.randint(0, len(vocab), k)]
            qty = rng.randint(1, 5, k).astype(float)
            up = np.round(rng.rand(k) * 50, 2)
        amt = np.round(qty * up, 2)
        if flavour == "nulls":
            for arr in (qty, up, amt):
                arr[rng.rand(k) < 0.4] = np.nan
            desc = [None if rng.rand() < 0.3 else d for d in desc]
        if flavour == "order":
            amt = np.array([[1e16, 1.0, -1e16][i % 3] for i in range(k)])
        return np.array(desc, dtype=object), qty, up, amt

    rows = []
    for n in range(11):
        for m in range(11):
            for flavour in ("random", "ties", "nulls", "order"):
                ad, aq, au, aa = side(n, flavour)
                bd, bq, bu, _ = side(m, flavour)
                rows.append((ad, aq, au, aa, bd, bq, bu))
    # NULL arrays (a doc without lines) on either side
    ad, aq, au, aa = side(3, "random")
    rows.append((None, None, None, None, ad, aq, au))
    rows.append((ad, aq, au, aa, None, None, None))
    # the n=8 > m and n ≥ 9 > m order-sensitive cases, pinned explicitly
    amts8 = np.array([1e16, 1.0, -1e16, 1.0, 1.0, 1.0, 1.0, 1.0])
    for n, m in ((8, 3), (8, 7), (9, 4), (10, 2)):
        ad, aq, au, _ = side(n, "random")
        bd, bq, bu, _ = side(m, "random")
        amt = np.resize(amts8, n)
        rows.append((ad, aq, au, amt, bd, bq, bu))
        rows.append((ad, aq, au, amt[::-1].copy(), bd, bq, bu))
    # a 10×3 pair whose matched a-rows are {3, 8, 9}: numpy sums their
    # amounts in set iteration order (8, 9, 3), which these amounts tell
    # apart from sorted order
    ad = np.array([f"zz{i}" for i in range(10)], dtype=object)
    ad[[3, 8, 9]] = ["bolt", "nut", "washer"]
    au = np.full(10, 500.0)
    au[[3, 8, 9]] = [1.0, 2.0, 3.0]
    amt = np.zeros(10)
    amt[[0, 3, 8, 9]] = [5.0, 1.0, 1e16, -1e16]
    rows.append((ad, np.ones(10), au, amt,
                 np.array(["bolt", "nut", "washer"], dtype=object), np.ones(3), au[[3, 8, 9]]))
    return rows


def _bits(values) -> bytes:
    return np.asarray(values, dtype=np.float64).tobytes()


def test_line_assign_batch_matches_rowwise_reference():
    """The batch core scores a mixed-shape batch bit-for-bit as the
    per-row reference did, row by row, and a row's features do not
    depend on which other rows share its batch."""
    rows = _mixed_line_batch()
    cols = [pd.Series(list(c), dtype=object) for c in zip(*rows)]
    got = K.line_assign_batch(*cols)
    assert got.shape == (len(rows), 4)
    for i, r in enumerate(rows):
        want = _rowwise_line_features(*r)
        assert _bits(got[i]) == _bits(want), (i, got[i].tolist(), want)
    # batch independence: reversed, interleaved with other rows, alone
    rev = K.line_assign_batch(*[c[::-1].reset_index(drop=True) for c in cols])
    assert _bits(rev[::-1]) == _bits(got)
    pick = list(range(0, len(rows), 7))
    sub = K.line_assign_batch(*[c.iloc[pick].reset_index(drop=True) for c in cols])
    assert _bits(sub) == _bits(got[pick])
    for i in pick[::4]:
        alone = K.line_assign_features_arrays(*rows[i])
        assert _bits(alone) == _bits(got[i])


def test_jw_batch_matches_scalar_beyond_one_block():
    """Past one ``_JW_BLOCK`` (length sort and scatter-back), with
    latin-1 and non-latin-1 strings (the utf-32 code path), runs of
    repeated characters (several candidates in one match window), and
    through ``jw_pairs`` strings longer than ``_JW_BATCH_MAXLEN`` (the
    scalar remainder) and strings that differ only by NUL characters."""
    rng = np.random.RandomState(17)

    def word(alphabet, lo, hi):
        k = rng.randint(lo, hi + 1)
        return "".join(rng.choice(list(alphabet), k))

    n = K._JW_BLOCK + 300
    latin = [(word("abcé", 0, 20), word("abcé", 0, 20)) for _ in range(n)]
    repeats = [("a" * rng.randint(1, 12) + "b", "ba" * rng.randint(1, 7)) for _ in range(50)]
    wide = [(word("aбж中😀", 0, 16), word("aбж中😀", 0, 16)) for _ in range(n)]
    for pairs_ in (latin + repeats, wide + repeats):
        a, b = [p[0] for p in pairs_], [p[1] for p in pairs_]
        want = np.array([K.jaro_winkler_similarity(x, y) for x, y in pairs_])
        assert _bits(K.jw_batch(a, b)) == _bits(want)

    long_ = [(word("ab", 40, 90), word("ab", 40, 90)) for _ in range(200)]
    nul = [("", "\x00"), ("ab", "ab\x00"), ("ab\x00", "ab"), ("\x00ab", "ab")]
    mixed = latin[:500] + wide[:500] + repeats + long_ + nul + [(None, "abc"), ("", "")]
    a, b = [p[0] for p in mixed], [p[1] for p in mixed]
    assert any(len(x) > K._JW_BATCH_MAXLEN for x in a)
    K._JW_CACHE.clear()
    got = K.jw_pairs(a, b)
    want = [_rowwise_jw(x or "", y or "") for x, y in zip(a, b)]
    assert _bits(got) == _bits(want)
    # warm: every value now comes from the cache, unchanged
    assert _bits(K.jw_pairs(a, b)) == _bits(want)


def test_pair_kernel_matches_per_row_features():
    """``_pair_kernel_fn`` on one batch with NULL and empty line arrays,
    NULL descriptions and invoice numbers, and a doc past 8 lines equals
    the per-row features of the scalar functions."""
    from invoice_anomaly_detection_sieve_spark.operators import pairs as P

    descs = [
        np.array(["blue widget", "red gadget", None], dtype=object),
        np.array(["blue widget"], dtype=object),
        None,
        np.array([], dtype=object),
        np.array([f"part {i % 4} lot{i}" for i in range(11)], dtype=object),
        np.array([None, "red gadget"], dtype=object),
    ]
    nums = {
        0: (np.array([2.0, 1.0, np.nan]), np.array([5.0, 90.0, 3.0]), np.array([10.0, 90.0, 3.0])),
        1: (np.array([2.0]), np.array([5.0]), np.array([10.0])),
        2: (None, None, None),
        3: (np.array([]), np.array([]), np.array([])),
        4: (np.arange(11.0), np.linspace(1, 30, 11), np.arange(11.0) * 3),
        5: (np.array([1.0, 1.0]), np.array([np.nan, 90.0]), np.array([np.nan, 90.0])),
    }
    invs = ["INV-1", "INV-10", None, "", "inv-1", "INV-1"]
    pairs_ = [(a, b) for a in range(6) for b in range(6)]

    def col(side, k):
        return pd.Series([nums[p[side]][k] for p in pairs_], dtype=object)

    got = P._pair_kernel_fn(
        pd.Series([invs[a] for a, _ in pairs_]), pd.Series([invs[b] for _, b in pairs_]),
        pd.Series([descs[a] for a, _ in pairs_], dtype=object), col(0, 0), col(0, 1), col(0, 2),
        pd.Series([descs[b] for _, b in pairs_], dtype=object), col(1, 0), col(1, 1),
    )
    assert list(got.columns) == list(P.PAIR_KERNEL_FEATURES)

    def lines(p):
        if descs[p] is None:
            return []
        q, u, amt = nums[p]
        return [{"desc_norm": d, "qty": q[i], "unit_price": u[i], "amount": amt[i]}
                for i, d in enumerate(descs[p])]

    def blob(p):
        return " ".join(d or "" for d in (descs[p] if descs[p] is not None else []))

    for i, (a, b) in enumerate(pairs_):
        feats = K.line_assign_features(lines(a), lines(b))
        want = {
            "invnum_edit": 1.0 - _rowwise_jw(invs[a] or "", invs[b] or ""),
            "text_cosine": K.dice_3gram(blob(a), blob(b)),
            **feats,
        }
        assert _bits(got.iloc[i][list(want)].to_numpy()) == _bits(list(want.values())), (a, b)
        assert _bits(list(feats.values())) == _bits(_rowwise_line_features(
            descs[a], *nums[a], descs[b], *nums[b][:2]
        ))


def test_line_assign_non_finite_prices_end():
    """Infinite unit prices make NaN costs (inf/inf). The solver must
    still end: it then takes the first free column of each path. (The
    per-row solver looped forever on this pair.)"""
    inf = float("inf")
    with np.errstate(invalid="ignore"):
        cov, frac, new_items, _ = K.line_assign_features_arrays(
            ["a", "b"], [1.0, 1.0], [inf, inf], [1.0, 1.0],
            ["a", "b"], [1.0, 1.0], [inf, 2.0],
        )
    assert (cov, frac, new_items) == (1.0, 0.0, 0.0)
