"""Duplicate/anomaly scoring and verdict fusion as Column expressions.

Everything here is pure Catalyst arithmetic — the reference computes these
per-row in Python (``app/features.py:20-40`` header features,
``app/duplicate_model.py:51-80`` fallback logistic model,
``app/anomaly.py:72-94`` anomaly heuristics, ``app/decision.py:7-32``
fusion + thresholds, ``app/rules.py:11-70`` deterministic rules); the Spark
engine evaluates them as vectorized column math inside whole-stage codegen.

Spec-vs-code divergences resolved in favor of the shipped code
(SURVEY.md §7.4 item 7): weighted-linear fusion (not noisy-OR), mean/std
z with 2.5 cutoff labelled UNIT_PRICE_OUTLIER, Dice-not-TFIDF text
similarity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Fixed feature order of the duplicate model (app/duplicate_model.py:14-28).
FEATURE_ORDER = [
    "abs_total_diff_pct",
    "days_diff",
    "same_po",
    "same_currency",
    "same_tax_total",
    "bank_change_flag",
    "payee_name_change_flag",
    "invnum_edit",
    "line_coverage_pct",
    "unmatched_amount_frac",
    "count_new_items",
    "median_unit_price_diff",
    "text_cosine",
]

# Heuristic fallback logistic weights (app/duplicate_model.py:31-48).
FALLBACK_WEIGHTS = {
    "abs_total_diff_pct": -1.2,
    "days_diff": -0.03,
    "same_po": 0.8,
    "same_currency": 0.3,
    "same_tax_total": 0.2,
    "bank_change_flag": -0.4,
    "payee_name_change_flag": -0.1,
    "invnum_edit": -1.5,
    "line_coverage_pct": 1.6,
    "unmatched_amount_frac": -1.8,
    "count_new_items": -0.4,
    "median_unit_price_diff": -0.05,
    "text_cosine": 2.2,
}
FALLBACK_BIAS = -0.3

HOLD, REVIEW, PASS = "HOLD", "REVIEW", "PASS"
DEFAULT_HOLD_THRESHOLD = 80.0  # app/config.py:33
DEFAULT_REVIEW_THRESHOLD = 50.0  # app/config.py:34


def _nz(col: Column) -> Column:
    return F.coalesce(col.cast("double"), F.lit(0.0))


def header_features(a: str, b: str) -> dict[str, Column]:
    """Pairwise header features over aliased pair columns.

    ``a``/``b`` are column-name prefixes (e.g. "a_", "b_") of a joined pair
    row carrying total, date, po, currency, tax_total, media_key,
    payee_name, invnum_norm. Parity: app/features.py:20-40. The one
    non-SQL feature (invnum_edit via Jaro-Winkler) is attached separately
    by the pair kernel.
    """
    c = F.col
    feats: dict[str, Column] = {}
    feats["abs_total_diff_pct"] = F.abs(_nz(c(a + "total")) - _nz(c(b + "total"))) / F.greatest(
        F.abs(_nz(c(a + "total"))), F.lit(1.0)
    )
    feats["days_diff"] = F.abs(F.datediff(c(a + "date"), c(b + "date"))).cast("double")
    feats["same_po"] = (
        c(a + "po").isNotNull() & (c(a + "po") != "") & (c(a + "po") == c(b + "po"))
    ).cast("double")
    feats["same_currency"] = c(a + "currency").eqNullSafe(c(b + "currency")).cast("double")
    feats["same_tax_total"] = (
        F.round(_nz(c(a + "tax_total")), 2) == F.round(_nz(c(b + "tax_total")), 2)
    ).cast("double")
    feats["bank_change_flag"] = (
        c(a + "media_key").isNotNull()
        & c(b + "media_key").isNotNull()
        & (c(a + "media_key") != c(b + "media_key"))
    ).cast("double")
    feats["payee_name_change_flag"] = (
        ~F.coalesce(c(a + "payee"), F.lit("")).eqNullSafe(F.coalesce(c(b + "payee"), F.lit("")))
    ).cast("double")
    return feats


def dup_probability(
    feature_cols: dict[str, Column] | None = None,
    weights: dict[str, float] | None = None,
    bias: float | None = None,
) -> Column:
    """Sigmoid of the broadcast-weight dot product (app/duplicate_model.py:54-57).

    ``feature_cols`` maps FEATURE_ORDER names to Columns; missing features
    default to 0.0 like the reference's ``features.get(name, 0.0)``.

    ``weights``/``bias`` plug a TRAINED model in (plans/train.py
    ``train_duplicate_model`` output); omitted they fall back to the
    reference's heuristic coefficients, mirroring ``load_model``'s
    trained-artifact-else-fallback behavior (app/duplicate_model.py:60-72).
    The coefficients are plan literals — Catalyst constant-folds the dot
    product, so a trained model costs the same as the fallback at runtime.
    """
    if weights is None:
        weights = FALLBACK_WEIGHTS
        if bias is None:
            bias = FALLBACK_BIAS
    else:
        unknown = set(weights) - set(FEATURE_ORDER)
        if unknown:
            raise ValueError(f"unknown model features: {sorted(unknown)}")
        if bias is None:
            raise ValueError("trained weights require an explicit bias")
    feature_cols = feature_cols or {name: F.col(name) for name in FEATURE_ORDER}
    logit = F.lit(float(bias))
    for name in FEATURE_ORDER:
        col = feature_cols.get(name)
        if col is not None and name in weights:
            logit = logit + F.lit(float(weights[name])) * _nz(col)
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), prob))


def amount_z(total: Column, mean: Column, std: Column, sample_count: Column) -> Column:
    """Anomaly z-score with the reference's degenerate-std fallback
    (app/anomaly.py:77-83): std>0 ⇒ |x-μ|/σ; else if sample_count>10 ⇒
    |x-μ|/max(|μ|,1); else 0. NULL baseline ⇒ 0."""
    has_baseline = mean.isNotNull()
    mean_nz, std_nz = _nz(mean), _nz(std)
    scale = F.greatest(F.abs(mean_nz), F.lit(1.0))
    return (
        F.when(has_baseline & (std_nz > 0.0), F.abs(_nz(total) - mean_nz) / std_nz)
        .when(has_baseline & (F.coalesce(sample_count, F.lit(0)) > 10), F.abs(_nz(total) - mean_nz) / scale)
        .otherwise(F.lit(0.0))
    )


def anomaly_probability(z: Column, bank_change: Column, hist_count: Column) -> Column:
    """Anomaly probability (app/anomaly.py:88-94): 0.1 + min(z/5, 0.6),
    +0.25 on bank change, ×0.8 for cold groups (<5 history), clamp ≤1."""
    prob = F.lit(0.1) + F.least(z / 5.0, F.lit(0.6))
    prob = F.when(bank_change, prob + 0.25).otherwise(prob)
    prob = F.when(F.coalesce(hist_count, F.lit(0)) < 5, prob * 0.8).otherwise(prob)
    return F.least(prob, F.lit(1.0))


def fuse_scores(
    dup_prob: Column, anom_prob: Column, bank_change: Column, text_dup_prob: Column
) -> Column:
    """0-100 risk fusion (app/decision.py:7-19): 0.7·dup +
    0.2·max(dup,text) + 0.1·anom, ×100; bank change adds 15 then floors at
    80; clamp [0,100]."""
    score = (
        0.7 * _nz(dup_prob) + 0.2 * F.greatest(_nz(dup_prob), _nz(text_dup_prob)) + 0.1 * _nz(anom_prob)
    ) * 100.0
    score = F.when(
        bank_change, F.greatest(F.least(F.lit(100.0), score + 15.0), F.lit(80.0))
    ).otherwise(score)
    return F.greatest(F.lit(0.0), F.least(score, F.lit(100.0)))


def decide(
    score: Column,
    review_threshold: float | Column = DEFAULT_REVIEW_THRESHOLD,
    hold_threshold: float | Column = DEFAULT_HOLD_THRESHOLD,
) -> Column:
    """HOLD/REVIEW/PASS thresholding (app/decision.py:22-32)."""
    if not isinstance(review_threshold, Column):
        if float(hold_threshold) < float(review_threshold):
            raise ValueError("hold_threshold must be >= review_threshold")
        review_threshold = F.lit(float(review_threshold))
        hold_threshold = F.lit(float(hold_threshold))
    return (
        F.when(score >= hold_threshold, F.lit(HOLD))
        .when(score >= review_threshold, F.lit(REVIEW))
        .otherwise(F.lit(PASS))
    )


# --- deterministic rules (app/rules.py) as boolean Columns --------------


def rule_same_invnum_norm(a: Column, b: Column) -> Column:
    """Equal non-empty normalized numbers ⇒ EXACT_INVNUM (app/rules.py:11-12)."""
    return a.isNotNull() & b.isNotNull() & (a != "") & (b != "") & (a == b)


def rule_same_po_near_total(
    po_a: Column,
    po_b: Column,
    total_a: Column,
    total_b: Column,
    date_gap_days: Column,
) -> Column:
    """Same PO, totals within 0.5% of max(|a|,1), ≤30-day gap
    (app/rules.py:15-32)."""
    same_po = po_a.isNotNull() & po_b.isNotNull() & (po_a != "") & (po_b != "") & (po_a == po_b)
    base = F.greatest(F.abs(_nz(total_a)), F.lit(1.0))
    near = F.abs(_nz(total_a) - _nz(total_b)) <= F.lit(0.005) * base
    return same_po & near & (date_gap_days <= 30)


def rule_pdf_near_dup(hash_a: Column, hash_b: Column) -> Column:
    """Equal non-NULL content hashes (app/rules.py:35-38). The reference
    also accepts shingle-Jaccard ≥ 0.9 over PDF text, which the documents
    table does not carry."""
    return hash_a.isNotNull() & hash_b.isNotNull() & (hash_a == hash_b)
