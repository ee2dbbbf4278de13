"""Offline training jobs (SURVEY.md §3.3).

- ``train_baselines`` ≈ scripts/train_anomaly.py:14-54 — the per-partition
  profile job persisted through the catalog (MERGE on (part, field)).
- ``train_duplicate_model`` ≈ scripts/train_duplicate.py:59-121 — generate
  within-partition pairs (J2 blocking), score features (M1-M3), label with
  the reference's heuristics (:59-68: same normalized number ∨ same pdf
  hash ∨ (Δtotal ≤ 0.01 ∧ Δdays ≤ 5)), fit a balanced logistic regression.
  The distributed part (pair features) is the expensive part and runs in
  Spark; the fit itself is a tiny dense problem solved on the driver with
  numpy gradient descent (the reference fits sklearn on the driver the
  same way). Class balancing matches sklearn's ``class_weight='balanced'``
  (w_c = n_samples / (n_classes · n_c)).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scoring import FEATURE_ORDER
from ..operators import blocking, pairs, profile


def train_baselines(docs: DataFrame, fields: tuple[str, ...] = ("total",)) -> DataFrame:
    """Per-partition profiles for every requested field (A1 generalized)."""
    out = None
    for field in fields:
        p = profile.profile(docs, field)
        out = p if out is None else out.unionByName(p)
    return out


def heuristic_labels() -> F.Column:
    """Positive-pair label per scripts/train_duplicate.py:59-68.

    Faithful to ``_label_pair``: the pdf-hash rule needs a truthy hash
    (``a.get("pdf_hash") and ...`` — empty string never matches) and the
    near-total rule uses real totals (reference rows always carry totals;
    here null totals disqualify the clause rather than coalescing to 0.0,
    which would label two null-total docs within 5 days as duplicates).
    """
    same_inv = (
        F.col("a_invnum_norm").isNotNull()
        & (F.col("a_invnum_norm") != "")
        & (F.col("a_invnum_norm") == F.col("b_invnum_norm"))
    )
    same_pdf = (
        F.col("a_pdf_hash").isNotNull()
        & (F.col("a_pdf_hash") != "")
        & (F.col("a_pdf_hash") == F.col("b_pdf_hash"))
    )
    near = (
        F.col("a_total").isNotNull()
        & F.col("b_total").isNotNull()
        & (F.abs(F.col("a_total") - F.col("b_total")) <= 0.01)
        & (F.col("days_diff") <= 5)
    )
    # coalesce: a null-valued clause (null b-side invnum/pdf makes `a == b`
    # null; null date makes days_diff null) must read as NOT-a-duplicate,
    # not leak SQL null into the label — a NaN label crashes fit_logistic
    # (int(y.sum())) and would NaN-poison every weight after one step
    return F.coalesce(same_inv | same_pdf | near, F.lit(False)).cast("int")


def training_matrix(docs: DataFrame, cap: int = 200) -> DataFrame:
    """Labeled feature rows for unordered within-partition pairs.

    Docs without line items are excluded up front — the reference's
    ``build_dataset`` skips any pair where either side has no lines
    (scripts/train_duplicate.py:81-83), and filtering the doc set before
    pairing is equivalent and cheaper than filtering the pair set.
    """
    with_lines = docs.where(F.size("lines") > 0)
    pair_ids = blocking.training_pairs(with_lines, cap=cap)
    scored = pairs.score_pairs(with_lines, pair_ids)
    return scored.select(
        "a_doc_id", "b_doc_id",
        *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in FEATURE_ORDER],
        heuristic_labels().alias("label"),
    )


def fit_logistic(X: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, float]:
    """Balanced logistic regression via full-batch gradient descent: 500
    steps of rate 0.5 with an L2 penalty of 1e-3.

    Standard textbook solver — adequate for the tiny dense problems this
    produces (13 features). Features are standardized internally; returned
    weights are unstandardized back to raw-feature space.
    """
    mu, sd = X.mean(axis=0), X.std(axis=0)
    sd[sd == 0] = 1.0
    Xs = (X - mu) / sd
    n, d = Xs.shape
    pos = max(int(y.sum()), 1)
    neg = max(n - pos, 1)
    sw = np.where(y == 1, n / (2.0 * pos), n / (2.0 * neg))
    w = np.zeros(d)
    b = 0.0
    for _ in range(500):
        z = Xs @ w + b
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
        g = sw * (p - y)
        gw = Xs.T @ g / n + 1e-3 * w
        gb = float(g.mean())
        w -= 0.5 * gw
        b -= 0.5 * gb
    w_raw = w / sd
    b_raw = b - float((w * (mu / sd)).sum())
    return w_raw, b_raw


def train_duplicate_model(docs: DataFrame, cap: int = 200) -> dict:
    """End-to-end M6: returns {'weights': {name: w}, 'bias': b, 'auc': x}.

    Feature generation is fully distributed; only the (bounded) labeled
    matrix, at most 200,000 pairs, is collected for the dense fit, like the
    reference's driver-side sklearn fit.
    """
    mat = training_matrix(docs, cap=cap).limit(200_000)
    pdf = mat.select(*FEATURE_ORDER, "label").toPandas()
    if pdf["label"].nunique() < 2:
        raise ValueError("training data has a single class; widen the corpus")
    X = pdf[list(FEATURE_ORDER)].to_numpy(dtype=float)
    y = pdf["label"].to_numpy(dtype=float)
    w, b = fit_logistic(X, y)
    p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
    auc = _auc(y, p)
    return {
        "weights": {name: float(w[i]) for i, name in enumerate(FEATURE_ORDER)},
        "bias": float(b),
        "auc": float(auc),
        "n_pairs": int(len(y)),
        "n_pos": int(y.sum()),
    }


def save_duplicate_model(model: dict, path: str) -> None:
    """Persist a trained duplicate model as a JSON artifact.

    The artifact is 13 floats + metadata — driver-side JSON (on shared
    storage in a cluster deployment) is the right scale, mirroring the
    reference's single joblib file (app/duplicate_model.py:12,
    DUP_MODEL_PATH). Weight names are validated against FEATURE_ORDER so a
    stale artifact from a different feature schema fails at save/load, not
    by silently scoring wrong.
    """
    import json
    import os

    unknown = set(model.get("weights", {})) - set(FEATURE_ORDER)
    if unknown or "bias" not in model:
        raise ValueError(f"not a duplicate-model artifact (unknown={sorted(unknown)})")
    d = os.path.dirname(os.path.abspath(path))
    if d:
        os.makedirs(d, exist_ok=True)
    with open(path, "w") as f:
        json.dump(model, f, indent=1, sort_keys=True)


def load_duplicate_model(path: str | None) -> dict | None:
    """Load a trained model artifact, falling back to the heuristic
    coefficients when absent — the reference's load_model contract
    (app/duplicate_model.py:60-72: artifact if it exists, fallback
    otherwise). Returns None for the fallback so callers can pass it
    straight into ValidationConfig.dup_model / score_pairs(model=...),
    which treat None as "use FALLBACK_WEIGHTS"."""
    import json
    import os

    if not path or not os.path.exists(path):
        return None
    with open(path) as f:
        model = json.load(f)
    unknown = set(model.get("weights", {})) - set(FEATURE_ORDER)
    if unknown or "bias" not in model:
        raise ValueError(f"corrupt duplicate-model artifact at {path}")
    return model


def _auc(y: np.ndarray, score: np.ndarray) -> float:
    """ROC-AUC via the rank statistic (ties get midranks)."""
    order = np.argsort(score, kind="mergesort")
    ranks = np.empty(len(score))
    s_sorted = score[order]
    i = 0
    r = 1
    while i < len(s_sorted):
        j = i
        while j + 1 < len(s_sorted) and s_sorted[j + 1] == s_sorted[i]:
            j += 1
        ranks[order[i : j + 1]] = (r + r + (j - i)) / 2.0
        r += j - i + 1
        i = j + 1
    pos = y == 1
    n_pos, n_neg = int(pos.sum()), int((~pos).sum())
    if n_pos == 0 or n_neg == 0:
        return float("nan")
    return (ranks[pos].sum() - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
