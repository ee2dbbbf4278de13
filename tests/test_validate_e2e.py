"""End-to-end validation over the planted synthetic corpus (FIXTURES.md §1):
every planted condition must surface as the expected verdict/violation, and
violation rows must carry the byte-exact span sequence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invoice_anomaly_detection_sieve_spark.datagen import synthesize_documents
from invoice_anomaly_detection_sieve_spark.documents import extract_docs
from invoice_anomaly_detection_sieve_spark.plans import validate as V


@pytest.fixture(scope="module")
def corpus(spark):
    documents, media_registry, expected = synthesize_documents(spark, seed=42)
    cfg = V.ValidationConfig(dq_as_of="2024-04-01")
    out = V.run_validation(documents, media_registry, config=cfg)
    verdicts = out["doc_verdicts"].cache()
    violations = out["violations"].cache()
    parts = out["part_verdicts"].cache()
    return {
        "documents": documents,
        "expected": expected,
        "verdicts": {r["doc_id"]: r.asDict() for r in verdicts.collect()},
        "violations": violations.collect(),
        "parts": {r["part"]: r.asDict() for r in parts.collect()},
    }


def test_duplicate_pairs_hold_with_exact_invnum(corpus):
    for a, b in corpus["expected"]["dup_pairs"]:
        for doc in (a, b):
            v = corpus["verdicts"][doc]
            assert "EXACT_INVNUM" in v["reason_codes"], (doc, v["reason_codes"])
            assert "SAME_PO_NEAR_TOTAL" in v["reason_codes"]
            assert "PDF_NEAR_DUP" in v["reason_codes"]
            assert v["decision"] == "HOLD", v
        # each half of the pair must identify the other as top match
        assert corpus["verdicts"][a]["top_match_doc_id"] == b
        assert corpus["verdicts"][b]["top_match_doc_id"] == a


def test_dangling_media_refs_flag_bank_change(corpus):
    for doc in corpus["expected"]["dangling"]:
        v = corpus["verdicts"][doc]
        assert "BANK_CHANGE" in v["reason_codes"]
        assert v["bank_change"] is True
        # bank-change floor: score >= 80 => HOLD (app/decision.py:15-17)
        assert v["risk_score"] >= 80.0
        assert v["decision"] == "HOLD"


def test_fresh_registry_keys_flag_bank_change(corpus):
    for doc in corpus["expected"]["fresh"]:
        v = corpus["verdicts"][doc]
        assert v["bank_change"] is True
        assert "BANK_CHANGE" in v["reason_codes"]


def test_amount_outliers_flagged(corpus):
    for doc in corpus["expected"]["outliers"]:
        v = corpus["verdicts"][doc]
        assert "UNIT_PRICE_OUTLIER" in v["reason_codes"]
        assert v["amount_z"] >= 2.5


def test_row_dq_violations(corpus):
    for doc in corpus["expected"]["dq_badsum"]:
        assert "LINE_SUM_MISMATCH" in corpus["verdicts"][doc]["reason_codes"]
    for doc in corpus["expected"]["dq_future"]:
        assert "IMPLAUSIBLE_DATE" in corpus["verdicts"][doc]["reason_codes"]


def test_benford_partition_fails(corpus):
    assert corpus["parts"]["P3"]["benford_fail"] is True
    assert corpus["parts"]["P3"]["status"] == "FAIL"


def test_clean_documents_pass(corpus):
    planted = set()
    for a, b in corpus["expected"]["dup_pairs"]:
        planted |= {a, b}
    exp = corpus["expected"]
    planted |= set(exp["dangling"]) | set(exp["fresh"]) | set(exp["outliers"])
    planted |= set(exp["dq_badsum"]) | set(exp["dq_future"])
    clean_hold = [
        d for d, v in corpus["verdicts"].items() if d not in planted and v["decision"] == "HOLD"
    ]
    # The fallback heuristic weights (app/duplicate_model.py:31-48) produce a
    # small accidental-HOLD tail on dense same-partition near-matches; the
    # reference's own acceptance bound is false-hold <= 0.05 (AC-001,
    # requirements.md:343). Hold the clean population to that.
    assert len(clean_hold) <= len(corpus["verdicts"]) * 0.05, clean_hold[:10]


def test_hot_partition_counts(corpus):
    assert corpus["parts"]["P5"]["n_docs"] == 3 * 80  # hot partition, 3× volume


def test_violation_rows_carry_exact_span_sequence(spark, corpus):
    from invoice_anomaly_detection_sieve_spark.functions.normalize import span_canonical

    docs = extract_docs(corpus["documents"])
    canon = {r["doc_id"]: r["c"] for r in docs.select("doc_id", F.col("span_canon").alias("c")).collect()}
    assert corpus["violations"], "planted corpus must yield violations"
    for row in corpus["violations"]:
        assert row["span_seq"] == canon[row["doc_id"]]
        assert row["constraint_id"] in {"uniqueness", "referential", "drift", "row_dq"}


def test_every_violation_doc_has_nonpass_or_reason(corpus):
    by_doc = {}
    for row in corpus["violations"]:
        by_doc.setdefault(row["doc_id"], []).append(row["reason_code"])
    for doc, codes in by_doc.items():
        assert set(codes) == set(corpus["verdicts"][doc]["reason_codes"])


def test_counted_verdicts_plan_keeps_pair_kernel(spark):
    """count()-shaped timings must still run the pair kernel: Catalyst
    prunes what a count does not read, so a change to the rollup key could
    drop the kernel from the counted plan without any test failing. The
    plan is only explained, not run."""
    documents, media_registry, _ = synthesize_documents(spark, seed=42)
    out = V.run_validation(documents, media_registry, persist_extraction=False)
    counted = out["doc_verdicts"].groupBy().count()
    plan = counted._sc._jvm.PythonSQLUtils.explainString(
        counted._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" in plan


def test_multi_field_drift_self_profiled(spark):
    """drift_fields extras (here tax_total) self-profile per part and flag
    FIELD_DRIFT_<FIELD> exactly where the independently recomputed z
    crosses the outlier threshold; codes map to the drift constraint."""
    from invoice_anomaly_detection_sieve_spark.functions import scoring as S
    from invoice_anomaly_detection_sieve_spark.operators import drift, profile as P

    documents, media_registry, _ = synthesize_documents(spark, seed=42)
    cfg = V.ValidationConfig(
        dq_as_of="2024-04-01", drift_fields=("total", "tax_total")
    )
    out = V.run_validation(documents, media_registry, config=cfg)
    rows = out["doc_verdicts"].collect()
    assert rows
    flagged = {r["doc_id"] for r in rows if "FIELD_DRIFT_TAX_TOTAL" in r["reason_codes"]}
    outliers = {r["doc_id"] for r in rows if r["tax_total_drift_outlier"]}
    assert flagged == outliers

    # independent recomputation of the expected outlier set
    docs = extract_docs(documents)
    prof = {r["part"]: r for r in P.profile(docs, "tax_total").collect()}
    expected = set()
    for r in docs.select("part", "doc_id", "tax_total").collect():
        p = prof[r["part"]]
        x, mean, std, n = r["tax_total"], p["mean"], p["std"], p["sample_count"]
        if mean is None:
            continue
        xv = x if x is not None else 0.0
        if std and std > 0:
            z = abs(xv - mean) / std
        elif (n or 0) > 10:
            z = abs(xv - mean) / max(abs(mean), 1.0)
        else:
            z = 0.0
        if z >= drift.Z_OUTLIER_THRESHOLD:
            expected.add(r["doc_id"])
    assert outliers == expected
    assert expected, "corpus must contain at least one tax_total outlier"

    viol = [
        r for r in out["violations"].collect()
        if r["reason_code"] == "FIELD_DRIFT_TAX_TOTAL"
    ]
    assert {r["doc_id"] for r in viol} == expected
    assert all(r["constraint_id"] == "drift" for r in viol)
    out["extracted_docs"].unpersist()


def test_multi_field_drift_stored_baseline(spark):
    """A stored multi-field baseline drives the extra-field check: shifting
    one part's tax_total baseline far away flags EVERY doc in that part,
    and a baseline missing a requested field fails loudly."""
    from invoice_anomaly_detection_sieve_spark.plans.train import train_baselines

    documents, media_registry, _ = synthesize_documents(spark, seed=42)
    docs = extract_docs(documents)
    baselines = train_baselines(docs, fields=("total", "tax_total"))
    part = docs.select("part").first()["part"]
    shifted = baselines.withColumn(
        "mean",
        F.when(
            (F.col("field") == "tax_total") & (F.col("part") == part), F.lit(1.0e9)
        ).otherwise(F.col("mean")),
    )
    cfg = V.ValidationConfig(
        dq_as_of="2024-04-01", drift_fields=("total", "tax_total")
    )
    out = V.run_validation(
        documents, media_registry, baseline_profiles=shifted, config=cfg
    )
    rows = out["doc_verdicts"].collect()
    part_docs = {r["doc_id"] for r in rows if r["part"] == part}
    flagged = {r["doc_id"] for r in rows if "FIELD_DRIFT_TAX_TOTAL" in r["reason_codes"]}
    assert part_docs and part_docs <= flagged
    out["extracted_docs"].unpersist()

    total_only = train_baselines(docs, fields=("total",))
    with pytest.raises(ValueError, match="tax_total"):
        V.run_validation(
            documents, media_registry, baseline_profiles=total_only, config=cfg
        )

