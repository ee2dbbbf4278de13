"""Training job (M6), PSI/KS/Benford drift checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invoice_anomaly_detection_sieve_spark.datagen import synthesize_documents
from invoice_anomaly_detection_sieve_spark.documents import extract_docs
from invoice_anomaly_detection_sieve_spark.operators import drift, profile
from invoice_anomaly_detection_sieve_spark.plans import train


@pytest.fixture(scope="module")
def docs(spark):
    documents, _, _ = synthesize_documents(spark, seed=42)
    return extract_docs(documents).cache()


def test_benford_flags_uniform_partition(spark, docs):
    prof = profile.profile(docs, "total")
    ben = {r["part"]: r.asDict() for r in drift.benford_stats(prof).collect()}
    assert ben["P3"]["benford_fail"] is True  # planted uniform leading digits
    # log10-uniform partitions conform
    assert ben["P1"]["benford_fail"] is False
    assert ben["P5"]["benford_fail"] is False


def test_psi_detects_shift(spark, docs):
    baseline = profile.profile(docs, "total")
    # current = same data shifted 3x in P1 only
    shifted = docs.withColumn(
        "total", F.when(F.col("part") == "P1", F.col("total") * 3.0).otherwise(F.col("total"))
    )
    out = {r["part"]: r.asDict() for r in drift.psi(shifted, baseline).collect()}
    assert out["P1"]["psi"] > drift.PSI_ALERT and out["P1"]["psi_fail"]
    # unshifted partition against its own deciles: tiny PSI
    assert out["P0"]["psi"] < 0.1


def test_ks_detects_shift(spark, docs):
    base = docs
    cur = docs.withColumn(
        "total", F.when(F.col("part") == "P2", F.col("total") + 500.0).otherwise(F.col("total"))
    )
    out = {r["part"]: r.asDict() for r in drift.ks_2samp(cur, base).collect()}
    assert out["P2"]["ks_stat"] > 0.9  # disjoint shifted distribution
    assert out["P0"]["ks_stat"] == 0.0  # identical samples
    assert out["P2"]["n_current"] == out["P2"]["n_baseline"]


def test_ks_windowed_matches_pandas_reference(spark):
    # parity: the windowed cumulative-count plan must reproduce the
    # grouped-map numpy statistic BIT-exactly, including ties and a
    # skewed hot partition far larger than the others
    import numpy as np

    rng = np.random.RandomState(42)
    rows = []
    for part, n_c, n_b, shift in (
        ("hot", 60_000, 50_000, 0.3),   # skewed partition
        ("small", 40, 25, 0.0),
        ("tied", 500, 500, 0.0),
    ):
        cur_v = rng.randn(n_c) + shift
        base_v = rng.randn(n_b)
        if part == "tied":  # heavy ties: integer-valued samples
            cur_v = np.round(cur_v * 2)
            base_v = np.round(base_v * 2)
        rows += [(part, float(v), "c") for v in cur_v]
        rows += [(part, float(v), "b") for v in base_v]
    df = spark.createDataFrame(rows, "part string, total double, src string")
    cur, base = df.where("src = 'c'"), df.where("src = 'b'")
    got = {r["part"]: r.asDict() for r in drift.ks_2samp(cur, base).collect()}
    want = {r["part"]: r.asDict() for r in drift.ks_2samp_pandas(cur, base).collect()}
    assert set(got) == set(want)
    for part in want:
        assert got[part]["n_current"] == want[part]["n_current"]
        assert got[part]["n_baseline"] == want[part]["n_baseline"]
        assert got[part]["ks_stat"] == want[part]["ks_stat"], part


def test_ks_empty_side_is_nan(spark):
    import math as _math

    cur = spark.createDataFrame([("P0", 1.0), ("P1", 2.0)], "part string, total double")
    base = spark.createDataFrame([("P0", 1.5)], "part string, total double")
    out = {r["part"]: r.asDict() for r in drift.ks_2samp(cur, base).collect()}
    assert _math.isnan(out["P1"]["ks_stat"]) and out["P1"]["n_baseline"] == 0
    assert out["P0"]["ks_stat"] == 1.0


def test_train_duplicate_model(spark, docs):
    model = train.train_duplicate_model(docs)
    assert model["n_pairs"] > 100
    assert 0 < model["n_pos"] < model["n_pairs"]
    # the heuristic labels are learnable: in-sample AUC far above chance
    assert model["auc"] > 0.85, model
    assert set(model["weights"]) == set(train.FEATURE_ORDER)


def test_fit_logistic_separable():
    import numpy as np

    rng = np.random.RandomState(0)
    X = rng.randn(400, 3)
    y = (X[:, 0] + 2 * X[:, 1] > 0).astype(float)
    w, b = train.fit_logistic(X, y)
    p = 1 / (1 + np.exp(-(X @ w + b)))
    assert ((p > 0.5) == y).mean() > 0.95
    assert w[1] > w[2]  # dominant feature learned


def test_auc_known_values():
    import numpy as np

    y = np.array([0, 0, 1, 1], dtype=float)
    assert train._auc(y, np.array([0.1, 0.2, 0.8, 0.9])) == 1.0
    assert train._auc(y, np.array([0.9, 0.8, 0.2, 0.1])) == 0.0
    assert abs(train._auc(y, np.array([0.5, 0.5, 0.5, 0.5])) - 0.5) < 1e-12


def test_isolation_forest_ranks_planted_outliers(spark):
    from invoice_anomaly_detection_sieve_spark.datagen import synthesize_documents
    from invoice_anomaly_detection_sieve_spark.documents import extract_docs
    from invoice_anomaly_detection_sieve_spark.operators.mlmodels import isolation_scores

    documents, _, expected = synthesize_documents(spark, seed=42)
    docs = extract_docs(documents)
    scores = isolation_scores(docs).where(F.col("part") == "P2").collect()
    by_doc = {r["doc_id"]: r["iso_score"] for r in scores}
    planted = set(expected["outliers"])
    assert planted <= set(by_doc)
    # every planted 3000.0 outlier out-scores every normal P2 doc
    normal_max = max(v for d, v in by_doc.items() if d not in planted)
    assert min(by_doc[d] for d in planted) > normal_max
    # determinism: same input -> identical scores
    again = {r["doc_id"]: r["iso_score"] for r in
             isolation_scores(docs).where(F.col("part") == "P2").collect()}
    assert again == by_doc


def test_multi_field_baseline_does_not_fan_out(spark, docs):
    """A stored baseline with one row per (part, field) must not
    duplicate verdict rows through the profile joins (round-3 ADVICE):
    the validated field is pinned to 'total'."""
    from invoice_anomaly_detection_sieve_spark.plans import validate as V

    multi = train.train_baselines(docs, fields=("total", "tax_total"))
    reg = spark.createDataFrame(
        [("P0", "m0", "2024-01-01", "2024-02-01")],
        "part string, media_key string, first_seen string, last_seen string",
    )
    single = V.doc_verdicts_from_docs(docs, reg, baseline_profiles=train.train_baselines(docs))
    both = V.doc_verdicts_from_docs(docs, reg, baseline_profiles=multi)
    n_docs = docs.count()
    assert both.count() == n_docs == single.count()
    assert both.groupBy("doc_id").count().where(F.col("count") > 1).count() == 0


def test_isolation_scores_group_cardinality_guard(spark):
    """The broadcast of fitted models is O(groups) driver memory; past
    max_groups the call must fail fast with an explicit message
    (round-3 VERDICT item 7), not OOM mid-collect."""
    import pytest as _pytest

    from invoice_anomaly_detection_sieve_spark.operators import mlmodels as M

    rows = [(f"g{i}", f"d{i}", float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "part string, doc_id string, total double")
    with _pytest.raises(ValueError, match="max_groups"):
        M.isolation_scores(df, max_groups=10)
    # at/under the threshold it runs
    assert M.isolation_scores(df, max_groups=50).count() == 50


def test_isolation_scores_skewed_partition_streams_batches(spark):
    """A group ≫ the fit sample must stream through scoring in O(batch)
    memory (mapInPandas) AND produce exactly the scores a single-pass
    evaluation of the same broadcast model gives (round-2 VERDICT #6)."""
    import json as _json

    import numpy as np

    from invoice_anomaly_detection_sieve_spark.operators import mlmodels as M

    n = 3000
    vals = [float(100 + (i % 50)) for i in range(n - 3)] + [5000.0, 5200.0, 4800.0]
    rows = [("G", f"d{i:05d}", v) for i, v in enumerate(vals)]
    rows += [("S", f"s{i}", 1.0) for i in range(5)]
    df = spark.createDataFrame(rows, "part string, doc_id string, total double")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
    try:
        out = M.isolation_scores(df).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    by = {r["doc_id"]: r["iso_score"] for r in out if r["part"] == "G"}
    assert len(by) == n
    planted = {f"d{i:05d}" for i in (n - 3, n - 2, n - 1)}
    normal_max = max(v for k, v in by.items() if k not in planted)
    assert min(by[k] for k in planted) > normal_max
    # groups under the 8-row floor stay indistinguishable
    assert all(r["iso_score"] == 0.5 for r in out if r["part"] == "S")
    # batched scores == one-pass evaluation of the same fitted model
    model = M.fit_forests(df).where(F.col("part") == "G").collect()[0]
    trees = _json.loads(model["model"])
    x = np.array(vals)[:, None]
    paths = np.zeros(n)
    for t in trees:
        paths += M._path_length(t, x)
    want = np.power(2.0, -(paths / 32) / max(M._c(float(model["psi"])), 1e-12))
    got = np.array([by[f"d{i:05d}"] for i in range(n)])
    assert np.array_equal(got, want)


def test_stored_baseline_history_count_not_decremented(spark, docs):
    """Self-profiling excludes the doc from its own history (count - 1);
    a STORED baseline's count already excludes it — decrementing there
    shifted the <5 cold-history discount boundary by one."""
    prof = profile.profile(docs, "total")
    flagged = docs.withColumn("bank_change", F.lit(False))
    cnt = {r["part"]: r["cnt"] for r in prof.collect()}

    self_prof = drift.with_anomaly_scores(flagged, prof)  # default True
    stored = drift.with_anomaly_scores(flagged, prof, history_includes_self=False)
    got_self = {r["part"]: r["hist_count"]
                for r in self_prof.select("part", "hist_count").distinct().collect()}
    got_stored = {r["part"]: r["hist_count"]
                  for r in stored.select("part", "hist_count").distinct().collect()}
    for part, n in cnt.items():
        assert got_self[part] == n - 1
        assert got_stored[part] == n


def test_stored_baseline_benford_tests_current_data(spark, docs):
    """Benford conformity is a property of the data being VALIDATED: with
    a stored baseline from a healthy history, a grossly non-Benford
    current batch must FAIL (previously the baseline's own digit_hist was
    tested, so the batch always inherited the history's verdict)."""
    healthy = docs.where(F.col("part") == "P1")  # log10-uniform: conforms
    baseline = train.train_baselines(healthy)
    # current batch: same partition, uniform leading digits 1..9 (fails)
    bad_now = healthy.withColumn(
        "total", (F.lit(1000.0) + (F.abs(F.hash("doc_id")) % 9) * F.lit(1111.0)).cast("double")
    )
    # run_validation re-extracts from raw documents; here docs are already
    # extracted, so drive the same pieces run_validation wires together:
    cur_hist = profile.digit_histogram(bad_now)
    ben = {r["part"]: r["benford_fail"] for r in drift.benford_stats(cur_hist).collect()}
    assert ben["P1"] is True  # current data fails...
    base_ben = {r["part"]: r["benford_fail"]
                for r in drift.benford_stats(baseline.where(F.col("field") == "total")).collect()}
    assert base_ben["P1"] is False  # ...while the history conforms


def test_heuristic_labels_null_evidence_is_negative(spark):
    """Null b-side invnum/pdf or a null date must label 0, not SQL null —
    a NaN label crashes fit_logistic and poisons the weights."""
    rows = [
        # a_inv, b_inv, a_pdf, b_pdf, a_total, b_total, days_diff
        ("INV1", None, None, None, 10.0, 10.0, None),   # null b_inv + null days
        ("INV2", "INV2", None, None, None, None, 3),     # same invnum -> 1
        (None, None, "h", "h", 5.0, 99.0, 2),            # same pdf -> 1
        ("A", "B", None, "x", 5.0, 5.0, None),           # all clauses null/false
    ]
    df = spark.createDataFrame(
        rows,
        "a_invnum_norm string, b_invnum_norm string, a_pdf_hash string, "
        "b_pdf_hash string, a_total double, b_total double, days_diff int",
    )
    got = [r["label"] for r in df.select(train.heuristic_labels().alias("label")).collect()]
    assert got == [0, 1, 1, 0]
    assert all(v is not None for v in got)


def test_psi_flags_novel_partition(spark):
    """A partition present in current but absent from the baseline is the
    strongest drift signal — it must be EMITTED (psi null, fail true),
    not silently dropped by the baseline join."""
    base_docs = spark.createDataFrame(
        [("P0", float(v)) for v in range(1, 101)], "part string, total double"
    )
    baseline = profile.profile(base_docs, "total")
    current = base_docs.union(
        spark.createDataFrame([("NEW", 5.0), ("NEW", 7.0)], "part string, total double")
    )
    out = {r["part"]: r.asDict() for r in drift.psi(current, baseline).collect()}
    assert set(out) == {"P0", "NEW"}
    assert out["NEW"]["psi"] is None and out["NEW"]["psi_fail"] is True
    assert out["P0"]["psi_fail"] is False


def test_trained_weights_reach_the_scoring_pipeline(spark, docs, tmp_path):
    """M4 end-to-end: train -> save artifact -> load -> validate with the
    trained model, and the scores actually change vs the fallback
    (reference contract: app/duplicate_model.py:60-80 uses the trained
    artifact whenever one exists, fallback otherwise)."""
    from invoice_anomaly_detection_sieve_spark.operators import blocking, pairs
    from invoice_anomaly_detection_sieve_spark.plans import validate as V

    model = train.train_duplicate_model(docs)
    path = str(tmp_path / "dup_model.json")
    train.save_duplicate_model(model, path)
    loaded = train.load_duplicate_model(path)
    assert loaded["weights"] == model["weights"]
    assert loaded["bias"] == model["bias"]
    # missing artifact -> None -> fallback weights (load_model contract)
    assert train.load_duplicate_model(str(tmp_path / "absent.json")) is None

    pair_ids = blocking.candidate_pairs(docs, cap=50).cache()
    key = ["a_doc_id", "b_doc_id"]
    fallback = {tuple(r[k] for k in key): r["dup_prob"]
                for r in pairs.score_pairs(docs, pair_ids).select(*key, "dup_prob").collect()}
    trained = {tuple(r[k] for k in key): r["dup_prob"]
               for r in pairs.score_pairs(docs, pair_ids, model=loaded)
               .select(*key, "dup_prob").collect()}
    pair_ids.unpersist()
    assert set(fallback) == set(trained)
    diffs = [k for k in fallback if abs(fallback[k] - trained[k]) > 1e-9]
    assert len(diffs) > len(fallback) * 0.5  # trained model genuinely differs
    # both are probabilities
    assert all(0.0 <= v <= 1.0 for v in trained.values())

    # the config plumbing: doc_verdicts_from_docs scores with cfg.dup_model
    reg = docs.sparkSession.createDataFrame(
        [], "media_key string, first_seen timestamp, last_seen timestamp")
    cfg_fb = V.ValidationConfig(enable_dq=False)
    cfg_tr = V.ValidationConfig(enable_dq=False, dup_model=loaded)
    v_fb = {r["doc_id"]: r["dup_prob"]
            for r in V.doc_verdicts_from_docs(docs, reg, config=cfg_fb)
            .select("doc_id", "dup_prob").collect()}
    v_tr = {r["doc_id"]: r["dup_prob"]
            for r in V.doc_verdicts_from_docs(docs, reg, config=cfg_tr)
            .select("doc_id", "dup_prob").collect()}
    assert set(v_fb) == set(v_tr)
    assert any(abs(v_fb[k] - v_tr[k]) > 1e-9 for k in v_fb)


def test_dup_probability_rejects_unknown_features():
    import pytest as _pytest

    from invoice_anomaly_detection_sieve_spark.functions import scoring as S

    with _pytest.raises(ValueError, match="unknown model features"):
        S.dup_probability(weights={"not_a_feature": 1.0}, bias=0.0)
    with _pytest.raises(ValueError, match="explicit bias"):
        S.dup_probability(weights={"text_cosine": 1.0})
