"""Duplicate clustering (connected components) + deterministic sampling.

Covers operators/dedup.py:duplicate_clusters/keep_canonical and
operators/sampling.py — the cluster labels must equal the transitive
closure's per-component min id, and both samplers must be engine- and
partitioning-independent (re-run under a different repartitioning yields
the identical row set).
"""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from invoice_anomaly_detection_sieve_spark.operators import dedup, sampling


def test_duplicate_clusters_chain_triangle_isolated_pair(spark):
    # components: a chain 1-2-3-4 (diameter 3), a triangle 10-11-12,
    # and an isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a_id long, b_id long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_duplicate_clusters_long_chain_converges(spark):
    # a 12-node path needs ~diameter rounds of min propagation — exercises
    # the fixpoint loop well past one iteration
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "a_id long, b_id long"
    )
    got = dedup.duplicate_clusters(pairs)
    assert got.count() == 13
    assert got.select("cluster_id").distinct().collect()[0][0] == 100
    assert got.where(F.col("cluster_id") != 100).count() == 0


def test_keep_canonical_drops_non_canonical_only(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a_id long, b_id long")
    clusters = dedup.duplicate_clusters(pairs)
    kept = sorted(
        r["doc_id"] for r in dedup.keep_canonical(docs, clusters).collect()
    )
    # 2,3 fold into 1; 6 folds into 5; 4 and 7 are unclustered
    assert kept == [1, 4, 5, 7]


def test_stratified_sample_exact_k_and_partitioning_invariance(spark):
    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    s1 = sampling.stratified_sample(df, 7)
    assert s1.groupBy("lang").count().rdd.map(lambda r: r["count"]).collect() == [7, 7, 7]
    # identical row set under a different physical layout
    s2 = sampling.stratified_sample(df.repartition(13, "doc_id"), 7)
    assert sorted(r["doc_id"] for r in s1.collect()) == sorted(
        r["doc_id"] for r in s2.collect()
    )
    # k above group size returns the whole group
    tiny = spark.createDataFrame([(1, "en"), (2, "en")], "doc_id long, lang string")
    assert sampling.stratified_sample(tiny, 10).count() == 2


def test_stratified_sample_matches_python_md5_rank(spark):
    df = spark.createDataFrame([(i, "en") for i in range(50)], "doc_id long, lang string")
    got = sorted(r["doc_id"] for r in sampling.stratified_sample(df, 5).collect())
    want = sorted(
        sorted(range(50), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:5]
    )
    assert got == want


def test_hash_fraction_sample_bounds_and_determinism(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    kept = sampling.hash_fraction_sample(df, 25)
    n = kept.count()
    # 64/256 of the hash space; binomial(2000, 0.25) stays well inside
    assert 400 < n < 600
    # pure predicate => no shuffle, same rows on any layout
    n2 = sampling.hash_fraction_sample(df.repartition(17), 25).count()
    assert n2 == n
    assert sampling.hash_fraction_sample(df, 100).count() == 2000
    # matches the documented python-side predicate exactly
    want = sum(
        1 for i in range(2000)
        if hashlib.md5(str(i).encode()).hexdigest()[:2] < "40"
    )
    assert n == want


def test_duplicate_clusters_raises_on_nonconvergence(spark):
    """A chain whose diameter exceeds max_iter must FAIL, not silently
    return labels that are not the component minimum (keep_canonical
    would then keep several 'canonicals' from one cluster)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200, 210)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(pairs, max_iter=2)


def test_minhash_unguarded_matches_guarded_without_hot_buckets(spark):
    """max_bucket=None (exact-recall oracle path) and a never-binding
    guard must produce identical pairs — the unguarded path shares the
    single-pass formulation, it only skips the count filter."""
    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta gamma delta epsilon zeta {i % 3}") for i in range(24)],
        "doc_id string, text string",
    )
    unguarded = dedup.minhash_lsh_pairs(docs, max_bucket=None)
    guarded = dedup.minhash_lsh_pairs(docs, max_bucket=10**6)
    a = {(r["a_id"], r["b_id"], r["n_shared_bands"]) for r in unguarded.collect()}
    b = {(r["a_id"], r["b_id"], r["n_shared_bands"]) for r in guarded.collect()}
    assert a == b and a
    assert all(x != y for x, y, _ in a)


@pytest.mark.parametrize(
    "op", ["minhash_lsh_pairs", "simhash_near_duplicates", "cosine_near_duplicates"]
)
def test_unguarded_bucket_ceiling_fails_loudly(spark, monkeypatch, op):
    """max_bucket=None keeps exact recall only up to
    ``balance.UNGUARDED_BUCKET_CEIL`` rows in one bucket: past it each
    pair generator fails with its own name and the remedy instead of
    exploding O(K²) pairs in one task."""
    from pyspark.errors import PySparkException

    from invoice_anomaly_detection_sieve_spark.operators import balance, similarity

    # six equal docs / vectors: every band bucket holds all six
    docs = spark.createDataFrame(
        [(f"d{i}", "alpha beta gamma delta epsilon zeta") for i in range(6)],
        "doc_id string, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [1.0] * 16) for i in range(6)], "vec_id long, embedding array<float>"
    )
    calls = {
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(docs, max_bucket=None),
        "simhash_near_duplicates": lambda: dedup.simhash_near_duplicates(
            docs, max_bucket=None),
        "cosine_near_duplicates": lambda: similarity.cosine_near_duplicates(
            vecs, dim=16, max_bucket=None),
    }
    monkeypatch.setattr(balance, "UNGUARDED_BUCKET_CEIL", 5)
    with pytest.raises(PySparkException, match=f"{op}: a bucket holds 6 ids .*set max_bucket"):
        calls[op]().collect()
    monkeypatch.setattr(balance, "UNGUARDED_BUCKET_CEIL", 6)
    assert calls[op]().count() == 15


def test_lsh_config_validation():
    """Config contracts fail loudly: bands must divide num_hashes (silent
    signature truncation changes the advertised recall), and a SimHash
    radius past 31 has no covering 64-divisor band count."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bands must divide num_hashes"):
        dedup.minhash_lsh_pairs(None, bands=5)
    with _pytest.raises(ValueError, match="max_hamming <= 31"):
        dedup.simhash_near_duplicates(None, max_hamming=40)


def test_null_text_docs_never_pair(spark):
    """Null-text docs carry no similarity evidence: the pair generators
    exclude them (two all-null signatures would otherwise score
    Jaccard 1.0 / Hamming 0 and corrupt clusters)."""
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "alpha beta gamma delta epsilon"),
         (4, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    mh = dedup.minhash_lsh_pairs(docs, max_bucket=None).collect()
    assert {(r["a_id"], r["b_id"]) for r in mh} == {(3, 4)}
    sh = dedup.simhash_near_duplicates(docs, max_hamming=3, max_bucket=None).collect()
    assert {(r["a_id"], r["b_id"]) for r in sh} == {(3, 4)}


def test_replicated_registry_preserves_violation_rate(spark):
    """The scaling corpus's registry must register replica media keys:
    against the base registry every replica ref dangles, inflating the
    violation write volume the scaling measurement measures."""
    from invoice_anomaly_detection_sieve_spark.datagen import (
        docs_from_tpch, registry_from_tpch, replicate_documents, replicate_registry)
    from invoice_anomaly_detection_sieve_spark.documents import extract_docs
    from invoice_anomaly_detection_sieve_spark.operators.registry import dangling_refs

    base = docs_from_tpch(spark, "/root/testdata/sf0.001")
    reg = registry_from_tpch(spark)
    x3, reg3 = replicate_documents(base, 3), replicate_registry(reg, 3)
    eb, e3 = extract_docs(base), extract_docs(x3)
    base_rate = dangling_refs(eb, reg).count() / eb.count()
    new_rate = dangling_refs(e3, reg3).count() / e3.count()
    assert abs(new_rate - base_rate) < 1e-9


def test_duplicate_clusters_releases_round_checkpoints(spark):
    """Each round's localCheckpoint is unpersisted once the next round is
    materialized: after one call the only RDD it leaves persisted is the
    checkpoint behind the returned frame, with no JVM GC needed."""

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    # a 6-node path: several label-propagation rounds, one checkpoint each
    pairs = spark.createDataFrame([(i, i + 1) for i in range(5)], "a_id long, b_id long")
    before = persisted()
    clusters = dedup.duplicate_clusters(pairs)
    plan = clusters._jdf.queryExecution().analyzed()
    while plan.getClass().getSimpleName() != "LogicalRDD":
        plan = plan.child()
    assert persisted() - before == {plan.rdd().id()}
    assert sorted(tuple(r) for r in clusters.collect()) == [(i, 0) for i in range(6)]
