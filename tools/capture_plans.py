"""Capture .explain('formatted') output for the declared queries and the
flagship validation, writing plans/r06/<name>_<tag>.txt.

Usage: python tools/capture_plans.py <tag> [query ...]
  tag: 'before' or 'after'
  query: names from QUERIES plus 'validate_full', 'blocking_pairs_op',
         'minhash_op', 'text_stats_op'; default = the bench-timed set.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package from this checkout too
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT = [
    "j1_blocking_pairs", "a1_profile_baselines", "w1_topk_per_group",
    "j5_m5_zscore_outliers", "a4_nested_line_sum",
    "validate_full", "blocking_pairs_op", "minhash_op", "text_stats_op",
    "extract_docs_op",
]


def main():
    tag = sys.argv[1]
    names = sys.argv[2:] or DEFAULT
    outdir = os.path.join(ROOT, "plans", "r06")
    os.makedirs(outdir, exist_ok=True)

    import bench
    from invoice_anomaly_detection_sieve_spark.plans.queries import QUERIES
    from invoice_anomaly_detection_sieve_spark.plans import validate as V
    from invoice_anomaly_detection_sieve_spark.documents import extract_docs
    from invoice_anomaly_detection_sieve_spark.operators import blocking, dedup, textstats

    spark = bench.fresh_session(8)
    docs_path, reg_path, _ = bench.materialize_inputs(spark, SF_DIR)

    def df_of(name):
        if name == "validate_full":
            documents = spark.read.parquet(docs_path)
            registry = spark.read.parquet(reg_path)
            out = V.run_validation(
                documents, registry,
                config=V.ValidationConfig(dq_as_of="2025-01-01", enable_dq=False),
                persist_extraction=False,  # show the full unpersisted DAG
            )
            return out["doc_verdicts"]
        if name == "blocking_pairs_op":
            docs = extract_docs(spark.read.parquet(docs_path))
            return blocking.candidate_pairs(docs)
        if name == "minhash_op":
            d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
            return dedup.minhash_lsh_pairs(d)
        if name == "text_stats_op":
            d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
            return textstats.with_text_stats(d)
        if name == "extract_docs_op":
            return extract_docs(spark.read.parquet(docs_path))
        if name == "profile_op":
            from invoice_anomaly_detection_sieve_spark.operators import profile
            return profile.profile(extract_docs(spark.read.parquet(docs_path)), "total")
        return QUERIES[name](spark, SF_DIR)

    for name in names:
        df = df_of(name)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange nodes)")
    spark.stop()


if __name__ == "__main__":
    main()
