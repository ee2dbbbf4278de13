"""Pair-kernel profiler: µs/pair of ``pairs._pair_kernel_fn`` as the
workers of a ``hot_vendors`` run see it.

Builds the seeded ``hot_vendors`` corpus (``datagen.synthesize_documents``,
6 partitions × 160 docs), extracts it, blocks it and collects the pair
kernel's input columns through Arrow, the same pandas shape the UDF
receives. The pairs are split 4 ways by Spark's hash of ``a_doc_id`` (the
kernel's input partitioning at ``local[4]``), each part in a fixed
pseudo-random row order and cut into Arrow-sized batches. Each part is
scored twice in this process: cold (the Jaro-Winkler cache cleared, as a
new worker on a new corpus) and warm (same part again). Prints one line
per part, then the totals and one JSON line.

Usage:
  python tools/profile_kernel.py [seed]      # seed of the corpus, default 42
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package from this checkout too
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

N_PARTS = 6
DOCS_PER_PART = 160
WORKERS = 4
BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch (session.get_spark)


def build_payload(seed: int):
    """The kernel's input columns for every candidate pair, plus ``_part``
    (the pair's kernel partition), as pandas."""
    from pyspark.sql import functions as F

    from invoice_anomaly_detection_sieve_spark import datagen
    from invoice_anomaly_detection_sieve_spark.documents import LINE_ARRAYS, extract_docs
    from invoice_anomaly_detection_sieve_spark.operators import blocking
    from invoice_anomaly_detection_sieve_spark.operators import pairs as P
    from invoice_anomaly_detection_sieve_spark.plans.validate import ValidationConfig
    from invoice_anomaly_detection_sieve_spark.session import get_spark

    spark = get_spark("sieve-profile-kernel", cores=WORKERS, shuffle_partitions=WORKERS,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    documents, _, _ = datagen.synthesize_documents(
        spark, n_parts=N_PARTS, docs_per_part=DOCS_PER_PART, seed=seed
    )
    cfg = ValidationConfig()
    docs = extract_docs(documents).cache()
    cand = blocking.candidate_pairs(docs, cap=cfg.candidate_cap, max_key_fanout=cfg.max_key_fanout)
    a = docs.select(F.col("doc_id").alias("a_doc_id"), F.col("invnum_norm").alias("a_inv"),
                    *[F.col(c).alias("a_" + c) for c in LINE_ARRAYS])
    b = docs.select(F.col("doc_id").alias("b_doc_id"), F.col("invnum_norm").alias("b_inv"),
                    *[F.col(c).alias("b_" + c) for c in P._B_LINE_ARRAYS])
    payload = (
        cand.select("a_doc_id", "b_doc_id").join(b, "b_doc_id").join(a, "a_doc_id")
        .withColumn("_part", F.pmod(F.hash("a_doc_id"), F.lit(WORKERS)))
        .orderBy(F.xxhash64("a_doc_id", "b_doc_id"), "a_doc_id", "b_doc_id")
    )
    pdf = payload.toPandas()
    spark.stop()
    return pdf


def kernel_args(pdf):
    from invoice_anomaly_detection_sieve_spark.documents import LINE_ARRAYS
    from invoice_anomaly_detection_sieve_spark.operators import pairs as P

    cols = ["a_inv", "b_inv", *["a_" + c for c in LINE_ARRAYS],
            *["b_" + c for c in P._B_LINE_ARRAYS]]
    return [pdf[c].reset_index(drop=True) for c in cols]


def score_part(pdf) -> tuple[float, int]:
    """Seconds to score ``pdf`` batch by batch, and the Jaro-Winkler cache
    entries the run added (one per string pair computed)."""
    from invoice_anomaly_detection_sieve_spark.functions import kernels as K
    from invoice_anomaly_detection_sieve_spark.operators import pairs as P

    before = len(K._JW_CACHE)
    t0 = time.perf_counter()
    for lo in range(0, len(pdf), BATCH):
        P._pair_kernel_fn(*kernel_args(pdf.iloc[lo : lo + BATCH]))
    return time.perf_counter() - t0, len(K._JW_CACHE) - before


def main(argv) -> int:
    seed = int(argv[1]) if len(argv) > 1 else 42
    from invoice_anomaly_detection_sieve_spark.functions import kernels as K

    pdf = build_payload(seed)
    n_pairs = len(pdf)
    cold_s = warm_s = 0.0
    jw_total = 0
    print(f"seed {seed}: {n_pairs} pairs, {WORKERS} parts, batches of {BATCH}")
    for part in range(WORKERS):
        sub = pdf[pdf["_part"] == part]
        K._JW_CACHE.clear()
        cold, jw = score_part(sub)
        warm, _ = score_part(sub)
        cold_s, warm_s, jw_total = cold_s + cold, warm_s + warm, jw_total + jw
        print(f"part {part}: {len(sub):6d} pairs  cold {cold / len(sub) * 1e6:7.1f} us/pair"
              f"  warm {warm / len(sub) * 1e6:6.1f} us/pair  jw computed {jw}")
    out = {
        "seed": seed,
        "pairs": n_pairs,
        "cold_us_per_pair": round(cold_s / n_pairs * 1e6, 1),
        "warm_us_per_pair": round(warm_s / n_pairs * 1e6, 1),
        "jw_computed": jw_total,
    }
    print(f"total: cold {out['cold_us_per_pair']} us/pair, warm {out['warm_us_per_pair']} "
          f"us/pair, {jw_total} Jaro-Winkler computations")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
