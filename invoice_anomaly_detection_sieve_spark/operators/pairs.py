"""Pairwise duplicate scoring (SURVEY.md §2.7 M1-M4).

Candidate pairs from the blocking join are scored with:
- header features — pure column arithmetic (reference app/features.py:20-40
  runs these per-row in Python; here they're codegen'd),
- ``invnum_edit`` — Jaro-Winkler distance, the one header feature SQL can't
  express → Arrow-vectorized pair kernel,
- line-assignment features — Hungarian matching per pair
  (app/features.py:47-101) inside the same kernel; cost matrices stay
  inside the worker, bounded by the 200-line cap,
- ``text_cosine`` — Dice on distinct char-3-gram sets of the desc blobs
  (app/main.py:290-296), computed inside the same kernel (cheaper than a
  JVM higher-order-function formulation, whose interpreted lambdas
  re-evaluate the blob per gram),
- duplicate probability — broadcast logistic weights as a column sigmoid
  (app/duplicate_model.py:51-80).

Docs arrive in ``extract_docs``'s shape, whose per-line flat arrays are the
kernel's input; each pair row carries both docs' payloads through the join
into ONE Arrow crossing. (A once-per-doc payload dictionary crossing was
measured slower on the only hardware this repo measures — 15.7 s vs 9.7 s
clean best at sf0.1 / 32 cores, BENCH/BASELINE.md round 5 — and deleted.)

Then the reference's top-k (app/main.py:305-307) and deterministic rules on
the top-1 candidate only (app/main.py:314-321) as window + column exprs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..documents import LINE_ARRAYS
from ..functions import kernels as K
from ..functions import scoring as S
from ..functions.exprcache import cached_exprs

PAIR_PAYLOAD_COLS = [
    "doc_id",
    "invnum_norm",
    "po",
    "total",
    "tax_total",
    "currency",
    "date",
    "payee",
    "media_key",
    "pdf_hash",
]
# The desc blob is no docs column: the kernel rebuilds it from line_descs,
# so the pair join (which fans every doc payload out ~200x) carries each
# description once. The b side skips line_amts: the unmatched fraction is
# over the A side's amounts (app/features.py:54-65), so column pruning
# drops b_line_amts below the pair join's exchange.
_B_LINE_ARRAYS = tuple(name for name in LINE_ARRAYS if name != "line_amts")

PAIR_KERNEL_FEATURES = (
    "invnum_edit", "text_cosine", "line_coverage_pct",
    "unmatched_amount_frac", "count_new_items", "median_unit_price_diff",
)
PAIR_KERNEL_TYPE = ", ".join(f"{c} double" for c in PAIR_KERNEL_FEATURES)


def _pair_kernel_fn(
    a_inv: pd.Series, b_inv: pd.Series,
    a_descs: pd.Series, a_qtys: pd.Series, a_ups: pd.Series, a_amts: pd.Series,
    b_descs: pd.Series, b_qtys: pd.Series, b_ups: pd.Series,
) -> pd.DataFrame:
    """All Python-side pair features in ONE Arrow crossing:

    - invnum_edit = 1 − JaroWinkler (app/features.py:39), memoized per
      worker (every doc recurs across its ≤200 candidates),
    - text_cosine = Dice over distinct char-3-grams of the ' '-joined
      desc_norm blobs (app/main.py:290-296) — the blob is rebuilt here
      from line_descs (' '-joined, nulls as '') so the same characters
      don't cross Arrow twice; gram sets memoized per text,
    - Hungarian line-assignment features (app/features.py:47-101) over the
      flat per-line arrays.

    Work stays batch-local — no shuffle; results land in preallocated
    numpy columns (no per-row dict churn).
    """
    k = len(a_inv)
    empty: list = []
    out = {name: np.empty(k) for name in (
        "invnum_edit", "text_cosine", "line_coverage_pct",
        "unmatched_amount_frac", "count_new_items", "median_unit_price_diff",
    )}
    # warm the worker-global JW cache with ONE vectorized evaluation of
    # every distinct string pair this batch STILL MISSES (invnums + the
    # full desc-cost grids) — the feature loop below then only does dict
    # hits. The membership test is inline: on a warm worker (reused across
    # tasks) nearly every key hits, and collecting only the misses skips
    # building a ~16·pairs-element key set plus jw_warm_cache's second
    # full scan of it, per batch (~20 µs/pair of pure bookkeeping).
    cache = K._JW_CACHE
    jw_key = K.jw_key
    keys = set()
    for ai, bi in zip(a_inv.tolist(), b_inv.tolist()):
        kk = jw_key(ai or "", bi or "")
        if kk not in cache:
            keys.add(kk)
    for ad, bd in zip(a_descs, b_descs):
        if ad is None or bd is None or len(ad) == 0 or len(bd) == 0:
            continue
        b_clean = [d or "" for d in bd]
        for da in ad:
            da = da or ""
            for db in b_clean:
                kk = jw_key(da, db)
                if kk not in cache:
                    keys.add(kk)
    if keys:
        K.jw_warm_cache(keys)
    blob = _blob_of
    it = zip(
        a_inv.tolist(), b_inv.tolist(),
        a_descs, a_qtys, a_ups, a_amts, b_descs, b_qtys, b_ups,
    )
    for i, (ai, bi, ad, aq, au, aa, bd, bq, bu) in enumerate(it):
        ab, bb = blob(ad), blob(bd)
        cov, frac, new_items, med = K.line_assign_features_arrays(
            ad if ad is not None else empty, aq, au, aa,
            bd if bd is not None else empty, bq, bu,
        )
        out["line_coverage_pct"][i] = cov
        out["unmatched_amount_frac"][i] = frac
        out["count_new_items"][i] = new_items
        out["median_unit_price_diff"][i] = med
        out["invnum_edit"][i] = 1.0 - K.jw_cached(ai or "", bi or "")
        out["text_cosine"][i] = K.dice_3gram(ab or "", bb or "")
    return pd.DataFrame(out)


def _blob_of(descs) -> str:
    """The ' '-joined desc blob of a line_descs array (null descs as '',
    app/main.py:290-296), rebuilt worker-side so it never ships across
    Arrow."""
    if descs is None or len(descs) == 0:
        return ""
    return " ".join((d if d is not None else "") for d in descs)


def pair_kernel(*cols):
    # pandas_udf parses its DDL return type against the active session, so
    # the udf is created lazily on first use and cached per live context:
    # a udf binds to the context active at creation
    kernel = cached_exprs(
        ("pairs.kernel_udf",), lambda: pandas_udf(_pair_kernel_fn, PAIR_KERNEL_TYPE)
    )
    return kernel(*cols)


def _prefixed(docs: DataFrame, prefix: str) -> DataFrame:
    """Pair payload projection: scalar header columns plus the per-line
    flat arrays, renamed with the side's prefix. A plain column selection:
    the arrays were built once per doc by extract_docs."""
    return docs.select(*cached_exprs(("pairs.prefixed", prefix), lambda: [
        F.col(c).alias(prefix + c) for c in (*PAIR_PAYLOAD_COLS, *LINE_ARRAYS)
    ]))


def _features_per_pair(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Payloads ride the pair join; ONE scalar-pandas-UDF
    Arrow crossing evaluates the kernel over fully-materialized pair rows.

    Plan constraints (scale- and CPU-driven; BENCH/BASELINE.md):
    - the capped pair ids are byte-tiny (a few MB at sf0.1), so AQE's
      byte-based coalescing folds everything downstream of their exchange —
      the payload joins AND the Arrow pair kernel, the most CPU-expensive
      per-row stage of the pipeline — onto a handful of tasks (observed:
      6 tasks × ~36 s on 32 cores). An explicit numPartitions repartition
      is exempt from AQE coalescing, so it pins the kernel's parallelism
      at the session's width.
    - the pairs side is O(docs·cap): auto-broadcasting it (it sits under
      the raised 64 MB threshold at test scale) collects the whole
      blocking pipeline through the driver, and evaluates it once per
      broadcast — the same O(N)-broadcast ban as the dup rollup join in
      plans/validate.py. shuffle_hash keys both payload joins on doc_id:
      bounded exchanges, no driver involvement.
    - join ORDER is b-side first: exactly one exchange must carry a
      payload fanned out per pair (the other payload joins against pair
      rows already clustered on its key), and the B payload is the
      lighter one (no line_amts — the unmatched-amount feature reads only
      the A side's amounts). Ending on the a_doc_id join also leaves the
      kernel's output hash-partitioned by a_doc_id, which the top-k
      window and the per-doc rollup downstream reuse — the old a-first
      order shuffled the a-payload (4 line arrays) per pair AND re-
      exchanged the kernel output for the window (3 exchanges of
      pair-fanned payloads; now 1).
    """
    a = _prefixed(docs, "a_")
    b = _prefixed(docs, "b_")
    n_part = pairs.sparkSession.sparkContext.defaultParallelism
    pairs = pairs.repartition(n_part, "b_doc_id")
    jb = pairs.join(
        b.hint("shuffle_hash"), pairs["b_doc_id"] == b["b_doc_id"]
    ).drop(b["b_doc_id"])
    jb = jb.repartition(n_part, "a_doc_id")
    j = jb.join(a.hint("shuffle_hash"), jb["a_doc_id"] == a["a_doc_id"]).drop(
        a["a_doc_id"]
    )
    def _kernel_cols():
        return [
            F.col("part"),
            F.col("a_doc_id"),
            F.col("b_doc_id"),
            F.col("block_priority"),
            pair_kernel(
                F.col("a_invnum_norm"), F.col("b_invnum_norm"),
                *[F.col("a_" + name) for name in LINE_ARRAYS],
                *[F.col("b_" + name) for name in _B_LINE_ARRAYS],
            ).alias("_pk"),
            *[F.col("a_" + c) for c in PAIR_PAYLOAD_COLS if c != "doc_id"],
            *[F.col("b_" + c) for c in PAIR_PAYLOAD_COLS if c != "doc_id"],
        ]

    return j.select(
        *cached_exprs(("pairs.kernel_sel",), _kernel_cols)
    ).select("*", "_pk.*").drop("_pk")


def score_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    model: dict | None = None,
    payload_mode: str = "per_pair",
) -> DataFrame:
    """Join pair ids back to payloads and compute all features + dup_prob.

    Output: part, a_doc_id, b_doc_id, every FEATURE_ORDER column, rule
    flags, dup_prob.

    ``model`` is a trained-weights dict as produced by
    plans/train.py:train_duplicate_model ({"weights": {...}, "bias": b});
    None scores with the reference's fallback coefficients
    (app/duplicate_model.py:60-72 load-trained-else-fallback).

    ``docs`` is ``extract_docs`` output (or a selection of it carrying
    PAIR_PAYLOAD_COLS and the LINE_ARRAYS columns).
    """
    # payload_mode is kept only because perfbench/layers.py still passes it
    if payload_mode != "per_pair":
        raise ValueError(f"unknown payload_mode {payload_mode!r}")
    j = _features_per_pair(docs, pairs)

    def _feat_cols():
        feats = S.header_features("a_", "b_")
        return [
            F.col("part"),
            F.col("a_doc_id"),
            F.col("b_doc_id"),
            F.col("block_priority"),
            *[expr.alias(name) for name, expr in feats.items()],
            *[F.col(c) for c in PAIR_KERNEL_FEATURES],
            # carried through for rule evaluation on the top-1 row
            F.col("a_invnum_norm"),
            F.col("b_invnum_norm"),
            F.col("a_po"),
            F.col("b_po"),
            F.col("a_total"),
            F.col("b_total"),
            F.col("a_pdf_hash"),
            F.col("b_pdf_hash"),
        ]

    j = j.select(*cached_exprs(("pairs.feat_sel",), _feat_cols))

    # ONE withColumns call for the probability + deterministic rules
    # (rules applied from the top-1 row only downstream): every chained
    # withColumn is a py4j round-trip plus an incremental re-analysis of
    # the whole plan — pure driver latency paid once per run. The cache
    # key carries the trained-model identity (weights/bias are baked into
    # the probability expression as literals).
    weights = (model or {}).get("weights")
    bias = (model or {}).get("bias")
    model_key = (
        None
        if weights is None
        else (tuple(sorted(weights.items())), bias)
    )

    def _score_cols():
        return {
            "dup_prob": S.dup_probability(weights=weights, bias=bias),
            "rule_exact_invnum": S.rule_same_invnum_norm(
                F.col("a_invnum_norm"), F.col("b_invnum_norm")
            ),
            "rule_same_po_near_total": S.rule_same_po_near_total(
                F.col("a_po"), F.col("b_po"), F.col("a_total"), F.col("b_total"),
                F.col("days_diff").cast("int"),
            ),
            "rule_pdf_near_dup": S.rule_pdf_near_dup(
                F.col("a_pdf_hash"), F.col("b_pdf_hash")
            ),
        }

    return j.withColumns(cached_exprs(("pairs.score_cols", model_key), _score_cols))


def top_matches(scored: DataFrame, k: int = 3) -> DataFrame:
    """Keep the k best candidates per document (app/main.py:305),
    deterministic tie-break on b_doc_id."""
    w = Window.partitionBy("a_doc_id").orderBy(F.desc("dup_prob"), F.asc("b_doc_id"))
    return scored.withColumn("match_rank", F.row_number().over(w)).where(F.col("match_rank") <= k)


def doc_duplicate_signals(scored: DataFrame, k: int = 3) -> DataFrame:
    """Roll pairs up to one row per document (app/main.py:305-321):
    dup_prob = top-1 similarity, text_dup_prob = max text_cosine over the
    top-k, rule flags from the top-1 candidate only.

    DELIBERATELY grouped on (part, a_doc_id), not a_doc_id alone: with the
    grouping key equal to the verdict join's key, Catalyst can prove the
    rollup unique per doc_id and ELIMINATE the left-outer verdict join
    under a bare count() — dropping the entire pair pipeline from
    count-shaped actions (measured: validate_full "8 s → 2 s" with the
    pair DAG gone from the counted plan). Real consumers (verdict writes,
    entry()) always pay the full DAG, so that 4x is a measurement artifact,
    not a speedup; the composite key keeps count-shaped plans honest. Both
    groupings ride the kernel output's hash(a_doc_id) partitioning and the
    join reuses it through the rename either way."""
    top = top_matches(scored, k)
    first = lambda c: F.max(F.when(F.col("match_rank") == 1, c))
    return top.groupBy("part", "a_doc_id").agg(
        first(F.col("dup_prob")).alias("dup_prob"),
        first(F.col("b_doc_id")).alias("top_match_doc_id"),
        F.max("text_cosine").alias("text_dup_prob"),
        first(F.col("rule_exact_invnum")).alias("rule_exact_invnum"),
        first(F.col("rule_same_po_near_total")).alias("rule_same_po_near_total"),
        first(F.col("rule_pdf_near_dup")).alias("rule_pdf_near_dup"),
    )
