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

The kernel crossing has TWO physical strategies (``payload_mode``), both
bit-identical in output (pinned by tests + the driver oracle):

- ``per_pair`` (default): each pair row carries both docs' payloads through
  the join and the Arrow crossing. One exchange fewer; on a single shared
  socket (local[N]) its best-case latency wins — measured clean best at
  sf0.1 / 32 cores: 9.7 s vs 15.7 s for dict mode (BENCH/BASELINE.md).
- ``dict``: doc payloads cross Arrow once per (partition, doc) as
  dictionary rows, pair rows cross as bare ids, and the scalar header
  joins run JVM-side below the kernel. ~cap(=200)× less payload traffic
  through the exchange and the Arrow boundary — the mode for the
  network-shuffle regime (multi-node, 100 TB), and measurably more robust
  under bandwidth contention (same A/B, contended windows: 62/28 s vs
  83/39 s per-pair).

Then the reference's top-k (app/main.py:305-307) and deterministic rules on
the top-1 candidate only (app/main.py:314-321) as window + column exprs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

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
# desc_blob is NOT shipped: it is bit-reconstructable from line_descs
# (documents.py builds it as array_join of ''-coalesced desc_norm), and the
# pair join fans every doc payload out ~200x — shipping the same characters
# twice (blob + per-line array) doubled the Arrow string traffic.

# per-line columns shipped as FLAT parallel arrays, not array<struct>: a
# struct cell crosses Arrow as a Python dict per line (measured ~2.4 ms/pair
# of pure conversion at sf0.1); flat double arrays arrive as numpy views.
PAIR_LINE_ARRAYS = {
    "line_descs": lambda l: l["desc_norm"],
    "line_qtys": lambda l: l["qty"],
    "line_ups": lambda l: l["unit_price"],
    "line_amts": lambda l: l["amount"],
}

# b-side per-line arrays actually consumed by the kernel (no amounts: the
# unmatched fraction is over the A side's amounts, app/features.py:54-65)
_B_LINE_ARRAYS = {k: v for k, v in PAIR_LINE_ARRAYS.items() if k != "line_amts"}

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
      desc_norm blobs (app/main.py:290-296) — the blob is reconstructed
      here from line_descs (bit-identical to documents.py's array_join of
      ''-coalesced desc_norm) so the same characters don't cross Arrow
      twice; gram sets memoized per text,
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
    blob = _blob_of  # documents.py desc_blob reconstruction
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
    """Reconstruct documents.py's desc_blob from the line_descs array:
    array_join of ''-coalesced desc_norm with ' ' (bit-identical, so the
    blob never ships across Arrow)."""
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


def _kernel_stream_fn(iterator):
    """mapInPandas body of the dict-mode pair kernel: a per-partition
    PAYLOAD DICTIONARY followed by bare pair ids.

    The partition's rows arrive dictionary-first (sortWithinPartitions on
    _is_dict): dictionary rows carry each referenced doc's invnum + line
    arrays exactly ONCE per (partition, doc); pair rows carry only ids.
    State is a plain dict that lives for the partition; batches stream
    through bounded by maxRecordsPerBatch. Dict memory is O(distinct docs
    referenced by the partition) — scale partitions (defaultParallelism)
    with the corpus, as any shuffle-sized deployment already does.
    """
    payloads: dict = {}
    for pdf in iterator:
        mask = pdf["_is_dict"].to_numpy()
        if mask.any():
            d = pdf.loc[mask]
            for did, inv, de, q, u, am in zip(
                d["_dict_id"].tolist(), d["_invnum"].tolist(),
                d["_line_descs"].tolist(), d["_line_qtys"].tolist(),
                d["_line_ups"].tolist(), d["_line_amts"].tolist(),
            ):
                payloads[did] = (inv, de, q, u, am)
        p = pdf.loc[~mask]
        if not len(p):
            continue
        a_pl = [payloads[i] for i in p["a_doc_id"].tolist()]
        b_pl = [payloads[i] for i in p["b_doc_id"].tolist()]
        feats = _pair_kernel_fn(
            pd.Series([x[0] for x in a_pl]), pd.Series([x[0] for x in b_pl]),
            pd.Series([x[1] for x in a_pl]), pd.Series([x[2] for x in a_pl]),
            pd.Series([x[3] for x in a_pl]), pd.Series([x[4] for x in a_pl]),
            pd.Series([x[1] for x in b_pl]), pd.Series([x[2] for x in b_pl]),
            pd.Series([x[3] for x in b_pl]),
        )
        out = p[["part", "a_doc_id", "b_doc_id", "block_priority"]].reset_index(drop=True)
        # the union with (all-null) dictionary rows can surface this int
        # column as float64 in batches that carried nulls — pin the dtype
        out["block_priority"] = out["block_priority"].astype("int32")
        yield pd.concat([out, feats], axis=1)


def _prefixed(docs: DataFrame, prefix: str, line_arrays=None) -> DataFrame:
    """Pair payload projection: scalar header columns plus the per-line
    flat arrays (pass ``line_arrays={}`` for headers only). The transforms
    run once per DOC row (the projection sits below the pair join's
    exchange), not once per pair. A docs frame that already carries the
    flat arrays (run_validation's slim persisted extraction) is consumed
    as-is — re-deriving them from ``lines`` would re-run the array
    transforms per branch and force the cache to hold the fat
    array<struct> column."""
    if line_arrays is None:
        line_arrays = PAIR_LINE_ARRAYS
    flat = bool(line_arrays) and all(name in docs.columns for name in line_arrays)

    def _build():
        sel = [F.col(c).alias(prefix + c) for c in PAIR_PAYLOAD_COLS]
        if flat:
            sel += [F.col(name).alias(prefix + name) for name in line_arrays]
        else:
            lines = F.col("lines")
            sel += [
                F.transform(lines, fn).alias(prefix + name)
                for name, fn in line_arrays.items()
            ]
        return sel

    key = ("pairs.prefixed", prefix, tuple(line_arrays), flat)
    return docs.select(*cached_exprs(key, _build))


def _features_per_pair(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """per_pair mode: payloads ride the pair join; ONE scalar-pandas-UDF
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
    b = _prefixed(docs, "b_", _B_LINE_ARRAYS)
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
                *[F.col("a_" + name) for name in PAIR_LINE_ARRAYS],
                *[F.col("b_" + name) for name in _B_LINE_ARRAYS],
            ).alias("_pk"),
            *[F.col("a_" + c) for c in PAIR_PAYLOAD_COLS if c != "doc_id"],
            *[F.col("b_" + c) for c in PAIR_PAYLOAD_COLS if c != "doc_id"],
        ]

    return j.select(
        *cached_exprs(("pairs.kernel_sel",), _kernel_cols)
    ).select("*", "_pk.*").drop("_pk")


def _features_dict(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """dict mode: payloads cross Arrow once per (partition, doc) as
    dictionary rows ahead of bare pair-id rows; scalar header joins run
    JVM-side below the kernel. ~cap× less exchange + Arrow traffic — the
    network-shuffle-regime strategy (see module docstring for the measured
    local[32] tradeoff)."""
    n_part = pairs.sparkSession.sparkContext.defaultParallelism
    pid = F.pmod(F.xxhash64("a_doc_id"), F.lit(n_part)).cast("int")
    pairs = pairs.withColumn("_pid", pid)
    dict_ids = (
        pairs.select("_pid", F.col("a_doc_id").alias("_dict_id"))
        .unionAll(pairs.select("_pid", F.col("b_doc_id").alias("_dict_id")))
        .distinct()
    )
    if all(name in docs.columns for name in PAIR_LINE_ARRAYS):
        payload = docs.select(
            F.col("doc_id").alias("_dict_id"),
            F.col("invnum_norm").alias("_invnum"),
            *[F.col(name).alias("_" + name) for name in PAIR_LINE_ARRAYS],
        )
    else:
        payload = docs.select(
            F.col("doc_id").alias("_dict_id"),
            F.col("invnum_norm").alias("_invnum"),
            *[
                F.transform(F.col("lines"), fn).alias("_" + name)
                for name, fn in PAIR_LINE_ARRAYS.items()
            ],
        )
    # shuffle_hash: the dictionary is O(docs) per side — same
    # no-O(N)-broadcast rule as every other doc-keyed join here
    dict_rows = dict_ids.join(payload.hint("shuffle_hash"), "_dict_id").withColumn(
        "_is_dict", F.lit(True)
    )
    pair_rows = pairs.select(
        "_pid", "part", "a_doc_id", "b_doc_id", "block_priority"
    ).withColumn("_is_dict", F.lit(False))
    stream = (
        dict_rows.unionByName(pair_rows, allowMissingColumns=True)
        .repartition(n_part, "_pid")
        .sortWithinPartitions(F.desc("_is_dict"))
    )
    kernel_out = stream.mapInPandas(
        _kernel_stream_fn,
        schema=(
            "part string, a_doc_id string, b_doc_id string, "
            "block_priority int, " + PAIR_KERNEL_TYPE
        ),
    )
    # scalar header joins (JVM-side, below the kernel); shuffle_hash for
    # the same O(N)-broadcast ban as above
    a = _prefixed(docs, "a_", {})
    b = _prefixed(docs, "b_", {})
    return (
        kernel_out.join(a.hint("shuffle_hash"), kernel_out["a_doc_id"] == a["a_doc_id"])
        .drop(a["a_doc_id"])
        .join(b.hint("shuffle_hash"), kernel_out["b_doc_id"] == b["b_doc_id"])
        .drop(b["b_doc_id"])
    )


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

    ``payload_mode`` picks the kernel-crossing strategy — "per_pair"
    (default; fastest single-socket latency) or "dict" (once-per-doc
    payload traffic for the network-shuffle regime). Identical output.
    """
    if payload_mode == "per_pair":
        j = _features_per_pair(docs, pairs)
    elif payload_mode == "dict":
        j = _features_dict(docs, pairs)
    else:
        raise ValueError(f"unknown payload_mode {payload_mode!r}")

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
