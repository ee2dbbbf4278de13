"""The end-to-end validation run — one logical DataFrame DAG.

Spark re-expression of the reference's scoring path (app/main.py:273-349,
SURVEY.md §3.1): normalize → blocking self-join → pair scoring → top-k →
registry + profile joins → fusion/decision → violation evidence. The
reference runs it request-at-a-time with an N+1 candidate loop; here the
whole table is validated in one job whose only wide operations are the
blocking join's single shuffle, the pair payload joins, and the profile
groupBy.

Verdict semantics are the shipped code's (app/decision.py:7-32 fusion +
thresholds; rules on top-1 only, app/main.py:314-321; reason-code ordering
and dedup per app/main.py:326-327).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import ClassVar

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..documents import LINE_ARRAYS, extract_docs
from ..functions import scoring as S
from ..functions.exprcache import cached_exprs
from ..operators import blocking, drift, pairs, profile, registry, rowchecks
from .train import train_baselines


@dataclass
class ValidationConfig:
    hold_threshold: float = S.DEFAULT_HOLD_THRESHOLD  # T_hold, app/config.py:33
    review_threshold: float = S.DEFAULT_REVIEW_THRESHOLD  # T_review, app/config.py:34
    # the same in every run: class constants, read through the config by
    # doc_verdicts_from_docs and perfbench/layers.py
    candidate_cap: ClassVar[int] = blocking.DEFAULT_CAP
    top_k: ClassVar[int] = 3
    max_key_fanout: ClassVar[int] = 2000
    dq_as_of: str | None = None  # pin "today" for deterministic DQ date checks
    enable_dq: bool = True
    # trained duplicate model ({"weights": {...}, "bias": b}, the
    # plans/train.py:train_duplicate_model output / load_duplicate_model
    # artifact); None scores with the reference's fallback coefficients
    # (app/duplicate_model.py:60-72)
    dup_model: dict | None = None
    # kept only because perfbench/layers.py passes it to score_pairs, which
    # accepts "per_pair" alone
    pair_payload_mode: ClassVar[str] = "per_pair"
    # numeric fields to drift-check per partition. "total" is always
    # validated (it drives anom_prob / risk fusion, the reference's
    # semantics); EXTRA fields get per-field baseline z-scores against
    # stored multi-field baselines (train_baselines(fields=...)) or
    # self-profiles, surfacing as FIELD_DRIFT_<FIELD> reason codes under
    # the "drift" constraint. All extra fields pivot into ONE broadcast
    # row per partition — no per-field join fan-out.
    drift_fields: tuple[str, ...] = ("total",)
    # derived in __post_init__: the audit ledger's constraints_evaluated
    # must list what actually RAN, not the full menu (a run with
    # enable_dq=False claiming row_dq misleads anyone auditing coverage)
    constraints: tuple[str, ...] = field(default=(), init=False)

    def __post_init__(self):
        evaluated = ["uniqueness", "referential"]
        if self.enable_dq:
            evaluated.append("row_dq")
        evaluated.append("drift")  # z-score/anomaly path is unconditional
        self.constraints = tuple(evaluated)


def _total_profile(docs: DataFrame, baseline_profiles: DataFrame | None) -> DataFrame:
    """The per-partition 'total' profile the anomaly path and Benford read:
    the stored baseline, or a self-profile of ``docs`` (the nightly-
    baseline analog, scripts/train_anomaly.py). A stored baseline may
    carry one row per (part, field) — e.g. from train_baselines(fields=
    (...)) — so the 'total' rows are pinned, or the anomaly join and the
    Benford stats fan out per extra field."""
    profiles = (
        baseline_profiles
        if baseline_profiles is not None
        else profile.profile(docs, "total")
    )
    if "field" in profiles.columns:
        profiles = profiles.where(F.col("field") == "total")
    return profiles


def _extra_field_baselines(
    docs: DataFrame,
    baseline_profiles: DataFrame | None,
    extra_fields: tuple[str, ...],
) -> DataFrame:
    """One broadcast row per partition carrying (mean, std, sample_count)
    for every EXTRA drift field — pivoted from stored multi-field
    baselines (train_baselines(fields=...)) or from self-profiles — so
    multi-field validation costs ONE extra broadcast join total, not one
    join per field.

    A stored baseline missing a requested field fails loudly: amount_z
    maps a NULL baseline to z=0, so the silent alternative reads as "no
    drift" for a field that was never actually checked. (The existence
    check collects one tiny distinct over the stored profile table —
    O(parts × fields) rows by construction.)
    """
    if baseline_profiles is not None:
        if "field" not in baseline_profiles.columns:
            raise ValueError(
                "stored baseline has no 'field' column; multi-field drift "
                "needs train_baselines(fields=...) output"
            )
        src = baseline_profiles.where(F.col("field").isin(list(extra_fields)))
        have = {r["field"] for r in src.select("field").distinct().collect()}
        missing = set(extra_fields) - have
        if missing:
            raise ValueError(
                f"stored baseline has no profile rows for drift fields "
                f"{sorted(missing)}; run train_baselines(fields=...) including them"
            )
    else:
        src = train_baselines(docs, extra_fields)
    slim = src.select("part", "field", "mean", "std", F.col("sample_count").alias("n"))
    wide = slim.groupBy("part").pivot("field", list(extra_fields)).agg(
        F.first("mean").alias("mean"),
        F.first("std").alias("std"),
        F.first("n").alias("n"),
    )
    return wide.select(
        "part",
        *[
            F.col(f"{f}_{s}").alias(f"_blf_{f}_{s}")
            for f in extra_fields
            for s in ("mean", "std", "n")
        ],
    )


def doc_verdicts_from_docs(
    docs: DataFrame,
    media_registry: DataFrame,
    baseline_profiles: DataFrame | None = None,
    config: ValidationConfig | None = None,
    profiles: DataFrame | None = None,
) -> DataFrame:
    """Core verdict DAG over an already-extracted docs DataFrame
    (``extract_docs`` output, or run_validation's selection of it).

    ``baseline_profiles`` defaults to self-profiling ``docs``; pass a
    stored profiles DataFrame to validate against history instead.
    ``profiles`` is the pinned 'total' profile when the caller already
    built it (run_validation shares it with its outputs).

    The extraction is consumed by several branches (profiles, blocking
    keys, both sides of the pair-payload join, the anomaly path) —
    callers validating a whole table should persist/materialize ``docs``
    first (run_validation does) so the span parse runs once, not per
    branch.
    """
    cfg = config or ValidationConfig()
    history_includes_self = baseline_profiles is None
    if profiles is None:
        profiles = _total_profile(docs, baseline_profiles)
    # history size comes off the profile row (cnt) INSIDE the single
    # anomaly broadcast join: same number under self-profiling, and under
    # stored baselines it is the HISTORY's count — what the reference's
    # vendor-history discount actually reads (app/anomaly.py:32-41).

    # duplicate sieve: blocking join -> pair features -> per-doc rollup
    pair_ids = blocking.candidate_pairs(docs, cap=cfg.candidate_cap, max_key_fanout=cfg.max_key_fanout)
    scored = pairs.score_pairs(
        docs, pair_ids, model=cfg.dup_model, payload_mode=cfg.pair_payload_mode
    )
    dup = pairs.doc_duplicate_signals(scored, k=cfg.top_k)

    # anomaly path: registry flag + baseline z + history discount
    flagged = registry.bank_change_flags(docs, media_registry)
    flagged = drift.with_anomaly_scores(
        flagged, profiles, history_includes_self=history_includes_self
    )
    if cfg.enable_dq:
        flagged = rowchecks.with_row_checks(flagged, as_of=cfg.dq_as_of)
    else:
        flagged = flagged.withColumns({
            c: F.lit(False)
            for c in ("dq_line_sum_mismatch", "dq_bad_currency", "dq_future_date")
        })

    # extra drift fields: one pivoted broadcast row per part, then a
    # per-field z against the same amount_z semantics as 'total'
    extra_fields = tuple(f for f in cfg.drift_fields if f != "total")
    if extra_fields:
        wide = _extra_field_baselines(docs, baseline_profiles, extra_fields)
        flagged = flagged.join(F.broadcast(wide), "part", "left")
        for f in extra_fields:
            zf = S.amount_z(
                F.col(f),
                F.col(f"_blf_{f}_mean"),
                F.col(f"_blf_{f}_std"),
                F.col(f"_blf_{f}_n"),
            )
            flagged = flagged.withColumn(f"{f}_drift_z", zf).withColumn(
                f"{f}_drift_outlier",
                F.col(f"{f}_drift_z") >= drift.Z_OUTLIER_THRESHOLD,
            )

    # NO broadcast for the dup rollup: it has one row per candidate doc, so
    # auto-broadcast (its size estimate sits under the threshold at test
    # scale) would collect the entire pair pipeline through the driver —
    # and at 10^12 docs an O(N) broadcast is impossible. shuffle_hash keys
    # both sides on doc_id: one bounded shuffle, no driver involvement.
    joined = flagged.join(
        dup.withColumnRenamed("a_doc_id", "doc_id").drop("part").hint("shuffle_hash"),
        "doc_id",
        "left",
    )

    def _verdict_cols():
        dup_prob = F.coalesce(F.col("dup_prob"), F.lit(0.0))  # no candidates ⇒ 0.0 (app/main.py:306)
        text_dup = F.coalesce(F.col("text_dup_prob"), F.lit(0.0))
        risk = S.fuse_scores(dup_prob, F.col("anom_prob"), F.col("bank_change"), text_dup)
        decision = S.decide(risk, cfg.review_threshold, cfg.hold_threshold)

        rule = lambda c: F.coalesce(F.col(c), F.lit(False))
        # canonical reason order = reference emission order (rules on top-1,
        # then BANK_CHANGE, then anomaly reasons; dedup preserves first
        # occurrence — app/rules.py:45-70, app/main.py:314-327)
        reason_entries = [
            F.when(rule("rule_exact_invnum"), F.lit("EXACT_INVNUM")),
            F.when(rule("rule_same_po_near_total"), F.lit("SAME_PO_NEAR_TOTAL")),
            F.when(rule("rule_pdf_near_dup"), F.lit("PDF_NEAR_DUP")),
            F.when(F.col("bank_change"), F.lit("BANK_CHANGE")),
            F.when(F.col("amount_outlier"), F.lit("UNIT_PRICE_OUTLIER")),
            F.when(rule("dq_line_sum_mismatch"), F.lit("LINE_SUM_MISMATCH")),
            F.when(rule("dq_bad_currency"), F.lit("INVALID_CURRENCY")),
            F.when(rule("dq_future_date"), F.lit("IMPLAUSIBLE_DATE")),
        ] + [
            # extension beyond the reference's reason set: per-field drift,
            # emitted after the canonical codes so their order is unchanged
            F.when(rule(f"{f}_drift_outlier"), F.lit(f"FIELD_DRIFT_{f.upper()}"))
            for f in extra_fields
        ]
        reasons = F.filter(F.array(*reason_entries), lambda x: x.isNotNull())

        return [
            F.col("part"),
            F.col("doc_id"),
            risk.alias("risk_score"),
            decision.alias("decision"),
            reasons.alias("reason_codes"),
            dup_prob.alias("dup_prob"),
            F.col("anom_prob"),
            F.col("top_match_doc_id"),
            F.col("bank_change"),
            F.col("amount_z"),
            F.col("amount_outlier"),
            F.col("dq_line_sum_mismatch"),
            F.col("dq_bad_currency"),
            F.col("dq_future_date"),
            F.col("span_canon"),
            F.col("total"),
            *[
                c
                for f in extra_fields
                for c in (F.col(f"{f}_drift_z"), F.col(f"{f}_drift_outlier"))
            ],
        ]

    # the select list is pure expressions over fixed names, parameterized
    # only by the thresholds and extra drift fields — cache per context
    return joined.select(*cached_exprs(
        ("verdict.sel", cfg.review_threshold, cfg.hold_threshold, extra_fields),
        _verdict_cols,
    ))


def violations_from_verdicts(verdicts: DataFrame) -> DataFrame:
    """Explode per-doc reasons into violation evidence rows (VIOLATIONS
    schema): one row per (doc, reason), carrying the byte-exact span
    sequence and scalar evidence."""
    exploded = verdicts.select(*cached_exprs(("violations.explode",), lambda: [
        F.col("part"),
        F.col("doc_id"),
        F.col("span_canon"),
        F.col("risk_score"),
        F.col("dup_prob"),
        F.col("top_match_doc_id"),
        F.col("amount_z"),
        F.explode("reason_codes").alias("reason_code"),
    ]))

    def _out_cols():
        constraint_of = F.create_map(
            F.lit("EXACT_INVNUM"), F.lit("uniqueness"),
            F.lit("SAME_PO_NEAR_TOTAL"), F.lit("uniqueness"),
            F.lit("PDF_NEAR_DUP"), F.lit("uniqueness"),
            F.lit("BANK_CHANGE"), F.lit("referential"),
            F.lit("UNIT_PRICE_OUTLIER"), F.lit("drift"),
            F.lit("LINE_SUM_MISMATCH"), F.lit("row_dq"),
            F.lit("INVALID_CURRENCY"), F.lit("row_dq"),
            F.lit("IMPLAUSIBLE_DATE"), F.lit("row_dq"),
        )
        return [
            F.col("part"),
            # FIELD_DRIFT_<FIELD> codes (ValidationConfig.drift_fields extras)
            # are per-field, so they map by prefix rather than by entry
            F.coalesce(
                F.element_at(constraint_of, F.col("reason_code")),
                F.when(F.col("reason_code").startswith("FIELD_DRIFT_"), F.lit("drift")),
            ).alias("constraint_id"),
            F.col("reason_code"),
            F.col("doc_id"),
            F.map_filter(
                F.create_map(
                    F.lit("risk_score"), F.col("risk_score").cast("string"),
                    F.lit("dup_prob"), F.col("dup_prob").cast("string"),
                    F.lit("top_match_doc_id"), F.col("top_match_doc_id"),
                    F.lit("amount_z"), F.col("amount_z").cast("string"),
                ),
                lambda _, v: v.isNotNull(),
            ).alias("evidence"),
            F.col("span_canon").alias("span_seq"),
        ]

    return exploded.select(*cached_exprs(("violations.out",), _out_cols))


def partition_verdicts(verdicts: DataFrame, benford: DataFrame) -> DataFrame:
    """Per-partition pass/fail rollup: counts by decision, violation
    totals, Benford drift status. FAIL iff any HOLD or any
    partition-level drift failure; WARN on REVIEWs only; else PASS."""
    agg = verdicts.groupBy("part").agg(*cached_exprs(("partv.agg",), lambda: [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("decision") == S.HOLD).cast("long")).alias("n_hold"),
        F.sum((F.col("decision") == S.REVIEW).cast("long")).alias("n_review"),
        F.sum(F.size("reason_codes")).alias("n_violations"),
        F.max("risk_score").alias("max_risk_score"),
    ]))
    agg = agg.join(benford.select("part", "benford_mad", "benford_fail"), "part", "left")
    status = (
        F.when((F.col("n_hold") > 0) | F.coalesce(F.col("benford_fail"), F.lit(False)), "FAIL")
        .when(F.col("n_review") > 0, "WARN")
        .otherwise("PASS")
    )
    return agg.withColumn("status", status)


# the columns the verdict DAG consumes: run_validation materializes exactly
# these (see there)
_SLIM_COLS = (
    "part", "doc_id", "invnum_norm", "po", "total", "tax_total", "currency",
    "date", "payee", "media_key", "pdf_hash", "span_canon", "n_lines",
    "line_amount_sum", *LINE_ARRAYS,
)


def run_validation(
    documents: DataFrame,
    media_registry: DataFrame,
    baseline_profiles: DataFrame | None = None,
    config: ValidationConfig | None = None,
    persist_extraction: bool = True,
) -> dict[str, DataFrame]:
    """Full validation run. Returns the output DataFrames (lazily built;
    the caller/runner triggers execution by writing or collecting):
    ``doc_verdicts``, ``violations``, ``part_verdicts``, ``profiles``,
    ``extracted_docs``.

    The extraction is consumed by several DAG branches, so by default
    (``persist_extraction=True``) it is materialized once in the
    in-memory columnar cache; ``False`` leaves it unmaterialized (the
    caller persists, or accepts re-extraction per branch).
    """
    cfg = config or ValidationConfig()
    # SLIM MATERIALIZATION: persist exactly the columns the verdict DAG
    # consumes. Versus persisting the raw extraction this drops, per doc:
    # the raw ``spans`` array (unused — span_canon carries the byte-exact
    # invariant), the ``lines`` array<struct> (its desc + desc_norm pair
    # stored every description twice; the kernel needs only the flat
    # arrays), ``media_refs`` and ``invnum_raw`` (not consumed by any
    # verdict branch). The in-memory columnar cache shrinks ~2.4x
    # (1.6 GB -> 0.7 GB at the x8 scaling corpus), which is DRAM traffic
    # saved on EVERY branch scan — the measured 8->32 bandwidth ceiling.
    docs = extract_docs(documents).select(*_SLIM_COLS)
    if persist_extraction:
        # EAGER materialization, not a lazy persist: the verdict DAG fans
        # out into several concurrent jobs (broadcast exchanges for
        # profiles/history/registry run on separate driver threads). With a
        # lazy persist they all race to compute the cache and each
        # re-scans + re-parses the input (observed: 7 parallel full scans
        # of the documents parquet). One count() here = one scan, one
        # parse; every branch then reads the cache.
        docs = docs.persist()
        docs.count()
    profiles = _total_profile(docs, baseline_profiles)
    verdicts = doc_verdicts_from_docs(
        docs, media_registry, baseline_profiles, cfg, profiles
    )
    # Benford conformity is a test of the data being VALIDATED: under a
    # stored baseline the profile's digit_hist describes the HISTORY, so a
    # grossly non-Benford current batch would pass (and a failed
    # historical distribution would fail every future run). Self-profiling
    # reuses the profile's hist — same data.
    ben_src = (
        profiles
        if baseline_profiles is None
        else profile.digit_histogram(docs)
    )
    benford = drift.benford_stats(ben_src)
    return {
        "doc_verdicts": verdicts,
        "violations": violations_from_verdicts(verdicts),
        "part_verdicts": partition_verdicts(verdicts, benford),
        "profiles": profiles,
        "extracted_docs": docs,
    }
