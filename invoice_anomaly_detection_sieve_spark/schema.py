"""Canonical engine schemas.

The input shape is fixed by BASELINE.json's input_hint:
``doc_id:string, spans:array<struct<kind,text,media_ref,offset>>`` — the
Spark generalization of the reference's invoice header + ordered
``invoice_lines`` child rows (reference ``app/schema.sql:21-61``,
``app/models.py:10-34``). Span order is carried by ``offset`` (the analog of
``line_no``, ``app/schema.sql:51``); ``media_ref`` is the analog of
``remit_account_hash`` / ``pdf_hash`` (``app/schema.sql:34,36``).

Span ``kind`` vocabulary (how header-level invoice fields are interleaved
into the one nested column):

========  ==========================================================
kind      payload
========  ==========================================================
header    text = raw document number (normalized by the engine)
po        text = purchase-order-like reference key
amount    text = str(total) — header total
tax       text = str(tax_total)
currency  text = ISO currency code
date      text = ISO date (yyyy-MM-dd)
payee     text = remit/payee display name
media     media_ref = registered media key (≈ remit_account_hash)
pdf       media_ref = content hash of an attached blob (≈ pdf_hash)
line      text = JSON {"desc","qty","unit_price","amount"}; media_ref
          optionally a per-line media key
========  ==========================================================
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

# Nested JSON payload of a kind='line' span (≈ LineItem, app/models.py:10-17).
LINE_PAYLOAD = T.StructType(
    [
        T.StructField("desc", T.StringType(), True),
        T.StructField("qty", T.DoubleType(), True),
        T.StructField("unit_price", T.DoubleType(), True),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("sku", T.StringType(), True),
    ]
)

# ≈ vendor_remit_accounts (app/schema.sql:10-18)
MEDIA_REGISTRY = T.StructType(
    [
        T.StructField("media_key", T.StringType(), False),
        T.StructField("first_seen", T.TimestampType(), True),
        T.StructField("last_seen", T.TimestampType(), True),
    ]
)

# ≈ vendor_amount_baselines (app/schema.sql:121-129) generalized per
# SURVEY.md §1.4: one row per (part, field).
PROFILES = T.StructType(
    [
        T.StructField("part", T.StringType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("cnt", T.LongType(), True),
        T.StructField("null_rate", T.DoubleType(), True),
        T.StructField("approx_distinct", T.LongType(), True),
        T.StructField("mean", T.DoubleType(), True),
        T.StructField("std", T.DoubleType(), True),
        T.StructField("quantiles", T.ArrayType(T.DoubleType()), True),
        T.StructField("deciles", T.ArrayType(T.DoubleType()), True),
        T.StructField("digit_hist", T.ArrayType(T.LongType()), True),
        T.StructField("sample_count", T.LongType(), True),
    ]
)

# Per-document verdict (≈ decisions, app/schema.sql:64-79) plus the
# evidence each decision rests on: the registry, baseline and row-check
# flags, the canonical span sequence and the header total.
DOC_VERDICTS = T.StructType(
    [
        T.StructField("part", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("risk_score", T.DoubleType(), False),
        T.StructField("decision", T.StringType(), False),
        T.StructField("reason_codes", T.ArrayType(T.StringType()), False),
        T.StructField("dup_prob", T.DoubleType(), True),
        T.StructField("anom_prob", T.DoubleType(), True),
        T.StructField("top_match_doc_id", T.StringType(), True),
        T.StructField("bank_change", T.BooleanType(), True),
        T.StructField("amount_z", T.DoubleType(), True),
        T.StructField("amount_outlier", T.BooleanType(), True),
        T.StructField("dq_line_sum_mismatch", T.BooleanType(), True),
        T.StructField("dq_bad_currency", T.BooleanType(), True),
        T.StructField("dq_future_date", T.BooleanType(), True),
        T.StructField("span_canon", T.StringType(), True),
        T.StructField("total", T.DoubleType(), True),
    ]
)

# Violation evidence row. ``span_seq`` is the canonical byte-for-byte
# serialization of the offending document's span sequence
# (kind, text, media_ref, order) mandated by the input_hint.
VIOLATIONS = T.StructType(
    [
        T.StructField("part", T.StringType(), False),
        T.StructField("constraint_id", T.StringType(), False),
        T.StructField("reason_code", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("evidence", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("span_seq", T.StringType(), True),
    ]
)

# Per-partition lineage + metrics ledger (≈ audit_log, app/schema.sql:110-118).
# ``consumed_snapshot_id`` is NULL for runs that are not incremental; the one
# row of an empty increment (no partition) is written with every field
# nullable.
LEDGER = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("part", T.StringType(), False),
        T.StructField("rows_scanned", T.LongType(), False),
        T.StructField("constraints_evaluated", T.ArrayType(T.StringType(), False), False),
        T.StructField("violations", T.LongType(), True),
        T.StructField("run_wall_time_sec", T.DoubleType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("consumed_snapshot_id", T.LongType(), True),
    ]
)
