"""Span → typed-column extraction for the interleaved documents table.

The engine's only input is ``(doc_id string, spans array<struct<kind, text,
media_ref, offset>>)`` (BASELINE.json input_hint). This module derives the
typed header/line columns every constraint consumes — the Spark analog of
the reference's relational layout (``invoices`` header columns +
``invoice_lines`` child rows, app/schema.sql:21-61) — as pure Column
expressions so extraction is one codegen'd projection with zero shuffles
and zero Python.

The partition key is *derived*, not stored: prefix of ``doc_id`` before the
first '-' (≈ ``vendor_id`` scoping every reference check,
app/retrieval.py:20).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import normalize as N
from .functions.exprcache import cached_exprs

LINE_JSON_SCHEMA = "desc string, qty double, unit_price double, amount double, sku string"

# per-line columns emitted as FLAT parallel arrays (column -> ``lines``
# field), the docs shape the pair kernel reads: an array<struct> cell
# crosses Arrow as a Python dict per line (measured ~2.4 ms/pair of pure
# conversion at sf0.1); flat double arrays arrive as numpy views.
LINE_ARRAYS = {
    "line_descs": "desc_norm",
    "line_qtys": "qty",
    "line_ups": "unit_price",
    "line_amts": "amount",
}


def part_of(doc_id: Column) -> Column:
    """Derived partition key: doc_id prefix before the first '-'."""
    return F.substring_index(doc_id, "-", 1)


def sorted_spans(spans: Column) -> Column:
    """Offset-ordered copy of the span array, sorted ONCE with the native
    struct ordering (offset leads the key struct).

    ``array_sort`` with a lambda comparator evaluates an *interpreted*
    expression per comparison; extraction needs ordered spans for ~12
    derived columns, and 12 comparator sorts per row dominated the
    extraction profile (~70M interpreted evals + transient garbage at
    sf0.1). One keyed native sort per row, then order-preserving filters,
    removes all of it. Ties on offset fall back to the remaining span
    fields — a deterministic total order.
    """
    keyed = F.transform(spans, lambda s: F.struct(s["offset"].alias("o"), s.alias("s")))
    return F.transform(F.sort_array(keyed), lambda x: x["s"])


def _kind_of_sorted(ordered: Column, kind: str) -> Column:
    """Spans of one kind from an already offset-sorted array (filter
    preserves order — no re-sort)."""
    return F.filter(ordered, lambda s: s["kind"] == kind)


def _first_text_sorted(ordered: Column, kind: str) -> Column:
    # F.get is null-safe on empty arrays even under ANSI mode
    return F.get(_kind_of_sorted(ordered, kind), 0)["text"]


def _first_media_sorted(ordered: Column, kind: str) -> Column:
    return F.get(_kind_of_sorted(ordered, kind), 0)["media_ref"]


def _lines_from_sorted(ordered: Column) -> Column:
    """Ordered array of parsed line payloads + desc_norm from the
    offset-sorted line spans.

    Line spans carry JSON ``{"desc","qty","unit_price","amount","sku"}`` in
    ``text``; order is the offset order (≈ ORDER BY line_no,
    app/main.py:59). ``from_json`` is lenient: junk ⇒ null fields.
    """
    parsed = F.transform(ordered, lambda s: F.from_json(s["text"], LINE_JSON_SCHEMA))
    return F.transform(
        parsed,
        lambda p: F.struct(
            p["desc"].alias("desc"),
            p["qty"].alias("qty"),
            p["unit_price"].alias("unit_price"),
            p["amount"].alias("amount"),
            N.desc_norm(p["desc"]).alias("desc_norm"),
        ),
    )


def extract_docs(documents: DataFrame) -> DataFrame:
    """Staged projections: documents → typed per-doc columns.

    Output: part, doc_id, invnum_raw, po, total, tax_total, currency,
    date, payee, media_key, pdf_hash, media_refs, lines, spans, span_canon,
    invnum_norm, n_lines, line_amount_sum, line_descs, line_qtys,
    line_ups, line_amts.

    Staging matters twice over:
    - stage0 sorts the span array ONCE (``sorted_spans``) and every derived
      column filters the ordered attribute — order-preserving, no re-sort;
    - ``lines`` (the JSON parse) is consumed by six downstream
      expressions; emitting it in one projection and referencing the
      *attribute* in the next keeps the parse single-run (CollapseProject
      refuses to duplicate a non-cheap expression referenced more than
      once). Higher-order lambdas must always traverse attributes, never
      expression trees — an expression inside a lambda body is
      re-evaluated per array element.
    """
    # the three select lists are pure column expressions over fixed names —
    # built once per SparkContext (each build costs dozens of py4j round
    # trips; the extraction alone measured ~0.4 s of construction per run)
    def _stage0_cols():
        return [
            part_of(F.col("doc_id")).alias("part"),
            F.col("doc_id"),
            F.col("spans"),
            sorted_spans(F.col("spans")).alias("_ord"),
        ]

    def _stage1_cols():
        ordered = F.col("_ord")  # attribute reference: sorted exactly once
        return [
            F.col("part"),
            F.col("doc_id"),
            _first_text_sorted(ordered, "header").alias("invnum_raw"),
            _first_text_sorted(ordered, "po").alias("po"),
            _first_text_sorted(ordered, "amount").try_cast("double").alias("total"),
            _first_text_sorted(ordered, "tax").try_cast("double").alias("tax_total"),
            _first_text_sorted(ordered, "currency").alias("currency"),
            F.try_to_timestamp(_first_text_sorted(ordered, "date")).cast("date").alias("date"),
            _first_text_sorted(ordered, "payee").alias("payee"),
            _first_media_sorted(ordered, "media").alias("media_key"),
            _first_media_sorted(ordered, "pdf").alias("pdf_hash"),
            F.filter(
                F.transform(ordered, lambda s: s["media_ref"]), lambda r: r.isNotNull()
            ).alias("media_refs"),
            _lines_from_sorted(_kind_of_sorted(ordered, "line")).alias("lines"),
            F.col("spans"),
            N.span_canonical_sorted(ordered).alias("span_canon"),
        ]

    def _stage2_cols():
        lines = F.col("lines")  # attribute reference: parsed exactly once
        return [
            N.invnum_norm(F.col("invnum_raw")).alias("invnum_norm"),
            F.size(lines).alias("n_lines"),
            F.aggregate(
                lines, F.lit(0.0), lambda acc, l: acc + F.coalesce(l["amount"], F.lit(0.0))
            ).alias("line_amount_sum"),
            *[
                F.transform(lines, lambda l: l[field]).alias(name)
                for name, field in LINE_ARRAYS.items()
            ],
        ]

    stage0 = documents.select(*cached_exprs(("extract.stage0",), _stage0_cols))
    stage1 = stage0.select(*cached_exprs(("extract.stage1",), _stage1_cols))
    return stage1.select("*", *cached_exprs(("extract.stage2",), _stage2_cols))
