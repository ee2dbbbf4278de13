"""Normalization as pure Column expressions (SURVEY.md §2.2, F1-F7).

Each function mirrors one reference normalization routine
(``/root/reference/app/normalization.py``) but as a Catalyst expression so
the whole projection stays inside whole-stage codegen — no Python on the
hot path. Golden vectors from the reference test suite
(``tests/test_normalization.py``) pin the semantics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def invnum_norm(col: Column) -> Column:
    """Normalized document/invoice number (reference app/normalization.py:14-21).

    strip → upper → drop ``[\\s\\-_/]`` → drop leading INVOICE|INV|BILL →
    strip leading zeros → empty ⇒ "0".
    """
    x = F.upper(F.trim(col))
    x = F.regexp_replace(x, r"[\s\-_/]", "")
    # input already uppercased, so the case-insensitive prefix is literal
    x = F.regexp_replace(x, r"^(INVOICE|INV|BILL)", "")
    x = F.regexp_replace(x, r"^0+", "")
    return F.when(col.isNull(), F.lit(None).cast("string")).when(x == "", F.lit("0")).otherwise(x)


def desc_norm(col: Column) -> Column:
    """Normalized free text (reference app/normalization.py:24-30).

    lower → non-[a-z0-9\\s] ⇒ space → collapse whitespace → trim.
    """
    x = F.lower(col)
    x = F.regexp_replace(x, r"[^a-z0-9\s]", " ")
    x = F.regexp_replace(x, r"\s+", " ")
    return F.trim(x)


def mask_account_last4(col: Column) -> Column:
    """Masked last-4 digits for display (reference app/normalization.py:33-41)."""
    digits = F.regexp_replace(col, r"\D", "")
    return (
        F.when(col.isNull() | (col == ""), F.lit(None).cast("string"))
        .when(digits == "", F.lit("****"))
        .otherwise(F.concat(F.lit("****"), F.substring(digits, -4, 4)))
    )


def hash_account(col: Column) -> Column:
    """Deterministic sha256 key for media/account values
    (reference app/normalization.py:44-49)."""
    return F.when(col.isNull() | (col == ""), F.lit(None).cast("string")).otherwise(
        F.sha2(col, 256)
    )


def payload_hash(*cols: Column) -> Column:
    """Canonical content hash of a document payload
    (reference app/normalization.py:66-70 hashes a sorted-key repr; here the
    canonical serialization is ``to_json`` of a struct whose field order the
    caller fixes — deterministic and computed JVM-side)."""
    return F.sha2(F.to_json(F.struct(*cols)), 256)


def text_blob(parts: Column) -> Column:
    """Lower-cased space-joined concatenation of non-empty text parts
    (reference app/normalization.py:52-63). ``parts`` is an array<string>
    column; nulls and empty strings are skipped (the reference's
    ``if p`` filter)."""
    kept = F.filter(parts, lambda p: p.isNotNull() & (p != ""))
    return F.lower(F.array_join(kept, " "))


def char_ngrams(col: Column) -> Column:
    """Array of all character 3-grams; empty array when len < 3
    (reference ``_ngram_slices``, app/main.py:205-208).

    One ``regexp_extract_all`` with a zero-width lookahead ((?s) so the
    dot crosses newlines, exactly like substring) — a single codegen'd
    Java-regex pass. The previous sequence + transform-lambda formulation
    fell out of whole-stage codegen (higher-order functions are
    interpreted) and paid interpreted-eval cost per gram."""
    grams = F.regexp_extract_all(col, F.lit("(?s)(?=(.{3}))"), 1)
    return F.when(F.length(col) >= 3, grams).otherwise(
        F.array().cast("array<string>")
    )


def char_ngram_set(col: Column) -> Column:
    """Distinct 3-grams (the reference wraps slices in ``set()``,
    app/main.py:292-293)."""
    return F.array_distinct(char_ngrams(col))


def dice_overlap(a_grams: Column, b_grams: Column) -> Column:
    """Dice coefficient on two distinct-gram arrays, capped at 1.0
    (reference app/main.py:294-296)."""
    overlap = F.size(F.array_intersect(a_grams, b_grams))
    denom = F.greatest(F.size(a_grams) + F.size(b_grams), F.lit(1))
    return F.least(F.lit(1.0), 2.0 * overlap / denom)


def span_canonical(spans: Column) -> Column:
    """Byte-for-byte canonical serialization of a span sequence.

    Offset-sorted; per-span fields joined ``kind\\x1ftext\\x1fmedia_ref\\x1foffset``
    with ``\\x00`` for NULL text/media_ref; spans joined with ``\\x1e``.
    This string is the per-row invariant carried on every violation row
    (input_hint: span-sequence equality (kind, text, media_ref, order)).
    """
    # keyed NATIVE sort — the same total order as documents.sorted_spans
    # (offset leads, remaining struct fields break ties), so the canonical
    # string agrees with extract_docs on tie-offset documents; a
    # comparator sort would keep input order on ties and disagree
    keyed = F.transform(spans, lambda s: F.struct(s.offset.alias("o"), s.alias("s")))
    ordered = F.transform(F.sort_array(keyed), lambda x: x["s"])
    return span_canonical_sorted(ordered)


def span_canonical_sorted(ordered: Column) -> Column:
    """``span_canonical`` for an already offset-sorted span array (the
    extraction sorts once and reuses the ordered array everywhere)."""
    piece = lambda s: F.concat_ws(
        "\x1f",
        s.kind,
        F.coalesce(s.text, F.lit("\x00")),
        F.coalesce(s.media_ref, F.lit("\x00")),
        s.offset.cast("string"),
    )
    return F.array_join(F.transform(ordered, piece), "\x1e")
