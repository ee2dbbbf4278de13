"""Deterministic synthetic data for tests and benchmarks.

Two generators, both seeded and reproducible (FIXTURES.md):

- ``synthesize_documents`` — small driver-side generator with *planted*
  conditions (duplicate pairs ≈ samples/sample_payloads.jsonl:1-2, dangling
  media refs ≈ new remit account, fresh keys ≈ app/anomaly.py:63-64, a
  drifted partition, a Benford-violating partition, row-predicate breakers,
  one hot partition) plus the expected outcomes, for correctness tests.

- ``docs_from_tpch`` — fully distributed adapter that derives an
  interleaved documents table from the driver-provided TPC-H-ish parquet
  (orders = headers, lineitem = line spans). Pure column expressions over
  ``spark.read.parquet`` — this is what bench.py scales on, so generation
  itself must be shuffle-light (one groupBy on l_orderkey, one join).
"""

from __future__ import annotations

import datetime as dt
import json
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import DOCUMENTS, MEDIA_REGISTRY

EPOCH = dt.datetime(2024, 1, 1)

# seeded vocabulary for line descriptions — unrelated documents draw
# different word triples, true duplicates share them
VOCAB = [
    "widget", "gadget", "bracket", "flange", "coupler", "gasket", "sensor", "valve",
    "rotor", "stator", "bearing", "spindle", "manifold", "nozzle", "filter", "damper",
    "relay", "switch", "conduit", "fitting", "washer", "grommet", "sleeve", "collar",
    "bushing", "plunger", "diaphragm", "impeller", "solenoid", "actuator", "housing",
    "shroud", "baffle", "louver", "panel", "bracketry", "fastener", "rivet", "clamp", "strut",
]


def _span(kind: str, text: str | None, media_ref: str | None, offset: int) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def synthesize_documents(
    spark: SparkSession,
    n_parts: int = 6,
    docs_per_part: int = 80,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame, dict]:
    """Build (documents, media_registry, expected) with planted violations.

    Partitions:
      P0 — planted duplicate pairs (uniqueness violations)
      P1 — dangling + fresh media keys (referential violations)
      P2 — amount outliers vs the partition's own baseline (drift z≥2.5)
      P3 — Benford-violating amounts (uniform leading digits)
      P4 — row-predicate breakers (line-sum mismatch, far-future dates)
      P5 — hot partition (3× volume; correctness unchanged)
    Remaining partitions (if n_parts > 6) are clean.
    """
    rng = random.Random(seed)
    docs: list[tuple[str, list[dict]]] = []
    registry: dict[str, tuple[dt.datetime, dt.datetime]] = {}
    expected: dict[str, list] = {
        "dup_pairs": [],
        "dangling": [],
        "fresh": [],
        "outliers": [],
        "benford_part": "P3",
        "dq_badsum": [],
        "dq_future": [],
        "hot_part": "P5",
    }

    def reg_key(p: int, i: int, fresh: bool = False) -> str:
        key = f"MK-{p}-{i}"
        if key not in registry:
            first = EPOCH + dt.timedelta(days=rng.randint(0, 60), seconds=rng.randint(0, 3600))
            last = first if fresh else first + dt.timedelta(days=rng.randint(2, 90))
            registry[key] = (first, last)
        return key

    def make_doc(
        p: int,
        seq: int,
        *,
        invnum: str | None = None,
        po: str | None = None,
        total: float | None = None,
        date: dt.date | None = None,
        media: str | None = None,
        pdf: str | None = None,
        bad_sum: bool = False,
        line_tag: int | None = None,
    ) -> str:
        doc_id = f"P{p}-D{seq:05d}"
        # log10-uniform over an integer number of decades ⇒ exactly
        # Benford-distributed leading digits (a fractional decade would
        # bias low digits and trip the chi² gate on large partitions)
        total = total if total is not None else round(10 ** rng.uniform(1.0, 4.0), 2)
        invnum = invnum or f"INV-{p}{seq:04d}"
        po = po or f"PO-{p}-{rng.randint(0, 200)}"
        date = date or (EPOCH + dt.timedelta(days=rng.randint(0, 89))).date()
        media = media or reg_key(p, rng.randint(0, 9))
        pdf = pdf or f"pdf{p}x{seq}"
        spans = [
            _span("header", invnum, None, 0),
            _span("po", po, None, 1),
            _span("amount", f"{total:.2f}", None, 2),
            _span("tax", f"{round(total * 0.08, 2):.2f}", None, 3),
            _span("currency", "USD", None, 4),
            _span("date", date.isoformat(), None, 5),
            _span("payee", f"Payee {p}", None, 6),
            _span("media", None, media, 7),
            _span("pdf", None, pdf, 8),
        ]
        amounts = [total / 3] * 3
        if bad_sum:
            amounts = [a * 1.5 for a in amounts]
        tag = line_tag if line_tag is not None else seq
        for j in range(3):
            qty = float(j + 1)  # deterministic: true duplicates get identical lines
            h = (tag * 2654435761 + j * 40503 + 12345) & 0xFFFFFFFF
            desc_words = (
                VOCAB[h % len(VOCAB)],
                VOCAB[(h >> 8) % len(VOCAB)],
                VOCAB[(h >> 16) % len(VOCAB)],
            )
            payload = {
                "desc": f"{' '.join(desc_words)} lot{tag}",
                "qty": qty,
                "unit_price": round(amounts[j] / qty, 4),
                "amount": round(amounts[j], 2),
                "sku": f"SKU-{p}{j}",
            }
            spans.append(_span("line", json.dumps(payload, sort_keys=True), None, 10 + j))
        rng.shuffle(spans)  # prove offset-ordering, not list-ordering
        docs.append((doc_id, spans))
        return doc_id

    seq = 0
    for p in range(n_parts):
        count = docs_per_part * (3 if p == 5 else 1)
        for _ in range(count):
            seq += 1
            if p == 2:
                # tight totals around the mean so planted outliers z >= 2.5;
                # dates spread over a year so near-equal totals don't read
                # as same-month duplicates
                make_doc(
                    p, seq,
                    total=round(300.0 + rng.uniform(-10, 10), 2),
                    date=(EPOCH + dt.timedelta(days=rng.randint(0, 360))).date(),
                )
            elif p == 3:
                # uniform leading digits: Benford violation
                make_doc(p, seq, total=round(rng.uniform(100, 999), 2))
            else:
                make_doc(p, seq)

    # P0: duplicate pairs (same invnum modulo normalization, same po/total/pdf,
    # dates 3 days apart — the sample_payloads.jsonl:1-2 shape)
    for k in range(4):
        seq += 1
        base_date = dt.date(2024, 2, 1) + dt.timedelta(days=5 * k)
        total = round(250.0 + 97.0 * k, 2)
        shared_media = reg_key(0, 50 + k)  # duplicates share the remit account
        a = make_doc(
            0, seq, invnum=f"INV-D{k}K77{k:02d}", po=f"PO-DUP-{k}", total=total,
            date=base_date, pdf=f"pdfdup{k}", media=shared_media, line_tag=seq,
        )
        a_tag = seq
        seq += 1
        b = make_doc(
            0, seq, invnum=f" inv-0d{k}k77{k:02d} ", po=f"PO-DUP-{k}", total=total,
            date=base_date + dt.timedelta(days=3), pdf=f"pdfdup{k}", media=shared_media,
            line_tag=a_tag,
        )
        expected["dup_pairs"].append((a, b))

    # P1: dangling + fresh media keys
    for k in range(3):
        seq += 1
        d = make_doc(1, seq, media=f"MK-MISSING-{k}")
        expected["dangling"].append(d)
    for k in range(2):
        seq += 1
        d = make_doc(1, seq, media=reg_key(1, 900 + k, fresh=True))
        expected["fresh"].append(d)

    # P2: amount outliers (P2 baseline mean≈300 std≈6 ⇒ z huge)
    for k in range(3):
        seq += 1
        d = make_doc(2, seq, total=3000.0 + k)
        expected["outliers"].append(d)

    # P4: row-predicate breakers
    seq += 1
    expected["dq_badsum"].append(make_doc(4, seq, bad_sum=True))
    seq += 1
    expected["dq_future"].append(make_doc(4, seq, date=dt.date(2031, 1, 1)))

    documents = spark.createDataFrame(docs, DOCUMENTS)
    reg_rows = [(k, f, l) for k, (f, l) in sorted(registry.items())]
    media_registry = spark.createDataFrame(reg_rows, MEDIA_REGISTRY)
    return documents, media_registry, expected


# ---------------------------------------------------------------------------
# Distributed TPC-H adapter (bench / flagship path)
# ---------------------------------------------------------------------------


# media keys M0..M498: the documents reference them, the registry lists them
TPCH_MEDIA_POOL = 499


def _lit_s(v: str | None):
    return F.lit(v).cast("string")


def docs_from_tpch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved documents derived from orders+lineitem, fully columnar.

    doc_id = ``C{custkey}-O{orderkey}`` so the derived partition key is the
    customer (≈ vendor). Every 997th order gets a planted clone
    (same number/po/total/pdf, +3 days) so the uniqueness sieve always has
    work. Scales linearly: one shuffle to nest lineitem, one join.
    """
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    line_spans = (
        lineitem.select(
            F.col("l_orderkey"),
            F.struct(
                F.lit("line").alias("kind"),
                F.to_json(
                    F.struct(
                        F.concat(F.lit("item "), F.col("l_partkey").cast("string"), F.lit(" "),
                                 F.col("l_returnflag")).alias("desc"),
                        F.col("l_quantity").alias("qty"),
                        F.round(F.col("l_extendedprice") / F.greatest(F.col("l_quantity"), F.lit(1.0)), 4
                                ).alias("unit_price"),
                        F.col("l_extendedprice").alias("amount"),
                        F.concat(F.lit("SKU-"), F.col("l_partkey").cast("string")).alias("sku"),
                    )
                ).alias("text"),
                F.when(
                    F.pmod(F.col("l_partkey"), F.lit(17)) == 0,
                    F.concat(F.lit("M"), F.pmod(F.col("l_partkey"), F.lit(TPCH_MEDIA_POOL)).cast("string")),
                ).otherwise(F.lit(None).cast("string")).alias("media_ref"),
                (F.lit(10) + F.col("l_linenumber")).cast("int").alias("offset"),
            ).alias("span"),
        )
        .groupBy("l_orderkey")
        .agg(F.collect_list("span").alias("line_spans"))
    )

    def header_spans(date_col, invnum_col):
        mk = lambda kind, text, media, off: F.struct(
            F.lit(kind).alias("kind"),
            text.alias("text"),
            media.alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )
        null_s = _lit_s(None)
        return F.array(
            mk("header", invnum_col, null_s, 0),
            mk("po",
               F.concat(F.lit("PO-"), F.col("o_custkey").cast("string"), F.lit("-"),
                        F.pmod(F.col("o_orderkey"), F.lit(7)).cast("string")), null_s, 1),
            mk("amount", F.round(F.col("o_totalprice"), 2).cast("string"), null_s, 2),
            mk("tax", F.round(F.col("o_totalprice") * 0.08, 2).cast("string"), null_s, 3),
            mk("currency", F.lit("USD"), null_s, 4),
            mk("date", F.date_format(date_col, "yyyy-MM-dd"), null_s, 5),
            mk("payee", F.concat(F.lit("Payee-"), F.col("o_custkey").cast("string")), null_s, 6),
            mk("media", null_s,
               F.concat(F.lit("M"), F.pmod(F.col("o_orderkey"), F.lit(TPCH_MEDIA_POOL)).cast("string")), 7),
            mk("pdf", null_s,
               F.sha2(F.concat(F.col("o_orderkey").cast("string"),
                               F.col("o_totalprice").cast("string")), 256), 8),
        )

    base = orders.join(line_spans, orders["o_orderkey"] == line_spans["l_orderkey"], "left")
    empty_lines = F.array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    invnum = F.concat(F.lit("INV-"), F.col("o_orderkey").cast("string"))

    originals = base.select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string"), F.lit("-O"),
                 F.col("o_orderkey").cast("string")).alias("doc_id"),
        F.concat(header_spans(F.col("o_orderdate"), invnum),
                 F.coalesce(F.col("line_spans"), empty_lines)).alias("spans"),
    )

    clones = (
        base.where(F.pmod(F.col("o_orderkey"), F.lit(997)) == 0)
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string"), F.lit("-O"),
                     F.col("o_orderkey").cast("string"), F.lit("D")).alias("doc_id"),
            F.concat(
                header_spans(F.date_add(F.col("o_orderdate"), 3),
                             F.concat(F.lit("inv-0"), F.col("o_orderkey").cast("string"))),
                F.coalesce(F.col("line_spans"), empty_lines),
            ).alias("spans"),
        )
    )
    return originals.unionByName(clones)


def replicate_documents(documents: DataFrame, times: int) -> DataFrame:
    """Scale a documents table ×``times`` for scaling measurements.

    Each replica gets a distinct doc_id suffix AND perturbed identity spans
    so replicas do not collide in ANY blocking key — pair volume stays
    linear in the corpus size, matching a genuinely larger corpus rather
    than a duplicate-storm. header/po/media/pdf texts get a per-replica
    tag; the amount span shifts by ``replica × 1 cent`` so the
    T|total|month block key also diverges (replicas of one doc would
    otherwise form a clique there and pair work would grow quadratically
    in ``times``). Planted clone/original relationships are preserved
    within each replica universe: both members shift by the same cents.
    The derived partition key (doc_id prefix) is preserved.
    """
    if times <= 1:
        return documents
    rep = documents.select(
        "doc_id", "spans", F.explode(F.sequence(F.lit(0), F.lit(times - 1))).alias("_r")
    )
    tag = F.col("_r").cast("string")
    cents = F.col("_r").cast("double") * 0.01
    perturbed = F.transform(
        F.col("spans"),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            F.when(
                s["kind"].isin("header", "po"), F.concat(s["text"], F.lit("Q"), tag)
            )
            .when(
                s["kind"] == "amount",
                F.round(s["text"].try_cast("double") + cents, 2).cast("string"),
            )
            .otherwise(s["text"]).alias("text"),
            F.when(
                s["kind"].isin("media", "pdf") & s["media_ref"].isNotNull(),
                F.concat(s["media_ref"], F.lit("Q"), tag),
            ).otherwise(s["media_ref"]).alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    return rep.select(
        F.when(F.col("_r") == 0, F.col("doc_id"))
        .otherwise(F.concat(F.col("doc_id"), F.lit("Q"), tag)).alias("doc_id"),
        F.when(F.col("_r") == 0, F.col("spans")).otherwise(perturbed).alias("spans"),
    )


def replicate_registry(registry: DataFrame, times: int) -> DataFrame:
    """Registry matching a ``replicate_documents(×times)`` corpus: replica
    docs reference media keys ``M{k}Q{r}``, so every registered base key
    registers its replica keys too. Without this the replica corpus runs
    against base keys only and ~100% of replica refs dangle — multiplying
    the violation write volume ~19× over a genuinely larger corpus and
    distorting what the scaling measurement measures."""
    if times <= 1:
        return registry
    rep = registry.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(times - 1))).alias("_r")
    )
    return rep.select(
        F.when(F.col("_r") == 0, F.col("media_key"))
        .otherwise(
            F.concat(F.col("media_key"), F.lit("Q"), F.col("_r").cast("string"))
        )
        .alias("media_key"),
        "first_seen",
        "last_seen",
    )


def registry_from_tpch(spark: SparkSession) -> DataFrame:
    """Media registry for the TPC-H adapter: keys M0..M498 except every
    19th (those stay unregistered ⇒ referential violations); every 23rd
    key is 'fresh' (first_seen == last_seen)."""
    return (
        spark.range(TPCH_MEDIA_POOL)
        .where(F.pmod(F.col("id"), F.lit(19)) != 0)
        .select(
            F.concat(F.lit("M"), F.col("id").cast("string")).alias("media_key"),
            F.to_timestamp(F.lit("2023-06-01 00:00:00")).alias("first_seen"),
            F.when(
                F.pmod(F.col("id"), F.lit(23)) == 0,
                F.to_timestamp(F.lit("2023-06-01 00:00:00")),
            ).otherwise(F.to_timestamp(F.lit("2024-01-15 00:00:00"))).alias("last_seen"),
        )
    )
