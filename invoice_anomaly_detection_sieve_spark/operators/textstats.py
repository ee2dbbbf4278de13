"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

All column expressions (JVM-side); language ID uses per-language stopword
hit rates — a deterministic n-gram/stopword heuristic, no model artifact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import normalize as N
from .balance import ensure_min_parallelism

# most-frequent function words per language (public frequency lists);
# 16 per language — enough for a high-precision stopword-rate argmax on
# document-sized text, cheap enough to stay a broadcast literal array
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
           "was", "on", "are", "with", "as", "this"],
    "de": ["der", "die", "das", "und", "zu", "ist", "ein", "nicht", "mit", "sich",
           "auf", "den", "von", "im", "eine", "auch"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans",
           "les", "des", "il", "ne", "pas", "au"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es", "por", "los",
           "se", "del", "las", "con", "una", "para"],
    "it": ["il", "di", "che", "e", "la", "per", "un", "non", "sono", "con",
           "si", "una", "del", "le", "nel", "della"],
    "pt": ["o", "de", "a", "e", "que", "do", "da", "em", "um", "para",
           "com", "os", "uma", "se", "dos", "como"],
    "nl": ["de", "het", "een", "van", "en", "in", "is", "dat", "op", "te",
           "zijn", "niet", "met", "aan", "voor", "er"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text; empty text ⇒ empty array."""
    t = F.trim(col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate: count of matches of a BPE-flavored
    regex (word pieces, numbers, punctuation runs) — the standard cheap
    proxy for tokenizer cost at corpus scale."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"), 0))


def quality_features(col: Column) -> dict[str, Column]:
    """Heuristic quality signals: length, punct ratio, stopword ratio,
    mean word length, uppercase ratio, digit ratio."""
    toks = tokens(col)
    n_tok = F.size(toks)
    n_chars = F.length(col)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    safe = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "punct_ratio": safe(F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", "")), n_chars),
        "stopword_ratio": safe(n_stop, n_tok),
        "mean_word_len": safe(
            F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)), n_tok
        ),
        "upper_ratio": safe(F.length(F.regexp_replace(col, r"[^A-Z]", "")), n_chars),
        "digit_ratio": safe(F.length(F.regexp_replace(col, r"[^0-9]", "")), n_chars),
    }


def quality_score(col: Column) -> Column:
    """Composite 0-1 quality score: rewards stopword presence and sane
    word lengths, penalizes punctuation/digit noise and tiny docs.
    Delegates to ``_score_expr`` — ONE copy of the weights, shared with
    the corpus-scale ``with_text_stats`` path (note the two paths tokenize
    differently by design: this one matches stopwords on raw lowered
    whitespace tokens, the corpus path on punctuation-stripped tokens —
    each is pinned by its own oracle)."""
    f = quality_features(col)
    return _score_expr(
        f["stopword_ratio"], f["mean_word_len"], f["punct_ratio"],
        f["digit_ratio"], f["n_tokens"],
    )


def language_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword hit rate over the document's tokens
    (tokenized from desc_norm output — punctuation becomes spaces — which
    intentionally differs from quality_features' raw-token denominator;
    each path is pinned by its own oracle)."""
    toks = tokens(N.desc_norm(col))
    n = F.size(toks)
    out = {}
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        out[lang] = F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))
    return out


# stopword rate below which a text's language is 'und', in both paths
_LANG_MIN_SCORE = 0.02


def language_id(col: Column) -> Column:
    """argmax language by stopword rate; 'und' (undetermined) below floor.

    Deterministic tie-break by language code.
    """
    scores = language_scores(col)
    pairs = F.array(
        *[F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
          for lang in sorted(scores)]
    )
    best = F.array_max(pairs)  # struct compare: score first, then lang
    return F.when(best["score"] >= _LANG_MIN_SCORE, best["lang"]).otherwise(F.lit("und"))


def fingerprint(col: Column) -> Column:
    """Canonical document fingerprint: sha256 of normalized text — the
    dedup/citation key (≈ invoice_payload_hash, app/normalization.py:66-70)."""
    return F.sha2(N.desc_norm(col), 256)


def rolling_fingerprints(col: Column) -> Column:
    """Winnowing-style fingerprint set: xxhash64 of each 8-token
    shingle, keep every hash ≡ 0 (mod 8) — a deterministic sample of the
    document's local structure for containment detection.

    Shingles come from zipping ``window`` shifted views of the token array
    (never indexing the token expression inside a lambda — interpreted
    HOFs re-evaluate captured expressions per element)."""
    window = 8
    toks = tokens(N.desc_norm(col))
    n = F.size(toks)
    shifted = [
        F.slice(toks, i + 1, F.greatest(n - i, F.lit(0))).alias(f"t{i}") for i in range(window)
    ]
    zipped = F.arrays_zip(*shifted)
    hashes = F.transform(
        zipped,
        lambda s: F.when(
            s[f"t{window-1}"].isNotNull(),
            F.xxhash64(F.concat_ws(" ", *[s[f"t{i}"] for i in range(window)])),
        ),
    )
    sampled = F.filter(hashes, lambda h: h.isNotNull() & (F.pmod(h, F.lit(8)) == 0))
    return F.when(n >= window, F.array_distinct(sampled)).otherwise(
        F.array().cast("array<bigint>")
    )


def _score_expr(stop_ratio, mean_wl, punct_ratio, digit_ratio, n_tok):
    return F.round(
        F.lit(0.3) * F.least(stop_ratio * 4.0, F.lit(1.0))
        + F.lit(0.25) * F.when((mean_wl >= 3) & (mean_wl <= 10), 1.0).otherwise(0.3)
        + F.lit(0.2) * (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0)))
        + F.lit(0.15) * (1.0 - F.least(digit_ratio * 5.0, F.lit(1.0)))
        + F.lit(0.1) * F.least(n_tok.cast("double") / 50.0, F.lit(1.0)),
        6,
    )


def with_text_stats(docs: DataFrame) -> DataFrame:
    """Attach the full text-analysis column set of ``text`` to the docs,
    keyed by ``doc_id`` — the corpus-scale path.

    Token-derived features come from ONE explode + codegen'd aggregation
    (map-side partial agg ⇒ one row per doc over the exchange); the
    char-level ratios and fingerprints are plain regexp projections.
    Interpreted higher-order functions (µs per array element) are avoided
    everywhere — on multi-hundred-token documents they are 10-100× slower
    than this plan.
    """
    c = F.col("text")
    docs = ensure_min_parallelism(docs)
    ex = docs.select(F.col("doc_id").alias("_id"), F.explode_outer(tokens(c)).alias("_t"))
    # materialize the cleaned token once as an attribute: each of the 7
    # per-language aggregates referencing the regexp_replace expression
    # directly would re-run the regex per aggregate
    clean = F.lower(F.regexp_replace(F.col("_t"), r"[^a-zA-Z0-9]", ""))
    ex = ex.select(
        "_id",
        F.col("_t").isNotNull().alias("_has"),
        F.length("_t").alias("_len"),
        clean.alias("_clean"),
    )
    aggs = [
        F.count(F.when(F.col("_has"), 1)).alias("n_tokens"),
        F.coalesce(F.sum(F.col("_len")), F.lit(0)).alias("_sum_len"),
    ]
    for lang, words in STOPWORDS.items():
        aggs.append(
            F.sum(F.when(F.col("_clean").isin(words), 1).otherwise(0)).alias(f"_hits_{lang}")
        )
    stats = ex.groupBy("_id").agg(*aggs)

    n_tok = F.col("n_tokens")
    safe = lambda num: F.when(n_tok > 0, num.cast("double") / n_tok).otherwise(F.lit(0.0))
    lang_pairs = F.array(
        *[
            F.struct(safe(F.col(f"_hits_{lang}")).alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(STOPWORDS)
        ]
    )
    best = F.array_max(lang_pairs)
    stats = stats.select(
        "_id",
        "n_tokens",
        safe(F.col("_sum_len")).alias("mean_word_len"),
        safe(F.col("_hits_en")).alias("stopword_ratio"),
        F.when(best["score"] >= _LANG_MIN_SCORE, best["lang"])
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
    )

    n_chars = F.length(c)
    ratio = lambda pat: F.when(
        n_chars > 0, F.length(F.regexp_replace(c, pat, "")).cast("double") / n_chars
    ).otherwise(F.lit(0.0))
    base = docs.select(
        "*",
        n_chars.cast("long").alias("n_chars"),
        ratio(r"[A-Za-z0-9\s]").alias("punct_ratio"),
        ratio(r"[^A-Z]").alias("upper_ratio"),
        ratio(r"[^0-9]").alias("digit_ratio"),
        fingerprint(c).alias("doc_fingerprint"),
        bpe_ish_token_count(c).cast("long").alias("bpe_token_count"),
    )
    out = base.join(stats, base["doc_id"] == stats["_id"], "left").drop("_id")
    return out.withColumn(
        "quality_score",
        _score_expr(
            F.coalesce(F.col("stopword_ratio"), F.lit(0.0)),
            F.coalesce(F.col("mean_word_len"), F.lit(0.0)),
            F.col("punct_ratio"),
            F.col("digit_ratio"),
            F.coalesce(F.col("n_tokens"), F.lit(0)),
        ),
    )
