"""Approximate-nearest-neighbor search over an embedding column.

Two paths over ``embeddings(vec_id, embedding array<float>, label)``:

- brute-force cosine top-k (the correctness baseline): broadcast the query
  set, score every (query, candidate) with a JVM-side ``aggregate``/
  ``zip_with`` dot product, window top-k. One shuffle (the window).
- LSH-bucketed (the 100 TB path): random-hyperplane signatures via an
  Arrow-vectorized kernel (one ``V @ Wᵀ`` matmul per batch over a
  deterministic, worker-cached weight matrix), candidates share a
  signature bucket; exact cosine only inside buckets. Recall is tunable
  by bands/bits.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .balance import bit_bands, bucket_pairs, guard_hot_keys


def l2_norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries`` is small (broadcast); candidates stream once. Self-matches
    excluded. Output: query_id, neighbor_id, rank, cos_sim.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


@lru_cache(maxsize=32)
def hyperplane_weights(dim: int, bits: int = 16) -> np.ndarray:
    """Deterministic pseudo-random hyperplane matrix (bits × dim).

    w(b, i) = (sha256("7:{b}:{i}")[:8] % 1001) − 500 — integer,
    reproducible across runs/workers, computed ONCE per worker and cached
    (the round-1 formulation re-evaluated a hash per (bit × dimension)
    inside interpreted zip_with lambdas — ~768 hash evals per row).
    """
    w = np.empty((bits, dim), dtype=np.float64)
    for b in range(bits):
        for i in range(dim):
            h = int.from_bytes(
                hashlib.sha256(f"7:{b}:{i}".encode()).digest()[:8], "big"
            )
            w[b, i] = float(h % 1001) - 500.0
    return w


def hyperplane_signature(vec: Column, dim: int, bits: int = 16) -> Column:
    """Random-hyperplane LSH signature as a ``bits``-bit integer.

    One Arrow-vectorized pass: each batch of vectors becomes a (batch ×
    dim) matrix, the sign pattern of ``V @ Wᵀ`` packs into the signature
    via a dot with bit weights — two numpy matmuls per batch, no per-bit
    work. (UDF registration is lazy; the weight matrix builds once per
    worker via the lru_cache.)
    """
    from pyspark.sql.functions import pandas_udf

    def _sig(batch: pd.Series) -> pd.Series:
        w = hyperplane_weights(dim, bits)
        if len(batch) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        # null / ragged / malformed vectors degrade to a NULL signature
        # instead of poisoning the whole Arrow batch (np.stack on a 0-d
        # None raises and fails the job)
        ok = np.fromiter(
            (v is not None and np.ndim(v) == 1 and len(v) == dim for v in batch),
            dtype=bool, count=len(batch),
        )
        out = np.zeros(len(batch), dtype=np.int64)
        if ok.any():
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v, g in zip(batch, ok) if g]
            )
            bits_on = (mat @ w.T) > 0  # (n_ok, bits)
            out[ok] = bits_on @ (1 << np.arange(bits, dtype=np.int64))
        res = pd.Series(out, dtype="Int64")
        res[~ok] = pd.NA
        return res

    return pandas_udf(_sig, "long")(vec)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    bits: int = 12,
    bands: int = 3,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Bucketed ANN: exact cosine only among candidates sharing any of
    ``bands`` signature bands. At corpus scale this replaces the cross
    join with a shuffle on (band, band_signature).

    Only IDS travel through the band explode and bucket join — carrying
    the vectors would ship each 64-float array ``bands`` times per side
    (the payload ban shared with cosine_near_duplicates); vectors re-enter
    via two key joins on the deduped candidate set. ``max_bucket`` drops
    degenerate candidate buckets (templated/near-zero embeddings collapsing
    to one band pattern), the same hot-key guard as every other pair
    generator here."""
    def with_bands(df, prefix):
        sig = hyperplane_signature(F.col("embedding"), dim, bits)
        out = df.select(F.col("vec_id").alias(f"{prefix}_id"), sig.alias("_sig"))
        band_arr = bit_bands(F.col("_sig"), bits // bands, bands)
        return out.select(f"{prefix}_id", F.explode(band_arr).alias("bucket"))

    qb = with_bands(queries, "query")
    cb = guard_hot_keys(with_bands(embeddings, "neighbor"), ["bucket"], max_bucket)
    pair_ids = (
        cb.join(qb, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    q_vecs = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    c_vecs = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("neighbor_vec")
    )
    cand = (
        pair_ids.join(q_vecs, "query_id")
        .join(c_vecs, "neighbor_id")
        .withColumn("cos_sim", cosine(F.col("query_vec"), F.col("neighbor_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
) -> list:
    """Deterministic coarse quantizer for IVF: the ``n_centroids`` corpus
    vectors of smallest ``md5(id)`` rank — a uniform, engine-reproducible
    sample. Lloyd iterations would sharpen the cells but make the
    quantizer engine-specific; at corpus scale a sampled quantizer is
    standard practice anyway (train on a sample, not the corpus), and
    this one lets DuckDB re-derive the identical cells for the oracle.

    Returns driver-side rows ``[(c_rank 1-based, vector), ...]`` in rank
    order. Driver memory is O(n_centroids × dim) — the same bounded
    broadcast-scale assumption as the profiles.
    """
    rows = (
        embeddings.select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("c_vec"),
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "c_id")
        .limit(n_centroids)
        .collect()
    )
    return [(i + 1, list(r.c_vec)) for i, r in enumerate(rows)]


def _cell_scores(vec: Column, centroids: list) -> Column:
    """Array of cosine(vec, centroid) per centroid, in rank order — pure
    JVM expressions over literal centroid vectors (no shuffle, no UDF).
    The row's own norm is computed once and shared across cells."""
    vnorm = l2_norm(vec)
    scores = []
    for _rank, cvec in centroids:
        c = F.array(*[F.lit(float(x)) for x in cvec])
        denom = vnorm * l2_norm(c)
        scores.append(F.when(denom > 0, dot(vec, c) / denom).otherwise(F.lit(0.0)))
    return F.array(*scores)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into ``n_centroids`` cells,
    probe only the ``n_probe`` cells nearest each query, exact cosine
    inside the probed cells. The inverted-file counterpart to the
    hyperplane-LSH path (``lsh_topk``); with ``n_probe == n_centroids``
    it degenerates to the exact ``brute_force_topk`` result (every cell
    probed ⇒ every candidate scored), which pins correctness.

    Shuffle ledger at scale: centroid selection is a total-order
    ``limit C`` (tiny); cell assignment is a zero-shuffle JVM argmax over
    broadcast centroid literals (ties → lowest rank via first-occurrence
    ``array_position``); the probe list (queries × n_probe) is broadcast
    so candidates stream once with no shuffle on the C-key (skew-prone)
    cell id; the only real shuffle is the final per-query top-k window.
    Cell skew is bounded by quantizer balance — a degenerate quantizer
    concentrates candidates, the classic IVF failure mode; re-sample with
    a different hash salt if a cell exceeds ~corpus/C × 10.

    Output: query_id, neighbor_id, rank, cos_sim.
    """
    cent = ivf_centroids(embeddings, n_centroids)
    # corpus side: one cell per vector (argmax cosine, first max on ties)
    e = embeddings.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"))
    scores = _cell_scores(F.col("c_vec"), cent)
    assigned = e.select(
        "neighbor_id", "c_vec",
        F.array_position(scores, F.array_max(scores)).cast("int").alias("cell"),
    )
    # query side: top-n_probe cells per query, exploded + broadcast
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    qs = q.select(
        "query_id", "q_vec", _cell_scores(F.col("q_vec"), cent).alias("_cs")
    )
    ranked_cells = F.slice(
        F.transform(
            F.array_sort(
                F.zip_with(
                    F.col("_cs"),
                    F.sequence(F.lit(1), F.lit(len(cent))),
                    lambda s, i: F.struct((-s).alias("neg"), i.alias("cell")),
                )
            ),
            lambda st: st["cell"],
        ),
        1,
        n_probe,
    )
    probes = qs.select(
        "query_id", "q_vec", F.explode(ranked_cells).alias("cell")
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def cosine_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.9,
    method: str = "lsh",
    dim: int = 64,
    bits: int = 16,
    bands: int = 4,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a_id < b_id, cos_sim ≥
    threshold). The embedding-space analog of ``dedup.near_duplicates``
    (there: MinHash-LSH candidates + exact Jaccard; here: hyperplane-LSH
    candidates + exact cosine).

    - ``method="exact"``: all-pairs baseline — every (a, b) scored with
      the JVM-side ``cosine``. O(n²) by definition; the correctness
      oracle, and the path an exact-recall comparison must use.
    - ``method="lsh"`` (the 100 TB path): banded random-hyperplane
      signatures → band buckets paired by ``balance.bucket_pairs``
      (the hot-bucket guard ``max_bucket``, shared with
      ``minhash_lsh_pairs``; ``None`` disables it) → exact cosine only on
      bucket-mates. Recall is probabilistic (1-(1-p^r)^b with
      p = 1 - θ/π), tunable by bits/bands; pinned by a planted-pair
      recall test.

    Output: a_id, b_id, cos_sim.
    """
    e = embeddings.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec"))
    a_vecs = e.select(F.col("_id").alias("a_id"), F.col("_vec").alias("_av"))
    b_vecs = e.select(F.col("_id").alias("b_id"), F.col("_vec").alias("_bv"))
    if method == "exact":
        cand = a_vecs.crossJoin(b_vecs).where(F.col("a_id") < F.col("b_id"))
    elif method == "lsh":
        sig = hyperplane_signature(F.col("_vec"), dim, bits)
        rows = e.select("_id", sig.alias("_sig")).where(F.col("_sig").isNotNull())
        pair_ids = bucket_pairs(
            rows, bit_bands(F.col("_sig"), bits // bands, bands), "_id",
            max_bucket=max_bucket, op="cosine_near_duplicates",
        ).dropDuplicates(["a_id", "b_id"])
        # vectors re-enter via two key joins (NOT carried through the band
        # explode, which would ship each vector `bands` times per bucket)
        cand = pair_ids.join(a_vecs, "a_id").join(b_vecs, "b_id")
    else:
        raise ValueError(f"unknown method {method!r} (want 'exact' or 'lsh')")
    return (
        cand.withColumn("cos_sim", cosine(F.col("_av"), F.col("_bv")))
        .where(F.col("cos_sim") >= threshold)
        .select("a_id", "b_id", "cos_sim")
    )
