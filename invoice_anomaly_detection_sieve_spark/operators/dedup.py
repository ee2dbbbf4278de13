"""Document deduplication operators for training-data pipelines.

Beyond the reference's invoice-level duplicate sieve, a 100 TB corpus
pipeline needs document dedup. All variants are expressed shuffle-light:

- exact: sha256-hash groupBy (one shuffle on the hash),
- MinHash + LSH: shingle → K minhashes via ``xxhash64`` with K seeds
  (column expressions, no Python) → band buckets → pairs per bucket
  (``balance.bucket_pairs``) — candidate pairs only, never the full
  cross product,
- SimHash: 64-bit signature from weighted gram-bit majority (bitwise
  column math), near-dups = equal signature or small Hamming distance
  within a bucket,
- n-gram Jaccard: exact verification on LSH candidates (array_intersect).

The reference analog is its char-3-gram Dice retrieval + pdf-hash rule
(app/main.py:290-296, app/rules.py:35-38 shingle-Jaccard >= 0.9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import normalize as N
from .balance import bit_bands, bucket_pairs, ensure_min_parallelism

DEFAULT_SHINGLE = 5
DEFAULT_MINHASHES = 16
DEFAULT_BANDS = 4  # 16 hashes / 4 bands -> rows-per-band 4
SIMHASH_NGRAM = 3  # char n-gram size of every SimHash signature

def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash: every doc annotated with its group
    size and a keep/drop flag (first id per hash kept)."""
    h = F.sha2(F.col(text_col), 256)
    w_cnt = Window.partitionBy("content_hash")
    w_rank = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        docs.withColumn("content_hash", h)
        .withColumn("dup_count", F.count(F.lit(1)).over(w_cnt))
        .withColumn("is_kept", F.row_number().over(w_rank) == 1)
        .select(id_col, "content_hash", "dup_count", "is_kept")
    )


def word_shingles(col: Column, k: int = DEFAULT_SHINGLE) -> Column:
    """Distinct k-word shingles of normalized text (column-only).

    One ``regexp_extract_all`` with a zero-width lookahead anchored at
    word starts extracts every overlapping k-word window in a single
    codegen'd Java-regex pass. The previous arrays_zip + transform-lambda
    formulation fell out of whole-stage codegen (higher-order functions
    are interpreted) and cost ~170 µs per shingle of interpreted
    evaluation — measured 2.0 s -> 0.37 s over 250k shingles at
    sf0.1/local[32], bit-identical output (desc_norm output is trimmed
    and single-spaced, so k slice-joins of the word array are exactly the
    k-word substrings the regex captures).
    """
    norm = N.desc_norm(col)
    words = F.split(norm, " ")
    # (?=...) makes matches overlap; (?:^| ) anchors each match at a word
    # start. desc_norm's output has no leading/trailing/double spaces, so
    # the captured window equals concat_ws(" ", k consecutive words).
    pat = r"(?=(?:^| )((?:[^ ]+ ){%d}[^ ]+))" % (k - 1)
    full = F.regexp_extract_all(norm, F.lit(pat), 1)
    # short texts (< k words) fall back to one whole-text shingle; the
    # norm == "" guard keeps the k=1 edge identical (split("") yields
    # [""], which the old path emitted as a single empty shingle but a
    # [^ ]+ regex cannot match)
    return F.array_distinct(
        F.when((F.size(words) >= k) & (norm != ""), full).otherwise(F.array(norm))
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_MINHASHES,
    shingle: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Per-doc minhash signature columns h0..h{K-1} via explode + agg.

    The K seeded xxhash64 projections run inside whole-stage codegen over
    the exploded shingles; partial (map-side) aggregation collapses to one
    row per doc before the exchange, so the shuffle is O(docs), not
    O(shingles). Returns (id, h0..h{K-1}).
    """
    staged = ensure_min_parallelism(docs).select(
        F.col(id_col).alias("_id"), word_shingles(F.col(text_col), shingle).alias("_sh")
    )
    ex = staged.select("_id", F.explode_outer("_sh").alias("_s"))
    hashed = ex.select(
        "_id", *[F.xxhash64(F.col("_s"), F.lit(i)).alias(f"h{i}") for i in range(num_hashes)]
    )
    return hashed.groupBy("_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
    shingle: int = DEFAULT_SHINGLE,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH: each band's
    hash of the signature is a bucket key of ``balance.bucket_pairs``, and
    each candidate pair counts the bands it shares.

    ``max_bucket`` drops degenerate buckets (same guard as the blocking
    join's max_key_fanout); pass ``None`` to disable the guard and keep
    the full (1-(1-J^r)^b) candidate recall — required when an exact
    oracle will compare the output. Output: a_id, b_id (a < b),
    n_shared_bands.
    """
    if num_hashes % bands:
        # silent truncation (h{r*b}..h{K-1} dead) would quietly change the
        # advertised (1-(1-J^r)^b) recall — same contract as the simhash
        # bands check
        raise ValueError(
            f"bands must divide num_hashes (got num_hashes={num_hashes}, "
            f"bands={bands})"
        )
    rows_per_band = num_hashes // bands
    # null-text docs carry no shingles — without this filter every pair of
    # them shares an all-null signature (Jaccard 1.0 downstream), while
    # the DuckDB oracles (list_distinct drops NULLs => u=0) exclude them;
    # "no text" means "no similarity evidence", so exclude from pairing
    docs = docs.where(F.col(text_col).isNotNull())
    with_sig = minhash_signatures(docs, text_col, id_col, num_hashes, shingle)
    band_arr = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ),
                F.lit(b),
            )
            for b in range(bands)
        ]
    )
    return (
        bucket_pairs(with_sig, band_arr, "_id", max_bucket=max_bucket, op="minhash_lsh_pairs")
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def ngram_jaccard(a_grams: Column, b_grams: Column) -> Column:
    """Exact Jaccard on two distinct-gram arrays (app/rules.py:35-38's
    shingle_jaccard)."""
    inter = F.size(F.array_intersect(a_grams, b_grams))
    union = F.size(F.array_union(a_grams, b_grams))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def near_duplicates(
    docs: DataFrame,
    threshold: float = 0.8,
    **lsh_kwargs,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact shingle Jaccard.

    The scale path: LSH bounds the candidate set, the exact check runs
    only on candidates (join back to per-doc shingle arrays).
    """
    pairs = minhash_lsh_pairs(docs, **lsh_kwargs)
    shingles = docs.select(
        F.col("doc_id").alias("_id"),
        word_shingles(F.col("text"), lsh_kwargs.get("shingle", DEFAULT_SHINGLE)).alias("_sh"),
    )
    a = shingles.select(F.col("_id").alias("a_id"), F.col("_sh").alias("a_sh"))
    b = shingles.select(F.col("_id").alias("b_id"), F.col("_sh").alias("b_sh"))
    j = pairs.join(a, "a_id").join(b, "b_id")
    return (
        j.withColumn("jaccard", ngram_jaccard(F.col("a_sh"), F.col("b_sh")))
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard", "n_shared_bands")
    )


def simhash64_from_hashes(hashes: Column) -> Column:
    """64-bit SimHash from an array<long> of gram hashes (pass an
    ATTRIBUTE column — the 64 bit-majority expressions each traverse it).

    Bit i of the signature is the majority vote of bit i over the grams'
    xxhash64 values: set iff more than half the grams have it set
    (signed-sum > 0 ⟺ 2·count_set > n). Unrolled into 64 JVM-side
    filter/size expressions — no UDF, no shuffle.
    """
    n = F.size(hashes)

    def bit_is_set(h: Column, i: int) -> Column:
        if i == 63:
            return h < 0  # sign bit
        return h.bitwiseAND(F.lit(1 << i)) != 0

    sig = F.lit(0).cast("long")
    for i in range(64):
        count_set = F.size(F.filter(hashes, lambda h: bit_is_set(h, i)))
        mask = F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long")
        sig = sig.bitwiseOR(
            F.when(count_set * 2 > n, mask).otherwise(F.lit(0).cast("long"))
        )
    return sig


def simhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
) -> DataFrame:
    """(doc_id as ``_id``, signature) rows via explode + codegen'd
    aggregation — the shared core of ``with_simhash`` (which joins the
    signatures back onto the docs) and ``simhash_near_duplicates`` (which
    consumes the bare signatures and skips that join's shuffle entirely).

    The 64 bit-majority votes become 64 conditional sums over the exploded
    gram hashes (whole-stage codegen, map-side partial agg ⇒ one row per
    doc crosses the exchange), then the signature is reassembled with
    bitwise ORs in a final projection. Orders of magnitude faster than the
    interpreted higher-order-function formulation on long documents.
    """
    staged = docs.select(F.col("doc_id").alias("_id"), N.desc_norm(F.col(text_col)).alias("_n"))
    staged = staged.select("_id", N.char_ngram_set(F.col("_n"), SIMHASH_NGRAM).alias("_g"))
    ex = staged.select("_id", F.explode_outer("_g").alias("_gram"))
    # materialize the gram hash ONCE as an attribute: each of the 64 bit
    # aggregates below referencing xxhash64(_gram) directly would embed
    # its own copy of the hash expression — 64 string hashes per gram row
    # (no common-subexpression elimination across separate aggregate
    # expressions)
    ex = ex.select("_id", F.col("_gram").isNotNull().alias("_has"),
                   F.xxhash64(F.col("_gram")).alias("_h"))
    h = F.col("_h")
    aggs = [F.count(F.when(F.col("_has"), 1)).alias("_n")]
    for i in range(64):
        bit = (h < 0) if i == 63 else (h.bitwiseAND(F.lit(1 << i)) != 0)
        aggs.append(F.sum(F.when(F.col("_has") & bit, 1).otherwise(0)).alias(f"b{i}"))
    votes = ex.groupBy("_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(64):
        mask = F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long")
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{i}") * 2 > F.col("_n"), mask).otherwise(F.lit(0).cast("long"))
        )
    return votes.select(F.col("_id"), sig.alias(out_col))


def with_simhash(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
) -> DataFrame:
    """Attach a SimHash column to ``docs`` (join of ``simhash_signatures``)."""
    sigs = simhash_signatures(docs, text_col, out_col)
    return docs.join(sigs, docs["doc_id"] == sigs["_id"], "left").drop("_id")


def simhash64(col: Column) -> Column:
    """Expression form of SimHash (small inputs / tests): convenient but
    re-evaluates the gram pipeline inside each bit expression — prefer
    ``with_simhash`` on DataFrames of any size."""
    grams = N.char_ngram_set(N.desc_norm(col), SIMHASH_NGRAM)
    return simhash64_from_hashes(F.transform(grams, lambda g: F.xxhash64(g)))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """SimHash near-dup pairs via banded buckets — exact recall when
    ``max_bucket=None``, bounded-work recall under the default guard.

    The signature splits into ``bands`` disjoint bit bands; candidates
    share at least one exact band. Pigeonhole: any pair within Hamming
    distance ≤ bands−1 differs in at most bands−1 bands, so some band
    matches — full recall for ``max_hamming ≤ bands − 1`` (the earlier
    single-prefix bucketing silently missed near-dups differing inside the
    prefix). ``bands`` is the smallest divisor of 64 that covers
    ``max_hamming`` (4 for the default radius 3 ⇒ 16-bit bands). Each doc
    explodes into ``bands`` bucket rows ⇒ one shuffle on (band, band_bits);
    pairs deduped before the exact Hamming check.

    ``max_bucket`` is the hot-bucket guard (same as minhash_lsh_pairs):
    a degenerate band value — short or templated docs collapsing to one
    16-bit pattern — would otherwise make the candidate self-join O(n²)
    in that bucket. Buckets above the cap are DROPPED, which trades the
    pigeonhole recall guarantee for bounded work in those buckets only
    (a pair survives if any of its other shared bands is under the cap);
    pass ``None`` to keep exact recall. Output: a_id, b_id, hamming.
    """
    bands = next((b for b in (1, 2, 4, 8, 16, 32) if b >= max_hamming + 1), None)
    if bands is None:  # max_hamming >= 32: no 64-divisor band count covers it
        raise ValueError(
            f"banded SimHash over 64 bits supports max_hamming <= 31 "
            f"(needs bands >= max_hamming+1 dividing 64; got "
            f"max_hamming={max_hamming})"
        )
    width = 64 // bands
    # null-text docs: no grams => identical degenerate signatures would
    # pair every null doc with every other (hamming 0); the oracle's
    # NULL-neq-NULL join excludes them — align (no text, no evidence)
    docs = docs.where(F.col("text").isNotNull())
    # bare (id, sig) rows: joining the signatures back onto docs (the old
    # with_simhash call) paid a full extra shuffle join only to re-project
    # the two columns again
    sig = simhash_signatures(ensure_min_parallelism(docs).select("doc_id", "text"), "text", "sig")
    return (
        bucket_pairs(sig, bit_bands(F.col("sig"), width, bands), "_id", ("sig",),
                     max_bucket=max_bucket, op="simhash_near_duplicates")
        .dropDuplicates(["a_id", "b_id"])
        .withColumn("hamming", hamming64(F.col("a_sig"), F.col("b_sig")))
        .where(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


# ---------------------------------------------------------------------------
# duplicate clustering: pairs -> connected components -> canonical doc
# ---------------------------------------------------------------------------

def _release_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind a ``localCheckpoint`` frame. The frame's
    own ``unpersist`` only touches the cache manager, and the checkpoint
    RDD is not in it."""
    df._jdf.logicalPlan().rdd().unpersist(False)


def duplicate_clusters(
    pairs: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair list.

    A training pipeline consumes dedup PAIRS as CLUSTERS: transitively
    connected docs form one duplicate group and exactly one member (the
    canonical) survives. This is the min-label-propagation formulation of
    MapReduce connected components (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14): every node starts labeled with
    itself, and each round every node adopts the minimum label among
    itself and its neighbors. Rounds until fixpoint = graph diameter;
    near-dup clusters are shallow (dozens of docs, diameter a few hops),
    so this converges in a handful of O(E)-shuffle rounds, each a
    join + groupBy — no driver-side graph, no GraphX/RDD dependency.
    ``localCheckpoint`` truncates the lineage every round so the plan
    stays flat at any iteration count. The fixpoint test rides the
    aggregate that computes the next labels (one extra max() column, no
    extra pass).

    Output: (doc_id, cluster_id) for every doc that appears in ``pairs``,
    cluster_id = min doc_id of its component. Reference analog: the
    sieve groups mutual duplicate invoices under one case key
    (app/main.py:290-305); here the group must be computed distributively.
    """
    # undirected edge list, both directions, so one join step propagates
    # labels across every edge
    e = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("_mn")).alias("lab"),
        )
        .localCheckpoint(eager=True)
    )
    ckpt = labels
    changed = 0
    for _ in range(max_iter):
        # next label = min(own, min over neighbors' labels); count how
        # many nodes still shrink this round on the same aggregation
        nbr = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("lab").alias("_nbr_lab"))
            .withColumnRenamed("src", "node")
        )
        nxt = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least("lab", F.coalesce("_nbr_lab", "lab")).alias("lab"),
                (F.col("lab") > F.least("lab", F.coalesce("_nbr_lab", "lab")))
                .cast("int")
                .alias("_chg"),
            )
        ).localCheckpoint(eager=True)
        # the eager checkpoint holds the new round, so the one it was
        # computed from is released now instead of whenever a JVM GC lets
        # the ContextCleaner drop it
        _release_checkpoint(ckpt)
        ckpt = nxt
        changed = nxt.agg(F.sum("_chg")).first()[0] or 0
        labels = nxt.drop("_chg")
        if changed == 0:
            break
    if changed:
        _release_checkpoint(ckpt)
        # a component whose diameter exceeds max_iter would return labels
        # that are NOT the component minimum — keep_canonical would then
        # keep several "canonical" docs from one duplicate cluster.
        # Wrong-but-silent is the worst outcome for a dedup gate, so fail.
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds "
            f"({changed} labels still shrinking); a duplicate chain longer "
            f"than max_iter hops exists — raise max_iter"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("lab").alias("cluster_id"))


def keep_canonical(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Drop every clustered doc except its cluster's canonical member.

    The canonical doc IS the cluster_id (min doc_id of the component), so
    the kill list is just ``doc_id != cluster_id`` — one broadcast-able
    anti-join against docs (the kill list is O(duplicates), tiny relative
    to the corpus)."""
    kill = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(kill, "doc_id", "left_anti")
