"""Driver-contract query registry (SURVEY.md §2 operator coverage).

Each entry pairs a Spark DataFrame query over the deterministic
``/root/testdata`` tables with a DuckDB oracle SQL producing identical
column names and values (the driver hashes values order-insensitively with
columns sorted by name — see __spark_entry__.py). Doubles are rounded
identically on both sides; dates/timestamps are emitted as strings so the
two engines hash the same bytes.

Non-SQL-expressible kernels (Hungarian pair scoring, MinHash LSH, KS) have
entries without oracles; the driver records rows-only checks for those.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import normalize as N
from ..functions import scoring as S
from ..operators import blocking

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _r(col, n=6):
    return F.round(col, n)


def _moment_stats_cents(df, group_col: str, val_col: str):
    """Per-group n/mean/std via *exact integer-cents* sufficient statistics.

    Cross-engine determinism demands it: float partial sums differ with
    aggregation order, and DuckDB contracts ``a − b·c`` into an FMA, so any
    float-side variance formula diverges from Spark at the ULP level. Here
    n, Σx, Σx² are exact decimals; the only float ops left are divisions
    and sqrt (both correctly rounded IEEE → bit-identical everywhere).
    """
    cents = F.round(F.col(val_col) * 100).cast("decimal(18,0)")
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count(F.col(val_col)).alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    n = F.col("n")
    mean = F.col("s1").cast("double") / n / 100.0
    var_num = (n.cast("decimal(9,0)") * F.col("s2").cast("decimal(29,0)")
               - F.col("s1").cast("decimal(18,0)") * F.col("s1").cast("decimal(18,0)"))
    var = F.when(n > 1, var_num.cast("double") / (n * (n - 1)) / 10000.0)
    std = F.coalesce(F.sqrt(F.greatest(var, F.lit(0.0))), F.lit(0.0))
    return g, mean, std


_SQL_MOMENTS_CENTS = """
  SELECT {group_col}, count(*) AS cnt, count({val_col}) AS n,
         sum(CAST(round({val_col} * 100) AS DECIMAL(18,0))) AS s1,
         sum(CAST(round({val_col} * 100) AS DECIMAL(18,0))
             * CAST(round({val_col} * 100) AS DECIMAL(18,0))) AS s2
  FROM {table} GROUP BY 1
"""

_SQL_MEAN = "CAST(s1 AS DOUBLE) / n / 100.0"
_SQL_STD = (
    "coalesce(sqrt(greatest(CAST(CAST(n AS DECIMAL(9,0)) * CAST(s2 AS DECIMAL(29,0))"
    " - CAST(s1 AS DECIMAL(18,0)) * CAST(s1 AS DECIMAL(18,0)) AS DOUBLE)"
    " / nullif(n * (n - 1), 0) / 10000.0, 0.0)), 0.0)"
)


# ---------------------------------------------------------------------------
# §2.1 scans / point lookups
# ---------------------------------------------------------------------------


def q_point_lookup(spark, sf_dir):
    """S2: key-predicate scan with projection pushdown (app/main.py:35-47)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderkey") % 1000 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            _r(F.col("o_totalprice"), 2).alias("total"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


SQL_POINT_LOOKUP = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM orders WHERE o_orderkey % 1000 = 0
"""

# ---------------------------------------------------------------------------
# §2.2 normalization expressions
# ---------------------------------------------------------------------------


def q_invnum_norm(spark, sf_dir):
    """F1 (app/normalization.py:14-21) applied to synthetic raw numbers."""
    o = _t(spark, sf_dir, "orders")
    raw = F.concat(F.lit(" inv-000"), F.col("o_orderkey").cast("string"), F.lit(" "))
    return o.select("o_orderkey", raw.alias("raw"), N.invnum_norm(raw).alias("invnum_norm"))


SQL_INVNUM_NORM = """
WITH s AS (
  SELECT o_orderkey, ' inv-000' || CAST(o_orderkey AS VARCHAR) || ' ' AS raw FROM orders
), n AS (
  SELECT o_orderkey, raw,
         regexp_replace(regexp_replace(regexp_replace(upper(trim(raw)),
           '[\\s\\-_/]', '', 'g'), '^(INVOICE|INV|BILL)', ''), '^0+', '') AS x
  FROM s
)
SELECT o_orderkey, raw, CASE WHEN x = '' THEN '0' ELSE x END AS invnum_norm FROM n
"""


def q_desc_norm(spark, sf_dir):
    """F2 (app/normalization.py:24-30) over the documents text column."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", N.desc_norm(F.col("text")).alias("desc_norm"))


SQL_DESC_NORM = """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
            '\\s+', ' ', 'g')) AS desc_norm
FROM documents
"""


def q_mask_hash(spark, sf_dir):
    """F3+F4 (app/normalization.py:33-49): masked last4 + sha256 key."""
    c = _t(spark, sf_dir, "customer")
    acct = F.concat(F.col("c_name"), F.lit("-"), F.col("c_custkey").cast("string"))
    return c.select(
        "c_custkey",
        N.mask_account_last4(acct).alias("masked"),
        N.hash_account(acct).alias("acct_hash"),
    )


SQL_MASK_HASH = """
WITH s AS (SELECT c_custkey, c_name || '-' || CAST(c_custkey AS VARCHAR) AS acct FROM customer),
d AS (SELECT c_custkey, acct, regexp_replace(acct, '[^0-9]', '', 'g') AS digits FROM s)
SELECT c_custkey,
       CASE WHEN acct IS NULL OR acct = '' THEN NULL
            WHEN digits = '' THEN '****'
            ELSE '****' || CASE WHEN length(digits) >= 4
                                THEN substr(digits, length(digits) - 3, 4)
                                ELSE digits END
       END AS masked,
       CASE WHEN acct IS NULL OR acct = '' THEN NULL ELSE sha256(acct) END AS acct_hash
FROM d
"""


def q_ngram_set_size(spark, sf_dir):
    """F7 (app/main.py:205-208): distinct char-3-gram set size per doc."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.size(N.char_ngram_set(F.col("text"))).alias("n_grams")
    )


SQL_NGRAM_SET_SIZE = """
SELECT doc_id,
       CASE WHEN length(text) >= 3
            THEN len(list_distinct(list_transform(
                   generate_series(1, length(text) - 2), i -> substr(text, i, 3))))
            ELSE 0 END AS n_grams
FROM documents
"""

# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


def _orders_as_docs(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    okey = F.col("o_orderkey").cast("string")
    ckey = F.col("o_custkey").cast("string")
    return o.select(
        F.concat(F.lit("C"), ckey).alias("part"),
        F.concat(F.lit("C"), ckey, F.lit("-O"), okey).alias("doc_id"),
        okey.alias("invnum_norm"),
        F.concat(F.lit("PO-"), ckey, F.lit("-"), F.pmod(F.col("o_orderkey"), F.lit(7)).cast("string")).alias("po"),
        F.col("o_totalprice").alias("total"),
        F.col("o_orderdate").cast("date").alias("date"),
        F.concat(F.lit("M"), F.pmod(F.col("o_orderkey"), F.lit(499)).cast("string")).alias("media_key"),
    )


def q_blocking_pairs(spark, sf_dir):
    """J1 (app/retrieval.py:12-48): union-of-blocks self-join with the
    deterministic per-doc priority cap (BR-004)."""
    docs = _orders_as_docs(spark, sf_dir)
    return blocking.candidate_pairs(docs, cap=200, max_key_fanout=None).select(
        "part", "a_doc_id", "b_doc_id", "block_priority"
    )


# composed from the SHARED blocking CTE chain (one copy of the blocking
# semantics; SQL_RULES_SAME_PO_NEAR_TOTAL builds on the same chain)
SQL_BLOCKING_PAIRS = None  # assigned below _BLOCKING_CTES


def q_referential_antijoin(spark, sf_dir):
    """J3 (app/anomaly.py:45-70): dangling refs via left anti join against
    a registry (parts with p_size <= 40 play the registered keys)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    registry = p.where(F.col("p_size") <= 40).select("p_partkey")
    return (
        li.join(F.broadcast(registry), li["l_partkey"] == registry["p_partkey"], "left_anti")
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


SQL_REFERENTIAL_ANTIJOIN = """
SELECT l_orderkey, l_linenumber, l_partkey
FROM lineitem
WHERE NOT EXISTS (
  SELECT 1 FROM part WHERE p_size <= 40 AND p_partkey = l_partkey
)
"""


def q_zscore_outliers(spark, sf_dir):
    """J5+M5 (app/anomaly.py:72-86): broadcast baseline join + z-score with
    the degenerate-std fallback and the 2.5 outlier cut."""
    o = _t(spark, sf_dir, "orders")
    g, mean, std = _moment_stats_cents(o, "o_custkey", "o_totalprice")
    baseline = g.select(
        "o_custkey",
        mean.alias("bl_mean"),
        std.alias("bl_std"),
        F.col("n").alias("bl_n"),
    )
    j = o.join(F.broadcast(baseline), "o_custkey")
    z = S.amount_z(F.col("o_totalprice"), F.col("bl_mean"), F.col("bl_std"), F.col("bl_n"))
    return j.select("o_orderkey", z.alias("amount_z"), (z >= 2.5).alias("is_outlier"))


SQL_ZSCORE_OUTLIERS = f"""
WITH g AS (
{_SQL_MOMENTS_CENTS.format(group_col="o_custkey", val_col="o_totalprice", table="orders")}
), bl AS (
  SELECT o_custkey, n, {_SQL_MEAN} AS m, {_SQL_STD} AS s
  FROM g
), z AS (
  SELECT o.o_orderkey,
         CASE WHEN bl.m IS NOT NULL AND bl.s > 0.0
                THEN abs(o.o_totalprice - bl.m) / bl.s
              WHEN bl.m IS NOT NULL AND bl.n > 10
                THEN abs(o.o_totalprice - bl.m) / greatest(abs(bl.m), 1.0)
              ELSE 0.0 END AS zval
  FROM orders o JOIN bl ON o.o_custkey = bl.o_custkey
)
SELECT o_orderkey, zval AS amount_z, zval >= 2.5 AS is_outlier FROM z
"""

# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


def q_profile_baselines(spark, sf_dir):
    """A1 (scripts/train_anomaly.py:14-54): per-group mean/std/count with
    NULL std -> 0, plus null rate.

    mean/std derive from *exact decimal* sufficient statistics (n, Σx, Σx²)
    so the result is invariant to partial-aggregation order. Float-sum
    nondeterminism would otherwise flip rounded cents between runs.
    """
    o = _t(spark, sf_dir, "orders")
    g, mean, std = _moment_stats_cents(o, "o_custkey", "o_totalprice")
    # exact decimal sums make the double-typed mean/std bit-identical across
    # engines; no rounding needed (rounding at a half-boundary is the one
    # thing the engines disagree on)
    return g.select(
        "o_custkey",
        "cnt",
        ((F.col("cnt") - F.col("n")) / F.col("cnt")).alias("null_rate"),
        mean.alias("mean_total"),
        std.alias("std_total"),
        F.col("n").alias("sample_count"),
    )


SQL_PROFILE_BASELINES = f"""
WITH g AS (
{_SQL_MOMENTS_CENTS.format(group_col="o_custkey", val_col="o_totalprice", table="orders")}
)
SELECT o_custkey, cnt,
       (cnt - n) * 1.0 / cnt AS null_rate,
       {_SQL_MEAN} AS mean_total,
       {_SQL_STD} AS std_total,
       n AS sample_count
FROM g
"""


def q_exact_median(spark, sf_dir):
    """A3 (implementation.md:782-796): exact per-group median
    (PERCENTILE_CONT semantics — linear interpolation)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        # round(4): the engines may FMA-fuse the interpolation differently
        # at the last ULP; 1e-4 absolute is far above that
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_total"),
        F.count(F.lit(1)).alias("cnt"),
    )


SQL_EXACT_MEDIAN = """
SELECT o_custkey, round(quantile_cont(o_totalprice, 0.5), 4) AS median_total, count(*) AS cnt
FROM orders GROUP BY 1
"""


def q_benford_digits(spark, sf_dir):
    """A9 (architecture.md:223 drift monitors): leading-digit histogram."""
    o = _t(spark, sf_dir, "orders")
    from ..operators.profile import leading_digit

    return (
        o.select(leading_digit(F.col("o_totalprice")).alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


SQL_BENFORD_DIGITS = """
SELECT regexp_extract(CAST(abs(o_totalprice) AS VARCHAR), '[1-9]', 0) AS digit,
       count(*) AS cnt
FROM orders GROUP BY 1
"""


def q_nested_line_sum(spark, sf_dir):
    """A4 (app/features.py:84-87): sum over nested child rows via
    collect_list + higher-order aggregate (the no-shuffle span-sum path)."""
    li = _t(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct(F.col("l_extendedprice").alias("amount"))).alias("lines")
    )
    return nested.select(
        "l_orderkey",
        _r(
            F.aggregate(F.col("lines"), F.lit(0.0), lambda acc, x: acc + x["amount"]),
            2,
        ).alias("line_sum"),
        F.size("lines").alias("n_lines"),
    )


SQL_NESTED_LINE_SUM = """
SELECT l_orderkey, round(sum(l_extendedprice), 2) AS line_sum, count(*) AS n_lines
FROM lineitem GROUP BY 1
"""

# ---------------------------------------------------------------------------
# §2.5 windows / top-k
# ---------------------------------------------------------------------------


def q_topk_per_group(spark, sf_dir):
    """W1 (app/main.py:305): top-3 per group, deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk", _r(F.col("o_totalprice"), 2).alias("total"))
    )


SQL_TOPK_PER_GROUP = """
SELECT o_custkey, o_orderkey, rnk, round(o_totalprice, 2) AS total FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


def q_latest_per_key(spark, sf_dir):
    """W2 (app/main.py:352-369): latest row per key."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


SQL_LATEST_PER_KEY = """
SELECT user_id, event_id, event_type FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# §2.6 set ops
# ---------------------------------------------------------------------------


def q_union_dedup(spark, sf_dir):
    """§2.6: union of two block result sets + dropDuplicates
    (app/retrieval.py:22-29 OR-blocks ≡ union)."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_totalprice") > 300000).select("o_orderkey")
    b = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return a.unionByName(b).dropDuplicates()


SQL_UNION_DEDUP = """
SELECT DISTINCT o_orderkey FROM (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 300000
  UNION ALL
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
"""

# ---------------------------------------------------------------------------
# §2.8 decisioning
# ---------------------------------------------------------------------------


def q_fuse_decide(spark, sf_dir):
    """D1+D2 (app/decision.py:7-32): fusion arithmetic + thresholds over
    deterministic pseudo-probabilities."""
    o = _t(spark, sf_dir, "orders")
    dup = (F.col("o_orderkey") % 97) / 96.0
    text = (F.col("o_orderkey") % 89) / 88.0
    anom = (F.col("o_orderkey") % 83) / 82.0
    bank = F.col("o_orderkey") % 11 == 0
    score = S.fuse_scores(dup, anom, bank, text)
    return o.select(
        "o_orderkey",
        _r(score, 6).alias("risk_score"),
        S.decide(score).alias("decision"),
    )


SQL_FUSE_DECIDE = """
WITH p AS (
  SELECT o_orderkey,
         (o_orderkey % 97) / 96.0 AS dup,
         (o_orderkey % 89) / 88.0 AS txt,
         (o_orderkey % 83) / 82.0 AS anom,
         (o_orderkey % 11 = 0) AS bank
  FROM orders
), s AS (
  SELECT o_orderkey, bank,
         (0.7 * dup + 0.2 * greatest(dup, txt) + 0.1 * anom) * 100.0 AS raw
  FROM p
), f AS (
  SELECT o_orderkey,
         greatest(0.0, least(
           CASE WHEN bank THEN greatest(least(100.0, raw + 15.0), 80.0) ELSE raw END,
           100.0)) AS score
  FROM s
)
SELECT o_orderkey, round(score, 6) AS risk_score,
       CASE WHEN score >= 80.0 THEN 'HOLD'
            WHEN score >= 50.0 THEN 'REVIEW'
            ELSE 'PASS' END AS decision
FROM f
"""


def q_rules_same_po_near_total(spark, sf_dir):
    """D3 (app/rules.py:15-32) evaluated over joined order pairs."""
    docs = _orders_as_docs(spark, sf_dir)
    pairs = blocking.candidate_pairs(docs, cap=50, max_key_fanout=None)
    a = docs.select(
        F.col("doc_id").alias("a_doc_id"), F.col("po").alias("a_po"),
        F.col("total").alias("a_total"), F.col("date").alias("a_date"),
    )
    b = docs.select(
        F.col("doc_id").alias("b_doc_id"), F.col("po").alias("b_po"),
        F.col("total").alias("b_total"), F.col("date").alias("b_date"),
    )
    j = pairs.join(a, "a_doc_id").join(b, "b_doc_id")
    gap = F.abs(F.datediff(F.col("a_date"), F.col("b_date")))
    return j.select(
        "a_doc_id",
        "b_doc_id",
        S.rule_same_po_near_total(
            F.col("a_po"), F.col("b_po"), F.col("a_total"), F.col("b_total"), gap
        ).alias("rule_fires"),
    )


_BLOCKING_CTES = """
WITH base AS (
  SELECT 'C' || CAST(o_custkey AS VARCHAR) AS part,
         'C' || CAST(o_custkey AS VARCHAR) || '-O' || CAST(o_orderkey AS VARCHAR) AS doc_id,
         CAST(o_orderkey AS VARCHAR) AS invnum_norm,
         'PO-' || CAST(o_custkey AS VARCHAR) || '-' || CAST(o_orderkey % 7 AS VARCHAR) AS po,
         o_totalprice AS total,
         CAST(o_orderdate AS DATE) AS dt,
         'M' || CAST(o_orderkey % 499 AS VARCHAR) AS media_key
  FROM orders
), keys AS (
  SELECT part, doc_id,
         'T|' || CAST(round(total, 2) AS VARCHAR) || '|' || strftime(date_trunc('month', dt), '%Y-%m') AS bkey,
         4 AS pri
  FROM base WHERE total IS NOT NULL AND dt IS NOT NULL
  UNION ALL
  SELECT part, doc_id, 'P|' || po, 3 FROM base WHERE po IS NOT NULL AND po <> ''
  UNION ALL
  SELECT part, doc_id, 'N|' || invnum_norm, 1 FROM base WHERE invnum_norm IS NOT NULL
  UNION ALL
  SELECT part, doc_id, 'M|' || media_key, 2 FROM base WHERE media_key IS NOT NULL
), pairs AS (
  SELECT a.part, a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, min(a.pri) AS block_priority
  FROM keys a JOIN keys b ON a.part = b.part AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
  GROUP BY 1, 2, 3
), capped AS (
  SELECT *, row_number() OVER (PARTITION BY a_doc_id ORDER BY block_priority, b_doc_id) AS rn
  FROM pairs
)
"""

SQL_BLOCKING_PAIRS = (
    _BLOCKING_CTES
    + """
SELECT part, a_doc_id, b_doc_id, block_priority FROM capped WHERE rn <= 200
"""
)

SQL_RULES_SAME_PO_NEAR_TOTAL = (
    _BLOCKING_CTES
    + """
, joined AS (
  SELECT c.a_doc_id, c.b_doc_id,
         a.po AS a_po, b.po AS b_po, a.total AS a_total, b.total AS b_total,
         abs(datediff('day', b.dt, a.dt)) AS gap
  FROM capped c
  JOIN base a ON c.a_doc_id = a.doc_id
  JOIN base b ON c.b_doc_id = b.doc_id
  WHERE c.rn <= 50
)
SELECT a_doc_id, b_doc_id,
       (a_po IS NOT NULL AND b_po IS NOT NULL AND a_po <> '' AND b_po <> ''
        AND a_po = b_po
        AND abs(a_total - b_total) <= 0.005 * greatest(abs(a_total), 1.0)
        AND gap <= 30) AS rule_fires
FROM joined
"""
)

def q_config_lookup(spark, sf_dir):
    """S12 (app/main.py:211-235): config-table lookup with tolerant JSON
    coercion — bare number, {"value": x} object, quoted string, junk ⇒
    default. Synthetic configs derived deterministically from region."""
    from ..sources.configs import coerce_config_value

    r = _t(spark, sf_dir, "region")
    k = F.col("r_regionkey")
    num = (k.cast("double") * 7 + 0.25).cast("string")
    value = (
        F.when(k % 4 == 0, num)
        .when(k % 4 == 1, F.concat(F.lit('{"value": '), num, F.lit("}")))
        .when(k % 4 == 2, F.concat(F.lit('"'), num, F.lit('"')))
        .otherwise(F.lit('"not-a-number"'))
    )
    configs = r.select(
        F.lit("global").alias("scope"),
        F.concat(F.lit("k"), k.cast("string")).alias("key"),
        value.alias("value"),
    )
    return configs.select(
        "key", F.coalesce(coerce_config_value(F.col("value")), F.lit(99.0)).alias("resolved")
    )


SQL_CONFIG_LOOKUP = """
WITH c AS (
  SELECT 'k' || CAST(r_regionkey AS VARCHAR) AS key,
         CASE WHEN r_regionkey % 4 = 0 THEN CAST(r_regionkey * 7 + 0.25 AS VARCHAR)
              WHEN r_regionkey % 4 = 1 THEN '{"value": ' || CAST(r_regionkey * 7 + 0.25 AS VARCHAR) || '}'
              WHEN r_regionkey % 4 = 2 THEN '"' || CAST(r_regionkey * 7 + 0.25 AS VARCHAR) || '"'
              ELSE '"not-a-number"' END AS value
  FROM region
)
SELECT key,
       coalesce(
         try_cast(value AS DOUBLE),
         try_cast(regexp_extract(value, '"value"\\s*:\\s*([-0-9.eE+]+)', 1) AS DOUBLE),
         CASE WHEN regexp_matches(value, '^".*"$')
              THEN try_cast(trim(value, '"') AS DOUBLE) END,
         99.0) AS resolved
FROM c
"""


def q_review_queue(spark, sf_dir):
    """W6 (UI-001, requirements.md:183): review queue ordered by
    risk_score desc with deterministic tie-break, explicit queue_rank."""
    from .cases import review_queue

    o = _t(spark, sf_dir, "orders")
    dup = (F.col("o_orderkey") % 97) / 96.0
    text = (F.col("o_orderkey") % 89) / 88.0
    anom = (F.col("o_orderkey") % 83) / 82.0
    bank = F.col("o_orderkey") % 11 == 0
    score = S.fuse_scores(dup, anom, bank, text)
    verdicts = o.select(
        F.col("o_orderpriority").alias("part"),
        F.col("o_orderkey").cast("string").alias("doc_id"),
        score.alias("risk_score"),
        S.decide(score).alias("decision"),
    )
    q = review_queue(verdicts)
    return q.select("doc_id", "decision", _r(F.col("risk_score"), 6).alias("risk_r"), "queue_rank")


SQL_REVIEW_QUEUE = """
WITH p AS (
  SELECT o_orderkey,
         (o_orderkey % 97) / 96.0 AS dup,
         (o_orderkey % 89) / 88.0 AS txt,
         (o_orderkey % 83) / 82.0 AS anom,
         (o_orderkey % 11 = 0) AS bank
  FROM orders
), s AS (
  SELECT o_orderkey, bank,
         (0.7 * dup + 0.2 * greatest(dup, txt) + 0.1 * anom) * 100.0 AS raw
  FROM p
), f AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS doc_id,
         greatest(0.0, least(
           CASE WHEN bank THEN greatest(least(100.0, raw + 15.0), 80.0) ELSE raw END,
           100.0)) AS score
  FROM s
), v AS (
  SELECT doc_id, score,
         CASE WHEN score >= 80.0 THEN 'HOLD'
              WHEN score >= 50.0 THEN 'REVIEW'
              ELSE 'PASS' END AS decision
  FROM f
)
SELECT doc_id, decision, round(score, 6) AS risk_r,
       row_number() OVER (ORDER BY score DESC, doc_id ASC) AS queue_rank
FROM v WHERE decision IN ('HOLD', 'REVIEW')
"""


# ---------------------------------------------------------------------------
# training-data pipeline operators (dedup / text analysis / similarity)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content hash + keep/drop flag (operators/dedup.py)."""
    from ..operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicates(d, "text", "doc_id")


SQL_DEDUP_EXACT = """
SELECT doc_id, sha256(text) AS content_hash,
       count(*) OVER (PARTITION BY sha256(text)) AS dup_count,
       row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1 AS is_kept
FROM documents
"""


def q_text_stats(spark, sf_dir):
    """Token counting + ratio features + fingerprint (operators/textstats.py)."""
    from ..operators import textstats as T

    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        F.length(c).cast("long").alias("n_chars"),
        T.token_count(c).cast("long").alias("n_tokens"),
        T.bpe_ish_token_count(c).cast("long").alias("bpe_tokens"),
        T.fingerprint(c).alias("doc_fingerprint"),
        (F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("double")
         / F.greatest(F.length(c), F.lit(1)).cast("double")).alias("digit_ratio"),
    )


SQL_TEXT_STATS = """
SELECT doc_id,
       length(text) AS n_chars,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS bpe_tokens,
       sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
             '\\s+', ' ', 'g'))) AS doc_fingerprint,
       length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
         / greatest(length(text), 1) AS digit_ratio
FROM documents
"""


def q_sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline (operators/similarity.py).

    Only (query, neighbor, rank) are emitted: the similarity doubles can
    differ at the ULP between engines (FMA contraction), the ranking
    cannot unless two candidates tie to ~1e-12.
    """
    from ..operators import similarity as sim

    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 8)
    return sim.brute_force_topk(e, queries, k=5).select("query_id", "neighbor_id", "rank")


SQL_SIM_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, e.embedding) AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
"""


def q_emb_cosine_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, exact baseline
    (operators/similarity.py ``cosine_near_duplicates(method="exact")``).

    Only the id pairs are emitted: the cosine doubles can differ at the
    ULP between engines. Threshold 0.4 sits ≥1.3e-4 from every pair's
    actual similarity in this corpus — far beyond any cross-engine
    float discrepancy — so the ≥ comparison is decided identically. The
    LSH-bucketed scale path of the same operator is recall-pinned by
    tests/test_pipeline_ops.py on planted near-identical vectors.
    """
    from ..operators import similarity as sim

    e = _t(spark, sf_dir, "embeddings")
    return sim.cosine_near_duplicates(e, threshold=0.4, method="exact").select(
        "a_id", "b_id"
    )


SQL_EMB_COSINE_NEAR_DUPS = """
SELECT a.vec_id AS a_id, b.vec_id AS b_id
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
"""


def q_ivf_topk(spark, sf_dir):
    """IVF ANN top-k (operators/similarity.py ``ivf_topk``): deterministic
    md5-sampled coarse quantizer, argmax cell assignment, top-n_probe
    probed cells per query, exact cosine inside probed cells.

    The quantizer is engine-reproducible (md5 rank), so DuckDB re-derives
    the identical cells and the oracle checks the FULL IVF algorithm, not
    just its exact-probe degenerate case. Only ids + rank are emitted —
    cosine doubles can differ at the ULP between engines; the
    argmax/ranking cannot unless two cells tie to ~1e-9 (margin checked
    at dev time, and ties break identically by cell rank / neighbor id).
    """
    from ..operators import similarity as sim

    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 8)
    return sim.ivf_topk(
        e, queries, k=5, n_centroids=16, n_probe=4
    ).select("query_id", "neighbor_id", "rank")


SQL_IVF_TOPK = """
WITH cent AS (
  SELECT embedding AS c_vec,
         row_number() OVER (ORDER BY md5(cast(vec_id AS varchar)), vec_id) AS c_rank
  FROM embeddings
  QUALIFY c_rank <= 16
),
assign AS (
  SELECT e.vec_id AS neighbor_id, e.embedding AS c_vecv, c.c_rank AS cell,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.embedding, c.c_vec) DESC, c.c_rank ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
  QUALIFY rn = 1
),
probes AS (
  SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.c_rank AS cell,
         row_number() OVER (PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding, c.c_vec) DESC, c.c_rank ASC) AS rn
  FROM embeddings q CROSS JOIN cent c
  WHERE q.vec_id < 8
  QUALIFY rn <= 4
),
cand AS (
  SELECT p.query_id, a.neighbor_id,
         list_cosine_similarity(p.q_vec, a.c_vecv) AS sim
  FROM probes p JOIN assign a USING (cell)
  WHERE a.neighbor_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
           ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
"""


def q_benford_stats(spark, sf_dir):
    """Benford chi²/MAD per group from the profiled digit histogram
    (operators/drift.py over operators/profile.py).

    chi²/MAD are emitted rounded to 6 decimals; the oracle inlines the SAME
    Python-computed float literals for the expected Benford proportions
    (``drift.BENFORD_EXPECTED``) that the Spark expression bakes in via
    ``F.lit`` — DuckDB's own log10() can differ from Python's math.log10 at
    the last ULP, which is exactly what flipped the round-1 hash."""
    from ..operators import drift, profile

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("part"), F.col("o_totalprice").alias("total"),
        F.col("o_orderkey").cast("string").alias("doc_id"),
    )
    prof = profile.profile(o, "total")
    return drift.benford_stats(prof).select(
        "part",
        "benford_n",
        _r(F.col("benford_chi2"), 6).alias("benford_chi2_r"),
        _r(F.col("benford_mad"), 6).alias("benford_mad_r"),
        "benford_fail",
    )


def _sql_benford_stats() -> str:
    """DuckDB oracle mirroring drift.benford_stats term by term.

    Association order matches the Spark left-folds exactly: n = Σ counts,
    p_d = count_d / greatest(n, 1.0), chi² = (t1 + … + t9)·n with
    t_d = (p_d − E_d)²/E_d, mad = (|p_1−E_1| + … + |p_9−E_9|)/9. The E_d
    are inlined Python floats (same bits as the Spark literals), so every
    double op is correctly-rounded-identical across engines."""
    from ..operators.drift import BENFORD_CHI2_ALERT, BENFORD_EXPECTED

    digit_counts = ", ".join(
        f"sum(CASE WHEN d='{d}' THEN 1 ELSE 0 END) AS d{d}" for d in range(1, 10)
    )
    n_sum = " + ".join(f"d{d}" for d in range(1, 10))
    chi_terms = " + ".join(
        f"((CAST(d{d} AS DOUBLE) / nn - {BENFORD_EXPECTED[d-1]!r})"
        f" * (CAST(d{d} AS DOUBLE) / nn - {BENFORD_EXPECTED[d-1]!r})"
        f" / {BENFORD_EXPECTED[d-1]!r})"
        for d in range(1, 10)
    )
    mad_terms = " + ".join(
        f"abs(CAST(d{d} AS DOUBLE) / nn - {BENFORD_EXPECTED[d-1]!r})" for d in range(1, 10)
    )
    return f"""
WITH digits AS (
  SELECT o_orderpriority AS part,
         regexp_extract(CAST(abs(o_totalprice) AS VARCHAR), '[1-9]', 0) AS d
  FROM orders
), hist AS (
  SELECT part, {digit_counts}
  FROM digits GROUP BY 1
), norm AS (
  SELECT part, CAST({n_sum} AS BIGINT) AS n,
         greatest(CAST({n_sum} AS DOUBLE), 1.0) AS nn,
         d1, d2, d3, d4, d5, d6, d7, d8, d9
  FROM hist
), stats AS (
  SELECT part, n,
         ({chi_terms}) * CAST({n_sum} AS DOUBLE) AS chi2,
         ({mad_terms}) / 9.0 AS mad
  FROM norm
)
SELECT part, n AS benford_n,
       round(chi2, 6) AS benford_chi2_r,
       round(mad, 6) AS benford_mad_r,
       chi2 > {BENFORD_CHI2_ALERT!r} AS benford_fail
FROM stats
"""


SQL_BENFORD_STATS = _sql_benford_stats()


def q_lang_id(spark, sf_dir):
    """Language ID heuristic, oracle-checked: per-language stopword hit
    rate over whitespace tokens of the normalized text, argmax with
    (rate, lang) struct-max tie-break, 'und' below the 0.02 floor. Every
    rate is an exact integer-count division (hits/n), so the doubles are
    bit-identical across engines."""
    from ..operators import textstats as T

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.language_id(F.col("text")).alias("lang_pred"))


_SQL_DESC_NORM_TEXT = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)


def _sql_lang_id() -> str:
    """DuckDB oracle mirroring textstats.language_id term by term: the
    stopword VALUES are generated from the SAME ``STOPWORDS`` dict the
    Spark expression bakes in, so the two can never drift apart."""
    from ..operators.textstats import STOPWORDS

    vals = ", ".join(
        f"('{lang}', '{w}')" for lang in sorted(STOPWORDS) for w in STOPWORDS[lang]
    )
    return f"""
WITH sw(lang, word) AS (VALUES {vals}),
langs AS (SELECT DISTINCT lang FROM sw),
n AS (
  SELECT doc_id, {_SQL_DESC_NORM_TEXT} AS t FROM documents
), toks AS (
  SELECT doc_id,
         CASE WHEN t = '' THEN CAST([] AS VARCHAR[]) ELSE string_split(t, ' ') END AS tk
  FROM n
), counts AS (
  SELECT doc_id, len(tk) AS n_tok FROM toks
), tok_long AS (
  SELECT doc_id, unnest(tk) AS w FROM toks
), hits AS (
  SELECT t.doc_id, s.lang, count(*) AS h
  FROM tok_long t JOIN sw s ON t.w = s.word
  GROUP BY 1, 2
), rates AS (
  SELECT c.doc_id, l.lang,
         CASE WHEN c.n_tok > 0 THEN coalesce(h.h, 0) / c.n_tok ELSE 0.0 END AS rate
  FROM counts c CROSS JOIN langs l
  LEFT JOIN hits h ON h.doc_id = c.doc_id AND h.lang = l.lang
), best AS (
  SELECT doc_id, lang, rate,
         row_number() OVER (PARTITION BY doc_id ORDER BY rate DESC, lang DESC) AS rn
  FROM rates
)
SELECT doc_id, CASE WHEN rate >= 0.02 THEN lang ELSE 'und' END AS lang_pred
FROM best WHERE rn = 1
"""


SQL_LANG_ID = _sql_lang_id()


def q_near_dups_verified(spark, sf_dir):
    """LSH-verified near-duplicates with a full DuckDB oracle.

    Runs the REAL scale path (minhash signatures → banded buckets →
    candidate self-join → exact shingle-Jaccard verification,
    operators/dedup.py:near_duplicates) in a deterministic configuration:
    16 permutations × 16 bands (one hash per band), so a pair with true
    Jaccard J is a candidate unless ALL 16 independent permutations
    disagree — P(miss) = (1−J)^16 ≤ 4.3e-8 at the 0.7 threshold. The
    verified OUTPUT is engine-independent: exact Jaccard over distinct
    5-word shingles of the normalized text (integer-count division ⇒
    bit-identical doubles). The sf0.01 corpus's qualifying pairs all sit
    at J ≥ 0.7 with the next pair down at 0.015, so there are no
    boundary cases and the expected discrepancy vs the exact-Jaccard
    oracle is ~1e-6 rows."""
    from ..operators import dedup

    d = _t(spark, sf_dir, "documents")
    # max_bucket=None: the oracle computes EXACT recall, so the hot-bucket
    # guard must be off or dropped buckets make Spark a strict subset of
    # the oracle on duplicate-heavy corpora (round-3 ADVICE, medium).
    out = dedup.near_duplicates(
        d, threshold=0.7, num_hashes=16, bands=16, max_bucket=None
    )
    return out.select("a_id", "b_id", _r(F.col("jaccard"), 6).alias("jaccard_r"))


SQL_NEAR_DUPS_VERIFIED = f"""
WITH n AS (
  SELECT doc_id, {_SQL_DESC_NORM_TEXT} AS t FROM documents
), w AS (
  SELECT doc_id, string_split(t, ' ') AS words FROM n
), s AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 5 THEN
           list_distinct(list_transform(range(1, len(words) - 3), i ->
             array_to_string(list_slice(words, CAST(i AS INT), CAST(i AS INT) + 4), ' ')))
         ELSE [array_to_string(words, ' ')] END AS sh
  FROM w
), j AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         len(list_intersect(a.sh, b.sh)) AS i,
         len(list_distinct(list_concat(a.sh, b.sh))) AS u
  FROM s a JOIN s b ON a.doc_id < b.doc_id
)
SELECT a_id, b_id, round(CASE WHEN u > 0 THEN i / u ELSE 0.0 END, 6) AS jaccard_r
FROM j WHERE CASE WHEN u > 0 THEN i / u ELSE 0.0 END >= 0.7
"""


# memoized id-collision guard results per table path (see q_simhash_verified)
_SIMHASH_OFFSET_OK: dict[str, int] = {}


def q_simhash_verified(spark, sf_dir):
    """SimHash-banded candidates verified by exact gram-set equality —
    the deterministic recall class of the banded SimHash search
    (operators/dedup.py:simhash_near_duplicates): equal distinct-3-gram
    sets ⇒ equal signature ⇒ Hamming 0 ⇒ every band matches, so the
    pigeonhole guarantee makes recall exact (not probabilistic) for this
    query. The corpus is documents ∪ an id-shifted copy so the verified
    set is non-trivial (the base corpus has 500 distinct gram sets).
    max_bucket=None: the oracle comparison needs certain recall, so the
    hot-bucket guard is explicitly disabled here."""
    from ..operators import dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # the +1000000 shift is hard-coded in the static oracle SQL too; an id
    # collision (base id >= offset) would merge distinct docs with a
    # NONDETERMINISTIC signature pick — fail loudly instead. The guard is
    # one max() scan memoized per table path, so repeat invocations of the
    # query constructor (oracle harness, timed runs) don't pay it again.
    if sf_dir not in _SIMHASH_OFFSET_OK:
        _SIMHASH_OFFSET_OK[sf_dir] = d.agg(F.max("doc_id")).first()[0] or 0
    max_id = _SIMHASH_OFFSET_OK[sf_dir]
    if max_id >= 1000000:
        raise ValueError(
            f"q_simhash_verified id-shift offset 1000000 collides with "
            f"max doc_id {max_id}; raise the offset in BOTH the query and "
            f"SQL_SIMHASH_VERIFIED"
        )
    corpus = d.unionByName(d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    cand = dedup.simhash_near_duplicates(corpus, max_hamming=3, max_bucket=None)
    grams = corpus.select(
        F.col("doc_id").alias("_gid"),
        F.array_sort(N.char_ngram_set(N.desc_norm(F.col("text")), 3)).alias("_g"),
    )
    a = grams.select(F.col("_gid").alias("a_id"), F.col("_g").alias("a_g"))
    b = grams.select(F.col("_gid").alias("b_id"), F.col("_g").alias("b_g"))
    return (
        cand.join(a, "a_id").join(b, "b_id")
        .where(F.col("a_g") == F.col("b_g"))
        .select("a_id", "b_id")
    )


SQL_SIMHASH_VERIFIED = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
), n AS (
  SELECT doc_id, {_SQL_DESC_NORM_TEXT} AS t FROM corpus
), g AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(range(1, length(t) - 1), i ->
           substr(t, CAST(i AS INT), 3)))) AS grams
  FROM n
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id
FROM g a JOIN g b ON a.doc_id < b.doc_id AND a.grams = b.grams
"""


def q_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup candidates — rows-only (xxhash64 seeds are
    Spark-specific; verified structurally in tests/test_pipeline_ops.py)."""
    from ..operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, "text", "doc_id")


def q_simhash(spark, sf_dir):
    """SimHash signatures — rows-only (bitwise xxhash64 majority)."""
    from ..operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.with_simhash(d, "text", "simhash").select("doc_id", "simhash")


def q_psi_drift(spark, sf_dir):
    """M7: PSI of event values vs baseline deciles, oracle-checked.

    The production path bins against the profile's ``percentile_approx``
    sketch edges (engine-specific); here — the a3_exact_median playbook —
    the baseline edges are *exact order statistics* (sorted v[⌈n·k/10⌉],
    pure integer indexing, bit-identical across engines) so drift.psi's
    output can be compared against a closed-form DuckDB oracle. PSI is
    rounded to 6 decimals: the Σ(p−0.1)·ln(p/0.1) fold order and ln() ULPs
    differ between engines."""
    from ..operators import drift

    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("part"), F.col("value").alias("total"),
        F.col("event_id").alias("doc_id"),
    )
    base = (
        e.where((F.col("doc_id") % 2 == 1) & F.col("total").isNotNull())
        .groupBy("part")
        .agg(F.sort_array(F.collect_list("total")).alias("_v"))
    )
    edges = F.array(
        *[
            F.get(F.col("_v"), F.expr(f"CAST((size(_v) * {k} + 9) DIV 10 AS INT) - 1"))
            for k in range(1, 10)
        ]
    )
    baseline = base.select("part", edges.alias("deciles"))
    current = e.where(F.col("doc_id") % 2 == 0)
    out = drift.psi(current, baseline, "total")
    return out.select("part", _r(F.col("psi"), 6).alias("psi_r"), "psi_fail")


def _sql_psi_drift() -> str:
    """DuckDB PSI oracle: same exact decile edges (1-based list_extract at
    (n·k+9)//10), same binning (count of edges strictly below the value),
    same continuity floor and missing-bin term as drift.psi."""
    import math

    from ..operators.drift import PSI_ALERT

    floor = 1e-4
    missing_term = (0.0 - 0.1) * math.log(floor / 0.1)  # same Python literal as drift.psi
    return f"""
WITH e AS (
  SELECT event_type AS part, value AS total, event_id AS doc_id FROM events
), base AS (
  SELECT part, list_sort(list(total)) AS v
  FROM e WHERE doc_id % 2 = 1 AND total IS NOT NULL GROUP BY 1
), edges AS (
  SELECT part,
         list_transform(range(1, 10), k -> list_extract(v, (len(v) * k + 9) // 10)) AS ed
  FROM base
), binned AS (
  SELECT c.part, len(list_filter(ed.ed, x -> c.total > x)) AS bin
  FROM e c JOIN edges ed USING (part)
  WHERE c.doc_id % 2 = 0 AND c.total IS NOT NULL
), counts AS (
  SELECT part, bin, count(*) AS c FROM binned GROUP BY 1, 2
), tot AS (
  SELECT part, sum(c) AS n FROM counts GROUP BY 1
), props AS (
  SELECT counts.part, CAST(c AS DOUBLE) / n AS p FROM counts JOIN tot USING (part)
), present AS (
  SELECT part,
         sum((p - 0.1) * ln(greatest(p, {floor!r}) / 0.1)) AS psi_present,
         count(*) AS nbins
  FROM props GROUP BY 1
), cur_parts AS (
  SELECT DISTINCT part FROM e WHERE doc_id % 2 = 0 AND total IS NOT NULL
)
-- left join from current parts: a partition with NO baseline (novel)
-- emits psi NULL + fail TRUE, mirroring drift.psi exactly
SELECT cp.part,
       round(psi_present + (10 - nbins) * {missing_term!r}, 6) AS psi_r,
       CASE WHEN psi_present IS NULL THEN TRUE
            ELSE (psi_present + (10 - nbins) * {missing_term!r}) > {PSI_ALERT!r}
       END AS psi_fail
FROM cur_parts cp LEFT JOIN present USING (part)
"""


SQL_PSI_DRIFT = _sql_psi_drift()


def q_isolation_forest(spark, sf_dir):
    """M7 model-based detector (ML-003, requirements.md:132): per-partition
    isolation forest via applyInPandas — rows-only (random forests have no
    SQL oracle; determinism + outlier-ranking are pinned by tests)."""
    from ..operators.mlmodels import isolation_scores

    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("part"),
        F.col("event_id").cast("string").alias("doc_id"),
        F.col("value").alias("total"),
    )
    return isolation_scores(e)


def q_isolation_forest_verified(spark, sf_dir):
    """Verified-output companion to m7_isolation_forest (the
    dedup_near_dups_verified playbook): plant GROSS outliers — inliers sit
    in [0, 0.99], planted rows at ≥ 1000 (>10³× the inlier IQR) on a
    deterministic slice (doc_id % 97 == 0) — and assert the forest's
    iso_flag ≡ the planted set, which DuckDB computes independently from
    the same arithmetic. The forest itself stays the REAL operator
    (hash-ranked bounded fit pool, broadcast models, mapInPandas scoring);
    only the corpus is constructed so the correct answer is
    engine-independent."""
    from ..operators.mlmodels import isolation_scores

    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("G"), (F.col("doc_id") % 3).cast("string")).alias("part"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(
            F.col("doc_id") % 97 == 0,
            F.lit(1000.0) + (F.col("doc_id") % 10).cast("double"),
        )
        .otherwise((F.col("doc_id") % 100).cast("double") * 0.01)
        .alias("total"),
    )
    return isolation_scores(d).select("part", "doc_id", "iso_flag")


SQL_ISOLATION_FOREST_VERIFIED = """
SELECT 'G' || CAST(doc_id % 3 AS VARCHAR) AS part,
       CAST(doc_id AS VARCHAR) AS doc_id,
       (doc_id % 97 = 0) AS iso_flag
FROM documents
"""


def q_ks_drift(spark, sf_dir):
    """M7: exact two-sample KS per group via applyInPandas (grouped-map
    numpy kernel). Oracle-checked: the statistic is max over the pooled
    grid of |cc/n_c − cb/n_b| — every operand an exact integer-count
    division, so the doubles are bit-identical across engines."""
    from ..operators import drift

    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("part"), F.col("value").alias("total"),
        F.col("event_id"),
    )
    cur = e.where(F.col("event_id") % 2 == 0)
    base = e.where(F.col("event_id") % 2 == 1)
    return drift.ks_2samp(cur, base, "total")


SQL_KS_DRIFT = """
WITH e AS (
  SELECT event_type AS part, value AS total,
         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS ic,
         CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS ib
  FROM events WHERE value IS NOT NULL
), cum AS (
  SELECT part,
         sum(ic) OVER w AS cc, sum(ib) OVER w AS cb
  FROM e
  WINDOW w AS (PARTITION BY part ORDER BY total
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), n AS (
  SELECT part, CAST(sum(ic) AS BIGINT) AS n_c, CAST(sum(ib) AS BIGINT) AS n_b
  FROM e GROUP BY 1
)
SELECT cum.part,
       -- empty-side guard mirrors Spark's ks_2samp exactly: either
       -- sample empty => NaN (DuckDB's /0 yields NULL under non-IEEE
       -- float settings, which would hash-mismatch Spark's NaN)
       CASE WHEN any_value(n_c) = 0 OR any_value(n_b) = 0
            THEN CAST('nan' AS DOUBLE)
            ELSE max(abs(CAST(cc AS DOUBLE) / n_c - CAST(cb AS DOUBLE) / n_b))
       END AS ks_stat,
       any_value(n_c) AS n_current,
       any_value(n_b) AS n_baseline
FROM cum JOIN n USING (part)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# dedup clustering / sampling / quality (training-pipeline operators)
# ---------------------------------------------------------------------------


def q_dedup_clusters(spark, sf_dir):
    """Connected components over verified near-duplicate pairs
    (operators/dedup.py:duplicate_clusters): every transitively connected
    doc labeled with its component's min doc_id — the form a training
    pipeline actually consumes dedup output in (keep one canonical doc
    per cluster). Pairs come from the same deterministic exact-recall
    configuration as dedup_near_dups_verified, so the edge set is
    engine-independent and the oracle can recompute it with a recursive
    CTE."""
    from ..operators import dedup

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.near_duplicates(
        d, threshold=0.7, num_hashes=16, bands=16, max_bucket=None
    )
    return dedup.duplicate_clusters(pairs)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE n AS (
  SELECT doc_id, {_SQL_DESC_NORM_TEXT} AS t FROM documents
), w AS (
  SELECT doc_id, string_split(t, ' ') AS words FROM n
), s AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 5 THEN
           list_distinct(list_transform(range(1, len(words) - 3), i ->
             array_to_string(list_slice(words, CAST(i AS INT), CAST(i AS INT) + 4), ' ')))
         ELSE [array_to_string(words, ' ')] END AS sh
  FROM w
), p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
             THEN len(list_intersect(a.sh, b.sh))
                  / len(list_distinct(list_concat(a.sh, b.sh)))
             ELSE 0.0 END >= 0.7
), edges AS (
  SELECT a_id AS src, b_id AS dst FROM p
  UNION
  SELECT b_id AS src, a_id AS dst FROM p
), reach(node, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
"""


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sample: exactly min(k, group size) docs
    per language by md5 rank (operators/sampling.py:stratified_sample) —
    reproducible across engines/runs/partitionings, unbiased w.r.t. data
    columns."""
    from ..operators import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample(d, "lang", 20).select("doc_id", "lang")


SQL_SAMPLE_STRATIFIED = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
) WHERE rk <= 20
"""


def q_sample_fraction(spark, sf_dir):
    """Shuffle-free deterministic ~25% corpus slice: md5 hex-prefix
    predicate pushed into the scan
    (operators/sampling.py:hash_fraction_sample)."""
    from ..operators import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.hash_fraction_sample(d, 25).select("doc_id")


SQL_SAMPLE_FRACTION = """
SELECT doc_id FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
"""


def q_text_quality(spark, sf_dir):
    """Heuristic quality features + composite 0-1 score per document
    (operators/textstats.py:quality_features/quality_score). All column
    math (ratios of regex-counted chars, stopword hit rate, mean word
    length), bit-reproducible in DuckDB; the score's float products are
    rounded to 6 places on both sides."""
    from ..operators import textstats as T

    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    f = T.quality_features(c)
    return d.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        _r(f["punct_ratio"]).alias("punct_ratio_r"),
        _r(f["stopword_ratio"]).alias("stopword_ratio_r"),
        _r(f["upper_ratio"]).alias("upper_ratio_r"),
        T.quality_score(c).alias("quality_r"),
    )


def _sql_text_quality() -> str:
    from ..operators.textstats import STOPWORDS

    stop = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS toks,
         length(text) AS n_chars
  FROM documents
), f AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN n_chars > 0 THEN
           length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0 / n_chars
         ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(toks) > 0 THEN
           len(list_filter(toks, x -> list_contains([{stop}], lower(x)))) * 1.0 / len(toks)
         ELSE 0.0 END AS stopword_ratio,
         CASE WHEN n_chars > 0 THEN
           length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1.0 / n_chars
         ELSE 0.0 END AS upper_ratio,
         CASE WHEN n_chars > 0 THEN
           length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / n_chars
         ELSE 0.0 END AS digit_ratio,
         CASE WHEN len(toks) > 0 THEN
           list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
         ELSE 0.0 END AS mean_word_len
  FROM t
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(punct_ratio, 6) AS punct_ratio_r,
       round(stopword_ratio, 6) AS stopword_ratio_r,
       round(upper_ratio, 6) AS upper_ratio_r,
       round(
         0.3 * least(stopword_ratio * 4.0, 1.0)
         + 0.25 * CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10
                       THEN 1.0 ELSE 0.3 END
         + 0.2 * (1.0 - least(punct_ratio * 5.0, 1.0))
         + 0.15 * (1.0 - least(digit_ratio * 5.0, 1.0))
         + 0.1 * least(n_tokens / 50.0, 1.0), 6) AS quality_r
FROM f
"""


def q_sim_lsh_recall(spark, sf_dir):
    """Hyperplane-LSH ANN (operators/similarity.py ``lsh_topk``) pinned on
    its DETERMINISTIC recall class: an identical vector has an identical
    hyperplane signature, so every band collides and the planted twin
    (id-shifted corpus copy) is GUARANTEED into the candidate set and —
    at cosine 1.0, the maximum — into the top-k. The query emits the
    (query, twin) pairs the LSH search actually recovered; the oracle
    enumerates every planted twin, so one missing pair (a broken
    signature, band split, bucket join, or ranking) is a hash failure.

    max_bucket=None: the guarantee needs certain recall, so the hot-bucket
    guard is explicitly disabled — oracle/test-path-only usage, same
    declared exception as dedup_simhash_verified. The base side filters to
    vec_id < the 1000000 shift in BOTH engines, so an id collision changes
    both sides identically instead of silently merging docs."""
    from ..operators import similarity as sim

    e = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .where(F.col("vec_id") < 1000000)
        # degenerate vectors (null / zero-norm) have no defined cosine and
        # an all-zero sign pattern shared with every other zero vector —
        # outside the guaranteed class; mirrored in the oracle SQL
        .where(F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x * x) > 0)
    )
    twins = e.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    found = sim.lsh_topk(e, twins, k=5, max_bucket=None)
    return found.where(
        F.col("neighbor_id") == F.col("query_id") - 1000000
    ).select("query_id", "neighbor_id")


SQL_SIM_LSH_RECALL = """
SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id
FROM embeddings
WHERE vec_id < 1000000
  AND list_dot_product(embedding, embedding) > 0
"""


# ---------------------------------------------------------------------------
# multimodal: real-format decode, oracle-checked end to end
# ---------------------------------------------------------------------------


def q_mm_probe_media(spark, sf_dir):
    """Real-format media decode pinned by an independent oracle: the
    verification corpus (operators/multimodal.py synth_verification_media)
    derives every payload BYTE from doc_id, so the structural metadata the
    probe decodes — BMP dimensions, WAV sample count/rate, y4m frame
    count/fps — is pure integer arithmetic the oracle recomputes without
    the decoders. One wrong header offset, stride, chunk walk, or frame
    boundary is a hash failure."""
    from ..operators import multimodal as M

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    return M.probe_media(M.synth_verification_media(ids))


SQL_MM_PROBE_MEDIA = """
SELECT CAST(doc_id AS VARCHAR) AS media_key,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CASE doc_id % 3 WHEN 0 THEN 8 WHEN 2 THEN 4 END AS width,
       CASE doc_id % 3 WHEN 0 THEN 8 WHEN 2 THEN 4 END AS height,
       CASE doc_id % 3 WHEN 1 THEN 64 + doc_id % 97 END AS n_samples,
       CASE doc_id % 3 WHEN 1 THEN CAST(8000 + (doc_id % 5) * 1000 AS INT) END AS sample_rate,
       CASE doc_id % 3 WHEN 2 THEN CAST(1 + doc_id % 5 AS INT) END AS n_frames,
       CASE doc_id % 3 WHEN 2 THEN CAST(1 + doc_id % 4 AS DOUBLE) END AS fps,
       TRUE AS decode_ok
FROM documents
"""


def q_mm_image_decode_verified(spark, sf_dir):
    """The full image feature path — BMP byte layout (bottom-up rows, BGR
    order, stride padding) → grayscale → 8×8 block-mean grid — verified
    value-exactly: the synthesized pixels have equal channels, so each
    feature is exactly pixel/255 in float32 and ``round(feat*255)``
    recovers the integer pixel the oracle computes as (doc_id + 7k) % 256
    (see synth_verification_media). A flipped row order or swapped channel
    would shift every recovered pixel."""
    from ..operators import multimodal as M

    ids = _t(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") % 3 == 0
    )
    feats = M.extract_media_features(M.synth_verification_media(ids), dim=64)
    return feats.select(
        "media_key", F.posexplode("feat").alias("band", "v")
    ).select(
        "media_key",
        "band",
        F.round(F.col("v") * 255).cast("int").alias("px"),
    )


SQL_MM_IMAGE_DECODE = """
SELECT CAST(d.doc_id AS VARCHAR) AS media_key,
       CAST(k.band AS INT) AS band,
       CAST((d.doc_id + 7 * k.band) % 256 AS INT) AS px
FROM documents d, (SELECT unnest(generate_series(0, 63)) AS band) k
WHERE d.doc_id % 3 = 0
"""


def q_mm_frame_sampling(spark, sf_dir):
    """y4m frame sampling pinned end to end: the stream's OWN header
    (W/H/F) and frame boundaries drive the sampling stride, so the emitted
    (media_key, frame_idx) set — every index i with i % fps == 0 and
    i < n_frames — is integer arithmetic the oracle recomputes. The
    sha256 frame hashes are engine-side evidence (not SQL-computable) and
    are excluded from the compared columns; the decoded-pixel path itself
    is value-pinned by mm_image_decode_verified."""
    from ..operators import multimodal as M

    ids = _t(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") % 3 == 2
    )
    frames = M.sample_frames(M.synth_verification_media(ids), every_ms=1000)
    return frames.select("media_key", "frame_idx")


SQL_MM_FRAME_SAMPLING = """
SELECT CAST(d.doc_id AS VARCHAR) AS media_key, CAST(g.i AS INT) AS frame_idx
FROM documents d
JOIN (SELECT unnest(generate_series(0, 4)) AS i) g
  ON g.i % (1 + d.doc_id % 4) = 0 AND g.i < 1 + d.doc_id % 5
WHERE d.doc_id % 3 = 2
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "s2_point_lookup": q_point_lookup,
    "f1_invnum_norm": q_invnum_norm,
    "f2_desc_norm": q_desc_norm,
    "f3_f4_mask_hash": q_mask_hash,
    "f7_ngram_set_size": q_ngram_set_size,
    "j1_blocking_pairs": q_blocking_pairs,
    "j3_referential_antijoin": q_referential_antijoin,
    "j5_m5_zscore_outliers": q_zscore_outliers,
    "a1_profile_baselines": q_profile_baselines,
    "a3_exact_median": q_exact_median,
    "a9_benford_digits": q_benford_digits,
    "a4_nested_line_sum": q_nested_line_sum,
    "w1_topk_per_group": q_topk_per_group,
    "w2_latest_per_key": q_latest_per_key,
    "set_union_dedup": q_union_dedup,
    "d1_d2_fuse_decide": q_fuse_decide,
    "d3_rules_same_po_near_total": q_rules_same_po_near_total,
    "s12_config_lookup": q_config_lookup,
    "w6_review_queue": q_review_queue,
    "dedup_exact": q_dedup_exact,
    "txt_stats": q_text_stats,
    "sim_cosine_topk": q_sim_cosine_topk,
    "dedup_emb_cosine": q_emb_cosine_near_dups,
    "sim_ivf_topk": q_ivf_topk,
    "a9b_benford_stats": q_benford_stats,
    "txt_lang_id": q_lang_id,
    "dedup_minhash_lsh": q_minhash_lsh,
    "dedup_simhash": q_simhash,
    "dedup_near_dups_verified": q_near_dups_verified,
    "dedup_simhash_verified": q_simhash_verified,
    "m7_ks_drift": q_ks_drift,
    "m7_psi_drift": q_psi_drift,
    "m7_isolation_forest": q_isolation_forest,
    "m7_isolation_forest_verified": q_isolation_forest_verified,
    "dedup_clusters": q_dedup_clusters,
    "sample_stratified": q_sample_stratified,
    "sample_fraction": q_sample_fraction,
    "txt_quality": q_text_quality,
    "sim_lsh_recall": q_sim_lsh_recall,
    "mm_probe_media": q_mm_probe_media,
    "mm_image_decode_verified": q_mm_image_decode_verified,
    "mm_frame_sampling": q_mm_frame_sampling,
}

ORACLES: dict[str, str] = {
    "s2_point_lookup": SQL_POINT_LOOKUP,
    "f1_invnum_norm": SQL_INVNUM_NORM,
    "f2_desc_norm": SQL_DESC_NORM,
    "f3_f4_mask_hash": SQL_MASK_HASH,
    "f7_ngram_set_size": SQL_NGRAM_SET_SIZE,
    "j1_blocking_pairs": SQL_BLOCKING_PAIRS,
    "j3_referential_antijoin": SQL_REFERENTIAL_ANTIJOIN,
    "j5_m5_zscore_outliers": SQL_ZSCORE_OUTLIERS,
    "a1_profile_baselines": SQL_PROFILE_BASELINES,
    "a3_exact_median": SQL_EXACT_MEDIAN,
    "a9_benford_digits": SQL_BENFORD_DIGITS,
    "a4_nested_line_sum": SQL_NESTED_LINE_SUM,
    "w1_topk_per_group": SQL_TOPK_PER_GROUP,
    "w2_latest_per_key": SQL_LATEST_PER_KEY,
    "set_union_dedup": SQL_UNION_DEDUP,
    "d1_d2_fuse_decide": SQL_FUSE_DECIDE,
    "d3_rules_same_po_near_total": SQL_RULES_SAME_PO_NEAR_TOTAL,
    "s12_config_lookup": SQL_CONFIG_LOOKUP,
    "w6_review_queue": SQL_REVIEW_QUEUE,
    "dedup_exact": SQL_DEDUP_EXACT,
    "txt_stats": SQL_TEXT_STATS,
    "sim_cosine_topk": SQL_SIM_COSINE_TOPK,
    "dedup_emb_cosine": SQL_EMB_COSINE_NEAR_DUPS,
    "sim_ivf_topk": SQL_IVF_TOPK,
    "a9b_benford_stats": SQL_BENFORD_STATS,
    "m7_psi_drift": SQL_PSI_DRIFT,
    "m7_ks_drift": SQL_KS_DRIFT,
    "txt_lang_id": SQL_LANG_ID,
    "dedup_near_dups_verified": SQL_NEAR_DUPS_VERIFIED,
    "dedup_simhash_verified": SQL_SIMHASH_VERIFIED,
    "m7_isolation_forest_verified": SQL_ISOLATION_FOREST_VERIFIED,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "sample_fraction": SQL_SAMPLE_FRACTION,
    "txt_quality": _sql_text_quality(),
    "sim_lsh_recall": SQL_SIM_LSH_RECALL,
    "mm_probe_media": SQL_MM_PROBE_MEDIA,
    "mm_image_decode_verified": SQL_MM_IMAGE_DECODE,
    "mm_frame_sampling": SQL_MM_FRAME_SAMPLING,
    # dedup_minhash_lsh / dedup_simhash: rows-only (raw xxhash64-seeded
    # signatures are engine-specific); their VERIFIED outputs are
    # oracle-checked above (dedup_near_dups_verified /
    # dedup_simhash_verified)
}
