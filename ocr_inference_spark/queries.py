"""Driver-contract queries: Spark DataFrame implementations paired with
DuckDB oracle SQL over /root/testdata parquet tables.

These are the relational analogues of SURVEY.md §2 operators (each
query's docstring cites the operator id), plus the training-data
operators (dedup / similarity / text analysis) run as first-class
queries. Conventions for cross-engine hash equality:

- every computed column is aliased identically in both engines;
- money/quantity sums run over DECIMAL casts (exact, order-insensitive)
  and only the final value is cast back to double and rounded;
- timestamps leave the plan as 'yyyy-MM-dd HH:mm:ss' strings;
- top-k queries carry a total tiebreak order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import dedup as dd
from . import similarity as sim
from .io import footer_stats
from .text import analysis as tx

DEC = "decimal(18,4)"


def _path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _t(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    """Read table ``name``. ``spread=True`` is the scale-adaptive
    scan-parallelism guard for COMPUTE-DENSE per-row paths (regex / md5
    / higher-order-function projections), guide §2.5 "input skew" + §2
    scale-adaptive partitioning.

    A small parquet table written as one row group plans into ONE scan
    task, so a downstream expression costing ~ms/row runs on one core
    while the rest of the cluster idles (measured: the q76 feature
    explode and q36 bucket projection ran 1-2 of 32 cores at sf1.0).
    When the footer stats say the scan will produce fewer tasks than the
    session has cores, round-robin the (by construction tiny) input
    across the cores first; at real scale the input splits into far more
    tasks than cores and this is a no-op — no exchange is added. An
    unreadable footer means no spread.

    Only worth it when per-row compute dwarfs the repartition cost of a
    few MB; plain column scans and aggregations-over-bytes paths (e.g.
    lineitem) are NOT spread — measured slower (exp: 0.96s stock vs
    1.43s repartitioned for the q01 aggregate shape).
    """
    path = _path(sf_dir, name)
    df = spark.read.parquet(path)
    if not spread:
        return df
    par = spark.sparkContext.defaultParallelism
    stats = footer_stats(path)
    if stats is None or stats.scan_tasks(par) >= par:
        return df
    return df.repartition(par)


def _rows(sf_dir: str, name: str) -> int:
    """Exact row count from the footer stats; raises when the footer is
    unreadable, because the caller sizes its plan from the count."""
    path = _path(sf_dir, name)
    stats = footer_stats(path)
    if stats is None:
        raise FileNotFoundError(f"no readable parquet footer at {path}")
    return stats.rows


def _money(col):
    return F.col(col).cast(DEC)


def _round2(c):
    return F.round(c.cast("double"), 2)


# ---------------------------------------------------------------- scans/aggs


def q01_pricing_summary(spark, sf_dir):
    """A9 job-aggregate analogue — TPC-H Q1 shape: groupBy + 6 aggregates.
    Catalyst partial+final hash aggregation (SURVEY.md A9)."""
    li = _t(spark, sf_dir, "lineitem")
    disc = _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
    charge = disc * (F.lit(1).cast(DEC) + _money("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _round2(F.sum(_money("l_quantity"))).alias("sum_qty"),
            _round2(F.sum(_money("l_extendedprice"))).alias("sum_base_price"),
            _round2(F.sum(disc)).alias("sum_disc_price"),
            _round2(F.sum(charge)).alias("sum_charge"),
            F.round(F.sum(_money("l_quantity")).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_Q01 = """
SELECT l_returnflag, l_linestatus,
  round((sum(l_quantity::DECIMAL(18,4)))::DOUBLE, 2) AS sum_qty,
  round((sum(l_extendedprice::DECIMAL(18,4)))::DOUBLE, 2) AS sum_base_price,
  round((sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))))::DOUBLE, 2) AS sum_disc_price,
  round((sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)) * (1::DECIMAL(18,4) + l_tax::DECIMAL(18,4))))::DOUBLE, 2) AS sum_charge,
  round((sum(l_quantity::DECIMAL(18,4)))::DOUBLE / count(*), 6) AS avg_qty,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q02_top_orders(spark, sf_dir):
    """T1 top-k + J1 equi-join: top 10 orders by lineitem revenue."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # Join-strategy guard (guide §3.1): the orders side of this join is
    # pruned to (o_orderkey, o_orderdate) — ~16 B/row — but the
    # planner's byte estimate uses the whole-file size, so past ~10 MB
    # of parquet it silently picks sort-merge and exchanges+sorts BOTH
    # sides (the rev side is already hash-partitioned on the join key by
    # its own aggregate; the orders exchange is pure added cost). Below
    # a footer-metadata row-count cutoff (~5M rows ≈ 80 MB built, same
    # discipline as dedup.BROADCAST_VECTORS_MAX_ROWS) broadcast it; at
    # real scale the count exceeds the cutoff and the shuffle join
    # stands. Output is join-strategy-invariant (same inner equi-join).
    stats = footer_stats(_path(sf_dir, "orders"))
    if stats is not None and stats.rows <= 5_000_000:
        orders = F.broadcast(orders)
    rev = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(
                _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
            ).alias("rev_dec")
        )
    )
    return (
        rev.join(orders, rev.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            _round2(F.col("rev_dec")).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


ORACLE_Q02 = """
SELECT o_orderkey AS orderkey,
  round((sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))))::DOUBLE, 2) AS revenue,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, orderkey ASC
LIMIT 10
"""


def q03_region_revenue(spark, sf_dir):
    """J1 multi-join + A9: order revenue per region."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            _round2(F.sum(_money("o_totalprice"))).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


ORACLE_Q03 = """
SELECT r_name,
  round((sum(o_totalprice::DECIMAL(18,4)))::DOUBLE, 2) AS revenue,
  count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q04_filter_line_size(spark, sf_dir):
    """F2 line-size filter analogue: conjunctive predicates, projection
    pushed to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_quantity") > 45) & (F.col("l_extendedprice") > 40000)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


ORACLE_Q04 = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_quantity > 45 AND l_extendedprice > 40000
"""


def q05_range_predicate(spark, sf_dir):
    """F3 spatial/range predicate analogue: BETWEEN + IN."""
    ev = _t(spark, sf_dir, "events")
    return ev.where(
        F.col("value").between(10, 20) & F.col("event_type").isin("click", "view")
    ).select("event_id", "user_id", "event_type", "value")


ORACLE_Q05 = """
SELECT event_id, user_id, event_type, value
FROM events WHERE value BETWEEN 10 AND 20 AND event_type IN ('click','view')
"""


def q06_avg_value_by_type(spark, sf_dir):
    """A1 mean-angle analogue: conditional mean per group."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.sum(_money("value")).cast("double") / F.count("*"), 6).alias("avg_value"),
        _round2(F.sum(_money("value"))).alias("sum_value"),
        F.count("*").alias("n"),
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).alias("n_high"),
    )


ORACLE_Q06 = """
SELECT event_type,
  round((sum(value::DECIMAL(18,4)))::DOUBLE / count(*), 6) AS avg_value,
  round((sum(value::DECIMAL(18,4)))::DOUBLE, 2) AS sum_value,
  count(*) AS n,
  sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)::BIGINT AS n_high
FROM events GROUP BY event_type
"""


def q07_median_quantity(spark, sf_dir):
    """A2 median line-spacing analogue: exact median + p90 per group."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 6).alias("med_qty"),
        F.round(F.percentile("l_quantity", 0.9), 6).alias("p90_qty"),
        F.count("*").alias("n"),
    )


ORACLE_Q07 = """
SELECT l_returnflag,
  round(median(l_quantity), 6) AS med_qty,
  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
  count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q08_top_event_per_user(spark, sf_dir):
    """A3/A4 argmax analogue: max_by with total tiebreak via window."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


ORACLE_Q08 = """
SELECT user_id, event_id, event_type, value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) rn
  FROM events
) WHERE rn = 1
"""


def q09_nation_acctbal_extent(spark, sf_dir):
    """A7/A8 min/max-extent analogue per nation."""
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.min("s_acctbal"), 2).alias("min_bal"),
            F.round(F.max("s_acctbal"), 2).alias("max_bal"),
            _round2(F.sum(_money("s_acctbal"))).alias("sum_bal"),
            F.count("*").alias("n_suppliers"),
        )
    )


ORACLE_Q09 = """
SELECT n_name,
  round(min(s_acctbal), 2) AS min_bal,
  round(max(s_acctbal), 2) AS max_bal,
  round((sum(s_acctbal::DECIMAL(18,4)))::DOUBLE, 2) AS sum_bal,
  count(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


# ------------------------------------------------------------------ windows


def q10_topk_orders_per_customer(spark, sf_dir):
    """W1 reading-order analogue: rank within partition, keep top 3."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


ORACLE_Q10 = """
SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) rn
  FROM orders
) WHERE rn <= 3
"""


def q11_user_sessions(spark, sf_dir):
    """W2/sessionization: lag + cumulative gap flags (gap > 1800 s)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events")
    )


ORACLE_Q11 = """
SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events FROM (
  SELECT user_id,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) > 1800
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
) GROUP BY user_id
"""


def q12_running_revenue(spark, sf_dir):
    """W4 stateful-carry analogue: running sum per customer (exact
    decimal accumulation, deterministic total order)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _round2(F.sum(_money("o_totalprice")).over(w)).alias("running_revenue"),
    )


ORACLE_Q12 = """
SELECT o_custkey, o_orderkey,
  round((sum(o_totalprice::DECIMAL(18,4)) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE, 2) AS running_revenue
FROM orders
"""


# -------------------------------------------------------------------- joins


def q13_semi_join(spark, sf_dir):
    """J2 analogue: EXISTS (left semi) + aggregate."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers_with_orders"))
    )


ORACLE_Q13 = """
SELECT c_mktsegment, count(*) AS n_customers_with_orders
FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q14_anti_join(spark, sf_dir):
    """Anti-join: customers who never placed a large (>80k) order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 80000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


ORACLE_Q14 = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 80000)
"""


def q15_brand_revenue(spark, sf_dir):
    """J2 broadcast-join analogue: lineitem x part (small dim broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    disc = _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            _round2(F.sum(disc)).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


ORACLE_Q15 = """
SELECT p_brand,
  round((sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))))::DOUBLE, 2) AS revenue,
  count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# ------------------------------------------------------- strings / explode


def q16_word_topk(spark, sf_dir):
    """Explode/UDTF-direction analogue (§2.11): word histogram top 20."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    ).where(F.length("word") > 0)
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


ORACLE_Q16 = """
SELECT word, count(*) AS n FROM (
  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
) WHERE length(word) > 0
GROUP BY word ORDER BY n DESC, word ASC LIMIT 20
"""


def q17_clean_hash(spark, sf_dir):
    """C1-C3 cleanup analogue: normalize + md5 + length."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    clean = tx.clean_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(clean).alias("text_md5"),
        F.length(clean).cast("long").alias("clean_len"),
    )


ORACLE_Q17 = """
SELECT doc_id,
  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS text_md5,
  length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS clean_len
FROM documents
"""


def q18_props_extract(spark, sf_dir):
    """C7/C14 extraction analogue: regexp_extract from a JSON-ish string."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r"(\d+)", 1).cast("long")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 6).alias("avg_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


ORACLE_Q18 = """
SELECT event_type,
  round(avg(k), 6) AS avg_k, min(k) AS min_k, max(k) AS max_k
FROM (SELECT event_type, regexp_extract(props, '(\\d+)', 1)::BIGINT AS k FROM events)
GROUP BY event_type
"""


def q19_fingerprint(spark, sf_dir):
    """C-rolling-hash document fingerprint (text/analysis.py) — identical
    polynomial recurrence in both engines."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    return docs.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))


ORACLE_Q19 = """
SELECT doc_id,
  list_reduce(
    list_prepend(0::BIGINT, [ascii(c)::BIGINT for c in string_split(text, '')]),
    (acc, c) -> (acc * 31 + c) % 2147483647
  ) AS fp
FROM documents
"""


def q20_quality(spark, sf_dir):
    """Quality scoring (training-data op): composite prose score."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    return docs.select(
        "doc_id", F.round(tx.quality_score(F.col("text")), 6).alias("quality")
    )


ORACLE_Q20 = f"""
SELECT doc_id, round((
    least(length(text) / 200.0, 1.0)
  + (1.0 - least((length(regexp_replace(text, '[^.,;:!?''\\-]', '', 'g')) * 1.0 / greatest(length(text), 1)) * 4.0, 1.0))
  + (1.0 - least((length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / greatest(length(text), 1)) * 4.0, 1.0))
  + least((len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        w -> list_contains({tx.STOPWORDS!r}, w))) * 1.0
        / greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1)) * 3.0, 1.0)
) / 4.0, 6) AS quality
FROM documents
"""


def q21_langid(spark, sf_dir):
    """Language-ID heuristic (training-data op)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    return (
        docs.select(tx.lang_id(F.col("text")).alias("lang"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


ORACLE_Q21 = f"""
SELECT lang, count(*) AS n_docs FROM (
  SELECT CASE
    WHEN length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')) * 1.0 / greatest(length(text),1) < 0.5 THEN 'xx'
    WHEN (len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
          w -> list_contains({tx.STOPWORDS!r}, w))) * 1.0
          / greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1)) > 0.08 THEN 'en'
    ELSE 'und' END AS lang
  FROM documents
) GROUP BY lang
"""


def q22_token_counts(spark, sf_dir):
    """Token counting (training-data op): whitespace + BPE-ish regex."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).cast("long").alias("ws_tokens"),
        tx.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


ORACLE_Q22 = """
SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,
  len(regexp_extract_all(text, '([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s])', 1)) AS bpe_tokens,
  length(text) AS n_chars
FROM documents
"""


# -------------------------------------------------------------------- dedup


def q23_exact_dup_keys(spark, sf_dir):
    """Exact dedup (hash-groupBy): md5 content keys + group sizes."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    return (
        docs.select(F.md5(dd.normalize(F.col("text"))).alias("dup_key"))
        .groupBy("dup_key")
        .agg(F.count("*").alias("group_size"))
    )


ORACLE_Q23 = """
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS dup_key,
       count(*) AS group_size
FROM documents GROUP BY 1
"""

_JACCARD_ORACLE_TMPL = """
WITH d AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) t
  FROM documents WHERE doc_id < {max_id}
),
sh AS (
  SELECT DISTINCT doc_id, substr(t, i, 5) AS shingle
  FROM d, unnest(generate_series(1, greatest(length(t) - 4, 1))) AS u(i)
  WHERE length(substr(t, i, 5)) = 5
),
sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT id_a, id_b,
  round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= {threshold}
"""


def q24_jaccard_pairs(spark, sf_dir):
    """Exact n-gram-Jaccard near-dup pairs (5-char shingles, tau=0.25).

    The doc_id<60 slice is gate-bounded BY CONSTRUCTION (constant rows
    at any corpus size), so the whole shingle pipeline runs on one
    partition (round 6): a single-partition child satisfies every
    required distribution, which strips the 32-task exchange latency
    from each of the pipeline's stages — measured ~2x on the fixed
    slice. Not applicable to corpus-shaped inputs (those read with
    _t(..., spread=True))."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60).coalesce(1)
    return dd.jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.25)


ORACLE_Q24 = _JACCARD_ORACLE_TMPL.format(max_id=60, threshold=0.25)


def q25_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs with exact verify — oracle is the exact
    all-pairs Jaccard (r=1, b=32 banding: miss probability (1-s)^32,
    ~1e-4 at s=0.25, deterministic for fixed data+seeds)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60).coalesce(1)
    return dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=5, n_perm=32, bands=32, threshold=0.25
    )


ORACLE_Q25 = ORACLE_Q24


def q37_dup_clusters(spark, sf_dir):
    """Duplicate-cluster canonicalization: connected components over the
    exact-Jaccard near-dup pairs (q24), cluster_id = min reachable doc
    id — the keep-one-per-cluster step of a dedup pipeline. Spark side
    is iterative min-label propagation (one equi-join + aggregate per
    round); oracle is a recursive-CTE transitive closure."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60).coalesce(1)
    pairs = dd.jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.25)
    return dd.dup_clusters(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


ORACLE_Q37 = (
    "WITH RECURSIVE pairs AS ("
    + _JACCARD_ORACLE_TMPL.format(max_id=60, threshold=0.25)
    + """
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, rc.r FROM edges e JOIN reach rc ON e.d = rc.id
)
SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
"""
)


def q26_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, ORACLE-CHECKABLE (round 3: flipped from
    rows-only): the 60-bit md5-derived key family — DuckDB reproduces
    md5 + bit arithmetic exactly, xxhash64 it cannot. Exact all-pairs
    over an oracle-bounded 120 docs (like q24's Jaccard baseline)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120).coalesce(1)
    return dd.simhash_md5_pairs_exact(docs, "doc_id", "text", max_hamming=10)


def _oracle_q26() -> str:
    bits = 60
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    key = " | ".join(f"(CASE WHEN b{j} > 0 THEN 1::BIGINT ELSE 0 END << {j})"
                     for j in range(bits))
    return f"""
WITH words AS (
  SELECT doc_id AS id, unnest(string_split(
    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS w
  FROM documents WHERE doc_id < 120
),
hashed AS (
  SELECT id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h
  FROM words WHERE length(w) > 0
),
sums AS (
  SELECT id,
    {bit_sums}
  FROM hashed GROUP BY id
),
sig AS (
  SELECT id, {key} AS simhash FROM sums
)
SELECT a.id AS id_a, b.id AS id_b,
  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
"""


ORACLE_Q26 = _oracle_q26()


# --------------------------------------------------------------- similarity


def q27_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 for 5 query vectors (exact baseline)."""

    def vectors(emb):
        return emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))

    # spread the corpus side only: the per-row HOF cosine against the
    # broadcast queries is the cost, and a 1-row-group embeddings file
    # otherwise runs it on one core
    corpus = vectors(_t(spark, sf_dir, "embeddings", spread=True))
    queries = vectors(_t(spark, sf_dir, "embeddings")).where(F.col("vec_id") < 5)
    return sim.cosine_topk(corpus, queries, k=3)


ORACLE_Q27 = """
WITH c AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
q AS (SELECT vec_id, e FROM c WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round(list_dot_product(q.e, c.e) /
      (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
  FROM q JOIN c ON q.vec_id != c.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q28_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN top-3 (scale path) — approximate; rows-only
    check. Exploded (table, bucket) equi-join (hash-join-plannable);
    recall = 1.0 vs q27's exact top-k at sf0.01 with these parameters
    (pinned in tests/test_dedup_similarity.py). Plane count scales with
    log(corpus size) in production; 3 planes x 16 tables suits ~10^3
    rows."""
    emb = _t(spark, sf_dir, "embeddings", spread=True)
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = corpus.where(F.col("vec_id") < 5)
    return sim.lsh_topk(corpus, queries, k=3, n_planes=3, n_tables=16, dim=64)


# ----------------------------------------------------------------- streaming-ish


def q29_tumbling_window(spark, sf_dir):
    """Event-time tumbling window aggregate (1 h) — the batch shape of a
    Structured Streaming windowed agg."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), _round2(F.sum(_money("value"))).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


ORACLE_Q29 = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, count(*) AS n,
  round((sum(value::DECIMAL(18,4)))::DOUBLE, 2) AS sum_value
FROM events GROUP BY 1, 2
"""


# ----------------------------------------------------------- OCR pipeline


def q30_ocr_extract_spans(spark, sf_dir):
    """Flagship: full OCR span extraction over a synthesized interleaved
    corpus seeded by the documents table — ORACLE-BACKED (the q31/q34
    recipe): the synth corpus derives every page's line texts from the
    documents table by a SQL-expressible rule (synth.page_lines_for),
    and the OCR kernel decodes pages exactly (the span-equality
    invariant, tests/test_synth.py + the 10k-page sweep), so DuckDB can
    emit the expected ordered (kind, text, media_ref, offset) span rows
    relationally while Spark must render, decode, detect, order,
    recognize, and reassemble to match (reference ordered-span
    invariant: BDRC/exporter.py:296-320)."""
    from .pipeline import extract_spans
    from .synth import synth_corpus

    docs, pages, _ = synth_corpus(spark, sf_dir, n_docs=48)
    out = extract_spans(spark, docs, pages)
    return out.select(
        "doc_id",
        F.posexplode("spans").alias("pos", "s"),
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def _q30_oracle() -> str:
    """Expected span rows for the flagship, straight from the documents
    table: per doc (doc_id < 48, one page, three lines) the output is
    [head text span, media span, three derived line spans] with densely
    renumbered offsets — the synth construction (synth.synth_corpus) and
    the reassembly sort-key semantics (pipeline.reassemble_spans) in one
    SQL statement. Line texts follow synth.page_lines_for (charset-
    clean, 28-char windows, 'line i' fallback); the head span follows
    the synth head_text rule. Hash-equality here proves the FULL
    render -> decode -> detect -> order -> recognize -> reassemble
    pipeline reproduced every character and every span position."""
    from .glyphs import CHARSET
    from .synth import page_lines_for  # noqa: F401 (provenance)

    width = 28
    cls = CHARSET.replace("-", "\\-").replace("'", "''")
    seg = f"trim(substring(cleaned, i * {width} + 1, {width}))"
    line_text = f"CASE WHEN {seg} = '' THEN 'line ' || i ELSE {seg} END"
    return f"""
WITH src AS (
  SELECT doc_id AS src_id,
    substring(lower(regexp_replace(text, '[^a-z0-9 .,''\\-]', ' ', 'g')), 1, 40)
      AS head_text,
    lower(regexp_replace(lower(text), '[^{cls}]', ' ', 'g')) AS cleaned
  FROM documents WHERE doc_id < 48
),
ln AS (
  SELECT src_id, i, {line_text} AS line_text
  FROM src CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) g
)
SELECT printf('doc_%08d', src_id) AS doc_id, 'text' AS kind,
       head_text AS text, CAST(NULL AS VARCHAR) AS media_ref,
       CAST(0 AS INTEGER) AS "offset" FROM src
UNION ALL
SELECT printf('doc_%08d', src_id), 'media', NULL,
       printf('page_%08d_%02d', src_id, 0), CAST(1 AS INTEGER) FROM src
UNION ALL
SELECT printf('doc_%08d', src_id), 'text', line_text,
       printf('page_%08d_%02d', src_id, 0), CAST(2 + i AS INTEGER) FROM ln
"""


def q31_ocr_line_metrics(spark, sf_dir):
    """Per-page OCR lineage metrics, ORACLE-BACKED: the synth corpus
    derives each page's line texts from the documents table by a
    SQL-expressible rule (synth.page_lines_for: charset-clean, 28-char
    windows, 'line i' fallback), and the OCR kernel decodes pages
    exactly (the span-equality invariant), so DuckDB can compute
    lines_detected/chars/status straight from the source text while
    Spark must render + OCR the pages to match. Kernel ESTIMATES
    (rotation angle, dewarp flag) stay out of the projection — they are
    pinned by tests/test_pipeline_e2e.py instead."""
    from .pipeline import page_metrics, recognize_pages
    from .synth import synth_corpus

    docs, pages, _ = synth_corpus(spark, sf_dir, n_docs=48)
    return page_metrics(recognize_pages(spark, docs, pages)).select(
        "doc_id",
        "media_ref",
        F.col("lines_detected").cast("long").alias("lines_detected"),
        F.col("chars").cast("long").alias("chars"),
        "status",
    )


def _q31_oracle() -> str:
    # the renderer's line-derivation constants, interpolated so the SQL
    # stays in lockstep with synth.page_lines_for
    from .glyphs import CHARSET
    from .synth import page_lines_for  # noqa: F401 (provenance)

    width = 28
    cls = CHARSET.replace("-", "\\-").replace("'", "''")

    def seg(i: int) -> str:
        s = f"trim(substring(cleaned, {i * width + 1}, {width}))"
        return f"CASE WHEN {s} = '' THEN {len(f'line {i}')} ELSE length({s}) END"

    return f"""
WITH src AS (
  SELECT doc_id AS src_id,
    lower(regexp_replace(lower(text), '[^{cls}]', ' ', 'g')) AS cleaned
  FROM documents WHERE doc_id < 48
)
SELECT printf('doc_%08d', src_id) AS doc_id,
  printf('page_%08d_%02d', src_id, 0) AS media_ref,
  CAST(3 AS BIGINT) AS lines_detected,
  CAST({seg(0)} + {seg(1)} + {seg(2)} AS BIGINT) AS chars,
  'success' AS status
FROM src
"""


def q32_cer(spark, sf_dir):
    """A10 CER-evaluation analogue (OCREvaluator.evaluate_distribution,
    BDRC/inference.py:1013-1040): edit distance between raw and cleaned
    text as prediction/label pairs, averaged per source 'distribution'."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    label = tx.clean_text(F.col("text"))
    pred = F.trim(F.lower(F.col("text")))
    cer = F.levenshtein(pred, label) / F.greatest(F.length(label), F.lit(1))
    return (
        docs.groupBy("source")
        .agg(
            F.round(F.avg(cer), 6).alias("avg_cer"),
            F.count("*").alias("n_docs"),
        )
    )


ORACLE_Q32 = """
SELECT source,
  round(avg(levenshtein(trim(lower(text)),
      lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
    * 1.0 / greatest(length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1)), 6) AS avg_cer,
  count(*) AS n_docs
FROM documents GROUP BY source
"""


def q33_encoding_roundtrip(spark, sf_dir):
    """C4 encoding-conversion analogue: transliteration is exactly
    reversible; outputs per-doc md5 of translit + a roundtrip flag."""
    from .text.encodings import from_translit, to_translit

    docs = _t(spark, sf_dir, "documents", spread=True)
    tr = to_translit(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(tr).alias("translit_md5"),
        (from_translit(tr) == F.col("text")).alias("roundtrip_ok"),
    )


ORACLE_Q33 = """
SELECT doc_id,
  md5(regexp_replace(regexp_replace(text, '([aeiou])', '\\1''', 'g'),
      '([0-9])', '#\\1', 'g')) AS translit_md5,
  true AS roundtrip_ok
FROM documents
"""


def q35_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact all-pairs baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    return dd.embedding_near_dup(emb, "vec_id", "embedding", threshold=0.4)


ORACLE_Q35 = """
WITH c AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_dot_product(a.e, b.e) /
    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
FROM c a JOIN c b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.e, b.e) /
    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4
"""


def q36_embedding_near_dup_lsh(spark, sf_dir):
    """Headline embedding near-dup: hyperplane-LSH-blocked candidates +
    exact cosine verify — the 10^12-row scale path (q35 keeps the exact
    all-pairs baseline as its small-n oracle). Plane count scales with
    log2 of the corpus so buckets stay ~64 rows regardless of scale
    (fixed planes give coarse buckets and quadratic in-bucket pair
    counts at larger n). Approximate by design, so rows-only here;
    recall >= 0.9 vs the exact pairs is pinned in
    tests/test_dedup_similarity.py. n comes from parquet footer
    metadata (catalog stats in a real deployment) — no extra scan."""
    import math

    emb = _t(spark, sf_dir, "embeddings", spread=True)
    n = _rows(sf_dir, "embeddings")
    n_planes = max(3, int(math.ceil(math.log2(max(n, 64) / 64))))
    return dd.embedding_near_dup(
        emb, "vec_id", "embedding", threshold=0.4, n_planes=n_planes, n_tables=12,
        n_rows=n,
    )


def q40_ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN top-k (the data-adaptive coarse-quantizer scale
    path alongside q28's LSH): spherical-kmeans cells trained on a
    deterministic 4k-row sample, corpus rows assigned by one argmax
    over a literal centroid matrix, queries probe 4 cells, exact
    re-rank. Approximate by design -> rows-only; recall vs the exact
    q27 is pinned in tests/test_dedup_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings", spread=True)
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries_df = corpus.where(F.col("vec_id") < 5)
    # nprobe 10/16: the synthetic embeddings are near-isotropic (no
    # cluster structure), so IVF must probe most of the sphere for 0.9+
    # recall; real embedding corpora are clustered and probe far fewer.
    # n_rows from parquet footers lets centroid training filter its
    # sample scan instead of TakeOrdered-ing the whole corpus.
    return sim.ivf_topk(
        corpus, queries_df, "vec_id", "embedding", k=3, n_cells=16, nprobe=10,
        n_rows=_rows(sf_dir, "embeddings"),
    )


def q38_layout_regions(spark, sf_dir):
    """LAYOUT-mode region classification (LineMode.LAYOUT / F4/F5):
    per-class region counts over pages rendered from a deterministic
    md5-derived region spec — the SAME spec is expressible in ANSI SQL,
    so the oracle counts the expected classes relationally while Spark
    must actually render, segment, and classify to match."""
    from .layout import detect_layout, layout_spec, render_layout_pages

    docs = _t(spark, sf_dir, "documents")
    pages = render_layout_pages(spark, layout_spec(docs, n_docs=48))
    return (
        detect_layout(spark, pages)
        .groupBy("cls")
        .agg(F.count("*").cast("long").alias("n_regions"))
    )


ORACLE_Q38 = """
WITH spec AS (
  SELECT
    1 + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 3 AS n_lines,
    ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) % 2 = 0 AS caption,
    ascii(substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) % 2 = 0 AS noise
  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48)
)
SELECT cls, n_regions FROM (
  SELECT 'line' AS cls, CAST(sum(n_lines) AS BIGINT) AS n_regions FROM spec
  UNION ALL
  SELECT 'caption', CAST(count(*) AS BIGINT) FROM spec WHERE caption
  UNION ALL
  SELECT 'margin', CAST(count(*) AS BIGINT) FROM spec WHERE noise
  UNION ALL
  SELECT 'header', CAST(count(*) AS BIGINT) FROM spec WHERE noise
  UNION ALL
  SELECT 'pagenr', CAST(count(*) AS BIGINT) FROM spec WHERE noise
) WHERE n_regions > 0
"""


def q39_training_selection(spark, sf_dir):
    """Composite training-set selection — the end-to-end shape of an
    LLM-data pipeline: quality gate + language filter + exact-dedup
    canonicalization (keep the min doc_id of each duplicate group).

    Round 6 (guide §2.4): keep_id comes from a window min over dup_key
    instead of the old groupBy + self-join, whose probe side re-ran the
    whole scored projection — ONE pass over text (md5 + quality + lang
    per doc once, was twice) and ONE exchange (hash by dup_key) where
    the join plan had an aggregate exchange plus a join exchange.
    Identical output: min(doc_id) over the dup_key partition is exactly
    groupBy(dup_key).min(doc_id) attached back to every row."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    keyed = docs.select(
        "doc_id",
        F.md5(dd.normalize(F.col("text"))).alias("dup_key"),
        F.round(tx.quality_score(F.col("text")), 6).alias("quality"),
        tx.lang_id(F.col("text")).alias("lang"),
    )
    keep = F.min("doc_id").over(Window.partitionBy("dup_key"))
    return (
        keyed.withColumn("keep_id", keep)
        .where(F.col("doc_id") == F.col("keep_id"))
        .where((F.col("quality") >= 0.5) & (F.col("lang") == "en"))
        .select("doc_id", "quality")
    )


ORACLE_Q39 = f"""
WITH scored AS (
  SELECT doc_id,
    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS dup_key,
    round((
        least(length(text) / 200.0, 1.0)
      + (1.0 - least((length(regexp_replace(text, '[^.,;:!?''\\-]', '', 'g')) * 1.0 / greatest(length(text), 1)) * 4.0, 1.0))
      + (1.0 - least((length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / greatest(length(text), 1)) * 4.0, 1.0))
      + least((len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            w -> list_contains({tx.STOPWORDS!r}, w))) * 1.0
            / greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1)) * 3.0, 1.0)
    ) / 4.0, 6) AS quality,
    CASE
      WHEN length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')) * 1.0 / greatest(length(text),1) < 0.5 THEN 'xx'
      WHEN (len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            w -> list_contains({tx.STOPWORDS!r}, w))) * 1.0
            / greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1)) > 0.08 THEN 'en'
      ELSE 'und' END AS lang
  FROM documents
)
SELECT doc_id, quality FROM (
  SELECT *, min(doc_id) OVER (PARTITION BY dup_key) AS keep_id FROM scored
) WHERE doc_id = keep_id AND quality >= 0.5 AND lang = 'en'
"""


def q34_detect_lines(spark, sf_dir):
    """EP3 detection-only path, ORACLE-BACKED (the q38 recipe): pages
    rendered from the md5-derived layout spec have a KNOWN line count
    and — with no skew/warp — closed-form pixel dimensions, so DuckDB
    computes expected num_contours / image_width / image_height straight
    from the spec while Spark must render, decode, binarize, segment,
    and size-filter to match. Contour/bbox geometry (kernel-derived)
    stays pinned by tests/test_page.py and the 10k-page sweep."""
    from .layout import layout_spec, render_layout_pages
    from .pipeline import detect_lines

    docs = _t(spark, sf_dir, "documents")
    pages = render_layout_pages(spark, layout_spec(docs, n_docs=48))
    return detect_lines(spark, pages).select(
        "image_name", "image_width", "image_height", "num_contours", "status"
    )


def _q34_oracle() -> str:
    # closed-form page geometry from the renderer's own constants
    # (PAGE_MARGIN/LINE_SPACING/CAPTION_GAP, all imported — no literals
    # that could silently diverge from render.render_page) + the spec
    # line pool's glyph widths
    from .glyphs import BAND_H, encode_text, line_pixel_width
    from .layout import _SPEC_LINE_POOL
    from .render import CAPTION_GAP, LINE_SPACING, PAGE_MARGIN

    margin, spacing = PAGE_MARGIN, LINE_SPACING
    pool_w = [line_pixel_width(len(encode_text(t))) for t in _SPEC_LINE_POOL]
    width_for = [max(pool_w[:n]) + 2 * margin for n in (1, 2, 3)]
    cap_extra = CAPTION_GAP + BAND_H
    return f"""
WITH spec AS (
  SELECT CAST(doc_id AS VARCHAR) AS image_name,
    1 + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 3 AS n_lines,
    ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) % 2 = 0 AS caption
  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48)
)
SELECT image_name,
  CAST(CASE n_lines WHEN 1 THEN {width_for[0]} WHEN 2 THEN {width_for[1]}
       ELSE {width_for[2]} END AS INTEGER) AS image_width,
  CAST({2 * margin} + n_lines * {BAND_H} + (n_lines - 1) * {spacing}
       + CASE WHEN caption THEN {cap_extra} ELSE 0 END AS INTEGER) AS image_height,
  CAST(n_lines AS INTEGER) AS num_contours,
  'success' AS status
FROM spec
"""


def q41_audio_wav_metrics(spark, sf_dir):
    """Multimodal audio under the hard gate (the q34/q38 recipe): per
    doc a REAL RIFF/WAVE container is built executor-side from a
    deterministic PCM ramp, then decoded back by the real WAV parser —
    every acoustic feature (duration, rms, peak, zero crossings) is
    closed-form in SQL, so DuckDB computes them from the ramp rule while
    Spark must encode + decode actual containers to match."""
    from .multimodal import audio_features, synth_wav_corpus

    docs = _t(spark, sf_dir, "documents")
    media = synth_wav_corpus(spark, docs, n_docs=32)
    return audio_features(media).select(
        "media_ref",
        "n_samples",
        "sample_rate",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        F.round("peak", 6).alias("peak"),
        "zero_crossings",
        "status",
    )


ORACLE_Q41 = """
WITH src AS (SELECT doc_id FROM documents WHERE doc_id < 32),
samp AS (
  SELECT doc_id, i, ((doc_id * 7919 + i * 31) % 20001 - 10000) AS v
  FROM src CROSS JOIN (SELECT unnest(range(1320)) AS i) g
  WHERE i < 1000 + 10 * doc_id
)
SELECT printf('wav_%08d', s.doc_id) AS media_ref,
  CAST(1000 + 10 * s.doc_id AS BIGINT) AS n_samples,
  CAST(8000 AS INTEGER) AS sample_rate,
  round((1000 + 10 * s.doc_id) / 8000.0, 6) AS duration_s,
  round(sqrt(avg((s.v / 32768.0) * (s.v / 32768.0))), 6) AS rms,
  round(max(abs(s.v / 32768.0)), 6) AS peak,
  CAST(sum(CASE WHEN s.prev IS NOT NULL AND (s.v < 0) <> (s.prev < 0)
      THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
  'success' AS status
FROM (
  SELECT doc_id, i, v, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM samp
) s
GROUP BY s.doc_id
"""


def q42_video_mjpeg_frames(spark, sf_dir):
    """Multimodal video under the hard gate: per layout-spec row a REAL
    short-clip container is built executor-side (frame j = the
    single-line spec page for pool line j) — MJPEG-in-AVI for even
    doc_ids, animated GIF for odd — then frame-sampled by the real
    RIFF/AVI walker + JPEG decoder / GIF LZW compositor. Frame
    inventory and pixel dimensions are closed-form from the md5 spec
    (the q34 geometry; GIF frames share the clip's logical screen, so
    their width is the widest page in the clip)."""
    from .layout import layout_spec
    from .multimodal import sample_video_frames, synth_mjpeg_corpus

    docs = _t(spark, sf_dir, "documents")
    media = synth_mjpeg_corpus(spark, layout_spec(docs, n_docs=24))
    return sample_video_frames(media, every_nth=2).select(
        "media_ref", "frame_idx", "width", "height", "status"
    )


def _q42_oracle() -> str:
    from .glyphs import BAND_H, encode_text, line_pixel_width
    from .layout import _SPEC_LINE_POOL
    from .render import PAGE_MARGIN

    pool_w = [line_pixel_width(len(encode_text(t))) for t in _SPEC_LINE_POOL]
    page_w = [pw + 2 * PAGE_MARGIN for pw in pool_w]
    w0, w2 = page_w[0], page_w[2]
    # GIF clips share one logical screen: width = widest page among the
    # clip's n_lines frames (closed-form per n)
    gif_w = {n: max(page_w[:n]) for n in (1, 2, 3)}
    height = 2 * PAGE_MARGIN + BAND_H
    return f"""
WITH spec AS (
  SELECT doc_id,
    1 + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 3 AS n_lines
  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 24)
)
SELECT printf(CASE WHEN doc_id % 2 = 0 THEN 'avi_%08d' ELSE 'gif_%08d' END,
              doc_id) AS media_ref,
  CAST(i AS INTEGER) AS frame_idx,
  CAST(CASE WHEN doc_id % 2 = 0 THEN CASE i WHEN 0 THEN {w0} ELSE {w2} END
       ELSE CASE n_lines WHEN 1 THEN {gif_w[1]} WHEN 2 THEN {gif_w[2]}
            ELSE {gif_w[3]} END
  END AS INTEGER) AS width,
  CAST({height} AS INTEGER) AS height, 'success' AS status
FROM spec CROSS JOIN (SELECT unnest([0, 2]) AS i) g
WHERE i < n_lines
"""


def q44_html_extract_spans(spark, sf_dir):
    """Main-content extraction for the web's native container (the
    north rule's 'HTML boilerplate strip ... DOM heuristics' named
    surface): per documents row a deterministic web page is rendered
    executor-side — real site chrome (head script/style decoys,
    header+nav, link-soup menu, advert div, aside, footer) around
    derived paragraphs and an optional in-content image — then the
    generic tag-soup parser + jusText-style link-density classifier
    (text/html_extract.py) must strip every piece of furniture and
    re-emit the ordered (kind, text, media_ref, offset) span sequence,
    entity decoding included. DuckDB derives the expected spans
    relationally from the documents table (the q30/q34 recipe)."""
    from .text.html_extract import html_extract_spans, synth_html_corpus

    docs = _t(spark, sf_dir, "documents")
    return html_extract_spans(synth_html_corpus(spark, docs, n_docs=64))


def _q44_oracle() -> str:
    from .text.html_extract import PARA_WIDTH, paragraphs_for  # noqa: F401

    w = PARA_WIDTH
    return f"""
WITH src AS (
  SELECT doc_id,
    1 + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 3 AS n_paras,
    ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) % 2 = 0 AS has_img,
    coalesce(text, '') AS text
  FROM documents WHERE doc_id < 64
),
par AS (
  SELECT doc_id, i, n_paras, has_img,
    CASE WHEN seg = '' THEN 'paragraph ' || i ELSE seg END AS ptext
  FROM (
    SELECT doc_id, i, n_paras, has_img,
      trim(regexp_replace(substring(text, i * {w} + 1, {w}), ' +', ' ', 'g'))
        AS seg
    FROM src CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) g
    WHERE i < n_paras
  )
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text' AS kind,
  CASE WHEN i = 0 THEN ptext || ' & more' ELSE ptext END AS text,
  CAST(NULL AS VARCHAR) AS media_ref,
  CAST(CASE WHEN i = 0 THEN 0
       ELSE i + CASE WHEN has_img THEN 1 ELSE 0 END END AS INTEGER)
    AS "offset"
FROM par
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'media', NULL,
  printf('img_%08d_00.png', doc_id), CAST(1 AS INTEGER)
FROM src WHERE has_img
"""


def q45_pdf_extract_spans(spark, sf_dir):
    """PDF layout parse under the hard gate (the north rule's
    'PDF/layout parse' named surface): per documents row a deterministic
    one-page PDF is written executor-side — same md5 spec and paragraph
    derivation as the HTML corpus, but items are emitted in ROTATED
    content-stream order with their y coordinates encoding the logical
    order, and streams alternate raw/FlateDecode by doc parity — then
    the from-scratch PDF parser (object lexer, page-tree walk, content
    text state machine, XObject image placement) must sort by page
    GEOMETRY to re-emit the ordered span sequence. DuckDB derives the
    expected spans relationally (the q30/q34/q44 recipe)."""
    from .text.pdf_extract import pdf_extract_spans_df, synth_pdf_corpus

    docs = _t(spark, sf_dir, "documents")
    return pdf_extract_spans_df(synth_pdf_corpus(spark, docs, n_docs=64))


def _q45_oracle() -> str:
    from .text.html_extract import PARA_WIDTH  # same derivation as q44

    w = PARA_WIDTH
    return f"""
WITH src AS (
  SELECT doc_id,
    1 + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 3 AS n_paras,
    ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) % 2 = 0 AS has_img,
    coalesce(text, '') AS text
  FROM documents WHERE doc_id < 64
),
par AS (
  SELECT doc_id, i, n_paras, has_img,
    CASE WHEN seg = '' THEN 'paragraph ' || i ELSE seg END AS ptext
  FROM (
    SELECT doc_id, i, n_paras, has_img,
      trim(regexp_replace(substring(text, i * {w} + 1, {w}), ' +', ' ', 'g'))
        AS seg
    FROM src CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) g
    WHERE i < n_paras
  )
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text' AS kind, ptext AS text,
  CAST(NULL AS VARCHAR) AS media_ref,
  CAST(CASE WHEN i = 0 THEN 0
       ELSE i + CASE WHEN has_img THEN 1 ELSE 0 END END AS INTEGER)
    AS "offset"
FROM par
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'media', NULL,
  printf('img_%08d_00', doc_id), CAST(1 AS INTEGER)
FROM src WHERE has_img
"""


def q46_web_doc_ocr_fusion(spark, sf_dir):
    """The two ingestion paths COMPOSED, end-to-end under the hard
    gate: deterministic web pages are rendered executor-side; the HTML
    extractor re-emits each as an ordered span document (text paragraphs
    + in-content img media spans); the media refs resolve against a
    rendered pages sidecar (the q30 synth renderer: golden lines +
    strip-me furniture); and the UNCHANGED OCR pipeline
    (pipeline.extract_spans) OCRs every referenced image and splices
    its detected line spans directly after the media span, densely
    renumbered. DuckDB derives the full fused span sequence from the
    documents table alone (q44's paragraph rule + q30's line rule) —
    hash-equality proves HTML parse, boilerplate strip, media
    resolution, render, decode, detect, order, recognize, and
    reassembly agree character-for-character in one relational plan."""
    from .pipeline import extract_spans
    from .synth import render_pages
    from .text.html_extract import html_extract_spans, synth_html_corpus

    n_docs = 48
    docs = _t(spark, sf_dir, "documents")
    corpus = synth_html_corpus(spark, docs, n_docs=n_docs)

    # HTML spans -> DOCUMENTS_SCHEMA (pure Catalyst: group + sort)
    rows = html_extract_spans(corpus)
    web_docs = rows.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].cast("int").alias("offset"),
            ),
        ).alias("spans")
    )

    # pages sidecar for the in-content img refs (the q30 renderer:
    # page_lines_for golden lines + md5-styled furniture to strip);
    # has_img is the SAME md5 bit the HTML generator uses
    h = F.md5(F.col("doc_id").cast("string"))
    media = (
        docs.where(F.col("doc_id") < n_docs)
        .where(F.ascii(F.substring(h, 2, 1)) % 2 == 0)
        .select(
            F.format_string("img_%08d_00.png", "doc_id").alias("media_ref"),
            "text",
            F.lit(3).alias("n_lines"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "media_ref")
    )
    pages = render_pages(media).select("media_ref", "content", "width", "height")

    out = extract_spans(spark, web_docs, pages, strategy="broadcast")
    return out.select("doc_id", F.posexplode("spans").alias("pos", "s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def _q46_oracle() -> str:
    from .glyphs import CHARSET
    from .text.html_extract import PARA_WIDTH

    w = PARA_WIDTH
    lw = 28  # synth.page_lines_for window
    cls = CHARSET.replace("-", "\\-").replace("'", "''")
    seg = f"trim(substring(cleaned, i * {lw} + 1, {lw}))"
    line_text = f"CASE WHEN {seg} = '' THEN 'line ' || i ELSE {seg} END"
    return f"""
WITH src AS (
  SELECT doc_id,
    1 + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 3 AS n_paras,
    ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) % 2 = 0 AS has_img,
    coalesce(text, '') AS text,
    lower(regexp_replace(lower(text), '[^{cls}]', ' ', 'g')) AS cleaned
  FROM documents WHERE doc_id < 48
),
par AS (
  SELECT doc_id, i, n_paras, has_img,
    CASE WHEN seg2 = '' THEN 'paragraph ' || i ELSE seg2 END AS ptext
  FROM (
    SELECT doc_id, i, n_paras, has_img,
      trim(regexp_replace(substring(text, i * {w} + 1, {w}), ' +', ' ', 'g'))
        AS seg2
    FROM src CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) g
    WHERE i < n_paras
  )
),
ln AS (
  SELECT doc_id, i, {line_text} AS line_text
  FROM src CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) g
  WHERE has_img
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text' AS kind,
  CASE WHEN i = 0 THEN ptext || ' & more' ELSE ptext END AS text,
  CAST(NULL AS VARCHAR) AS media_ref,
  CAST(CASE WHEN i = 0 THEN 0
       ELSE i + CASE WHEN has_img THEN 4 ELSE 0 END END AS INTEGER)
    AS "offset"
FROM par
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'media', NULL,
  printf('img_%08d_00.png', doc_id), CAST(1 AS INTEGER)
FROM src WHERE has_img
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'text', line_text,
  printf('img_%08d_00.png', doc_id), CAST(2 + i AS INTEGER)
FROM ln
"""


def q47_pdf_doc_ocr_fusion(spark, sf_dir):
    """The scanned-book PDF workflow, WHOLE-CONTAINER, under the hard
    gate: each synthetic PDF embeds a REAL rendered page image inside
    its image XObject (FlateDecode bit-exact for even docs, DCTDecode
    q95 for odd — decoded by this repo's own JPEG codec), so the PDF
    is both the span document AND the media sidecar. The parser
    extracts the ordered spans; pdf_extract_media pulls the embedded
    rasters; the UNCHANGED OCR pipeline recognizes them and splices
    the line spans. One DuckDB derivation from the documents table
    hash-checks parse + layout sort + embedded-image decode + OCR +
    reassembly together."""
    from .imgcodec import png_encode
    from .pipeline import extract_spans
    from .text.pdf_extract import (
        pdf_extract_media,
        pdf_extract_spans_df,
        synth_pdf_corpus,
    )
    from .worker import map_rows

    n_docs = 48
    docs = _t(spark, sf_dir, "documents")
    corpus = synth_pdf_corpus(spark, docs, n_docs=n_docs)

    rows = pdf_extract_spans_df(corpus)
    pdf_docs = rows.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].cast("int").alias("offset"),
            ),
        ).alias("spans")
    )

    def media_rows(r):
        for name, arr in pdf_extract_media(r.pdf).items():
            yield name, png_encode(arr), int(arr.shape[1]), int(arr.shape[0])

    pages = map_rows(
        corpus.select("pdf"),
        "media_ref string, content binary, width int, height int",
        lambda: media_rows,
    )

    out = extract_spans(spark, pdf_docs, pages, strategy="broadcast")
    return out.select("doc_id", F.posexplode("spans").alias("pos", "s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def _q47_oracle() -> str:
    from .glyphs import CHARSET
    from .text.html_extract import PARA_WIDTH

    w = PARA_WIDTH
    lw = 28  # synth.page_lines_for window
    cls = CHARSET.replace("-", "\\-").replace("'", "''")
    seg = f"trim(substring(cleaned, i * {lw} + 1, {lw}))"
    line_text = f"CASE WHEN {seg} = '' THEN 'line ' || i ELSE {seg} END"
    return f"""
WITH src AS (
  SELECT doc_id,
    1 + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 3 AS n_paras,
    ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) % 2 = 0 AS has_img,
    coalesce(text, '') AS text,
    lower(regexp_replace(lower(text), '[^{cls}]', ' ', 'g')) AS cleaned
  FROM documents WHERE doc_id < 48
),
par AS (
  SELECT doc_id, i, n_paras, has_img,
    CASE WHEN seg2 = '' THEN 'paragraph ' || i ELSE seg2 END AS ptext
  FROM (
    SELECT doc_id, i, n_paras, has_img,
      trim(regexp_replace(substring(text, i * {w} + 1, {w}), ' +', ' ', 'g'))
        AS seg2
    FROM src CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) g
    WHERE i < n_paras
  )
),
ln AS (
  SELECT doc_id, i, {line_text} AS line_text
  FROM src CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) g
  WHERE has_img
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text' AS kind, ptext AS text,
  CAST(NULL AS VARCHAR) AS media_ref,
  CAST(CASE WHEN i = 0 THEN 0
       ELSE i + CASE WHEN has_img THEN 4 ELSE 0 END END AS INTEGER)
    AS "offset"
FROM par
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'media', NULL,
  printf('img_%08d_00', doc_id), CAST(1 AS INTEGER)
FROM src WHERE has_img
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'text', line_text,
  printf('img_%08d_00', doc_id), CAST(2 + i AS INTEGER)
FROM ln
"""


def q48_warc_extract_spans(spark, sf_dir):
    """WARC ingestion under the hard gate — the container the 100-TB
    web corpus actually ships in (Common Crawl WARC, ISO 28500): per
    documents row a deterministic web page is wrapped in a REAL
    HTTP/1.1 response inside a REAL WARC record, files alternating the
    Common Crawl member-per-record gzip convention with uncompressed
    storage, responses alternating Content-Length with chunked
    transfer coding, with warcinfo/request/metadata records and a
    robots.txt response interleaved as distractors, and page entities
    rotating gzip / deflate / identity content-codings under the
    transfer framing (the Common Crawl reality). The from-scratch
    reader (text/warc.py) must split gzip members, walk the record
    grammar, select 200 text/html responses, transfer-decode them,
    content-decode them, and
    hand the bytes to the q44 extractor — DuckDB derives the expected
    spans (+ target URI) relationally from the documents table alone,
    so hash-equality proves the whole container chain. Reference
    analogue: the folder-glob image ingest (reference/cli.py:16) —
    same contract, web wire format."""
    from .text.html_extract import html_extract_spans
    from .text.warc import synth_warc_corpus, warc_extract_html

    docs = _t(spark, sf_dir, "documents")
    pages = warc_extract_html(
        synth_warc_corpus(spark, docs, n_docs=64, content_encoding=True)
    )
    spans = html_extract_spans(pages)
    urls = pages.select(F.col("doc_id").cast("string").alias("doc_id"), "url")
    return spans.join(F.broadcast(urls), "doc_id")


def _q48_oracle() -> str:
    return f"""
SELECT o.*,
  printf('http://site%d.example/doc/%08d',
         CAST(o.doc_id AS BIGINT) % 7, CAST(o.doc_id AS BIGINT)) AS url
FROM ({_q44_oracle()}) o
"""


def q49_warc_cdx_index(spark, sf_dir):
    """CDX capture indexing — the published access pattern for random
    record lookup over an archived crawl: per response record emit
    (url, status, mime, length, digest) where length/digest are of the
    transfer-decoded payload (invariant to chunked vs content-length
    framing, per the CDXJ convention; md5-hex instead of Common
    Crawl's sha1-base32 so the oracle can recompute it — documented
    deviation, text/warc.py). The DuckDB oracle REBUILDS THE EXACT
    PAGE BYTES relationally (line table + string_agg) and md5s them —
    hash-equality pins gzip member split, record framing, HTTP
    de-chunking, and byte-identical synthesis in one check."""
    from .text.warc import synth_warc_corpus, warc_cdx_index

    docs = _t(spark, sf_dir, "documents")
    return warc_cdx_index(synth_warc_corpus(spark, docs, n_docs=64))


def _q49_oracle() -> str:
    from .text.html_extract import PARA_WIDTH

    w = PARA_WIDTH
    return f"""
WITH src AS (
  SELECT doc_id,
    1 + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 3 AS n_paras,
    ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) % 2 = 0 AS has_img,
    coalesce(text, '') AS text
  FROM documents WHERE doc_id < 64
),
par AS (
  SELECT doc_id, i, n_paras, has_img,
    CASE WHEN seg = '' THEN 'paragraph ' || i ELSE seg END AS ptext
  FROM (
    SELECT doc_id, i, n_paras, has_img,
      trim(regexp_replace(substring(text, i * {w} + 1, {w}), ' +', ' ', 'g'))
        AS seg
    FROM src CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) g
    WHERE i < n_paras
  )
),
lines AS (
  SELECT doc_id, 0 AS ln, '<!DOCTYPE html>' AS line FROM src
  UNION ALL SELECT doc_id, 1,
    '<html><head><title>site ' || (doc_id % 7) || ' &mdash; page</title>' FROM src
  UNION ALL SELECT doc_id, 2,
    '<style>p {{ color: #222; }} /* <p>decoy</p> */</style>' FROM src
  UNION ALL SELECT doc_id, 3,
    '<script>if (1 < 2) {{ document.write(''<p>not content</p>''); }}</script>'
    FROM src
  UNION ALL SELECT doc_id, 4, '</head><body>' FROM src
  UNION ALL SELECT doc_id, 5,
    '<header><h1>Portal ' || (doc_id % 7) || '</h1>' FROM src
  UNION ALL SELECT doc_id, 6,
    '<nav><a href="/">home</a> <a href="/a">archive</a> ' ||
    '<a href="/t">tags</a></nav></header>' FROM src
  UNION ALL SELECT doc_id, 7, '<div class="content">' FROM src
  UNION ALL SELECT doc_id, 8, '<p>' || ptext || ' &amp; more</p>'
    FROM par WHERE i = 0
  UNION ALL SELECT doc_id, 9,
    '<img src="img_' || printf('%08d', doc_id) || '_00.png" alt="figure">'
    FROM src WHERE has_img
  UNION ALL SELECT doc_id, 10 + i, '<p>' || ptext || '</p>' FROM par WHERE i > 0
  UNION ALL SELECT doc_id, 20,
    '<ul class="menu"><li><a href="/1">one</a></li>' ||
    '<li><a href="/2">two</a></li><li><a href="/3">three</a></li></ul>' FROM src
  UNION ALL SELECT doc_id, 21, '<div class="advert">BUY NOW limited offer</div>'
    FROM src
  UNION ALL SELECT doc_id, 22, '</div>' FROM src
  UNION ALL SELECT doc_id, 23, '<aside>you may also like: everything</aside>'
    FROM src
  UNION ALL SELECT doc_id, 24, '<!-- rendered by synth_html_for -->' FROM src
  UNION ALL SELECT doc_id, 25, '<footer>&copy; portal archives</footer>' FROM src
  UNION ALL SELECT doc_id, 26, '</body></html>' FROM src
),
pages AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY ln) AS html
  FROM lines GROUP BY doc_id
)
SELECT printf('http://site%d.example/doc/%08d', doc_id % 7, doc_id) AS url,
  CAST(200 AS INTEGER) AS status, 'text/html' AS mime,
  CAST(strlen(html) AS BIGINT) AS length, md5(html) AS digest,
  CAST(NULL AS VARCHAR) AS redirect
FROM pages
UNION ALL
SELECT printf('http://warc%04d.example/robots.txt', fid),
  CAST(200 AS INTEGER), 'text/plain',
  CAST(strlen(rb) AS BIGINT), md5(rb), CAST(NULL AS VARCHAR)
FROM (SELECT DISTINCT doc_id // 8 AS fid FROM src)
CROSS JOIN (SELECT 'User-agent: *' || chr(13) || chr(10) ||
                   'Disallow: /private/' || chr(13) || chr(10) AS rb)
"""


def q50_url_canonicalize(spark, sf_dir):
    """URL canonicalization + registrable-domain rollup — crawl-side
    dedup's first step (the same capture fetched under case/port/
    fragment/dot-segment/percent-encoding/tracking-param variations is
    ONE document). A deterministic messy capture log (4 raw variants
    per document exercising every RFC 3986 §6 rule plus the crawl
    conventions: tracking-param strip, query sort, fragment drop;
    doc_id %% 5 == 0 docs live on a co.uk host to exercise the
    public-suffix multi-label rule) is canonicalized by
    text/urlnorm.py, then rolled up by (url_norm, domain). DuckDB
    derives the expected CLEAN forms and collapse counts from doc_id
    alone — Spark must actually normalize the messy strings to match.
    Plan: synth + normalize are shuffle-free mapInPandas; the rollup
    is one hash aggregate — a single narrow shuffle at 10^12 captures."""
    from .text.urlnorm import normalize_urls, synth_messy_urls

    docs = _t(spark, sf_dir, "documents")
    captures = normalize_urls(synth_messy_urls(spark, docs, n_docs=64))
    return (
        captures.groupBy("url_norm", "domain")
        .agg(F.count("*").alias("n_variants"))
    )


def _q50_oracle() -> str:
    return """
WITH src AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0
         THEN 'media.site' || (doc_id % 7) || '.co.uk'
         ELSE 'site' || (doc_id % 7) || '.example' END AS host,
    CASE WHEN doc_id % 5 = 0
         THEN 'site' || (doc_id % 7) || '.co.uk'
         ELSE 'site' || (doc_id % 7) || '.example' END AS domain
  FROM documents WHERE doc_id < 64
),
clean AS (
  SELECT doc_id, domain,
    'http://' || host || '/doc/' || printf('%08d', doc_id) AS base
  FROM src
)
SELECT base AS url_norm, domain, CAST(3 AS BIGINT) AS n_variants FROM clean
UNION ALL
SELECT base || '?a=1&b=2', domain, CAST(1 AS BIGINT) FROM clean
"""


def q51_crawl_dedup_extract(spark, sf_dir):
    """The crawl chain COMPOSED under one hash gate: the WARC corpus
    now archives every page TWICE — once at its clean URI, once under
    a messy re-crawl URI (uppercase host, explicit :80, dot-segments,
    fragment) with the OPPOSITE transfer framing — and the pipeline
    must (1) pull all text/html captures out of the container,
    (2) canonicalize capture URIs (text/urlnorm.py), (3) collapse
    duplicate captures on the canonical key, and (4) extract spans
    from the surviving copy. The oracle is EXACTLY q48's: if
    normalization misses a rule or dedup keeps both captures, rows
    double and the hash breaks. Plan: file-group exchange, shuffle-free
    capture+normalize kernels, ONE hash-agg on the canonical key (the
    10^12-capture dedup shape), spans kernel, broadcast url join."""
    from .text.html_extract import html_extract_spans
    from .text.urlnorm import normalize_urls
    from .text.warc import synth_warc_corpus, warc_extract_captures

    docs = _t(spark, sf_dir, "documents")
    warcs = synth_warc_corpus(
        spark, docs, n_docs=64, dup_captures=True, content_encoding=True
    )
    caps = normalize_urls(warc_extract_captures(warcs))
    # identical bodies by construction -> max is deterministic
    pages = (
        caps.groupBy("url_norm")
        .agg(F.max("html").alias("html"))
        .withColumn(
            "doc_id", F.regexp_extract("url_norm", r"/doc/(\d{8})$", 1).cast("long")
        )
        .withColumnRenamed("url_norm", "url")
    )
    spans = html_extract_spans(pages)
    urls = pages.select(F.col("doc_id").cast("string").alias("doc_id"), "url")
    return spans.join(F.broadcast(urls), "doc_id")


def q53_charset_extract_spans(spark, sf_dir):
    """Charset sniffing under the hard gate — the web is not UTF-8:
    the WARC corpus rotates character encodings AND declaration
    channels per page (Content-Type header label; <meta charset>
    prescan incl. the latin-1->cp1252 HTML5 alias fold; UTF-16 BOM;
    undeclared bytes falling back strict-utf-8-then-cp1252), every page
    carrying a non-ASCII marker paragraph. The reader must pick the
    encoding by the HTML5 §13.2.3.2 sniffing order
    (html_extract.sniff_decode) — a wrong or skipped decode garbles
    the marker (or the whole utf-16 page) and breaks the hash. DuckDB
    derives expected spans + marker from the documents table alone,
    invariant to the wire bytes. Composes with the content-coding
    rotation (gzip over utf-16 etc.) — decode order is transfer ->
    content -> charset."""
    from .text.html_extract import html_extract_spans
    from .text.warc import synth_warc_corpus, warc_extract_html

    docs = _t(spark, sf_dir, "documents")
    pages = warc_extract_html(
        synth_warc_corpus(
            spark, docs, n_docs=64, content_encoding=True, charsets=True
        )
    )
    spans = html_extract_spans(pages)
    urls = pages.select(F.col("doc_id").cast("string").alias("doc_id"), "url")
    return spans.join(F.broadcast(urls), "doc_id")


def _q53_oracle() -> str:
    return f"""
SELECT x.*,
  printf('http://site%d.example/doc/%08d',
         CAST(x.doc_id AS BIGINT) % 7, CAST(x.doc_id AS BIGINT)) AS url
FROM (
  SELECT * FROM ({_q44_oracle()}) o
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text' AS kind,
    'Résumé café © portal ' || (doc_id % 7) || ' àôü' AS text,
    CAST(NULL AS VARCHAR) AS media_ref,
    CAST(1 + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 3
         + CASE WHEN ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) % 2 = 0
                THEN 1 ELSE 0 END AS INTEGER) AS "offset"
  FROM documents WHERE doc_id < 64
) x
"""


def q54_robots_filter_extract(spark, sf_dir):
    """Crawl politeness under the hard gate (RFC 9309): each site's
    robots.txt gives the crawl agent a group with a wildcard+anchor
    Disallow ('/doc/*k$') that beats a shorter Allow by longest-match,
    while the '*' group bans everything — so the reader must select
    the right group, honor the pattern syntax, and apply RFC
    precedence, or rows appear/disappear vs the oracle. The robots
    dictionary (one tiny row per host) is broadcast onto the page
    stream and evaluated in a zero-shuffle kernel (text/robots.py) —
    the 10^12-capture politeness shape. Blocked set is derivable in
    SQL: path ends in the site digit iff doc_id % 10 = doc_id % 7."""
    from .text.html_extract import html_extract_spans
    from .text.robots import robots_filter
    from .text.warc import (
        synth_warc_corpus,
        warc_extract_html,
        warc_extract_robots,
    )

    docs = _t(spark, sf_dir, "documents")
    warcs = synth_warc_corpus(spark, docs, n_docs=64, site_robots=True)
    pages = warc_extract_html(warcs)
    robots = warc_extract_robots(warcs).groupBy("host").agg(
        F.max("robots_txt").alias("robots_txt")
    )
    allowed = robots_filter(pages, robots, agent="synthbot")
    spans = html_extract_spans(allowed)
    urls = allowed.select(F.col("doc_id").cast("string").alias("doc_id"), "url")
    return spans.join(F.broadcast(urls), "doc_id")


def _q54_oracle() -> str:
    return f"""
SELECT * FROM ({_q48_oracle()}) q
WHERE NOT (CAST(q.doc_id AS BIGINT) % 10 = CAST(q.doc_id AS BIGINT) % 7)
"""


def q55_redirect_resolution(spark, sf_dir):
    """Redirect-chain resolution under the hard gate: the corpus
    archives a 2-hop alias chain per page (/r2 -302-> /r1 -301->
    /doc, the second hop via a RELATIVE Location that the CDX layer
    must absolutize per RFC 9110) and the resolver (text/redirects.py)
    computes every alias's final destination by POINTER DOUBLING —
    ceil(log2(max_hops)) self-joins of the 3xx subset, the
    list-ranking primitive that keeps a 10^12-capture closure walk at
    a handful of narrow shuffles (same log-round discipline as the
    star CC contraction). DuckDB derives the closed-form chain map
    from doc_id alone; wrong hop counts, missed relative-Location
    absolutization, or a broken join produce different rows."""
    from .text.redirects import resolve_redirects
    from .text.warc import synth_warc_corpus, warc_cdx_index

    docs = _t(spark, sf_dir, "documents")
    warcs = synth_warc_corpus(spark, docs, n_docs=64, redirects=True)
    return resolve_redirects(warc_cdx_index(warcs))


def _q55_oracle() -> str:
    return """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 64)
SELECT printf('http://site%d.example/r1/%08d', doc_id % 7, doc_id) AS src,
  printf('http://site%d.example/doc/%08d', doc_id % 7, doc_id) AS final_url,
  CAST(1 AS BIGINT) AS hops, TRUE AS resolved
FROM d
UNION ALL
SELECT printf('http://site%d.example/r2/%08d', doc_id % 7, doc_id),
  printf('http://site%d.example/doc/%08d', doc_id % 7, doc_id),
  CAST(2 AS BIGINT), TRUE
FROM d
"""


def q56_sitemap_coverage(spark, sf_dir):
    """Sitemap crawl-coverage audit: each site's captured sitemap.xml
    advertises its doc URLs (with lastmod dates and an &amp;-entity
    phantom URL never crawled) but omits ids with doc_id % 5 == 4 —
    so the FULL OUTER join of advertised vs captured URLs must emit
    all three coverage classes (both / listed-only frontier gap /
    captured-only link discovery) with lastmod carried from the XML.
    Tolerant sitemap scan + entity decode sit under the hash gate;
    the outer join is the one exchange (outer joins cannot
    broadcast — non-matches on both sides survive). Oracle derives
    the full coverage table from doc_id arithmetic."""
    from .text.sitemap import crawl_coverage, warc_extract_sitemaps
    from .text.warc import synth_warc_corpus, warc_cdx_index

    docs = _t(spark, sf_dir, "documents")
    warcs = synth_warc_corpus(spark, docs, n_docs=64, sitemaps=True)
    listed = warc_extract_sitemaps(warcs)
    captured = warc_cdx_index(warcs).where(
        (F.col("status") == 200) & (F.col("mime") == "text/html")
    )
    return crawl_coverage(listed, captured)


def _q56_oracle() -> str:
    return """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 64)
SELECT printf('http://site%d.example/doc/%08d', doc_id % 7, doc_id) AS url,
  doc_id % 5 <> 4 AS listed, TRUE AS captured,
  CASE WHEN doc_id % 5 <> 4 THEN printf('2024-01-%02d', 1 + doc_id % 28)
  END AS lastmod
FROM d
UNION ALL
SELECT 'http://site' || k || '.example/list?page=1&limit=' || k,
  TRUE, FALSE, '2024-02-01'
FROM (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS k)
"""


def q52_template_removal(spark, sf_dir):
    """Cross-page boilerplate removal — the corpus-level half of the
    north rule's 'HTML boilerplate strip': every page of a site carries
    two CONTENT-SHAPED template paragraphs (plain <p>, no class/id, no
    links — invisible to the q44 single-page heuristics by
    construction); the CCNet-style domain-frequency rule
    (text/boilerplate.py) must find them by counting distinct pages per
    (registrable domain, block md5) and anti-join them out, then
    re-rank offsets densely. The DuckDB oracle MIRRORS THE RULE
    relationally (derives the injected corpus spans from documents,
    computes the same per-site block frequencies, filters with the same
    threshold, re-ranks) — so Spark and SQL must agree on semantics,
    including any accidentally-frequent real paragraph, not just on the
    planted fixtures. Plan: one md5-keyed hash-agg over text spans,
    tiny template dictionary broadcast anti-join, per-doc window
    re-rank; page bodies never shuffle."""
    from .text.boilerplate import strip_template_blocks, synth_boiler_corpus
    from .text.html_extract import html_extract_spans
    from .text.urlnorm import normalize_urls

    docs = _t(spark, sf_dir, "documents")
    pages = synth_boiler_corpus(spark, docs, n_docs=64)
    doms = normalize_urls(pages.select("doc_id", "url")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "domain"
    )
    spans = html_extract_spans(pages).join(F.broadcast(doms), "doc_id")
    out = strip_template_blocks(spans)
    return out.select("doc_id", "kind", "text", "media_ref", "offset", "domain")


def _q52_oracle() -> str:
    from .text.html_extract import PARA_WIDTH

    w = PARA_WIDTH
    return f"""
WITH src AS (
  SELECT doc_id,
    1 + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 3 AS n_paras,
    ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) % 2 = 0 AS has_img,
    coalesce(text, '') AS text
  FROM documents WHERE doc_id < 64
),
par AS (
  SELECT doc_id, i, n_paras, has_img,
    CASE WHEN seg = '' THEN 'paragraph ' || i ELSE seg END AS ptext
  FROM (
    SELECT doc_id, i, n_paras, has_img,
      trim(regexp_replace(substring(text, i * {w} + 1, {w}), ' +', ' ', 'g'))
        AS seg
    FROM src CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) g
    WHERE i < n_paras
  )
),
spans0 AS (
  SELECT doc_id, 'text' AS kind,
    'Subscribe to the Portal ' || (doc_id % 7) ||
      ' newsletter for daily updates' AS text,
    CAST(NULL AS VARCHAR) AS media_ref, 0 AS off
  FROM src
  UNION ALL
  SELECT doc_id, 'text',
    CASE WHEN i = 0 THEN ptext || ' & more' ELSE ptext END,
    NULL,
    1 + i + CASE WHEN has_img AND i > 0 THEN 1 ELSE 0 END
  FROM par
  UNION ALL
  SELECT doc_id, 'media', NULL, printf('img_%08d_00.png', doc_id), 2
  FROM src WHERE has_img
  UNION ALL
  SELECT doc_id, 'text',
    'Portal ' || (doc_id % 7) || ' is a reader-supported publication',
    NULL, 1 + n_paras + CASE WHEN has_img THEN 1 ELSE 0 END
  FROM src
),
counts AS (
  SELECT doc_id % 7 AS site, md5(lower(trim(text))) AS bk,
    count(DISTINCT doc_id) AS c
  FROM spans0 WHERE kind = 'text' GROUP BY 1, 2
),
pages AS (
  SELECT doc_id % 7 AS site, count(DISTINCT doc_id) AS n FROM spans0 GROUP BY 1
),
boiler AS (
  SELECT site, bk FROM counts JOIN pages USING (site)
  WHERE c >= greatest(2, CAST(ceil(0.6 * n) AS BIGINT))
),
kept AS (
  SELECT s.doc_id, s.kind, s.text, s.media_ref, s.off
  FROM spans0 s LEFT JOIN boiler b
    ON b.site = s.doc_id % 7 AND s.kind = 'text'
       AND b.bk = md5(lower(trim(s.text)))
  WHERE b.bk IS NULL
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, kind, text, media_ref,
  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1 AS INTEGER)
    AS "offset",
  'site' || (doc_id % 7) || '.example' AS domain
FROM kept
"""


def q43_stream_hourly_rollup(spark, sf_dir):
    """Structured Streaming under the hard gate: the q29 hourly rollup
    run as a REAL readStream -> windowed agg -> writeStream job
    (availableNow trigger, complete mode, memory sink) whose final
    table must hash-equal the batch DuckDB oracle — proving the
    streaming execution path (file source, state store, complete-mode
    emission) computes the identical answer to the relational plan."""
    from .streaming import streaming_hourly_rollup

    return streaming_hourly_rollup(spark, sf_dir)


def q57_link_graph(spark, sf_dir):
    """Hyperlink graph extraction — the crawl-frontier discovery step:
    every page's <a href> references (whole-DOM walk, nav links
    included — unlike the main-content extractor) are RFC 3986 §5
    resolved against the page base (messy absolute, ../dot-segment
    relative, scheme-relative // forms all present in the corpus),
    canonicalized with the q50 normalizer, and collapsed to weighted
    edges (src, dst, anchor, nofollow, n) — parallel nav+body links
    become weight 2, rel=nofollow is carried, fragment-only / mailto /
    empty / inside-<script> decoys must produce nothing. DuckDB derives
    the exact edge list from doc_id arithmetic (the corpus construction
    rule, text/linkgraph.py). Plan: extraction+resolution are one
    zero-shuffle mapInPandas; the edge rollup is one hash aggregate —
    the q50 shuffle discipline."""
    from .text.linkgraph import edge_list, extract_links, synth_link_corpus

    docs = _t(spark, sf_dir, "documents")
    pages = synth_link_corpus(spark, docs, n_docs=64)
    return edge_list(extract_links(pages))


_Q57_URL = "printf('http://site%d.example/doc/%08d', {h}, {t})"


def _q57_edges_sql(with_anchor: bool) -> str:
    """Shared edge-list derivation for the q57/q58 oracles."""
    src = _Q57_URL.format(h="d % 7", t="d")
    rows = []
    for cond, tgt, host, anchor, nofollow, n in [
        ("d % 13 <> 0", "(3 * d + 1) % 64", "((3 * d + 1) % 64) % 7",
         "'study ' || CAST((3 * d + 1) % 64 AS VARCHAR)", "FALSE",
         "CASE WHEN d % 11 = 0 THEN 2 ELSE 1 END"),
        ("d % 13 <> 0 AND d % 3 >= 1", "(5 * d + 2) % 64", "d % 7",
         "'note & appendix ' || CAST((5 * d + 2) % 64 AS VARCHAR)", "FALSE",
         "1"),
        ("d % 13 <> 0 AND d % 3 = 2", "(7 * d + 3) % 64",
         "((7 * d + 3) % 64) % 7",
         "'sponsor ' || CAST((7 * d + 3) % 64 AS VARCHAR)", "TRUE", "1"),
    ]:
        dst = _Q57_URL.format(h=host, t=tgt)
        extra = f"{anchor} AS anchor, {nofollow} AS nofollow," if with_anchor else ""
        rows.append(
            f"SELECT {src} AS src, {dst} AS dst, {extra}\n"
            f"  CAST({n} AS BIGINT) AS n FROM ds WHERE {cond}"
        )
    return "\nUNION ALL\n".join(rows)


def _q57_oracle() -> str:
    return f"""
WITH ds AS (SELECT doc_id AS d FROM documents WHERE doc_id < 64)
{_q57_edges_sql(with_anchor=True)}
"""


def q58_link_pagerank(spark, sf_dir):
    """Integer-exact PageRank over the parsed link graph — the
    authority signal a crawl scheduler / quality ranker runs over the
    snapshot. Edges come from the REAL q57 extraction (parser + RFC
    3986 resolution in the loop, not a planted edge table); rank runs
    in int64 micro-units with floor division (bit-deterministic, so a
    float-free value-hash gate works), closed-world over the captured
    node set, dangling mass dropped, parallel edges weighted. The
    DuckDB oracle unrolls the same 3 damped iterations in integer SQL.
    Plan: the edge⋈outdeg relation is static across iterations; only
    (url, int64) rank rows shuffle per round — the dup_clusters
    iteration discipline (text/linkgraph.py docstring for the 10^12
    posture)."""
    from .text.linkgraph import (
        edge_list,
        extract_links,
        pagerank,
        synth_link_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    pages = synth_link_corpus(spark, docs, n_docs=64)
    edges = edge_list(extract_links(pages)).groupBy("src", "dst").agg(
        F.sum("n").alias("n")
    )
    return pagerank(edges, pages.select("url"), iterations=3)


def _q58_oracle() -> str:
    from .text.linkgraph import DAMP_DEN, DAMP_NUM, RANK_SCALE

    base = (RANK_SCALE * DAMP_DEN - RANK_SCALE * DAMP_NUM) // DAMP_DEN
    iters = []
    for k in range(1, 4):
        iters.append(f"""
r{k} AS (
  SELECT n.url,
    CAST({base} + coalesce(sum(
      ({DAMP_NUM} * r.rank_micro * e.n) // ({DAMP_DEN} * e.od)), 0) AS BIGINT)
      AS rank_micro
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.url
  LEFT JOIN r{k - 1} r ON r.url = e.src
  GROUP BY n.url
)""")
    return f"""
WITH ds AS (SELECT doc_id AS d FROM documents WHERE doc_id < 64),
nodes AS (
  SELECT {_Q57_URL.format(h="d % 7", t="d")} AS url FROM ds
),
raw AS (
{_q57_edges_sql(with_anchor=False)}
),
inco AS (
  SELECT src, dst, sum(n) AS n FROM raw
  WHERE dst IN (SELECT url FROM nodes) GROUP BY src, dst
),
odeg AS (SELECT src, sum(n) AS od FROM inco GROUP BY src),
edges AS (SELECT i.src, i.dst, i.n, o.od FROM inco i JOIN odeg o USING (src)),
r0 AS (SELECT url, CAST({RANK_SCALE} AS BIGINT) AS rank_micro FROM nodes),
{",".join(iters)}
SELECT url, rank_micro FROM r3
"""


def q59_crawl_snapshot_diff(spark, sf_dir):
    """Incremental-recrawl change detection — the CDC step a continuous
    crawl runs between snapshots: two WARC corpora are built through
    the full archive chain (snapshot A = docs 0..63; snapshot B = docs
    0..71 with doc_id%4==2 pages dropped and doc_id%4==1 pages'
    text mutated), indexed with the q49 CDX machinery (payload digests
    of the transfer-decoded bytes), and FULL OUTER joined on URL to
    classify every capture as added / removed / changed / unchanged by
    digest compare. The oracle derives the classification from the
    corpus construction rule (doc_id arithmetic) — so a reader bug, a
    digest bug, or a framing difference between the two snapshot builds
    flips a class and breaks the hash. Plan: two zero-shuffle index
    kernels + ONE outer-join exchange on 16-byte-ish URL keys (outer
    joins cannot broadcast — non-matches on both sides survive); page
    bytes never shuffle. At 10^12 captures both sides are
    digest-sized rows, the narrowest possible diff."""
    from .text.warc import synth_warc_corpus, warc_cdx_index

    docs = _t(spark, sf_dir, "documents")
    a_docs = docs.where(F.col("doc_id") < 64)
    b_docs = docs.where(
        (F.col("doc_id") < 72) & (F.col("doc_id") % 4 != 2)
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("UPDATED "), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.col("text")),
    )

    def pages_index(src, n):
        idx = warc_cdx_index(synth_warc_corpus(spark, src, n_docs=n))
        return idx.where(
            (F.col("status") == 200) & (F.col("mime") == "text/html")
        ).select("url", "digest")

    a = pages_index(a_docs, 64).withColumnRenamed("digest", "digest_a")
    b = pages_index(b_docs, 72).withColumnRenamed("digest", "digest_b")
    joined = a.join(b, "url", "full_outer")
    return joined.select(
        "url",
        F.when(F.col("digest_a").isNull(), F.lit("added"))
        .when(F.col("digest_b").isNull(), F.lit("removed"))
        .when(F.col("digest_a") != F.col("digest_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )


def _q59_oracle() -> str:
    return """
SELECT printf('http://site%d.example/doc/%08d', doc_id % 7, doc_id) AS url,
  CASE WHEN doc_id >= 64 THEN 'added'
       WHEN doc_id % 4 = 2 THEN 'removed'
       WHEN doc_id % 4 = 1 THEN 'changed'
       ELSE 'unchanged' END AS change
FROM documents
WHERE doc_id < 72 AND NOT (doc_id >= 64 AND doc_id % 4 = 2)
"""


def q60_gopher_quality(spark, sf_dir):
    """Gopher-rule document quality gate (Rae et al. 2021 §A1.1) — the
    published heuristic filter set LLM training pipelines run before
    dedup: word-count bounds, mean-word-length band, stopword presence,
    symbol-word / bullet-line / ellipsis-line caps. All metrics are
    INTEGER formulations (x100 fixed-point mean, cross-multiplied
    thresholds) so the verdict is engine-exact under the value-hash
    gate — float ratios cannot be. Pure Catalyst over the full
    documents table (whole-stage codegen, zero Python), one projection,
    no shuffle: the 100-TB posture is a map-only scan."""
    from .text.analysis import gopher_quality

    docs = _t(spark, sf_dir, "documents", spread=True)
    return gopher_quality(docs.select("doc_id", "text")).select(
        "doc_id",
        "word_count",
        "mean_word_len_x100",
        "stop_hits",
        "symbol_words",
        "n_lines",
        "bullet_lines",
        "ellipsis_lines",
        "passes",
    )


def _q60_oracle() -> str:
    from .text.analysis import GOPHER_STOPWORDS

    stop_sum = " + ".join(
        f"CAST(list_contains(wl, '{s}') AS BIGINT)" for s in GOPHER_STOPWORDS
    )
    return f"""
WITH base AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                w -> w <> '') AS words,
    CAST(strlen(regexp_replace(coalesce(text, ''), '\\s', '', 'g'))
         AS BIGINT) AS nws,
    string_split(coalesce(text, ''), chr(10)) AS lines
  FROM documents
),
counted AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS word_count,
    nws,
    (SELECT {stop_sum} FROM
      (SELECT list_transform(words, w -> lower(w)) AS wl)) AS stop_hits,
    CAST(len(list_filter(words, w ->
      contains(w, '#') OR contains(w, '...') OR contains(w, '…')))
      AS BIGINT) AS symbol_words,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(list_filter(lines, l ->
      substring(ltrim(l), 1, 1) = '-' OR substring(ltrim(l), 1, 1) = '*'
      OR substring(ltrim(l), 1, 1) = '•')) AS BIGINT) AS bullet_lines,
    CAST(len(list_filter(lines, l ->
      right(rtrim(l), 3) = '...' OR right(rtrim(l), 1) = '…'))
      AS BIGINT) AS ellipsis_lines
  FROM base
)
SELECT doc_id, word_count,
  CASE WHEN word_count > 0 THEN (100 * nws) // word_count
       ELSE 0 END AS mean_word_len_x100,
  stop_hits, symbol_words, n_lines, bullet_lines, ellipsis_lines,
  (word_count >= 30 AND word_count <= 100000
   AND (CASE WHEN word_count > 0 THEN (100 * nws) // word_count ELSE 0 END)
       BETWEEN 300 AND 1000
   AND stop_hits >= 2
   AND 10 * symbol_words < word_count
   AND 10 * bullet_lines < 9 * n_lines
   AND 10 * ellipsis_lines < 3 * n_lines) AS passes
FROM counted
"""


def q61_wet_roundtrip(spark, sf_dir):
    """WET text-export sink under the hard gate — the WRITE half of the
    archive layer (Common Crawl's .wet convention: extracted plain text
    re-archived as ISO 28500 `conversion` records, one gzip member per
    record). Pipeline: WARC corpus -> reader -> main-content spans ->
    per-doc text (text spans joined by newline in span order) ->
    wet_export WRITES real WET files -> wet_extract_text reads them
    back -> (url, md5, length). The oracle derives the same text
    relationally from the q44 span rule — so the writer's record
    grammar, gzip member framing, UTF-8 payload round-trip, and the
    reader all sit under one hash. Plan: span assembly is one
    collect_list agg; file build is one applyInPandas group; text
    never shuffles twice."""
    from .text.html_extract import html_extract_spans
    from .text.warc import (
        synth_warc_corpus,
        warc_extract_html,
        wet_export,
        wet_extract_text,
    )

    docs = _t(spark, sf_dir, "documents")
    pages = warc_extract_html(synth_warc_corpus(spark, docs, n_docs=64))
    spans = html_extract_spans(pages)
    texts = (
        spans.where(F.col("kind") == "text")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("offset", "text"))),
                    lambda x: x["text"],
                ),
                "\n",
            ).alias("text")
        )
    )
    urls = pages.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").alias("did"),
        "url",
    )
    texts = texts.join(F.broadcast(urls), "doc_id").select(
        F.col("did").alias("doc_id"), "url", "text"
    )
    back = wet_extract_text(wet_export(texts))
    return back.select(
        "url",
        F.md5(F.col("text")).alias("text_digest"),
        F.length("text").cast("long").alias("n_chars"),
    )


def _q61_oracle() -> str:
    return f"""
WITH s AS (SELECT * FROM ({_q44_oracle()}) WHERE kind = 'text'),
j AS (
  SELECT CAST(doc_id AS BIGINT) AS d,
         string_agg(text, chr(10) ORDER BY "offset") AS t
  FROM s GROUP BY 1
)
SELECT printf('http://site%d.example/doc/%08d', d % 7, d) AS url,
  md5(t) AS text_digest, CAST(strlen(t) AS BIGINT) AS n_chars
FROM j
"""


def q62_politeness_schedule(spark, sf_dir):
    """Host-politeness fetch scheduler — the frontier step after robots
    filtering: canonicalized distinct URLs are assigned per-host fetch
    slots honoring a per-domain crawl delay (delay derived from the
    domain's site digit: 1 + k % 5 seconds — the deterministic stand-in
    for a robots Crawl-delay/operator config). slot = dense per-domain
    position ordered by canonical URL; fetch_ts_s = slot * delay. The
    input is the q50 messy-capture log, so URL canonicalization AND
    capture dedup sit inside this gate too. Plan: ONE shuffle (the
    window partition on domain). Scale note: politeness serializes each
    host by definition, so the crawl's parallelism bound is #hosts, not
    #URLs — the window shape matches that reality; a mega-host is a
    long schedule, not a skew pathology, and needs no salting because
    its fetches cannot be parallelized anyway."""
    from pyspark.sql import Window

    from .text.urlnorm import normalize_urls, synth_messy_urls

    docs = _t(spark, sf_dir, "documents")
    caps = (
        normalize_urls(synth_messy_urls(spark, docs, n_docs=64))
        .where(F.col("url_norm").isNotNull())
        .select("url_norm", "domain")
        .distinct()
    )
    delay = (
        F.lit(1)
        + F.regexp_extract(F.col("domain"), r"([0-9])", 1).cast("int") % 5
    ).cast("long")
    w = Window.partitionBy("domain").orderBy("url_norm")
    return caps.select(
        "url_norm",
        "domain",
        (F.row_number().over(w) - 1).cast("long").alias("slot"),
        ((F.row_number().over(w) - 1).cast("long") * delay).alias(
            "fetch_ts_s"
        ),
    )


def _q62_oracle() -> str:
    return f"""
WITH clean AS ({_q50_oracle()}),
urls AS (SELECT DISTINCT url_norm, domain FROM clean),
slotted AS (
  SELECT url_norm, domain,
    CAST(row_number() OVER (PARTITION BY domain ORDER BY url_norm) - 1
         AS BIGINT) AS slot,
    CAST(1 + CAST(regexp_extract(domain, '([0-9])', 1) AS INTEGER) % 5
         AS BIGINT) AS delay
  FROM urls
)
SELECT url_norm, domain, slot, slot * delay AS fetch_ts_s FROM slotted
"""


def q63_substring_dup_windows(spark, sf_dir):
    """Exact-substring duplication detection (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better' — the
    suffix-array family, expressed as windowed hashing): every 32-char
    character window of every document is materialized and aggregated;
    windows occurring in >= 2 DISTINCT documents are the
    cross-document duplicated substrings a span-level dedup pass would
    excise. Pure Catalyst (explode(sequence) + substring + one
    hash-agg with map-side partial aggregation) — no Python. Scale
    posture: the shuffle carries L x corpus rows; a 10^12-doc run
    samples window positions (every k-th) or pre-hashes windows to
    8-byte keys before the agg — both documented reductions of the
    same semantics, which this gate pins exactly."""
    W = 32
    docs = _t(spark, sf_dir, "documents", spread=True)
    wins = (
        docs.select("doc_id", "text")
        .where(F.length(F.coalesce(F.col("text"), F.lit(""))) >= W)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.length("text") - W)
            ).alias("p"),
            "text",
        )
        .select("doc_id", F.expr(f"substring(text, p + 1, {W})").alias("win"))
    )
    return (
        wins.groupBy("win")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
    )


def _q63_oracle() -> str:
    return """
WITH w AS (
  SELECT doc_id, substring(text, CAST(p AS INTEGER) + 1, 32) AS win
  FROM documents,
    LATERAL (SELECT unnest(range(0, length(coalesce(text, '')) - 32 + 1))
             AS p)
  WHERE length(coalesce(text, '')) >= 32
)
SELECT win, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_occ
FROM w GROUP BY win HAVING count(DISTINCT doc_id) >= 2
"""


def q64_gopher_repetition(spark, sf_dir):
    """Gopher repetition rules (the §A1.1 repetition family, word
    level): most-frequent-word and most-frequent-bigram counts with
    x1000 fixed-point fractions and the passes_repetition verdict
    (top word <= 15.0%%, top bigram <= 6.0%% — adapted thresholds,
    documented in text/analysis.py). Complements q60's length/
    stopword/symbol rules; together they are the published pre-dedup
    quality gate. Pure-Catalyst higher-order functions, zero-exchange
    pruned scan."""
    from .text.analysis import gopher_repetition

    docs = _t(spark, sf_dir, "documents", spread=True)
    return gopher_repetition(docs.select("doc_id", "text")).select(
        "doc_id",
        "top_word_cnt",
        "top_word_frac_x1000",
        "top_bigram_cnt",
        "top_bigram_frac_x1000",
        "passes_repetition",
    )


def _q64_oracle() -> str:
    return """
WITH b AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                w -> w <> '') AS w
  FROM documents
),
g AS (
  SELECT doc_id, w,
    CASE WHEN len(w) >= 2
      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
      ELSE [] END AS bg,
    CAST(len(w) AS BIGINT) AS wc
  FROM b
),
m AS (
  SELECT doc_id, wc,
    coalesce(list_max(list_transform(w, x ->
      CAST(len(list_filter(w, y -> y = x)) AS BIGINT))), 0) AS top_word_cnt,
    coalesce(list_max(list_transform(bg, x ->
      CAST(len(list_filter(bg, y -> y = x)) AS BIGINT))), 0)
      AS top_bigram_cnt
  FROM g
)
SELECT doc_id, top_word_cnt,
  CASE WHEN wc > 0 THEN (1000 * top_word_cnt) // wc ELSE 0 END
    AS top_word_frac_x1000,
  top_bigram_cnt,
  CASE WHEN wc > 1 THEN (1000 * top_bigram_cnt) // (wc - 1) ELSE 0 END
    AS top_bigram_frac_x1000,
  ((top_word_cnt <= 1 OR
    (CASE WHEN wc > 0 THEN (1000 * top_word_cnt) // wc ELSE 0 END) <= 150)
   AND (top_bigram_cnt <= 1 OR
    (CASE WHEN wc > 1 THEN (1000 * top_bigram_cnt) // (wc - 1)
     ELSE 0 END) <= 60)) AS passes_repetition
FROM m
"""


def q65_c4_line_filter(spark, sf_dir):
    """C4 line-level page cleaning (Raffel et al. 2020 §2.2) — the
    published pre-dedup pass between extraction (q44/q48) and the
    Gopher gates (q60/q64): keep lines ending in terminal punctuation
    with >= 5 words and no javascript/policy boilerplate; kill pages
    carrying 'lorem ipsum', a curly brace, or < 3 surviving
    sentences. A deterministic raw page per documents row (5-word
    body windows with rule-violating mutations plus boilerplate lines
    injected by doc_id arithmetic) is filtered by text/c4.py; the
    oracle reconstructs page AND verdict relationally, so line
    segmentation, every string predicate, and the retained-text md5
    sit under one hash. Pure Catalyst, zero-exchange map-only scan —
    the 100-TB posture is 'free' next to the extraction that feeds
    it."""
    from .text.c4 import c4_filter, synth_c4_pages

    docs = _t(spark, sf_dir, "documents", spread=True)
    return c4_filter(synth_c4_pages(docs)).select(
        "doc_id", "n_lines", "kept_lines", "page_kept", "clean_md5"
    )


def _q65_oracle() -> str:
    from .text.c4 import (
        MAX_BODY_LINES,
        MIN_LINE_WORDS,
        MIN_SENTENCES,
        POLICY_PHRASES,
    )

    policy = " OR ".join(
        f"contains(lower(l), '{p}')" for p in POLICY_PHRASES
    )
    return f"""
WITH b AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                w -> w <> '') AS w
  FROM documents
),
pg AS (
  SELECT doc_id,
    array_to_string(list_concat(
      list_transform(range(0, least(len(w) // 5, {MAX_BODY_LINES})),
        i -> CASE WHEN (doc_id + i) % 4 = 1
          THEN array_to_string(list_slice(w, i*5 + 1,
            i*5 + CASE WHEN (doc_id + i) % 3 = 0 THEN 4 ELSE 5 END), ' ')
          ELSE array_to_string(list_slice(w, i*5 + 1,
            i*5 + CASE WHEN (doc_id + i) % 3 = 0 THEN 4 ELSE 5 END), ' ')
            || '.' END),
      list_concat(list_concat(list_concat(
        CASE WHEN doc_id % 9 = 2 THEN ['this website uses cookies to improve your experience.'] ELSE [] END,
        CASE WHEN doc_id % 7 = 0 THEN ['please enable javascript to view this page.'] ELSE [] END),
        CASE WHEN doc_id % 11 = 3 THEN ['lorem ipsum dolor sit amet.'] ELSE [] END),
        CASE WHEN doc_id % 13 = 5 THEN ['function parse() {{'] ELSE [] END)
    ), chr(10)) AS page
  FROM b
),
f AS (
  SELECT doc_id, page,
    CAST(len(string_split(page, chr(10))) AS BIGINT) AS n_lines,
    list_filter(string_split(page, chr(10)), l ->
      right(l, 1) IN ('.', '!', '?', '"')
      AND len(list_filter(regexp_split_to_array(l, '\\s+'),
              w -> w <> '')) >= {MIN_LINE_WORDS}
      AND NOT contains(lower(l), 'javascript')
      AND NOT ({policy})) AS kept
  FROM pg
)
SELECT doc_id, n_lines,
  CAST(len(kept) AS BIGINT) AS kept_lines,
  (NOT contains(lower(page), 'lorem ipsum')
   AND NOT contains(page, '{{')
   AND len(kept) >= {MIN_SENTENCES}) AS page_kept,
  CASE WHEN NOT contains(lower(page), 'lorem ipsum')
        AND NOT contains(page, '{{')
        AND len(kept) >= {MIN_SENTENCES}
    THEN md5(array_to_string(kept, chr(10))) ELSE NULL END AS clean_md5
FROM f
"""


def q66_url_filter(spark, sf_dir):
    """URL-level frontier filtering (RefinedWeb §2.2 / Appendix G.1)
    — the stage BEFORE fetch: domain blocklist matched at every
    dot-suffix level, weighted soft-word score over distinct URL
    tokens, curated allowlist overriding both. The deterministic
    frontier puts every rule under the hash (blocklisted domain,
    blocked subdomain, allowlisted host carrying a banned word,
    word-score paths at/below threshold). Scale posture: suffix and
    token matching are BROADCAST equi-joins against list relations
    (production blocklists hold millions of rows — no literal
    folding), and the only shuffles carry (doc_id, bool/int) pairs."""
    from .text.urlfilter import synth_frontier_urls, url_filter

    docs = _t(spark, sf_dir, "documents", spread=True)
    return url_filter(spark, synth_frontier_urls(docs))


def _q66_oracle() -> str:
    return """
WITH src AS (
  SELECT doc_id, doc_id % 7 AS m7, doc_id % 5 AS m5 FROM documents
),
u AS (
  SELECT doc_id, m7, m5,
    CASE m7 WHEN 3 THEN 'casino-win.example'
            WHEN 5 THEN 'ads.tracker.net'
            WHEN 6 THEN 'poker.archive.example'
            ELSE 'site' || m7 || '.example' END AS host,
    CASE m5 WHEN 1 THEN '/free-download' WHEN 2 THEN '/bet-now'
            WHEN 3 THEN '/win-big' ELSE '/news' END AS seg,
    CASE WHEN m7 = 3 THEN 3 WHEN m7 = 6 THEN 2 ELSE 0 END
      + CASE m5 WHEN 1 THEN 2 WHEN 2 THEN 2
                WHEN 3 THEN (CASE WHEN m7 = 3 THEN 0 ELSE 1 END)
                ELSE 0 END AS score
  FROM src
),
v AS (
  SELECT doc_id,
    'http://' || host || '/page/' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
      || seg AS url,
    host, CAST(score AS BIGINT) AS score,
    CASE WHEN m7 = 6 THEN 'allowlist'
         WHEN m7 IN (3, 5) THEN 'domain_blocklist'
         WHEN score >= 2 THEN 'word_score'
         ELSE 'clean' END AS reason
  FROM u
)
SELECT doc_id, url, host, score, reason,
  reason IN ('allowlist', 'clean') AS allowed
FROM v
"""


BM25_QUERY_TERMS = ("spark", "vector", "customer")


def q67_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (Robertson & Zaragoza 2009; the Lucene
    idf variant) — the search half of corpus indexing: contamination
    and eval-leakage scans at training scale are exactly 'rank the
    corpus against a query'. Integer-exact scoring (x1e6-floored
    double idf — both engines' ln probed bit-identical across a dense
    (N, df) sweep — times an x1000 exact-rational tf saturation term;
    per-term int contributions so the sum is order-free), k=20 with a
    doc_id tiebreak for a deterministic cut. Plan: one explode+agg
    token pass shared by postings and doc lengths, query-term filter
    FIRST (bucket-prunable on a real index), df/idf and corpus
    constants broadcast, TakeOrderedAndProject for the cut."""
    from .text.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents", spread=True)
    return bm25_topk(
        docs.select("doc_id", "text"), BM25_QUERY_TERMS, k=20
    )


def _q67_oracle() -> str:
    from .text.retrieval import IDF_SCALE, TFC_SCALE

    qlist = ", ".join(f"'{t}'" for t in sorted(BM25_QUERY_TERMS))
    return f"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
      '[^a-z0-9]+'), t -> t <> '')) AS term
  FROM documents
),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS n_toks FROM dl
),
hits AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN ({qlist}) GROUP BY term, doc_id
),
idf AS (
  SELECT term,
    CAST(floor({IDF_SCALE} * ln(1.0 +
      (2.0 * n_docs - 2 * df + 1) / (2 * df + 1))) AS BIGINT) AS idf_micro
  FROM (SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM hits GROUP BY term) CROSS JOIN stats
),
scored AS (
  SELECT h.doc_id,
    CAST(sum(i.idf_micro * (({TFC_SCALE} * 22 * h.tf * s.n_toks) //
      (10 * s.n_toks * h.tf + 3 * s.n_toks + 9 * d.dl * s.n_docs)))
      AS BIGINT) AS score,
    CAST(count(*) AS BIGINT) AS n_hits
  FROM hits h JOIN idf i USING (term) JOIN dl d ON h.doc_id = d.doc_id
  CROSS JOIN stats s
  GROUP BY h.doc_id
)
SELECT doc_id, score, n_hits FROM scored
ORDER BY score DESC, doc_id LIMIT 20
"""


def q68_inverted_index_stats(spark, sf_dir):
    """Inverted-index construction statistics: per-term df, cf, and
    the argmax posting (top_doc/top_tf, doc_id-min tiebreak) over the
    (term, doc_id, tf) postings relation — the build side of q67's
    retrieval. Two integer-row shuffles (postings hash-agg, per-term
    rollup); at warehouse scale the postings write is bucketed by
    term so retrieval prunes instead of scanning."""
    from .text.retrieval import index_stats

    docs = _t(spark, sf_dir, "documents")
    return index_stats(docs.select("doc_id", "text"))


def _q68_oracle() -> str:
    return """
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
      '[^a-z0-9]+'), t -> t <> '')) AS term
  FROM documents
),
p AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY term, doc_id
),
r AS (
  SELECT term, tf, doc_id,
    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id ASC)
      AS rn,
    CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df,
    CAST(sum(tf) OVER (PARTITION BY term) AS BIGINT) AS cf
  FROM p
)
SELECT term, df, cf, doc_id AS top_doc, tf AS top_tf FROM r WHERE rn = 1
"""


def q69_html_metadata(spark, sf_dir):
    """Crawl-index head metadata: <title> (rawtext, entity-decoded),
    meta description, og:title, rel=canonical link, publication date
    (meta date | article:published_time) — the fields a crawl index
    keys on next to q49's digests. The corpus splices a deliberately
    messy metadata block into the standard q44 page (uppercase tags,
    single-quoted AND unquoted attribute values, swapped attribute
    order, entities in content, doc_id-ruled omissions so every
    column exercises NULL); the oracle derives every field from
    doc_id arithmetic, so tokenizer attribute handling, case
    folding, first-wins repeats, and entity decode all sit under the
    hash. Shuffle-free mapInPandas — the q44 extraction shape."""
    from .text.html_extract import html_metadata, synth_metadata_corpus

    docs = _t(spark, sf_dir, "documents", spread=True)
    return html_metadata(synth_metadata_corpus(spark, docs, n_docs=64))


def _q69_oracle() -> str:
    return """
SELECT doc_id,
  'site ' || (doc_id % 7) || ' — page' AS title,
  CASE WHEN doc_id % 4 <> 1
    THEN 'doc ' || doc_id || ' summary & notes' END AS description,
  CASE WHEN doc_id % 6 <> 2
    THEN 'Portal ' || (doc_id % 7) || ' — ' ||
         printf('%08d', doc_id) END AS og_title,
  CASE WHEN doc_id % 5 <> 3
    THEN 'http://site' || (doc_id % 7) || '.example/doc/' ||
         printf('%08d', doc_id) END AS canonical,
  CASE WHEN doc_id % 7 <> 4
    THEN '2024-' || printf('%02d', 1 + doc_id % 12) || '-' ||
         printf('%02d', 1 + doc_id % 28) END AS pub_date
FROM documents WHERE doc_id < 64
"""


FUNNEL_STAGES = (
    "extracted",
    "c4_clean",
    "gopher_quality",
    "gopher_repetition",
    "exact_dedup",
)


def q70_quality_funnel(spark, sf_dir):
    """Pipeline attrition report — the observability artifact every
    published data card carries: documents surviving each cleaning
    stage in sequence (extracted -> C4 page cleaning -> Gopher
    length/symbol gate -> Gopher repetition gate -> exact dedup
    keep-min). One 5-row output whose hash pins EVERY upstream rule
    at once: flip any verdict anywhere and a count moves. Plan: all
    four verdicts are expressions over one documents scan (the C4
    page is re-derived inline, q65's rule), the dedup flag is one
    md5-key window, then a single-row aggregate explodes into the
    stage rows — one narrow shuffle + one 1-row agg at any corpus
    size."""
    from pyspark.sql import Window

    from .text.analysis import gopher_quality, gopher_repetition
    from .text.c4 import c4_filter, synth_c4_pages

    docs = _t(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    base = c4_filter(synth_c4_pages(docs, keep_text=True)).select(
        "doc_id", "text", F.col("page_kept").alias("c4_ok")
    )
    base = gopher_quality(base).select(
        "doc_id", "text", "c4_ok", F.col("passes").alias("gq_ok")
    )
    base = gopher_repetition(base).select(
        "doc_id",
        "text",
        "c4_ok",
        "gq_ok",
        F.col("passes_repetition").alias("rep_ok"),
    )
    key = F.md5(F.coalesce(F.col("text"), F.lit("")))
    base = base.withColumn(
        "dd_ok",
        F.col("doc_id")
        == F.min("doc_id").over(Window.partitionBy(key)),
    )
    one = base.agg(
        F.count("*").alias("s0"),
        F.sum(F.expr("CASE WHEN c4_ok THEN 1 END")).alias("s1"),
        F.sum(F.expr("CASE WHEN c4_ok AND gq_ok THEN 1 END")).alias("s2"),
        F.sum(
            F.expr("CASE WHEN c4_ok AND gq_ok AND rep_ok THEN 1 END")
        ).alias("s3"),
        F.sum(
            F.expr(
                "CASE WHEN c4_ok AND gq_ok AND rep_ok AND dd_ok"
                " THEN 1 END"
            )
        ).alias("s4"),
    ).select(
        *(F.coalesce(F.col(f"s{i}"), F.lit(0)).alias(f"s{i}")
          for i in range(5))
    )
    rows = F.array(
        *(
            F.struct(
                F.lit(i).alias("stage"),
                F.lit(nm).alias("stage_name"),
                F.col(f"s{i}").cast("long").alias("survivors"),
            )
            for i, nm in enumerate(FUNNEL_STAGES)
        )
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


def _q70_oracle() -> str:
    from .text.analysis import GOPHER_STOPWORDS
    from .text.c4 import (
        MAX_BODY_LINES,
        MIN_LINE_WORDS,
        MIN_SENTENCES,
        POLICY_PHRASES,
    )

    policy = " OR ".join(
        f"contains(lower(l), '{p}')" for p in POLICY_PHRASES
    )
    stop_sum = " + ".join(
        f"CAST(list_contains(wl, '{s}') AS BIGINT)" for s in GOPHER_STOPWORDS
    )
    stages = "\nUNION ALL ".join(
        f"SELECT {i} AS stage, '{nm}' AS stage_name, s{i} AS survivors"
        " FROM agg"
        for i, nm in enumerate(FUNNEL_STAGES)
    )
    return f"""
WITH b AS (
  SELECT doc_id, coalesce(text, '') AS text,
    list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                w -> w <> '') AS w
  FROM documents
),
pg AS (
  SELECT doc_id,
    array_to_string(list_concat(
      list_transform(range(0, least(len(w) // 5, {MAX_BODY_LINES})),
        i -> CASE WHEN (doc_id + i) % 4 = 1
          THEN array_to_string(list_slice(w, i*5 + 1,
            i*5 + CASE WHEN (doc_id + i) % 3 = 0 THEN 4 ELSE 5 END), ' ')
          ELSE array_to_string(list_slice(w, i*5 + 1,
            i*5 + CASE WHEN (doc_id + i) % 3 = 0 THEN 4 ELSE 5 END), ' ')
            || '.' END),
      list_concat(list_concat(list_concat(
        CASE WHEN doc_id % 9 = 2 THEN ['this website uses cookies to improve your experience.'] ELSE [] END,
        CASE WHEN doc_id % 7 = 0 THEN ['please enable javascript to view this page.'] ELSE [] END),
        CASE WHEN doc_id % 11 = 3 THEN ['lorem ipsum dolor sit amet.'] ELSE [] END),
        CASE WHEN doc_id % 13 = 5 THEN ['function parse() {{'] ELSE [] END)
    ), chr(10)) AS page
  FROM b
),
c4 AS (
  SELECT doc_id,
    (NOT contains(lower(page), 'lorem ipsum')
     AND NOT contains(page, '{{')
     AND len(list_filter(string_split(page, chr(10)), l ->
       right(l, 1) IN ('.', '!', '?', '"')
       AND len(list_filter(regexp_split_to_array(l, '\\s+'),
               x -> x <> '')) >= {MIN_LINE_WORDS}
       AND NOT contains(lower(l), 'javascript')
       AND NOT ({policy}))) >= {MIN_SENTENCES}) AS c4_ok
  FROM pg
),
gq AS (
  SELECT doc_id,
    (word_count >= 30 AND word_count <= 100000
     AND mwl BETWEEN 300 AND 1000 AND stop_hits >= 2
     AND 10 * symbol_words < word_count
     AND 10 * bullet_lines < 9 * n_lines
     AND 10 * ellipsis_lines < 3 * n_lines) AS gq_ok
  FROM (
    SELECT doc_id, CAST(len(w) AS BIGINT) AS word_count,
      CASE WHEN len(w) > 0 THEN (100 * CAST(strlen(regexp_replace(
        text, '\\s', '', 'g')) AS BIGINT)) // len(w) ELSE 0 END AS mwl,
      (SELECT {stop_sum} FROM
        (SELECT list_transform(w, x -> lower(x)) AS wl)) AS stop_hits,
      CAST(len(list_filter(w, x -> contains(x, '#')
        OR contains(x, '...') OR contains(x, '…'))) AS BIGINT)
        AS symbol_words,
      CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      CAST(len(list_filter(string_split(text, chr(10)), l ->
        substring(ltrim(l), 1, 1) = '-' OR substring(ltrim(l), 1, 1) = '*'
        OR substring(ltrim(l), 1, 1) = '•')) AS BIGINT) AS bullet_lines,
      CAST(len(list_filter(string_split(text, chr(10)), l ->
        right(rtrim(l), 3) = '...' OR right(rtrim(l), 1) = '…'))
        AS BIGINT) AS ellipsis_lines
    FROM b
  )
),
g AS (
  SELECT doc_id, w,
    CASE WHEN len(w) >= 2
      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
      ELSE [] END AS bg,
    CAST(len(w) AS BIGINT) AS wc
  FROM b
),
rep AS (
  SELECT doc_id,
    ((twc <= 1 OR (CASE WHEN wc > 0 THEN (1000 * twc) // wc ELSE 0 END)
        <= 150)
     AND (tbc <= 1 OR (CASE WHEN wc > 1 THEN (1000 * tbc) // (wc - 1)
        ELSE 0 END) <= 60)) AS rep_ok
  FROM (
    SELECT doc_id, wc,
      coalesce(list_max(list_transform(w, x ->
        CAST(len(list_filter(w, y -> y = x)) AS BIGINT))), 0) AS twc,
      coalesce(list_max(list_transform(bg, x ->
        CAST(len(list_filter(bg, y -> y = x)) AS BIGINT))), 0) AS tbc
    FROM g
  )
),
dd AS (
  SELECT doc_id,
    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS dd_ok
  FROM b
),
j AS (
  SELECT b.doc_id, c4_ok, gq_ok, rep_ok, dd_ok
  FROM b JOIN c4 USING (doc_id) JOIN gq USING (doc_id)
  JOIN rep USING (doc_id) JOIN dd USING (doc_id)
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS s0,
    CAST(coalesce(sum(CASE WHEN c4_ok THEN 1 END), 0) AS BIGINT) AS s1,
    CAST(coalesce(sum(CASE WHEN c4_ok AND gq_ok THEN 1 END), 0)
      AS BIGINT) AS s2,
    CAST(coalesce(sum(CASE WHEN c4_ok AND gq_ok AND rep_ok THEN 1 END),
      0) AS BIGINT) AS s3,
    CAST(coalesce(sum(CASE WHEN c4_ok AND gq_ok AND rep_ok AND dd_ok
      THEN 1 END), 0) AS BIGINT) AS s4
  FROM j
)
{stages}
"""


SAMPLE_QUOTA = 20
PACK_BUDGET = 256


def q71_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling — the training-mix draw:
    per language stratum, the SAMPLE_QUOTA docs with the smallest
    md5('mix-v1:' || doc_id) (doc_id tiebreak). A keyed uniform hash
    makes the draw reproducible across engines and redraws under a
    salt change — the ablation workflow's contract. Plan: one
    window rank per stratum; the 10^12-doc path preselects with the
    IVF sampler's hash-threshold predicate (similarity.py:297-331)
    so the sort input is ~quota-sized, then ranks exactly."""
    from .text.mixing import stratified_sample

    docs = _t(spark, sf_dir, "documents", spread=True)
    return stratified_sample(
        docs.select("lang", "doc_id"), quota=SAMPLE_QUOTA
    )


def _q71_oracle() -> str:
    return f"""
WITH r AS (
  SELECT lang, doc_id,
    row_number() OVER (PARTITION BY lang
      ORDER BY md5('mix-v1:' || CAST(doc_id AS VARCHAR)) ASC,
               doc_id ASC) AS rnk
  FROM documents
)
SELECT lang, doc_id, CAST(rnk AS INTEGER) AS rnk
FROM r WHERE rnk <= {SAMPLE_QUOTA}
"""


def q72_sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing (the GPT-pretraining layout:
    concatenate documents per stream, cut every PACK_BUDGET tokens):
    per language stream in doc_id order, emit each document's token
    count, running tape offset, and the first/last context window it
    lands in — exact integers (one running-sum window + two floor
    divisions). The window definition is inherently sequential per
    stream; production packs per (stratum, shard) so each shard's
    offsets are a narrow partition-local window, never a global
    sort (documented in text/mixing.py)."""
    from .text.mixing import pack_sequences

    docs = _t(spark, sf_dir, "documents", spread=True)
    return pack_sequences(
        docs.select("lang", "doc_id", "text"), budget=PACK_BUDGET
    )


def _q72_oracle() -> str:
    return f"""
WITH t AS (
  SELECT lang, doc_id,
    CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''),
      '\\s+'), w -> w <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
s AS (
  SELECT lang, doc_id, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
  FROM t WHERE n_tokens > 0
)
SELECT lang, doc_id, n_tokens, tok_end,
  CAST((tok_end - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin_start,
  CAST((tok_end - 1) // {PACK_BUDGET} AS BIGINT) AS bin_end
FROM s
"""


def q73_decontamination(spark, sf_dir):
    """Benchmark decontamination (the GPT-3 appendix-C rule: flag
    training documents sharing a 13-gram with an eval item). The
    deterministic eval set is leaked FROM the corpus — tokens
    [5, 25) of every doc_id %% 31 == 4 document — so every flagged
    (doc_id, eval_id, shared_ngrams) row is derivable relationally
    and the shingle windowing, hashing, and join all sit under the
    hash gate. Plan: corpus shingles explode map-side to 16-byte
    hashes, the eval shingle relation broadcasts (eval sets are tiny
    by definition), and the only shuffle carries (doc_id, eval_id)
    pairs into a count — MinHash-LSH's banded-join discipline
    (dedup.py) applied to contamination."""
    from .text.decontam import contamination_scan, synth_eval_set

    docs = _t(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return contamination_scan(docs, synth_eval_set(docs))


def _q73_oracle() -> str:
    from .text.decontam import EVAL_LEN, NGRAM_N

    return f"""
WITH b AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(coalesce(text, '')),
      '[^a-z0-9]+'), t -> t <> '') AS w
  FROM documents
),
ev AS (
  SELECT doc_id AS eval_id, list_slice(w, 6, 5 + {EVAL_LEN}) AS ew
  FROM b WHERE doc_id % 31 = 4 AND len(w) >= 5 + {EVAL_LEN}
),
eg AS (
  SELECT DISTINCT eval_id,
    unnest(list_transform(range(0, len(ew) - {NGRAM_N} + 1), i ->
      md5(array_to_string(list_slice(ew, i + 1, i + {NGRAM_N}), ' '))))
      AS g
  FROM ev
),
cg AS (
  SELECT DISTINCT doc_id,
    unnest(CASE WHEN len(w) >= {NGRAM_N}
      THEN list_transform(range(0, len(w) - {NGRAM_N} + 1), i ->
        md5(array_to_string(list_slice(w, i + 1, i + {NGRAM_N}), ' ')))
      ELSE [] END) AS g
  FROM b
)
SELECT cg.doc_id, eg.eval_id, CAST(count(*) AS BIGINT) AS shared_ngrams
FROM cg JOIN eg USING (g)
GROUP BY cg.doc_id, eg.eval_id
"""


def q74_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity quality split (Wenzek et al. 2020
    §4.3): score every document under an add-one unigram LM trained
    on the doc_id %% 10 == 0 reference slice, then cut head/middle/
    tail tertiles by per-token NLL (head = most reference-like).
    Integer-exact: per-token NLL floored at x1e6 from the double ln
    (engine-pair agreement probed — see text/retrieval.py), so doc
    sums are order-free ints and the tertile is an ntile over a
    total order. Plan: vocab-sized LM broadcast, explode + broadcast
    join + one narrow int shuffle; the tertile sort degrades to
    broadcast quantile thresholds at 10^12 docs (documented in
    text/decontam.py)."""
    from .text.decontam import perplexity_buckets

    docs = _t(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return perplexity_buckets(docs)


def _q74_oracle() -> str:
    from .text.decontam import NLL_SCALE

    return f"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
      '[^a-z0-9]+'), t -> t <> '')) AS term
  FROM documents
),
counts AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cnt
  FROM toks WHERE doc_id % 10 = 0 GROUP BY term
),
stats AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS vocab FROM counts
),
lm AS (
  SELECT term,
    CAST(floor({NLL_SCALE} * ln((1.0 * total + vocab) / (cnt + 1)))
      AS BIGINT) AS nll_micro
  FROM counts CROSS JOIN stats
),
scored AS (
  SELECT t.doc_id,
    CAST(count(*) AS BIGINT) AS n_tokens,
    CAST(sum(coalesce(lm.nll_micro,
      (SELECT CAST(floor({NLL_SCALE} * ln(1.0 * total + vocab))
        AS BIGINT) FROM stats))) AS BIGINT) AS nll_sum
  FROM toks t LEFT JOIN lm USING (term)
  GROUP BY t.doc_id
),
ranked AS (
  SELECT doc_id, n_tokens, nll_sum // n_tokens AS nll_micro_per_tok
  FROM scored
)
SELECT doc_id, n_tokens, nll_micro_per_tok,
  CASE ntile(3) OVER (ORDER BY nll_micro_per_tok ASC, doc_id ASC)
    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM ranked
"""


BPE_TOPK = 50


def q75_bpe_pair_stats(spark, sf_dir):
    """Tokenizer-training statistics — the counting step of BPE
    (Sennrich et al. 2016): build the word-frequency vocabulary, then
    count adjacent character pairs weighted by word frequency; the
    argmax pair is the next merge. Emits the top-BPE_TOPK merge
    candidates (left, right, pair_count) with a deterministic
    (count desc, left, right) cut. Plan: two hash-aggs over integer/
    short-string rows (word counts, then pair counts — both partial-
    agg friendly) and a TakeOrderedAndProject; per-word pair
    expansion is a higher-order transform, zero Python. The repeated-
    pair subtlety (a word contributes freq x occurrences for a pair
    appearing twice in it, e.g. 'aaa' -> ('a','a') x2) matches the
    published algorithm."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    words = (
        docs.select(
            F.explode(
                F.expr(
                    "filter(split(lower(coalesce(text, '')),"
                    " '[^a-z0-9]+'), t -> t != '')"
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = (
        words.where(F.length("word") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> struct(substring(word, i, 1) AS l,"
                    " substring(word, i + 1, 1) AS r))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("freq").alias("pair_count"))
    )
    return pairs.orderBy(
        F.desc("pair_count"), F.asc("left"), F.asc("right")
    ).limit(BPE_TOPK)


def _q75_oracle() -> str:
    return f"""
WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(list_filter(regexp_split_to_array(
      lower(coalesce(text, '')), '[^a-z0-9]+'), t -> t <> '')) AS word
    FROM documents
  ) GROUP BY word
),
pairs AS (
  SELECT substring(word, i, 1) AS "left",
    substring(word, i + 1, 1) AS "right",
    CAST(sum(freq) AS BIGINT) AS pair_count
  FROM words CROSS JOIN LATERAL (
    SELECT unnest(range(1, strlen(word))) AS i
  ) g
  WHERE strlen(word) >= 2
  GROUP BY 1, 2
)
SELECT "left", "right", pair_count FROM pairs
ORDER BY pair_count DESC, "left" ASC, "right" ASC LIMIT {BPE_TOPK}
"""


DSIR_TOPK = 100


def q76_dsir_selection(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): score every document by
    the hashed-ngram importance weight ln p(x) - ln q(x), where p is
    a bag-of-hashed-unigram+bigram model over the deterministic
    in-corpus target slice (doc_id %% 7 == 3) and q the same model
    over the raw corpus; emit the top-DSIR_TOPK docs (weight desc,
    doc_id tiebreak). Integer-exact via the floor-of-ln micro-unit
    discipline (q67/q74), so the full estimator — feature hashing,
    add-one smoothing, log-ratio sum, top-k cut — sits under the
    value-hash gate. Plan: map-only feature explode, a B-bounded
    (B=1024) model shuffle, broadcast score-back, one narrow
    (doc_id, int) agg, TakeOrderedAndProject."""
    from .text.mixing import dsir_select

    docs = _t(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return dsir_select(docs, top_k=DSIR_TOPK)


def _q76_oracle() -> str:
    from .text.mixing import DSIR_BUCKETS, DSIR_SCALE

    B, S = DSIR_BUCKETS, DSIR_SCALE
    return f"""
WITH b0 AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(coalesce(text, '')),
      '[^a-z0-9]+'), t -> t <> '') AS w
  FROM documents
),
f AS (
  SELECT doc_id,
    CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) % {B} AS b
  FROM (
    SELECT doc_id, unnest(list_concat(w,
      list_transform(range(1, greatest(len(w), 1)),
        i -> w[i] || ' ' || w[i + 1]))) AS g
    FROM b0
  )
),
counts AS (
  SELECT b, CAST(count(*) AS BIGINT) AS q_cnt,
    CAST(sum(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
      AS p_cnt
  FROM f GROUP BY b
),
tot AS (
  SELECT CAST(sum(q_cnt) AS BIGINT) AS q_tot,
         CAST(sum(p_cnt) AS BIGINT) AS p_tot
  FROM counts
),
lm AS (
  SELECT b,
    CAST(floor({S} * ln(CAST(p_cnt + 1 AS DOUBLE)
      / CAST(p_tot + {B} AS DOUBLE))) AS BIGINT)
    - CAST(floor({S} * ln(CAST(q_cnt + 1 AS DOUBLE)
      / CAST(q_tot + {B} AS DOUBLE))) AS BIGINT) AS w_micro
  FROM counts CROSS JOIN tot
),
scored AS (
  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_features,
         CAST(sum(lm.w_micro) AS BIGINT) AS weight_micro
  FROM f JOIN lm USING (b) GROUP BY f.doc_id
)
SELECT doc_id, n_features, weight_micro FROM scored
ORDER BY weight_micro DESC, doc_id ASC LIMIT {DSIR_TOPK}
"""


def q77_pii_scrub(spark, sf_dir):
    """PII detection + redaction (the Dolma/FineWeb anonymization
    pass): count email / phone / IPv4 detector hits per page and
    redact them in a fixed order with |||CLASS||| tokens, reporting
    the scrubbed-page md5. Pages are the documents text with PII
    planted by doc_id arithmetic (the q65/q69 corpus-augmentation
    pattern), so detector hits AND the redacted digest are fully
    SQL-derivable; the regexes are restricted to Java-regex/RE2
    common syntax so both engines run byte-identical patterns.
    Map-only, zero-exchange, whole-stage-codegen regex scan."""
    from .text.pii import pii_scrub, synth_pii_pages

    docs = _t(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return pii_scrub(synth_pii_pages(docs))


def _q77_oracle() -> str:
    from .text.pii import (
        EMAIL_RE,
        EMAIL_TOKEN,
        IP_RE,
        IP_TOKEN,
        PHONE_RE,
        PHONE_TOKEN,
    )

    return f"""
WITH p AS (
  SELECT doc_id, coalesce(text, '')
    || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
      || CAST(doc_id AS VARCHAR) || '@mail'
      || CAST(doc_id % 5 AS VARCHAR) || '.example.com today.'
      ELSE '' END
    || CASE WHEN doc_id % 6 = 0 THEN ' escalate to admin'
      || CAST(doc_id AS VARCHAR) || '@corp.example.org please.'
      ELSE '' END
    || CASE WHEN doc_id % 4 = 1 THEN ' call +1-555-'
      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.'
      ELSE '' END
    || CASE WHEN doc_id % 5 = 2 THEN ' server 10.'
      || CAST(doc_id % 256 AS VARCHAR) || '.0.'
      || CAST((doc_id * 7) % 256 AS VARCHAR) || ' logged.'
      ELSE '' END AS page
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(page, '{EMAIL_RE}')) AS BIGINT)
    AS n_emails,
  CAST(len(regexp_extract_all(page, '{PHONE_RE}')) AS BIGINT)
    AS n_phones,
  CAST(len(regexp_extract_all(page, '{IP_RE}')) AS BIGINT) AS n_ips,
  md5(regexp_replace(regexp_replace(regexp_replace(page,
    '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g'),
    '{PHONE_RE}', '{PHONE_TOKEN}', 'g'),
    '{IP_RE}', '{IP_TOKEN}', 'g')) AS clean_md5
FROM p
"""


SEMDEDUP_K = 16
SEMDEDUP_THRESHOLD = 0.4


def q78_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas et al. 2023): cluster the
    embedding corpus (deterministic md5-seeded centroids, one exact
    integer-L2 Lloyd E-step) and mark within-cluster rows whose
    cosine to a lower-id row >= threshold as duplicates (min-id
    survivor). Every row reports (vec_id, cluster_id, dup_of) —
    dup_of NULL for keepers — so seed draw, assignment argmin, and
    the prune all sit under the hash gate. Plan: k-row centroid
    broadcast E-step (zero shuffle), pair join equi-keyed on
    cluster_id (sum n_c² not n²), one (id_b, min) agg."""
    from .dedup import semdedup

    emb = _t(spark, sf_dir, "embeddings", spread=True)
    return semdedup(
        emb, k=SEMDEDUP_K, threshold=SEMDEDUP_THRESHOLD
    )


def _q78_oracle() -> str:
    from .dedup import SEMDEDUP_SCALE

    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
vint AS (
  SELECT vec_id, e,
    list_transform(e, x -> CAST(floor(x * {SEMDEDUP_SCALE}) AS BIGINT))
      AS v
  FROM base
),
cents AS (
  SELECT vec_id AS cid, v AS cv FROM vint
  ORDER BY md5('semdedup-v1:' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {SEMDEDUP_K}
),
dists AS (
  SELECT vint.vec_id, cents.cid,
    list_sum(list_transform(range(1, len(vint.v) + 1),
      i -> (vint.v[i] - cents.cv[i]) * (vint.v[i] - cents.cv[i])))
      AS dist
  FROM vint CROSS JOIN cents
),
assign AS (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM dists
  ) WHERE rn = 1
),
c AS (
  SELECT assign.vec_id, assign.cluster_id, base.e,
    sqrt(list_dot_product(base.e, base.e)) AS nrm
  FROM assign JOIN base USING (vec_id)
),
dups AS (
  SELECT b.vec_id AS id_b, min(a.vec_id) AS dup_of
  FROM c a JOIN c b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE a.nrm > 0 AND b.nrm > 0
    AND round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6)
      >= {SEMDEDUP_THRESHOLD}
  GROUP BY b.vec_id
)
SELECT assign.vec_id, assign.cluster_id, dups.dup_of
FROM assign LEFT JOIN dups ON assign.vec_id = dups.id_b
"""


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_top_orders": q02_top_orders,
    "q03_region_revenue": q03_region_revenue,
    "q04_filter_line_size": q04_filter_line_size,
    "q05_range_predicate": q05_range_predicate,
    "q06_avg_value_by_type": q06_avg_value_by_type,
    "q07_median_quantity": q07_median_quantity,
    "q08_top_event_per_user": q08_top_event_per_user,
    "q09_nation_acctbal_extent": q09_nation_acctbal_extent,
    "q10_topk_orders_per_customer": q10_topk_orders_per_customer,
    "q11_user_sessions": q11_user_sessions,
    "q12_running_revenue": q12_running_revenue,
    "q13_semi_join": q13_semi_join,
    "q14_anti_join": q14_anti_join,
    "q15_brand_revenue": q15_brand_revenue,
    "q16_word_topk": q16_word_topk,
    "q17_clean_hash": q17_clean_hash,
    "q18_props_extract": q18_props_extract,
    "q19_fingerprint": q19_fingerprint,
    "q20_quality": q20_quality,
    "q21_langid": q21_langid,
    "q22_token_counts": q22_token_counts,
    "q23_exact_dup_keys": q23_exact_dup_keys,
    "q24_jaccard_pairs": q24_jaccard_pairs,
    "q25_minhash_lsh_pairs": q25_minhash_lsh_pairs,
    "q26_simhash_pairs": q26_simhash_pairs,
    "q27_ann_cosine_topk": q27_ann_cosine_topk,
    "q28_ann_lsh_topk": q28_ann_lsh_topk,
    "q29_tumbling_window": q29_tumbling_window,
    "q30_ocr_extract_spans": q30_ocr_extract_spans,
    "q31_ocr_line_metrics": q31_ocr_line_metrics,
    "q32_cer": q32_cer,
    "q33_encoding_roundtrip": q33_encoding_roundtrip,
    "q34_detect_lines": q34_detect_lines,
    "q35_embedding_near_dup": q35_embedding_near_dup,
    "q36_embedding_near_dup_lsh": q36_embedding_near_dup_lsh,
    "q37_dup_clusters": q37_dup_clusters,
    "q38_layout_regions": q38_layout_regions,
    "q39_training_selection": q39_training_selection,
    "q40_ann_ivf_topk": q40_ann_ivf_topk,
    "q41_audio_wav_metrics": q41_audio_wav_metrics,
    "q42_video_mjpeg_frames": q42_video_mjpeg_frames,
    "q43_stream_hourly_rollup": q43_stream_hourly_rollup,
    "q44_html_extract_spans": q44_html_extract_spans,
    "q45_pdf_extract_spans": q45_pdf_extract_spans,
    "q46_web_doc_ocr_fusion": q46_web_doc_ocr_fusion,
    "q47_pdf_doc_ocr_fusion": q47_pdf_doc_ocr_fusion,
    "q48_warc_extract_spans": q48_warc_extract_spans,
    "q49_warc_cdx_index": q49_warc_cdx_index,
    "q50_url_canonicalize": q50_url_canonicalize,
    "q51_crawl_dedup_extract": q51_crawl_dedup_extract,
    "q52_template_removal": q52_template_removal,
    "q53_charset_extract_spans": q53_charset_extract_spans,
    "q54_robots_filter_extract": q54_robots_filter_extract,
    "q55_redirect_resolution": q55_redirect_resolution,
    "q56_sitemap_coverage": q56_sitemap_coverage,
    "q57_link_graph": q57_link_graph,
    "q58_link_pagerank": q58_link_pagerank,
    "q59_crawl_snapshot_diff": q59_crawl_snapshot_diff,
    "q60_gopher_quality": q60_gopher_quality,
    "q61_wet_roundtrip": q61_wet_roundtrip,
    "q62_politeness_schedule": q62_politeness_schedule,
    "q63_substring_dup_windows": q63_substring_dup_windows,
    "q64_gopher_repetition": q64_gopher_repetition,
    "q65_c4_line_filter": q65_c4_line_filter,
    "q66_url_filter": q66_url_filter,
    "q67_bm25_topk": q67_bm25_topk,
    "q68_inverted_index_stats": q68_inverted_index_stats,
    "q69_html_metadata": q69_html_metadata,
    "q70_quality_funnel": q70_quality_funnel,
    "q71_stratified_sample": q71_stratified_sample,
    "q72_sequence_packing": q72_sequence_packing,
    "q73_decontamination": q73_decontamination,
    "q74_perplexity_buckets": q74_perplexity_buckets,
    "q75_bpe_pair_stats": q75_bpe_pair_stats,
    "q76_dsir_selection": q76_dsir_selection,
    "q77_pii_scrub": q77_pii_scrub,
    "q78_semdedup": q78_semdedup,
}

ORACLES = {
    "q01_pricing_summary": ORACLE_Q01,
    "q02_top_orders": ORACLE_Q02,
    "q03_region_revenue": ORACLE_Q03,
    "q04_filter_line_size": ORACLE_Q04,
    "q05_range_predicate": ORACLE_Q05,
    "q06_avg_value_by_type": ORACLE_Q06,
    "q07_median_quantity": ORACLE_Q07,
    "q08_top_event_per_user": ORACLE_Q08,
    "q09_nation_acctbal_extent": ORACLE_Q09,
    "q10_topk_orders_per_customer": ORACLE_Q10,
    "q11_user_sessions": ORACLE_Q11,
    "q12_running_revenue": ORACLE_Q12,
    "q13_semi_join": ORACLE_Q13,
    "q14_anti_join": ORACLE_Q14,
    "q15_brand_revenue": ORACLE_Q15,
    "q16_word_topk": ORACLE_Q16,
    "q17_clean_hash": ORACLE_Q17,
    "q18_props_extract": ORACLE_Q18,
    "q19_fingerprint": ORACLE_Q19,
    "q20_quality": ORACLE_Q20,
    "q21_langid": ORACLE_Q21,
    "q22_token_counts": ORACLE_Q22,
    "q23_exact_dup_keys": ORACLE_Q23,
    "q24_jaccard_pairs": ORACLE_Q24,
    "q25_minhash_lsh_pairs": ORACLE_Q25,
    "q26_simhash_pairs": ORACLE_Q26,
    "q27_ann_cosine_topk": ORACLE_Q27,
    "q29_tumbling_window": ORACLE_Q29,
    "q30_ocr_extract_spans": _q30_oracle(),
    "q31_ocr_line_metrics": _q31_oracle(),
    "q32_cer": ORACLE_Q32,
    "q33_encoding_roundtrip": ORACLE_Q33,
    "q34_detect_lines": _q34_oracle(),
    "q35_embedding_near_dup": ORACLE_Q35,
    "q37_dup_clusters": ORACLE_Q37,
    "q38_layout_regions": ORACLE_Q38,
    "q39_training_selection": ORACLE_Q39,
    "q41_audio_wav_metrics": ORACLE_Q41,
    "q42_video_mjpeg_frames": _q42_oracle(),
    "q43_stream_hourly_rollup": ORACLE_Q29,  # same rollup, streaming engine
    "q44_html_extract_spans": _q44_oracle(),
    "q45_pdf_extract_spans": _q45_oracle(),
    "q46_web_doc_ocr_fusion": _q46_oracle(),
    "q47_pdf_doc_ocr_fusion": _q47_oracle(),
    "q48_warc_extract_spans": _q48_oracle(),
    "q49_warc_cdx_index": _q49_oracle(),
    "q50_url_canonicalize": _q50_oracle(),
    "q51_crawl_dedup_extract": _q48_oracle(),  # dedup must restore q48
    "q52_template_removal": _q52_oracle(),
    "q53_charset_extract_spans": _q53_oracle(),
    "q54_robots_filter_extract": _q54_oracle(),
    "q55_redirect_resolution": _q55_oracle(),
    "q56_sitemap_coverage": _q56_oracle(),
    "q57_link_graph": _q57_oracle(),
    "q58_link_pagerank": _q58_oracle(),
    "q59_crawl_snapshot_diff": _q59_oracle(),
    "q60_gopher_quality": _q60_oracle(),
    "q61_wet_roundtrip": _q61_oracle(),
    "q62_politeness_schedule": _q62_oracle(),
    "q63_substring_dup_windows": _q63_oracle(),
    "q64_gopher_repetition": _q64_oracle(),
    "q65_c4_line_filter": _q65_oracle(),
    "q66_url_filter": _q66_oracle(),
    "q67_bm25_topk": _q67_oracle(),
    "q68_inverted_index_stats": _q68_oracle(),
    "q69_html_metadata": _q69_oracle(),
    "q70_quality_funnel": _q70_oracle(),
    "q71_stratified_sample": _q71_oracle(),
    "q72_sequence_packing": _q72_oracle(),
    "q73_decontamination": _q73_oracle(),
    "q74_perplexity_buckets": _q74_oracle(),
    "q75_bpe_pair_stats": _q75_oracle(),
    "q76_dsir_selection": _q76_oracle(),
    "q77_pii_scrub": _q77_oracle(),
    "q78_semdedup": _q78_oracle(),
    # q28/q36/q40: intentionally no oracle (approximate-by-design
    # ANN/LSH paths) — rows-only checks, recall pinned by pytest.
}
