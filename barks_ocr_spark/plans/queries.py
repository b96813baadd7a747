"""Driver-contract query registry: every implemented operator from
SURVEY.md §2 exposed as (spark, sf_dir) → DataFrame, with an ANSI-SQL
DuckDB oracle wherever the semantics are SQL-expressible.

Cross-engine value-parity rules used throughout:
- money/metric sums aggregate in DECIMAL (exact, order-independent),
  then cast to double (deterministic) — never sum raw doubles.
- averages = round(exact_sum_double / count, 6).
- timestamps returned as formatted strings, never raw.
- every computed column aliased identically in Spark and SQL.
- top-k always carries a unique tie-break column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from barks_ocr_spark.kernels import textnorm as tn
from barks_ocr_spark.operators import (
    dedup,
    entities,
    extraction,
    index,
    issues,
    simsearch,
    skew,
    textstats,
)
from barks_ocr_spark.session import local_table

DEC = "decimal(18,2)"
DEC6 = "decimal(18,6)"


def load(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one input table. ``spread=True`` (``documents`` only) reads it
    through ``extraction.load_documents(spread=True)``: the sf-scale
    tables are single parquet files with ONE row group, so byte-range
    splitting cannot parallelize them, and a documents scan would run 1-2
    effective tasks no matter the core count (measured: gopher_filter
    2.08 s → 0.53 s at sf1.0 / local[32] after spreading). The table is
    hash-partitioned by doc_id only when its scan has fewer splits than
    the session's parallelism and it holds ``extraction.SPREAD_MIN_BYTES``
    (shut at sf0.1, 0.6 MB; open at sf1.0, 5.6 MB). Queries whose plans
    are pinned Exchange-free (repetition_scores, pii_redact) keep the
    default."""
    path = f"{sf_dir}/{name}.parquet"
    if spread:
        return extraction.load_documents(spark, path, spread=True)
    return spark.read.parquet(path)


# ════════════════════════════════════════════════════════════════════════
# Relational operators (SURVEY §2.3-2.6 analogues) on the TPC-H-ish tables
# ════════════════════════════════════════════════════════════════════════
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3-style per-flag rollup (TPC-H Q1 shape). Filter pushes to scan;
    partial aggregation map-side; 6 groups → tiny shuffle."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC6)
    disc_price = price * (F.lit(1).cast(DEC6) - disc)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-31").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-31'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + top-k (J4/A6/O4 analogue). part is a dim
    table → explicit broadcast, no shuffle of lineitem."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC6) - F.col("l_discount").cast(DEC6)))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "p_brand")
        .limit(10)
    )


_SQL_TOP_BRAND = """
SELECT p_brand,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY revenue DESC, p_brand
LIMIT 10
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filters push down; orders is
    reduced by the broadcast BUILDING-customer semi side BEFORE meeting
    lineitem (r7, guide §3.2 — shrink the shuffled side first; ~1/5 of
    orders survive the segment filter, so the orderkey join moves 5×
    fewer orders bytes, and at this scale AQE turns it into a broadcast
    join outright); top-10 via TakeOrdered (no full sort)."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC6) - F.col("l_discount").cast(DEC6))
    orders_red = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("o_orderkey", "o_orderdate")
    return (
        li.join(orders_red, li.l_orderkey == orders_red.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


_SQL_SHIPPING = """
SELECT o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake of broadcast dims around the lineitem
    fact. r7 (guide §3.2): the ASIA-customer chain
    (region⋈nation⋈customer — all broadcast-sized) reduces ORDERS
    before it ever meets lineitem, so the one big join moves only the
    ~1/5 of orders with an ASIA customer (at this scale AQE then turns
    it into a broadcast join; at cluster scale it stays a 5×-smaller
    shuffle). Join reordering only — inner joins and the
    c_nationkey = s_nationkey filter commute, and the oracle hash
    pins the result."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC6) - F.col("l_discount").cast(DEC6))
    cust_asia = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_nationkey", "n_name")
    )
    orders_red = orders.join(
        F.broadcast(cust_asia), orders.o_custkey == cust_asia.c_custkey
    ).select("o_orderkey", "c_nationkey", "n_name")
    return (
        li.join(orders_red, li.l_orderkey == orders_red.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


_SQL_LOCAL_SUPPLIER = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join + rollup (O5/O6 analogue): orders with ≥1 lineitem."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


_SQL_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (O5 set difference) + dim rollup: customers with no
    big-ticket (>400k) order."""
    cust = load(spark, sf_dir, "customer")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400_000)
        .select("o_custkey")
        .distinct()
    )
    nation = load(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_name")
    )


_SQL_CUST_NO_ORDERS = """
SELECT n_name, COUNT(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
GROUP BY n_name
ORDER BY n_name
"""


def q_top3_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7/O3-style per-partition top-k via row_number window."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            "rk",
            "c_custkey",
            F.round(F.col("c_acctbal").cast(DEC).cast("double"), 2).alias("acctbal"),
        )
        .orderBy("n_name", "rk")
    )


_SQL_TOP3_CUST = """
SELECT n_name, rk, c_custkey,
       ROUND(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE), 2) AS acctbal
FROM (
  SELECT c_custkey, c_nationkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
  FROM customer) t
JOIN nation ON c_nationkey = n_nationkey
WHERE rk <= 3
ORDER BY n_name, rk
"""


def q_running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6-style running counter: cumulative spend per customer over time."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_total"),
    )


_SQL_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup over the event stream (batch view of the
    streaming agg; see streaming/ for the readStream variant)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC6)).cast("double").alias("total_value"),
        )
    )


_SQL_EVENTS_HOURLY = """
SELECT event_type,
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type, date_trunc('hour', ts)
"""


def q_stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming at the driver correctness gate: the
    watermarked hourly rollup (streaming/incremental.py) drained as a
    bounded stream (availableNow trigger) into a memory sink; the result
    must equal the batch SQL aggregation exactly — streaming-vs-batch
    parity checked by the same oracle as q_events_hourly. Complete
    output mode so every window (including those still inside the
    watermark at end-of-input) is emitted."""
    from barks_ocr_spark.streaming import incremental

    stream = incremental.stream_event_counts(
        spark, sf_dir, window="1 hour", glob="events.parquet"
    )
    out = incremental.run_stream_to_memory(
        stream, "stream_events_hourly_sink", "complete"
    )
    return out.select(
        "event_type",
        F.col("window_start").alias("hour"),
        "n_events",
        "total_value",
    )


def q_stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState first-per-fingerprint dedup
    (streaming/stateful.py) at the driver gate: documents stream in with
    each row doubled in-stream (explode → planted duplicate ids), the
    state store keeps the first doc per content fingerprint, and the
    drained result must equal the batch SQL answer. Within one
    availableNow batch 'first' is min(doc_id) by the operator's sorted
    scan — deterministic, so the oracle is exact."""
    from barks_ocr_spark.operators.textstats import canonical_text
    from barks_ocr_spark.streaming import incremental, stateful

    docs = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    doubled = docs.select(
        F.explode(F.array(F.col("doc_id"), F.col("doc_id") + 1000000)).alias(
            "doc_id"
        ),
        F.md5(canonical_text(F.col("text"))).alias("fp"),
    )
    out = stateful.stream_first_per_fingerprint(doubled)
    return incremental.run_stream_to_memory(out, "stream_dedup_sink", "append")


def q_stream_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based sessionization (streaming/stateful.py
    stream_sessionize) at the driver gate: events stream in, per-user
    state carries the open session, and a session is emitted exactly
    when a later event closes it. After an availableNow drain the
    emitted set is every session except each user's still-open last —
    which the batch SQL replays exactly (same integer-µs gap rule as
    event_sessions)."""
    from barks_ocr_spark.streaming import incremental, stateful

    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ev = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    out = stateful.stream_sessionize(ev)
    return incremental.run_stream_to_memory(out, "stream_sessions_sink", "append")


_SQL_STREAM_EVENT_SESSIONS = """
WITH g AS (
  SELECT user_id, event_id, ts,
    epoch_us(ts) - LAG(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
), s AS (
  SELECT user_id, event_id,
    CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS session_seq
  FROM g
), sess AS (
  SELECT user_id, session_seq, COUNT(*) AS n_events,
    MIN(event_id) AS first_event, MAX(event_id) AS last_event
  FROM s GROUP BY user_id, session_seq
)
SELECT * FROM sess
WHERE session_seq < (SELECT MAX(session_seq) FROM sess m
                     WHERE m.user_id = sess.user_id)
"""


# Overlapping value tiers (NOT a partition — a point can match several,
# which is what makes this a real range join, not bucketing).
_VALUE_TIERS = [
    ("micro", 0.0, 10.0),
    ("low", 5.0, 50.0),
    ("mid", 25.0, 200.0),
    ("high", 150.0, 1000.0),
]


def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked continuous aggregate (operators/hypertable.py): the
    hourly rollup materialized PARTITIONED BY day, then one day
    incrementally refreshed via dynamic partition overwrite (refresh is
    idempotent, so the read-back must equal the full-batch SQL). At
    scale a refresh scans and rewrites exactly the changed chunks."""
    from barks_ocr_spark.operators import hypertable

    ev = load(spark, sf_dir, "events")
    path = _index_dir(sf_dir, "rollup")
    hypertable.rollup_write(ev, path)
    first_day = ev.select(
        F.min(F.to_date("ts")).cast("string").alias("d")
    ).first()["d"]
    hypertable.rollup_refresh(ev, path, [first_day])
    return hypertable.rollup_read(spark, path)


_SQL_HYPERTABLE_ROLLUP = """
SELECT date_trunc('hour', ts) AS hour, event_type,
  COUNT(*) AS n_events,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value,
  CAST(ts AS DATE) AS day
FROM events GROUP BY 1, 2, 5
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of value per event_type (F.percentile = exact
    linear interpolation, same definition as DuckDB quantile_cont).
    Exact, not approx_percentile: the t-digest estimate is
    engine-specific and can't be oracled; at 100 TB swap in
    approx_percentile and keep this as the audit query on samples."""
    ev = load(spark, sf_dir, "events")
    pct = F.percentile(F.col("value"), F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)))
    agg = ev.groupBy("event_type").agg(pct.alias("p"))
    return agg.select(
        "event_type",
        F.round(F.col("p")[0], 6).alias("p50"),
        F.round(F.col("p")[1], 6).alias("p95"),
        F.round(F.col("p")[2], 6).alias("p99"),
    )


_SQL_VALUE_PERCENTILES = """
SELECT event_type,
  ROUND(quantile_cont(value, 0.5), 6) AS p50,
  ROUND(quantile_cont(value, 0.95), 6) AS p95,
  ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide top-20 words via the Misra-Gries two-pass
    (operators/sketches.py): per-batch candidate sweep + exact recount
    of candidates only, with the runtime exactness proof
    (rank-k count > N/(capacity+1)). The token stream never shuffles —
    the oracle recomputes the same top-k from a full unnest."""
    from barks_ocr_spark.operators import sketches

    return sketches.heavy_hitters(
        load(spark, sf_dir, "documents", spread=True), k=20, capacity=256
    )


_SQL_HEAVY_HITTERS = """
WITH w AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents WHERE text IS NOT NULL
)
SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences
FROM w WHERE word <> ''
GROUP BY word ORDER BY n_occurrences DESC, word LIMIT 20
"""


def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketches.py): estimated
    distinct users per event_type from the k=16 smallest deterministic
    hashes — unlike HLL, exactly replayable by the SQL oracle, and
    mergeable across partitions/days at scale."""
    from barks_ocr_spark.operators import sketches

    ev = load(spark, sf_dir, "events")
    return sketches.kmv_distinct(ev, "event_type", "user_id", k=16)


_SQL_KMV_DISTINCT = """
WITH h AS (
  SELECT DISTINCT event_type,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS hv
  FROM events
), r AS (
  SELECT event_type, hv,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
), p AS (
  SELECT event_type, COUNT(*) AS n, MAX(hv) AS hk FROM r WHERE rn <= 16
  GROUP BY event_type
)
SELECT event_type,
  ROUND(CASE WHEN n < 16 THEN CAST(n AS DOUBLE)
        ELSE 15.0 / (CAST(hk AS DOUBLE) / 4294967296.0) END, 6)
    AS est_distinct
FROM p
"""


def q_range_join_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (operators/rangejoin.py): events matched to
    every OVERLAPPING value tier via the band-key equi-join — no
    nested-loop, shuffle sized by points + interval coverage. Rolled up
    per (event_type, tier) so the oracle (plain range-predicate join)
    is compact."""
    from barks_ocr_spark.operators import rangejoin

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    tiers = local_table(spark, _VALUE_TIERS, "tier string, lo double, hi double")
    joined = rangejoin.banded_range_join(ev, tiers, "value", "lo", "hi", 25.0)
    return joined.groupBy("event_type", "tier").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast(DEC6)).cast("double"), 2).alias(
            "total_value"
        ),
    )


_SQL_TIER_VALUES = ", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in _VALUE_TIERS)
_SQL_RANGE_JOIN_TIERS = f"""
SELECT event_type, tier, COUNT(*) AS n_events,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value
FROM events e JOIN (VALUES {_SQL_TIER_VALUES}) t(tier, lo, hi)
  ON e.value >= t.lo AND e.value < t.hi
GROUP BY event_type, tier
"""


def q_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (operators/asof.py): each error event gains
    the id of the same user's newest click at-or-before it — the as-of
    alignment DuckDB replays with its native ASOF LEFT JOIN. One shuffle
    on user_id, one ordered pass; no range cross-join."""
    from barks_ocr_spark.operators import asof

    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    out = asof.asof_join(
        errors, clicks, ["user_id"], "ts", {"click_id": "last_click_id"}
    )
    return out.select("event_id", "user_id", "last_click_id")


_SQL_ASOF_LAST_CLICK = """
SELECT l.event_id, l.user_id, r.event_id AS last_click_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') l
ASOF LEFT JOIN
     (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_top_users_per_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    totals = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast(DEC6)).cast("double").alias("total_value")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("total_value"), "user_id")
    return (
        totals.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .orderBy("event_type", "rk")
    )


_SQL_TOP_USERS = """
SELECT event_type, user_id, total_value, rk FROM (
  SELECT event_type, user_id, total_value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY total_value DESC, user_id) AS rk
  FROM (
    SELECT event_type, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type, user_id))
WHERE rk <= 5
ORDER BY event_type, rk
"""


def q_first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 dedup-by-composite-key keeping the earliest row."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_type", "event_id")
    )


_SQL_FIRST_EVENT = """
SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rk
  FROM events)
WHERE rk = 1
"""


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity splits a session):
    the standard user-activity rollup, expressed as lag + running-sum
    windows — no UDF, no state, one shuffle on user_id shared by both
    windows and the final aggregate. Gaps compare exact integer
    microseconds (unix_micros / epoch_us) so the session boundaries can
    never diverge between engines on timestamp rounding."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session tz is pinned UTC so the cast is a
    # pure reinterpretation and unix_micros matches DuckDB's epoch_us
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.withColumn("session_seq", F.sum(new_sess).over(run))
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


_SQL_EVENT_SESSIONS = """
WITH g AS (
  SELECT user_id, event_id, ts,
    epoch_us(ts) - LAG(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
), s AS (
  SELECT user_id, event_id,
    CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS session_seq
  FROM g
)
SELECT user_id, session_seq, COUNT(*) AS n_events,
  MIN(event_id) AS first_event, MAX(event_id) AS last_event
FROM s GROUP BY user_id, session_seq
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured projection: JSON prop extraction + rollup."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            (F.sum(k).cast("double") / F.count("*")).alias("avg_k"),
        )
        .orderBy("event_type")
    )


_SQL_EVENTS_JSON = """
SELECT event_type,
  -- outer CAST: DuckDB's bare integer SUM returns HUGEINT; Spark returns
  -- bigint, and the driver's value-hash distinguishes the types
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ════════════════════════════════════════════════════════════════════════
# Text / index / entity / issue operators on `documents`
# ════════════════════════════════════════════════════════════════════════
def _sql_quote(w: str) -> str:
    return "'" + w.replace("'", "''") + "'"


_STOP_LIST_SQL = ", ".join(_sql_quote(w) for w in sorted(tn.ALL_WORDS_TO_IGNORE))

_SQL_TOKENS_CTE = """
WITH toks AS (
  SELECT doc_id,
    unnest(string_split_regex(trim(regexp_replace(regexp_replace(lower(text),
      '—|\\.\\.\\.', ' ', 'g'), '["!=?,:;.<>/()*&%$#]', '', 'g')), '\\s+')) AS word
  FROM documents
)
"""


def q_word_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents", spread=True)
    return index.inverted_index(docs)


_SQL_WORD_INDEX = (
    _SQL_TOKENS_CTE
    + f"""
SELECT word, doc_id, COUNT(*) AS cnt FROM toks
WHERE word <> '' AND word NOT IN ({_STOP_LIST_SQL})
GROUP BY word, doc_id
"""
)


def q_bucketed_index_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 index sink as a BUCKETED catalog table: the inverted index is
    written bucketBy(word) + sortBy(word) once (sources/bucketed.py), so
    this doc-frequency rollup — and every later search join on word —
    reads co-located buckets and plans with no Exchange on the index
    side (plan pinned by tests/test_bucketed.py). The oracle recomputes
    the statistics from raw tokens: the bucketed round trip must be
    lossless."""
    from barks_ocr_spark.sources import bucketed

    docs = load(spark, sf_dir, "documents")
    # per-process table name + dead-pid orphan sweep: concurrent runs at
    # the same sf can't drop each other's table mid-query, and crashed
    # runs' dirs are reclaimed on the next run (ADVICE r3)
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    base = f"bk_word_index_{sf_tag}"
    bucketed.sweep_orphans(base)
    t = bucketed.session_table(base)
    bucketed.write_bucketed(
        index.inverted_index(docs), t, "word", num_buckets=8, sort_col="word"
    )
    idx = bucketed.read_table(spark, t)
    return idx.groupBy("word").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.sum("cnt").alias("total_occurrences"),
    )


_SQL_BUCKETED_INDEX_JOIN = (
    _SQL_TOKENS_CTE
    + f"""
SELECT word, COUNT(DISTINCT doc_id) AS doc_freq,
  CAST(COUNT(*) AS BIGINT) AS total_occurrences
FROM toks WHERE word <> '' AND word NOT IN ({_STOP_LIST_SQL})
GROUP BY word
"""
)


def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-weighted term scoring over the inverted index (broadcast
    vocabulary-dim join, fact side never reshuffles)."""
    docs = load(spark, sf_dir, "documents")
    out = index.tf_idf(docs)
    return out.select("word", "doc_id", F.round("tf_idf", 6).alias("tf_idf"))


_SQL_TF_IDF = (
    _SQL_TOKENS_CTE.rstrip()
    + f""",
counts AS (
  SELECT word, doc_id, COUNT(*) AS cnt FROM toks
  WHERE word <> '' AND word NOT IN ({_STOP_LIST_SQL})
  GROUP BY word, doc_id),
dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM counts GROUP BY word),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
SELECT c.word, c.doc_id, ROUND(c.cnt * ln(n.n / d.df), 6) AS tf_idf
FROM counts c JOIN dfreq d USING (word), n
"""
)


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (sampling.cap_per_group): at most 15 docs
    per crawl source (the cap BINDS on this corpus: every source holds
    more), selected by deterministic md5 rank — the oracle replays the
    EXACT selection, not just the per-group sizes."""
    from barks_ocr_spark.operators import sampling

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.cap_per_group(docs, "source", cap=15)


_SQL_DOMAIN_CAP = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
    ROW_NUMBER() OVER (
      PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents) t
WHERE rk <= 15
"""


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-threshold train/test split (zero-shuffle
    projection), rolled up per (split, lang)."""
    from barks_ocr_spark.operators import sampling

    docs = load(spark, sf_dir, "documents")
    return sampling.split_train_test(docs, test_frac=0.1).groupBy(
        "split", "lang"
    ).agg(F.count("*").alias("n_docs"))


_SQL_TRAIN_TEST_SPLIT = """
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
            THEN 'test' ELSE 'train' END AS split,
  lang, COUNT(*) AS n_docs
FROM documents GROUP BY 1, 2
"""


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (sampling.pack_documents):
    per-shard deterministic order + token prefix-sum → context-window
    assignment; the oracle replays the exact same windows in SQL."""
    from barks_ocr_spark.operators import sampling

    docs = load(spark, sf_dir, "documents")
    return sampling.pack_documents(docs, budget=2048, n_shards=16)


_SQL_PACK_DOCUMENTS = """
WITH sized AS (
  SELECT doc_id, doc_id % 16 AS shard,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_tokens,
    md5(CAST(doc_id AS VARCHAR)) AS rk
  FROM documents),
c AS (
  SELECT doc_id, shard, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY rk, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM sized)
SELECT doc_id, shard,
  CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id,
  CAST(n_tokens AS BIGINT) AS n_tokens
FROM c
"""


def q_word_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return index.word_doc_freq(docs).orderBy(F.desc("doc_freq"), "word").limit(50)


_SQL_WORD_DOC_FREQ = (
    _SQL_TOKENS_CTE
    + f"""
SELECT word, COUNT(DISTINCT doc_id) AS doc_freq, COUNT(*) AS total_occurrences
FROM toks WHERE word <> '' AND word NOT IN ({_STOP_LIST_SQL})
GROUP BY word ORDER BY doc_freq DESC, word LIMIT 50
"""
)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(load(spark, sf_dir, "documents"))


_EN_LIST_SQL = ", ".join(_sql_quote(w) for w in sorted(tn.STOP_WORDS))

_SQL_LANG_ID = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents
)
SELECT doc_id,
  CASE WHEN len(ws) > 0
    THEN CAST(len(list_filter(ws, x -> x IN ({_EN_LIST_SQL}))) AS DOUBLE) / len(ws)
    ELSE 0.0 END AS en_ratio,
  CASE WHEN len(ws) > 0 AND
    CAST(len(list_filter(ws, x -> x IN ({_EN_LIST_SQL}))) AS DOUBLE) / len(ws) >= 0.2
    THEN 'en' ELSE 'unknown' END AS lang_pred
FROM w
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_score(load(spark, sf_dir, "documents"))


_SQL_QUALITY = f"""
WITH w AS (
  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents
)
SELECT doc_id,
  length(text) AS n_chars_m,
  len(ws) AS n_words,
  CASE WHEN len(ws) > 0
    THEN CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(ws)
    ELSE 0.0 END AS mean_word_len,
  CASE WHEN length(text) > 0
    THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text)
    ELSE 0.0 END AS punct_ratio,
  CASE WHEN len(ws) > 0
    THEN CAST(len(list_filter(ws, x -> x IN ({_EN_LIST_SQL}))) AS DOUBLE) / len(ws)
    ELSE 0.0 END AS stopword_ratio
FROM w
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(load(spark, sf_dir, "documents"))


_SQL_TOKEN_COUNTS = """
SELECT doc_id,
  len(string_split_regex(trim(lower(text)), '\\s+')) AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_tokens
FROM documents
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(load(spark, sf_dir, "documents"))


_CANON_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)

_SQL_FINGERPRINTS = f"SELECT doc_id, md5({_CANON_SQL}) AS fp FROM documents"

_SQL_STREAM_STATEFUL_DEDUP = f"""
SELECT md5({_CANON_SQL}) AS fp, MIN(doc_id) AS doc_id, TRUE AS is_first
FROM documents GROUP BY 1
"""


def _doubled_docs(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """documents ∪ shifted-id copy — a corpus with guaranteed duplicates
    for the dedup operators. ``spread`` opts the scan into the r7
    scale-adaptive repartition (see ``load``): measured per consumer at
    sf1.0 — the shingle-pipeline operators (jaccard 17.5→15.0 s,
    minhash 9.0→6.6 s) win, while the kernel-signature and
    fingerprint-aggregate consumers (simhash 5.2 vs 8.5 s,
    exact_duplicates 1.15 vs 1.37 s) are faster on the scan's natural
    partitioning now that canonical_text is cheap."""
    docs = load(spark, sf_dir, "documents", spread=spread).select("doc_id", "text")
    twin = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return docs.unionAll(twin)


_SQL_DOUBLED_CTE = """
WITH doubled AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
)
"""


def q_exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.exact_duplicates(_doubled_docs(spark, sf_dir))
    # doc_ids flattened to a CSV string: the driver's canonicalizer
    # sorts result cells with pandas and dies on unhashable list cells
    return out.select(
        "fp",
        "n_docs",
        F.array_join(
            F.transform("doc_ids", lambda x: x.cast("string")), ","
        ).alias("doc_ids"),
    )


_SQL_EXACT_DUPS = (
    _SQL_DOUBLED_CTE
    + f"""
SELECT fp, n_docs, doc_ids FROM (
  SELECT md5({_CANON_SQL}) AS fp, COUNT(*) AS n_docs,
         array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
  FROM doubled GROUP BY 1)
WHERE n_docs > 1
"""
)

def q_dedup_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (the daily-crawl ingest path): even-id
    docs are "yesterday's corpus" — their fingerprint index is written
    as a bucketed catalog table — and the increment is the odd-id docs
    PLUS planted collisions (copies of every 10th even doc → must die to
    the index; copies of odd docs ≡3 mod 7 → must die to the intra-batch
    exemplar rule). Survivors keep the full document schema. The index
    side of the anti-join plans with no Exchange (bucket layout,
    pinned by test_dedup_increment_index_side_is_exchange_free)."""
    from barks_ocr_spark.sources import bucketed

    docs = load(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    old = docs.filter(F.col("doc_id") % 2 == 0)
    inc = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select(*cols)
        .unionAll(
            old.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), *cols[1:]
            )
        )
        .unionAll(
            docs.filter(
                (F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 7 == 3)
            ).select((F.col("doc_id") + 3_000_000).alias("doc_id"), *cols[1:])
        )
    )
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    base = f"bk_fp_index_{sf_tag}"
    bucketed.sweep_orphans(base)
    t = bucketed.session_table(base)
    dedup.fingerprint_index_write(old, t)
    return dedup.dedup_increment(inc, t)


_SQL_DEDUP_INCREMENT = f"""
WITH old AS (
  SELECT DISTINCT md5({_CANON_SQL}) AS fp FROM documents WHERE doc_id % 2 = 0
), inc AS (
  SELECT doc_id, text, lang, source, n_chars,
         md5({_CANON_SQL}) AS fp
  FROM (
    SELECT doc_id, text, lang, source, n_chars
    FROM documents WHERE doc_id % 2 = 1
    UNION ALL
    SELECT doc_id + 1000000, text, lang, source, n_chars
    FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 3000000, text, lang, source, n_chars
    FROM documents WHERE doc_id % 2 = 1 AND doc_id % 7 = 3
  )
), alive AS (
  SELECT * FROM inc i
  WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.fp = i.fp)
)
SELECT doc_id, text, lang, source, n_chars
FROM alive
QUALIFY row_number() OVER (
  PARTITION BY fp ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
) = 1
"""


_SQL_SHINGLES_CTE = (
    _SQL_DOUBLED_CTE
    + f"""
, canon AS (
  SELECT doc_id, string_split({_CANON_SQL}, ' ') AS ws FROM doubled
), sh AS (
  SELECT doc_id, n_shingles, unnest(shingles) AS shingle FROM (
    SELECT doc_id,
      list_distinct([concat_ws(' ', ws[i], ws[i+1], ws[i+2])
                     for i in generate_series(1, greatest(len(ws)-2, 0))]) AS shingles
    FROM canon) t(doc_id, shingles),
    LATERAL (SELECT len(shingles) AS n_shingles) n
  WHERE len(shingles) > 0
)
"""
)

_SQL_JACCARD_BODY = """
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(COUNT(*) AS DOUBLE) /
          (a.n_shingles + b.n_shingles - COUNT(*)) AS jaccard
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_shingles, b.n_shingles)
WHERE jaccard >= 0.8
"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs with the DEFAULT hot-shingle cap (on since round 2); the
    oracle applies the identical cap — intersections over capped
    shingles, denominators from pre-cap counts."""
    return dedup.ngram_jaccard_pairs(
        _doubled_docs(spark, sf_dir, spread=True), threshold=0.8
    )


_SQL_JACCARD_BODY_CAPPED = f"""
, hot AS (SELECT shingle FROM sh GROUP BY shingle
          HAVING COUNT(*) > {dedup.DEFAULT_MAX_SHINGLE_FREQ})
, shc AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot))
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(COUNT(*) AS DOUBLE) /
          (a.n_shingles + b.n_shingles - COUNT(*)) AS jaccard
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_shingles, b.n_shingles)
WHERE jaccard >= 0.8
"""

_SQL_JACCARD_PAIRS = _SQL_SHINGLES_CTE + _SQL_JACCARD_BODY_CAPPED


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the capped-jaccard near-dup pairs
    (clusters.duplicate_clusters): the transitive closure a dedup
    pipeline needs to pick ONE canonical survivor per group. Iterative
    min-label propagation — O(diameter) rounds of join+aggregate on the
    small pair-derived table; the DuckDB oracle replays it as a
    recursive CTE (min reachable id)."""
    from barks_ocr_spark.operators import clusters

    pairs = dedup.ngram_jaccard_pairs(
        _doubled_docs(spark, sf_dir, spread=True), threshold=0.8
    )
    return clusters.duplicate_clusters(pairs)


_SQL_DUP_CLUSTERS = (
    _SQL_SHINGLES_CTE
    + f"""
, hot AS (SELECT shingle FROM sh GROUP BY shingle
          HAVING COUNT(*) > {dedup.DEFAULT_MAX_SHINGLE_FREQ})
, shc AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot))
, pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(COUNT(*) AS DOUBLE) /
            (a.n_shingles + b.n_shingles - COUNT(*)) AS jaccard
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.n_shingles, b.n_shingles)
  WHERE jaccard >= 0.8
)
, sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs)
, reach(id, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, r.r FROM sym s JOIN reach r ON s.dst = r.id
)
SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
""").replace("\nWITH ", "\nWITH RECURSIVE ", 1)


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup: pairs → connected components → keep-list. A doc
    survives iff it is unpaired or the canonical (minimum-id) member of
    its cluster — the anti-join a training-data pipeline runs before
    tokenization. The corpus side never reshuffles: the loser list is a
    cluster-table projection, orders of magnitude smaller than the
    corpus, broadcast into a left-anti join."""
    from barks_ocr_spark.operators import clusters

    docs = _doubled_docs(spark, sf_dir, spread=True)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    cl = clusters.duplicate_clusters(pairs)
    losers = cl.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(F.broadcast(losers), "doc_id", "left_anti").select("doc_id")


_SQL_DEDUP_CORPUS = _SQL_DUP_CLUSTERS.replace(
    "SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id",
    """SELECT doc_id FROM doubled
WHERE doc_id NOT IN (
  SELECT id FROM (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
  WHERE id <> cluster_id)""",
)

# minhash verification is uncapped (bands, not shingle frequency, bound
# its join) → it keeps the uncapped exact-jaccard oracle.
_SQL_JACCARD_UNCAPPED = _SQL_SHINGLES_CTE + _SQL_JACCARD_BODY


def q_minhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH proposes, exact Jaccard verifies — on this corpus the
    ≥0.8 pairs are exactly the planted duplicates, so the exact-Jaccard
    SQL is a complete oracle."""
    return dedup.minhash_near_duplicates(
        _doubled_docs(spark, sf_dir, spread=True), threshold=0.8
    )


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bucketed near-dups, differentially checked: identical
    canonical text ⇒ identical simhash ⇒ hamming 0 ⇒ every planted twin
    pair MUST come out of the pigeonhole-bucketed pair join — so the
    exact-duplicate pair set is a complete SQL oracle for the verified
    (fingerprint-equal) projection; a simhash recall regression turns
    this row red. Natural hamming≤3 pairs of non-identical text use
    engine-specific xxhash64 bit votes and are asserted in pytest."""
    docs = _doubled_docs(spark, sf_dir)
    pairs = dedup.simhash_near_duplicates(docs, max_hamming=3)
    # persist + eager materialize: the fingerprint table feeds BOTH join
    # sides, so an unpersisted plan scans + canonicalizes + md5s the
    # doubled corpus twice (r7, guide §2.4 — one pass, two cache reads)
    from barks_ocr_spark.operators.cacheutil import persist_tracked

    fp = persist_tracked(
        docs.select(
            "doc_id", F.md5(textstats.canonical_text(F.col("text"))).alias("f")
        )
    )
    fp.count()
    a = fp.select(F.col("doc_id").alias("doc_a"), F.col("f").alias("f_a"))
    b = fp.select(F.col("doc_id").alias("doc_b"), F.col("f").alias("f_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("f_a") == F.col("f_b"))
        .select("doc_a", "doc_b", "hamming")
    )


_SQL_SIMHASH_DUPS = (
    _SQL_DOUBLED_CTE
    + f"""
, fp AS (SELECT doc_id, md5({_CANON_SQL}) AS f FROM doubled)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
"""
)


TESTDATA_ENTITIES = {
    "ENGINE": ["spark"],
    "OPERATION": ["scan", "join", "filter", "sort", "merge", "agg"],
    "OBJECT": ["table", "row", "column", "vector", "customer"],
}


def q_entity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    saved = entities.CURATED_ENTITIES
    try:
        entities.CURATED_ENTITIES = TESTDATA_ENTITIES
        tagged = entities.tag_entities(docs)
        rolled = entities.entity_rollup(tagged)
    finally:
        entities.CURATED_ENTITIES = saved
    # examples flattened to a CSV string: the driver's canonicalizer
    # can't sort rows containing list cells
    return rolled.select(
        "name",
        "dominant_type",
        "total_mentions",
        "n_docs",
        F.array_join(
            F.transform("examples", lambda x: x.cast("string")), ","
        ).alias("examples"),
    )


def _entities_union_sql() -> str:
    parts = []
    for etype, names in TESTDATA_ENTITIES.items():
        for name in names:
            parts.append(
                f"SELECT doc_id, '{etype}' AS entity_type, '{name}' AS name, "
                f"len(regexp_extract_all(lower(text), '\\b{name}\\b')) AS n_mentions "
                f"FROM documents"
            )
    return " UNION ALL ".join(parts)


_SQL_ENTITY_ROLLUP = f"""
WITH tagged AS (
  SELECT * FROM ({_entities_union_sql()}) WHERE n_mentions > 0
), per_name AS (
  SELECT name,
    CAST(SUM(n_mentions) AS BIGINT) AS total_mentions,
    COUNT(DISTINCT doc_id) AS n_docs,
    array_to_string((list_sort(list(doc_id)))[1:3], ',') AS examples
  FROM tagged GROUP BY name
), dom AS (
  SELECT name, entity_type AS dominant_type FROM (
    SELECT name, entity_type,
      ROW_NUMBER() OVER (PARTITION BY name
                         ORDER BY COUNT(*) DESC, entity_type) AS rk
    FROM tagged GROUP BY name, entity_type)
  WHERE rk = 1
)
SELECT p.name, dominant_type, total_mentions, n_docs, examples
FROM per_name p JOIN dom ON p.name = dom.name
ORDER BY total_mentions DESC, p.name
"""


def q_entity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """find_entities analogue (`tools/whoosh_find.py:53` — the CLI's
    --entity-type search): docs mentioning any curated entity of one
    type, with per-doc mention counts. A filter on the tagged entity
    table — the dictionary is broadcast-sized, the scan is one pass."""
    docs = load(spark, sf_dir, "documents")
    saved = entities.CURATED_ENTITIES
    try:
        entities.CURATED_ENTITIES = TESTDATA_ENTITIES
        tagged = entities.tag_entities(docs)
    finally:
        entities.CURATED_ENTITIES = saved
    return tagged.filter(F.col("entity_type") == "OPERATION").select(
        "doc_id", "name", "n_mentions"
    )


_SQL_ENTITY_SEARCH = f"""
SELECT doc_id, name, n_mentions
FROM ({_entities_union_sql()})
WHERE n_mentions > 0 AND entity_type = 'OPERATION'
"""


def q_entity_word_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined entity-type + word search: the reference's
    find_entities(entity_type, words) takes BOTH a type and a word
    query (`tools/whoosh_find.py:53-55`) — docs tagged with an
    OPERATION entity that ALSO contain every query word (VERDICT r3
    missing item 1).

    Scale shape: the word hits (specific terms over the inverted
    index) are orders of magnitude smaller than the tagged-entity
    table, so the hit set is broadcast into it — the entity side never
    reshuffles on doc_id."""
    docs = load(spark, sf_dir, "documents")
    saved = entities.CURATED_ENTITIES
    try:
        entities.CURATED_ENTITIES = TESTDATA_ENTITIES
        tagged = entities.tag_entities(docs)
    finally:
        entities.CURATED_ENTITIES = saved
    ent = tagged.filter(F.col("entity_type") == "OPERATION").select(
        "doc_id", "name", "n_mentions"
    )
    terms = ["spark", "vector"]
    idx = index.inverted_index(docs)
    hits = (
        idx.filter(F.col("word").isin(terms))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("word").alias("n_terms"),
            F.sum("cnt").alias("word_cnt"),
        )
        .filter(F.col("n_terms") == len(terms))
        .select("doc_id", "word_cnt")
    )
    return ent.join(F.broadcast(hits), "doc_id").select(
        "doc_id", "name", "n_mentions", "word_cnt"
    )


_SQL_ENTITY_WORD_SEARCH = (
    _SQL_TOKENS_CTE
    + f""", ent AS (
  SELECT doc_id, name, n_mentions FROM ({_entities_union_sql()})
  WHERE n_mentions > 0 AND entity_type = 'OPERATION'
), hits AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS word_cnt FROM (
    SELECT word, doc_id, COUNT(*) AS cnt FROM toks
    WHERE word IN ('spark', 'vector') GROUP BY word, doc_id)
  GROUP BY doc_id HAVING COUNT(DISTINCT word) = 2
)
SELECT e.doc_id, name, n_mentions, word_cnt
FROM ent e JOIN hits h ON e.doc_id = h.doc_id
"""
)


def q_issue_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Issue predicates over a deterministically dash-planted corpus
    (the raw corpus contains no dashes — the plant makes the checks
    observable; both engines apply the identical transform)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" slow "), F.lit("—")).alias("text"),
    )
    return issues.issue_histogram(issues.detect_issues(docs))


_SQL_ISSUE_HISTOGRAM = """
WITH planted AS (
  SELECT doc_id, replace(text, ' slow ', '—') AS text FROM documents
), fired AS (
  SELECT doc_id, 'short_text' AS issue_type FROM planted
    WHERE length(trim(text)) = 1 AND lower(trim(text)) NOT IN ('?', '!')
  UNION ALL
  SELECT doc_id, 'dash_wrong_space' FROM planted
    WHERE regexp_matches(trim(text), '—\\s+[!?]|[!?]\\s+—')
  UNION ALL
  SELECT doc_id, 'dash_no_spaces' FROM planted
    WHERE regexp_matches(trim(text), '[a-zA-Z]—[a-zA-Z]')
  UNION ALL
  SELECT doc_id, 'empty_text' FROM planted WHERE length(trim(text)) = 0
  UNION ALL
  SELECT doc_id, 'very_long' FROM planted WHERE length(trim(text)) > 100000
)
SELECT issue_type, COUNT(*) AS n FROM fired
GROUP BY issue_type ORDER BY n DESC, issue_type
"""


# ════════════════════════════════════════════════════════════════════════
# Cross-engine compare (J4/J5/J6/T17/A3) on synthetic dual-engine groups
# ════════════════════════════════════════════════════════════════════════
def _engine_groups(spark: SparkSession, sf_dir: str, perturb: bool) -> DataFrame:
    """Deterministic 'OCR engine' output: each document's 8-word chunks as
    groups (doc_id, panel_num, pos, text). The perturbed engine drops
    every doc's last group when doc_id % 7 == 0 and uppercases the first
    group when doc_id % 5 == 0 — planted mismatches for the comparator."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.ceil(F.size(words) / F.lit(8)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    chunks = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i * 8 + 1, 8)))
    g = docs.select(
        "doc_id", F.posexplode(chunks).alias("pos", "chunk")
    ).select(
        "doc_id",
        F.lit(1).alias("panel_num"),
        "pos",
        F.col("chunk").alias("text"),
    )
    if not perturb:
        return g
    # drop last group for doc_id % 7 == 0
    maxpos = g.groupBy("doc_id").agg(F.max("pos").alias("max_pos"))
    g = g.join(maxpos, "doc_id").filter(
        ~((F.col("doc_id") % 7 == 0) & (F.col("pos") == F.col("max_pos")))
    ).drop("max_pos")
    # perturb first group for doc_id % 5 == 0
    return g.withColumn(
        "text",
        F.when(
            (F.col("doc_id") % 5 == 0) & (F.col("pos") == 0),
            F.upper(F.col("text")),
        ).otherwise(F.col("text")),
    )


def q_compare_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine differential compare → per-doc counters. Ratio==1.0
    ⟺ string equality, so the counters have an exact SQL oracle even
    though the similarity scorer itself is difflib."""
    a = _engine_groups(spark, sf_dir, perturb=False)
    b = _engine_groups(spark, sf_dir, perturb=True)
    from barks_ocr_spark.operators import compare

    return compare.compare_counters(compare.positional_compare(a, b)).orderBy("doc_id")


_SQL_COMPARE = """
WITH chunks AS (
  SELECT doc_id, i - 1 AS pos,
    array_to_string(ws[(i-1)*8+1 : (i-1)*8+8], ' ') AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
    unnest(generate_series(1, greatest(CAST(ceil(len(ws)/8.0) AS INT), 1))) AS t(i)
), b AS (
  SELECT doc_id, pos,
    CASE WHEN doc_id % 5 = 0 AND pos = 0 THEN upper(text) ELSE text END AS text
  FROM chunks c
  WHERE NOT (doc_id % 7 = 0
             AND pos = (SELECT max(pos) FROM chunks c2 WHERE c2.doc_id = c.doc_id))
), joined AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         a.text AS text_a, b.text AS text_b
  FROM chunks a FULL OUTER JOIN b ON a.doc_id = b.doc_id AND a.pos = b.pos
)
SELECT doc_id,
  COUNT(*) AS groups_compared,
  -- CASTs: DuckDB integer SUM is HUGEINT, Spark's is bigint (driver hash
  -- is type-sensitive)
  CAST(SUM(CASE WHEN text_a = text_b THEN 1 ELSE 0 END) AS BIGINT) AS perfect_matches,
  CAST(SUM(CASE WHEN text_a IS NOT NULL AND text_b IS NOT NULL AND text_a <> text_b
      THEN 1 ELSE 0 END) AS BIGINT) AS mismatches,
  CAST(SUM(CASE WHEN text_a IS NULL OR text_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS engine_only
FROM joined GROUP BY doc_id ORDER BY doc_id
"""


def q_best_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+W7 top-1 fuzzy match, exact-match projection: difflib ratio is
    1.0 ⟺ string equality, so restricting the join's output to its
    perfect matches gives an exact SQL oracle (equality join + min pos_b
    tie-break) while the full scoring path still executes — every
    candidate pair is difflib-scored and the window picks top-1. Sub-1.0
    ratio values are asserted in pytest fixtures."""
    from barks_ocr_spark.operators import compare

    a = _engine_groups(spark, sf_dir, perturb=False)
    b = _engine_groups(spark, sf_dir, perturb=True)
    out = compare.best_fuzzy_match(a, b)
    return out.filter(F.col("ratio") == 1.0).select(
        "doc_id", "panel_num", "pos_a", "pos_b"
    )


_SQL_BEST_FUZZY = """
WITH chunks AS (
  SELECT doc_id, i - 1 AS pos,
    array_to_string(ws[(i-1)*8+1 : (i-1)*8+8], ' ') AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
    unnest(generate_series(1, greatest(CAST(ceil(len(ws)/8.0) AS INT), 1))) AS t(i)
), b AS (
  SELECT doc_id, pos,
    CASE WHEN doc_id % 5 = 0 AND pos = 0 THEN upper(text) ELSE text END AS text
  FROM chunks c
  WHERE NOT (doc_id % 7 = 0
             AND pos = (SELECT max(pos) FROM chunks c2 WHERE c2.doc_id = c.doc_id))
), eq AS (
  SELECT a.doc_id, a.pos AS pos_a, b.pos AS pos_b,
         ROW_NUMBER() OVER (PARTITION BY a.doc_id, a.pos ORDER BY b.pos) AS rk
  FROM chunks a JOIN b ON a.doc_id = b.doc_id AND a.text = b.text
)
SELECT doc_id, CAST(1 AS INTEGER) AS panel_num,
       CAST(pos_a AS INTEGER) AS pos_a, CAST(pos_b AS INTEGER) AS pos_b
FROM eq WHERE rk = 1
"""


def q_missing_panels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: per-doc engine-only rollup — the perturbed engine drops every
    doc%7==0 doc's last group, so the oracle knows exactly which
    (panel, pos, side) warnings appear."""
    from barks_ocr_spark.operators import compare

    a = _engine_groups(spark, sf_dir, perturb=False)
    b = _engine_groups(spark, sf_dir, perturb=True)
    return compare.missing_panel_rollup(compare.positional_compare(a, b))


_SQL_MISSING_PANELS = """
SELECT doc_id, CAST(1 AS BIGINT) AS n_missing,
  '1:' || CAST(greatest(CAST(ceil(len(ws)/8.0) AS INT), 1) - 1 AS VARCHAR)
       || ':a_only' AS warnings
FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents)
WHERE doc_id % 7 = 0
"""


def q_cache_misses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4: cache-invalidation join — docs%3==0 have no cache row (miss),
    docs%5==0 have a stale cached text (miss), docs with cached score
    < 85 (score = 80 + doc%30 < 85 ⟺ doc%30 < 5) miss; the rest hit."""
    from barks_ocr_spark.operators import compare

    docs = load(spark, sf_dir, "documents")
    groups = docs.select(
        "doc_id", F.lit(0).alias("group_id"), F.col("text").alias("text")
    )
    cache = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id",
        F.lit(0).alias("group_id"),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" stale")))
        .otherwise(F.col("text"))
        .alias("text"),
        (F.lit(80.0) + (F.col("doc_id") % 30).cast("double")).alias("score"),
    )
    out = compare.cache_misses(groups, cache, threshold=85.0)
    return out.select("doc_id", "group_id")


_SQL_CACHE_MISSES = """
SELECT doc_id, CAST(0 AS INTEGER) AS group_id FROM documents
WHERE doc_id % 3 = 0 OR doc_id % 5 = 0 OR (80 + doc_id % 30) < 85
"""


def q_footnote_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 footnote sessionization: 8-word chunks with planted footnote
    labels (pos%4∈{1,2}) and markers on pos%4==1. Chunks carry no edge
    whitespace, so the kernel's rstrip/lstrip fold reduces to an ordered
    ' '-join — giving an exact SQL oracle for the grouped-map path."""
    from barks_ocr_spark.operators import extraction

    g = _engine_groups(spark, sf_dir, perturb=False)
    items = g.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.when(F.col("pos") % 4 == 1, F.concat(F.lit("* "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
        (F.col("pos") % 4).isin(1, 2).alias("is_footnote"),
    )
    # no orderBy: the driver compare is order-insensitive and a global
    # sort would add a range exchange purely for display
    return extraction.fold_footnote_items(items)


_SQL_FOOTNOTE_FOLD = """
WITH chunks AS (
  SELECT doc_id, i - 1 AS pos,
    array_to_string(ws[(i-1)*8+1 : (i-1)*8+8], ' ') AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
    unnest(generate_series(1, greatest(CAST(ceil(len(ws)/8.0) AS INT), 1))) AS t(i)
), items AS (
  SELECT doc_id, pos,
    CASE WHEN pos % 4 = 1 THEN '* ' || text ELSE text END AS text,
    (pos % 4) IN (1, 2) AS is_footnote
  FROM chunks
), fn0 AS (
  SELECT doc_id, pos, text,
    (ltrim(text) LIKE '*%' OR ltrim(text) LIKE '\\*%') AS m,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
  FROM items WHERE is_footnote
), fn AS (
  SELECT doc_id, pos, text,
    SUM(CASE WHEN m OR rn = 1 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos) AS gid
  FROM fn0
)
SELECT doc_id, pos, text, is_footnote FROM (
  SELECT doc_id, min(pos) AS pos,
         string_agg(text, ' ' ORDER BY pos) AS text, TRUE AS is_footnote
  FROM fn GROUP BY doc_id, gid
  UNION ALL
  SELECT doc_id, pos, text, FALSE FROM items WHERE NOT is_footnote)
ORDER BY doc_id, pos
"""


def q_entity_corrections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 corrections overlay: deterministic corrections derived from the
    tagged set (remove 'spark' rows on even docs, add a curated name on
    docs ending in 3, replace OPERATION set on docs ending in 9)."""
    docs = load(spark, sf_dir, "documents")
    saved = entities.CURATED_ENTITIES
    try:
        entities.CURATED_ENTITIES = TESTDATA_ENTITIES
        tagged = entities.tag_entities(docs)
    finally:
        entities.CURATED_ENTITIES = saved
    ids = docs.select("doc_id")
    corrections = (
        ids.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id",
            F.lit("ENGINE").alias("entity_type"),
            F.lit("spark").alias("name"),
            F.lit("remove").alias("action"),
        )
        .unionAll(
            ids.filter(F.col("doc_id") % 10 == 3).select(
                "doc_id",
                F.lit("PERSON").alias("entity_type"),
                F.lit("carl").alias("name"),
                F.lit("add").alias("action"),
            )
        )
        .unionAll(
            ids.filter(F.col("doc_id") % 10 == 9).select(
                "doc_id",
                F.lit("OPERATION").alias("entity_type"),
                F.lit("curated op").alias("name"),
                F.lit("replace").alias("action"),
            )
        )
    )
    out = entities.apply_corrections(tagged, corrections)
    return out.groupBy("entity_type", "name").agg(
        F.count("*").alias("n_docs"), F.sum("n_mentions").alias("total_mentions")
    )


_SQL_ENTITY_CORRECTIONS = f"""
WITH tagged AS (
  SELECT * FROM ({_entities_union_sql()}) WHERE n_mentions > 0
), kept AS (
  SELECT * FROM tagged
  WHERE NOT (entity_type = 'ENGINE' AND name = 'spark' AND doc_id % 2 = 0)
    AND NOT (entity_type = 'OPERATION' AND doc_id % 10 = 9)
), added AS (
  SELECT doc_id, 'PERSON' AS entity_type, 'carl' AS name, 1 AS n_mentions
  FROM documents WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id, 'OPERATION', 'curated op', 1 FROM documents WHERE doc_id % 10 = 9
)
SELECT entity_type, name, COUNT(*) AS n_docs,
  CAST(SUM(n_mentions) AS BIGINT) AS total_mentions
FROM (SELECT * FROM kept UNION ALL SELECT * FROM added)
GROUP BY entity_type, name
"""


def q_index_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 integrity check: curated terms missing from the index
    (`pipeline/whoosh_index.py:33-57` analogue)."""
    docs = load(spark, sf_dir, "documents")
    idx = index.inverted_index(docs)
    return index.index_integrity_missing_terms(
        idx, ["spark", "customer", "vector", "zzznotaword"]
    )


_SQL_INDEX_INTEGRITY = (
    _SQL_TOKENS_CTE
    + """
SELECT term FROM (VALUES ('spark'), ('customer'), ('vector'), ('zzznotaword')) AS c(term)
WHERE term NOT IN (SELECT DISTINCT word FROM toks WHERE word <> '')
"""
)


# Hyphen-duplicate plant: the driver corpus carries no hyphenated
# tokens, so the check is exercised on deterministic planted docs
# unioned with the full corpus (same precedent as embedding_near_dups's
# id-shifted twin) — the corpus side keeps the vocabulary-scale join
# honest, the plant makes the result non-trivial.
_HYPHEN_PLANT = [
    (-1, "bow-tie bowtie ice-cream re-print"),
    (-2, "bow-tie reprint icecream"),
    (-3, "bowtie ice-cream"),
]
_HYPHEN_ALLOWED = ["re-print"]


def q_index_hyphen_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index integrity: hyphenated terms whose dehyphenated form is ALSO
    indexed (`pipeline/whoosh_index.py:138-146`), minus the curated
    allowlist — the OCR hyphenation-artifact detector. Vocabulary-scale
    self-join (index.index_hyphen_duplicates)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plant = local_table(spark, _HYPHEN_PLANT, "doc_id long, text string")
    idx = index.inverted_index(docs.unionAll(plant))
    return index.index_hyphen_duplicates(idx, allowed=_HYPHEN_ALLOWED)


_SQL_HYPHEN_VALUES = ", ".join(f"({i}, '{t}')" for i, t in _HYPHEN_PLANT)
_SQL_INDEX_HYPHEN_DUPS = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES {_SQL_HYPHEN_VALUES}) v(doc_id, text)
),
toks AS (
  SELECT doc_id,
    unnest(string_split_regex(trim(regexp_replace(regexp_replace(lower(text),
      '—|\\.\\.\\.', ' ', 'g'), '["!=?,:;.<>/()*&%$#]', '', 'g')), '\\s+')) AS word
  FROM corpus
),
stats AS (
  SELECT word, COUNT(DISTINCT doc_id) AS n_docs FROM toks
  WHERE word <> '' AND word NOT IN ({_STOP_LIST_SQL})
  GROUP BY word
)
SELECT h.word AS term, replace(h.word, '-', '') AS dehyphenated,
  h.n_docs AS n_docs_term, p.n_docs AS n_docs_dehyph
FROM stats h JOIN stats p ON p.word = replace(h.word, '-', '')
WHERE contains(h.word, '-') AND h.word NOT IN ('re-print')
"""


def q_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-phrase search over the positional index: docs where the
    terms of 'table hash' are ADJACENT in order, with the number of
    phrase starts (index.search_phrase — the Whoosh phrase-query
    analogue, `tools/whoosh_find.py`)."""
    docs = load(spark, sf_dir, "documents")
    pos = index.positional_index(docs)
    return index.search_phrase(pos, "table hash")


# DuckDB replay: raw-slot positions (stopwords occupy slots), adjacency
# via pos+1 self-join on the per-term slices.
_SQL_SEARCH_PHRASE = f"""
WITH arr AS (
  SELECT doc_id, string_split_regex(trim(regexp_replace(regexp_replace(lower(text),
    '—|\\.\\.\\.', ' ', 'g'), '["!=?,:;.<>/()*&%$#]', '', 'g')), '\\s+') AS w
  FROM documents
),
tp AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM arr),
toks AS (
  SELECT doc_id, i AS pos, w[i] AS word FROM tp
  WHERE w[i] <> '' AND w[i] NOT IN ({_STOP_LIST_SQL})
)
SELECT t0.doc_id, COUNT(*) AS n_matches
FROM toks t0 JOIN toks t1
  ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
WHERE t0.word = 'table' AND t1.word = 'hash'
GROUP BY t0.doc_id
"""


def q_search_all_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-search over the index: docs containing every query term
    (the Whoosh multi-term query analogue, O6 set intersection)."""
    docs = load(spark, sf_dir, "documents")
    idx = index.inverted_index(docs)
    terms = ["spark", "vector"]
    hits = idx.filter(F.col("word").isin(terms))
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("word").alias("n_terms"),
            F.sum("cnt").alias("total_cnt"),
        )
        .filter(F.col("n_terms") == len(terms))
        .select("doc_id", "total_cnt")
        .orderBy("doc_id")
    )


_SQL_SEARCH_ALL = (
    _SQL_TOKENS_CTE
    + """
SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS total_cnt FROM (
  SELECT word, doc_id, COUNT(*) AS cnt FROM toks
  WHERE word IN ('spark', 'vector') GROUP BY word, doc_id)
GROUP BY doc_id HAVING COUNT(DISTINCT word) = 2
ORDER BY doc_id
"""
)


TESTDATA_CONTEXT_RULES = [("NEXT_AFTER_FAST", r"\bfast\s+([a-z]+)")]


def q_context_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-sensitive entity rules (entity_tagger.py:125-142 analogue):
    candidates = the word following a cue word, rolled up corpus-wide."""
    docs = load(spark, sf_dir, "documents")
    tagged = entities.tag_entities_by_context(docs, rules=TESTDATA_CONTEXT_RULES)
    return (
        tagged.groupBy("entity_type", "name")
        .agg(F.sum("n_mentions").alias("total_mentions"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("total_mentions"), "name")
    )


_SQL_CONTEXT_ENTITIES = """
SELECT 'NEXT_AFTER_FAST' AS entity_type, name,
       CAST(SUM(n) AS BIGINT) AS total_mentions, COUNT(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\bfast\\s+([a-z]+)', 1)) AS name,
         1 AS n
  FROM documents)
GROUP BY name ORDER BY total_mentions DESC, name
"""


def q_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 search-the-index analogue: term lookup, highest count first."""
    docs = load(spark, sf_dir, "documents")
    return index.search(index.inverted_index(docs), "spark")


_SQL_INDEX_SEARCH = (
    _SQL_TOKENS_CTE
    + f"""
SELECT word, doc_id, COUNT(*) AS cnt FROM toks
WHERE word = 'spark' AND word NOT IN ({_STOP_LIST_SQL})
GROUP BY word, doc_id
ORDER BY cnt DESC, doc_id
"""
)


# ════════════════════════════════════════════════════════════════════════
# Similarity search on `embeddings`
# ════════════════════════════════════════════════════════════════════════
_QUERY_VEC_ID = 0


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select("embedding")
        .first()
    )
    return [float(v) for v in row["embedding"]]


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k with exact re-rank (LCG codebooks so
    the oracle replays every encode/score/candidate decision exactly —
    the oracle validates the PQ machinery itself, not agreement with
    exact search, which is codebook-quality-dependent by design)."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != _QUERY_VEC_ID)
    return simsearch.pq_topk(emb, _query_vec(spark, sf_dir), k=10)


def _pq_oracle_sql(m: int = 8, n_codes: int = 16, dim: int = 64,
                   k: int = 10, refine: int = 10) -> str:
    """Replay PQ-ADC exactly: codebook literals from the same LCG,
    integer-exact encode (argmin ties to lowest code), query distance
    tables, candidate TakeOrdered, exact-cosine re-rank."""
    from barks_ocr_spark.operators.simsearch import pq_codeword_ints

    dsub = dim // m
    cb_rows = ",\n    ".join(
        f"({s}, {c}, {[w * 1000 for w in pq_codeword_ints(s, c, dsub)]})"
        for s in range(m)
        for c in range(n_codes)
    )
    return f"""
WITH cb(sub, code, cw) AS (VALUES
    {cb_rows}
), vint AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000) AS BIGINT)) AS v
  FROM embeddings
), d2 AS (
  SELECT v.vec_id, cb.sub, cb.code,
    list_sum(list_transform(
      list_zip(v.v[cb.sub * {dsub} + 1 : (cb.sub + 1) * {dsub}], cb.cw),
      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
  FROM vint v CROSS JOIN cb
  WHERE len(v.v) = {dim}
), chosen AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM d2)
  WHERE rn = 1
), qt AS (
  SELECT sub, code, dist FROM d2 WHERE vec_id = {_QUERY_VEC_ID}
), approx AS (
  SELECT c.vec_id, SUM(q.dist) AS adc
  FROM chosen c JOIN qt q USING (sub, code)
  WHERE c.vec_id <> {_QUERY_VEC_ID}
  GROUP BY c.vec_id
), cand AS (
  SELECT vec_id FROM approx ORDER BY adc, vec_id LIMIT {k * refine}
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID})
SELECT e.vec_id,
  ROUND(
    list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])),
                            x -> x[1] * x[2]))
    / (sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)))
       * sqrt(list_sum(list_transform(CAST(qv AS DOUBLE[]), x -> x * x)))), 6) AS score
FROM embeddings e JOIN cand USING (vec_id), q
ORDER BY score DESC, e.vec_id LIMIT {k}
"""


_SQL_PQ_TOPK = _pq_oracle_sql()


def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != _QUERY_VEC_ID)
    return simsearch.brute_force_topk(emb, _query_vec(spark, sf_dir), k=10)


_SQL_TOPK_COSINE = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID})
SELECT vec_id,
  ROUND(
    list_sum(list_transform(list_zip(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])),
                            x -> x[1] * x[2]))
    / (sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
       * sqrt(list_sum(list_transform(CAST(qv AS DOUBLE[]), x -> x * x)))), 6) AS score
FROM embeddings, q
WHERE vec_id <> {_QUERY_VEC_ID}
ORDER BY score DESC, vec_id LIMIT 10
"""


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH pruned ANN top-k, with a FULL differential oracle: the
    signature uses literal integer LCG plane weights and integer-quantized
    dot products (simsearch.sign_lsh_bits), so DuckDB re-derives the
    identical signatures, prune set, and rescored top-k — prune + rescore
    are both checked, not just recall."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != _QUERY_VEC_ID)
    return simsearch.lsh_topk(
        emb, _query_vec(spark, sf_dir), k=10, n_planes=16, max_hamming=6
    )


def _lsh_planes_sql(n_planes: int = 16, dim: int = 64) -> str:
    rows = []
    for p in range(n_planes):
        w = simsearch.plane_weights_int(p, dim)
        rows.append(f"({p}, [{', '.join(str(x) for x in w)}]::BIGINT[])")
    return ", ".join(rows)


_SQL_LSH_TOPK = f"""
WITH planes(p, w) AS (VALUES {_lsh_planes_sql(16, 64)}),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      WHERE vec_id = {_QUERY_VEC_ID}),
vint AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000) AS BIGINT)) AS vi
  FROM embeddings WHERE vec_id <> {_QUERY_VEC_ID}),
sigs AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN list_sum(list_transform(list_zip(vi, w),
                                               z -> z[1] * z[2])) > 0
         THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)
         AS BIGINT) AS sig
  FROM vint, planes GROUP BY vec_id),
qsig AS (
  SELECT CAST(SUM(CASE WHEN list_sum(list_transform(
              list_zip(list_transform(qv, x -> CAST(floor(x * 1000000) AS BIGINT)), w),
              z -> z[1] * z[2])) > 0
         THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)
         AS BIGINT) AS sig
  FROM q, planes)
SELECT v.vec_id,
  ROUND(
    list_sum(list_transform(list_zip(v.v, q.qv), x -> x[1] * x[2]))
    / (sqrt(list_sum(list_transform(v.v, x -> x * x)))
       * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 6) AS score
FROM vint v JOIN sigs s ON v.vec_id = s.vec_id, q, qsig
WHERE bit_count(xor(s.sig, qsig.sig)) <= 6
ORDER BY score DESC, v.vec_id LIMIT 10
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN top-k (simsearch.ivf_topk) with a FULL differential
    oracle: centroids are literal integer LCG arrays and cell assignment
    is exact integer argmax (ties → lowest cell), so DuckDB re-derives
    the identical cells, probe set, and rescored top-k — the inverted-
    list prune is checked, not just recall."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != _QUERY_VEC_ID)
    return simsearch.ivf_topk(
        emb, _query_vec(spark, sf_dir), k=10, n_centroids=16, nprobe=4
    )


def _ivf_cents_sql(n_centroids: int = 16, dim: int = 64) -> str:
    rows = []
    for c in range(n_centroids):
        w = simsearch.centroid_ints(c, dim)
        rows.append(f"({c}, [{', '.join(str(x) for x in w)}]::BIGINT[])")
    return ", ".join(rows)


_SQL_IVF_TOPK = f"""
WITH cents(c, w) AS (VALUES {_ivf_cents_sql(16, 64)}),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      WHERE vec_id = {_QUERY_VEC_ID}),
qi AS (SELECT list_transform(qv, x -> CAST(floor(x * 1000000) AS BIGINT)) AS qvi
       FROM q),
probe AS (
  SELECT c FROM qi, cents
  ORDER BY list_sum(list_transform(list_zip(qvi, w), z -> z[1] * z[2])) DESC, c
  LIMIT 4),
vint AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000) AS BIGINT)) AS vi
  FROM embeddings WHERE vec_id <> {_QUERY_VEC_ID}),
scores AS (
  SELECT vec_id, c,
    list_sum(list_transform(list_zip(vi, w), z -> z[1] * z[2])) AS s
  FROM vint, cents),
cells AS (
  SELECT vec_id, min(c) AS cell
  FROM (SELECT vec_id, c, s, max(s) OVER (PARTITION BY vec_id) AS ms
        FROM scores) t
  WHERE s = ms GROUP BY vec_id)
SELECT v.vec_id,
  ROUND(
    list_sum(list_transform(list_zip(v.v, q.qv), x -> x[1] * x[2]))
    / (sqrt(list_sum(list_transform(v.v, x -> x * x)))
       * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 6) AS score
FROM vint v JOIN cells ce ON v.vec_id = ce.vec_id, q
WHERE ce.cell IN (SELECT c FROM probe)
ORDER BY score DESC, v.vec_id LIMIT 10
"""


def _index_dir(sf_dir: str, kind: str) -> str:
    """Deterministic per-sf scratch dir for materialized ANN indexes —
    overwritten each run, so repeated driver-gate runs never accumulate
    orphan directories (one dir per (kind, sf))."""
    import re as _re

    tag = _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    return f"/tmp/barks_ann_idx/{kind}_{tag}"


def q_lsh_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lsh_topk over a MATERIALIZED signature table (simsearch.lsh_write):
    signatures are computed once at write time and the probe filters a
    stored long column — the plan contains no ArrowEvalPython stage
    (pinned by test_lsh_indexed_no_signature_recompute). Same oracle as
    lsh_topk: the result must be independent of where signatures are
    computed."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != _QUERY_VEC_ID)
    path = _index_dir(sf_dir, "lsh")
    simsearch.lsh_write(emb, path, n_planes=16, dim=64)
    return simsearch.lsh_topk_indexed(
        spark, path, _query_vec(spark, sf_dir), k=10, n_planes=16, max_hamming=6
    )


def q_lsh_topk_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lsh_topk over the BANDED multi-probe layout (lsh_band_write):
    probes are (band, val) partition pruning instead of a full signature
    scan (pinned by test_lsh_banded_partition_pruning), pigeonhole-exact
    at max_hamming 6 < 8 bands. Same oracle as lsh_topk — the banded
    layout must not change the survivor set."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != _QUERY_VEC_ID)
    path = _index_dir(sf_dir, "lshband")
    simsearch.lsh_band_write(emb, path, n_planes=16, n_bands=8, dim=64)
    return simsearch.lsh_topk_banded(
        spark,
        path,
        _query_vec(spark, sf_dir),
        k=10,
        n_planes=16,
        n_bands=8,
        max_hamming=6,
    )


def q_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_topk over a MATERIALIZED cell-partitioned index
    (simsearch.ivf_write): the probe is parquet partition pruning
    (pinned by test_ivf_indexed_partition_pruning). Same oracle as
    ivf_topk — write-time vs read-time cell assignment must agree."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != _QUERY_VEC_ID)
    path = _index_dir(sf_dir, "ivf")
    simsearch.ivf_write(emb, path, n_centroids=16, dim=64)
    return simsearch.ivf_topk_indexed(
        spark, path, _query_vec(spark, sf_dir), k=10, n_centroids=16, nprobe=4
    )


def q_pq_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pq_topk over a MATERIALIZED code-carrying index
    (simsearch.pq_write): read-time scoring is pure codegen over the
    stored codes (pinned by test_pq_indexed_no_encode_recompute). Same
    oracle as pq_topk — write-time vs read-time encoding must agree."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != _QUERY_VEC_ID)
    path = _index_dir(sf_dir, "pq")
    simsearch.pq_write(emb, path, dim=64)
    return simsearch.pq_topk_indexed(spark, path, _query_vec(spark, sf_dir), k=10)


def q_pq_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION PQ path end-to-end: pq_train (per-subspace Lloyd
    k-means on a deterministic 300-vector sample) → pq_write with the
    trained codebook → pq_topk_indexed. K-means is not SQL-expressible,
    so this entry carries no DuckDB oracle (rows-only driver check);
    exact write/read agreement and the trained codebook's recall edge
    over the LCG default are pinned by
    test_pq_trained_codebook_end_to_end."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != _QUERY_VEC_ID)
    sample = np.array(
        [
            list(r["embedding"])
            for r in emb.filter(F.col("vec_id") <= 300).orderBy("vec_id").collect()
        ],
        dtype=np.float64,
    )
    cb = simsearch.pq_train(sample, m=8, n_codes=16, seed=7)
    path = _index_dir(sf_dir, "pqtrained")
    simsearch.pq_write(emb, path, dim=64, codebook=cb)
    return simsearch.pq_topk_indexed(
        spark, path, _query_vec(spark, sf_dir), k=10, codebook=cb
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over an LSH-bucketed self-join.

    Corpus = embeddings ∪ id-shifted twin, threshold 0.99. Max natural
    (non-twin) cosine in the driver data is ~0.51 and identical vectors
    always share a sign-LSH signature, so the bucketed join is provably
    complete here and the exact O(n²) SQL is a full oracle."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twin = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    return simsearch.cosine_pairs(emb.unionAll(twin), threshold=0.99, dim=64)


_SQL_EMBEDDING_NEAR_DUPS = """
WITH doubled AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) FROM embeddings
)
SELECT id_a, id_b, score FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    ROUND(list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
         * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS score
  FROM doubled a JOIN doubled b ON a.vec_id < b.vec_id)
WHERE score >= 0.99
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid: posexplode + exact decimal mean per dimension."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    # floor-of-micro-units: float→double is exact, the *1e6 product is the
    # same IEEE double in both engines, and floor has no tie-breaking —
    # unlike decimal casts, whose half-rounding differs across engines.
    micro = F.floor(F.col("v").cast("double") * 1_000_000).cast("long")
    # No final round: integer micro-sum / count / 1e6 is the same IEEE
    # double in both engines; rounding would re-introduce half-tie
    # divergence (Spark half-away vs DuckDB half-even).
    return (
        ex.groupBy("label", "dim")
        .agg(
            (F.sum(micro).cast("double") / F.count("*") / 1_000_000).alias("centroid_v")
        )
    )


_SQL_CENTROIDS = """
SELECT label, i - 1 AS dim,
  CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
        / COUNT(*) / 1000000 AS centroid_v
FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
GROUP BY label, i
"""


# ════════════════════════════════════════════════════════════════════════
# Flagship extraction on a span-ized view of `documents`
# ════════════════════════════════════════════════════════════════════════
def _spanized_docs(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """Deterministically split each flat document into 8-word text spans —
    the interleaved-docs input shape, derived from driver data.
    ``spread=False`` keeps the scan's natural partitioning (used by the
    kernel-pass plan pin, which asserts extraction itself adds no
    Exchange on top of its input)."""
    docs = load(spark, sf_dir, "documents", spread=spread)
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.ceil(F.size(words) / F.lit(8)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    spans = F.transform(
        idx,
        lambda i: F.struct(
            F.lit("text").alias("kind"),
            F.concat_ws(" ", F.slice(words, i * 8 + 1, 8)).alias("text"),
            F.lit("").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans"))


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship extraction pipeline over span-ized driver documents.

    On this corpus (no terminal punctuation → every span is open, no
    planted noise) the pipeline provably reduces to merge-all + casing +
    whitespace collapse, giving an exact SQL oracle for the end-to-end
    Spark job — a differential test of the whole mapInPandas path.
    """
    result = extraction.extract(_spanized_docs(spark, sf_dir))
    return result.select(
        "doc_id",
        F.explode("spans").alias("s"),
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def q_book_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip test of the skew module: paginate each span-ized doc
    into 4-span pages (intra-row, zero shuffle), then reassemble ordered
    books via skew.assemble_book_spans — output must equal the original
    spanization, which the oracle re-derives in SQL. Exercises the
    page_no sort, cross-page offset renumbering, and the empty-page
    edge."""
    pages = skew.paginate_spans(_spanized_docs(spark, sf_dir), page_size=4)
    books = skew.assemble_book_spans(pages)
    return books.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


_SQL_BOOK_ASSEMBLY = r"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         string_split_regex(trim(text), '\s+') AS words
  FROM documents)
SELECT doc_id, 'text' AS kind,
  array_to_string(words[i*8+1 : i*8+8], ' ') AS text,
  '' AS media_ref, CAST(i AS INT) AS offset
FROM w, UNNEST(range(greatest(CAST(ceil(len(words)/8.0) AS BIGINT), 1))) AS t(i)
"""


def q_salted_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event rollup through skew.salted_join: events.user_id is
    a hot-key join column (few users own the whole fact table — the
    driver corpus has ~15 distinct users over 10^3..10^5 events), so the
    join runs salted on event_id with 8 buckets. Oracle is the plain SQL
    join — salting must be invisible in the result."""
    ev = load(spark, sf_dir, "events")
    cust = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_name")
    )
    joined = skew.salted_join(ev, cust, on="user_id", salt_src="event_id", buckets=8)
    return joined.groupBy("c_name").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
    )


_SQL_SALTED_USER_ROLLUP = """
SELECT c.c_name AS c_name, COUNT(*) AS n_events,
  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_name
"""


_SQL_EXTRACT_SPANS = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
  'text' AS kind,
  upper(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS text,
  '' AS media_ref,
  0 AS offset
FROM documents
WHERE length(trim(text)) > 0
"""


# ════════════════════════════════════════════════════════════════════════
# Per-string / layout kernel queries (F4, T7, T8, T11, T12, W3, W4) — the
# kernels run through operators/textops.py (mapInPandas / applyInPandas);
# plants are deterministic so every oracle is exact SQL. The corpus is
# lowercase [a-z ] text with a fixed 31-word vocabulary, which each plant
# exploits (noted per query).
# ════════════════════════════════════════════════════════════════════════

# The corpus vocabulary (stable across sf0.001/0.01/0.1 driver tables) +
# one extra word; planted misspellings below have a unique closest match
# verified in tests/test_textnorm.py::test_spell_suggest_fixed_mappings.
SPELL_DICT = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "engine", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window",
)


def q_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: every corpus word is in the dictionary (must pass unchanged —
    a false rewrite turns the row red); the planted prefix's misspellings
    have fixed difflib suggestions ('vectqr'→'vector', 'sparc'→'spark'),
    so the oracle is 'vector spark ' || text."""
    from barks_ocr_spark.operators import textops

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit("vectqr sparc "), F.col("text")).alias("text")
    )
    return textops.spell_suggest(docs, SPELL_DICT)


_SQL_SPELL_SUGGEST = """
SELECT doc_id, 'vector spark ' || text AS fixed FROM documents
"""


def q_comparison_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7/T6: dash-run fold + whitespace strip + lowercase, with planted
    em/en-dash runs (corpus has none natively)."""
    from barks_ocr_spark.operators import textops

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" slow "), F.lit(" —– ")).alias("text"),
    )
    return textops.comparison_keys(docs)


_SQL_COMPARISON_KEYS = """
SELECT doc_id,
  lower(regexp_replace(regexp_replace(
    replace(text, ' slow ', ' —– '),
    '[—–−-]+', '-', 'g'), '\\s+', '', 'g')) AS ckey
FROM documents
"""


def q_sentence_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: planted '. The' sentence breaks (real sentence ends), a
    terminal '. '-less 'finished.' on doc_id%3==0, and an abbreviation
    'MR.' on doc_id%3==1 that must NOT fire. The corpus itself has no
    periods or capitals, so firing ⟺ (text had ' fast ') ∨ doc_id%3==0 —
    exact SQL, no lookaround needed (DuckDB's RE2 has none)."""
    from barks_ocr_spark.operators import textops

    planted = F.replace(F.col("text"), F.lit(" fast "), F.lit(". The "))
    planted = F.when(
        F.col("doc_id") % 3 == 0, F.concat(planted, F.lit(" finished."))
    ).when(
        F.col("doc_id") % 3 == 1, F.concat(planted, F.lit(" MR."))
    ).otherwise(planted)
    docs = load(spark, sf_dir, "documents").select("doc_id", planted.alias("text"))
    return textops.sentence_end_flags(docs)


_SQL_SENTENCE_END = """
SELECT doc_id,
  (text LIKE '% fast %' OR doc_id % 3 = 0) AS fired
FROM documents
"""


def q_rewrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11: rewrap to a fixed 3-word/2-word line pattern; docs have ≥10
    words, so line 1 = first 3 words and the last pattern line absorbs
    the remainder."""
    from barks_ocr_spark.operators import textops

    docs = load(spark, sf_dir, "documents")
    return textops.rewrap(docs, "one two three\nfour five")


_SQL_REWRAP = """
SELECT doc_id,
  array_to_string(ws[1:3], ' ') || chr(10) || array_to_string(ws[4:len(ws)], ' ')
    AS wrapped
FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
"""


def q_text_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12: single-line corpus text against doc-derived boxes. The font
    model is the deterministic per-char width table (narrow 400 / wide
    1000 / space 500 / other 700 em-milliunits), font = max(h/1·0.75, 8);
    the oracle recomputes the same integer width sum in SQL."""
    from barks_ocr_spark.operators import textops

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.lit(200) + F.col("doc_id") % 300).cast("int").alias("box_w"),
        F.lit(40).cast("int").alias("box_h"),
    )
    return textops.text_fits(docs)


_SQL_TEXT_FIT = """
SELECT doc_id, CAST(200 + doc_id % 300 AS INTEGER) AS box_w,
  CAST(40 AS INTEGER) AS box_h,
  ((400 * len(regexp_extract_all(text, '[iljtf]'))
    + 1000 * len(regexp_extract_all(text, '[mw]'))
    + 500 * (length(text) - length(replace(text, ' ', '')))
    + 700 * (length(text)
             - len(regexp_extract_all(text, '[iljtf]'))
             - len(regexp_extract_all(text, '[mw]'))
             - (length(text) - length(replace(text, ' ', ''))))
   ) / 1000.0 * 30.0) <= (200 + doc_id % 300) * 1.5 AS fits
FROM documents
"""


def _layout_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-doc item stream for W3/W4: one item per word,
    left-x derived from the position (pseudo-random walk with planted
    column jumps)."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id", F.posexplode(words).alias("pos", "w")
    ).select(
        "doc_id",
        "pos",
        ((F.col("pos") * F.col("pos") * 31 % 240).cast("double")).alias("x"),
    )


_SQL_LAYOUT_ITEMS_CTE = """
WITH items AS (
  SELECT doc_id, i - 1 AS pos,
         CAST(((i-1)*(i-1)*31) % 240 AS DOUBLE) AS x
  FROM (SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n
        FROM documents),
    unnest(generate_series(1, n)) AS t(i)
)
"""


def q_column_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: column label per item — new column when consecutive x jumps ≥
    min(100, 0.30·page_width); page_width 400 → threshold 100."""
    from barks_ocr_spark.operators import textops

    return textops.split_columns(_layout_items(spark, sf_dir), page_width=400.0)


_SQL_COLUMN_SPLIT = (
    _SQL_LAYOUT_ITEMS_CTE
    + """
, jumps AS (
  SELECT doc_id, pos, x,
    CASE WHEN x - lag(x) OVER (PARTITION BY doc_id ORDER BY pos) >= 100
         THEN 1 ELSE 0 END AS j
  FROM items
)
SELECT doc_id, CAST(pos AS INTEGER) AS pos, x,
  CAST(SUM(j) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS BIGINT) AS col
FROM jumps
"""
)


def q_blockquotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: items indented ≥15pt beyond their column's median left-x
    (median parity: numpy interpolated == DuckDB median on doubles)."""
    from barks_ocr_spark.operators import textops

    return textops.blockquotes(_layout_items(spark, sf_dir), page_width=400.0)


_SQL_BLOCKQUOTES = (
    _SQL_LAYOUT_ITEMS_CTE
    + """
, jumps AS (
  SELECT doc_id, pos, x,
    CASE WHEN x - lag(x) OVER (PARTITION BY doc_id ORDER BY pos) >= 100
         THEN 1 ELSE 0 END AS j
  FROM items
), cols AS (
  SELECT doc_id, pos, x,
    CAST(SUM(j) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS col
  FROM jumps
)
SELECT doc_id, CAST(pos AS INTEGER) AS pos, x, col,
  x >= median(x) OVER (PARTITION BY doc_id, col) + 15 AS is_bq
FROM cols
"""
)


def q_page_scan_injection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: prepend a full-page-scan media span (offset -1) for docs in a
    small scan dim table (every 10th doc) — broadcast left join, then
    explode for the compare."""
    docs = _spanized_docs(spark, sf_dir)
    raw = load(spark, sf_dir, "documents")
    scans = raw.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("scan_"), F.col("doc_id").cast("string"), F.lit(".png")).alias(
            "media_ref"
        ),
    )
    out = extraction.inject_page_scans(docs, scans)
    return out.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


_SQL_PAGE_SCAN_INJECTION = """
WITH chunks AS (
  SELECT doc_id, i - 1 AS pos,
    array_to_string(ws[(i-1)*8+1 : (i-1)*8+8], ' ') AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
    unnest(generate_series(1, greatest(CAST(ceil(len(ws)/8.0) AS INT), 1))) AS t(i)
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text' AS kind, text,
       '' AS media_ref, CAST(pos AS INTEGER) AS "offset"
FROM chunks
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'media', '',
       'scan_' || CAST(doc_id AS VARCHAR) || '.png', CAST(-1 AS INTEGER)
FROM documents WHERE doc_id % 10 = 0
"""


def q_extraction_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/R6: global rollup of the per-partition lineage metrics over
    the flagship extraction (partition ids are run-dependent, so the
    oracled projection aggregates them away; per-partition rows are
    exercised by test_resume)."""
    m = extraction.extraction_metrics(extraction.extract(_spanized_docs(spark, sf_dir)))
    return m.agg(
        F.sum("pages_processed").alias("pages_processed"),
        F.sum("spans_emitted").alias("spans_emitted"),
        F.sum("docs_empty").alias("docs_empty"),
    )


_SQL_EXTRACTION_METRICS = """
SELECT CAST(COUNT(*) AS BIGINT) AS pages_processed,
  CAST(SUM(CASE WHEN length(trim(text)) > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS spans_emitted,
  CAST(SUM(CASE WHEN length(trim(text)) > 0 THEN 0 ELSE 1 END) AS BIGINT)
    AS docs_empty
FROM documents
"""


def q_dodgy_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: drop unassigned-panel junk groups. Synthetic group table from
    documents with planted dodgy shapes: gutter groups (panel -1) on
    doc%4==0, page-number notes on doc%8==0, 'W' / 1-char texts on
    doc%12∈{0,4}. Output = the KEPT groups."""
    docs = load(spark, sf_dir, "documents")
    groups = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, -1).otherwise(1).cast("int").alias("panel_num"),
        F.when(F.col("doc_id") % 12 == 0, F.lit("W"))
        .when(F.col("doc_id") % 12 == 4, F.substring("text", 1, 1))
        .otherwise(F.col("text"))
        .alias("ai_text"),
        F.when(F.col("doc_id") % 8 == 0, F.lit("Contains Page Number note"))
        .otherwise(F.lit(""))
        .alias("notes"),
    )
    return issues.remove_dodgy_groups(groups)


_SQL_DODGY_GROUPS = """
WITH groups AS (
  SELECT doc_id,
    CAST(CASE WHEN doc_id % 4 = 0 THEN -1 ELSE 1 END AS INTEGER) AS panel_num,
    CASE WHEN doc_id % 12 = 0 THEN 'W'
         WHEN doc_id % 12 = 4 THEN substr(text, 1, 1)
         ELSE text END AS ai_text,
    CASE WHEN doc_id % 8 = 0 THEN 'Contains Page Number note' ELSE '' END AS notes
  FROM documents
)
SELECT doc_id, panel_num, ai_text, notes FROM groups
WHERE NOT (panel_num = -1 AND (
  lower(notes) LIKE '%page number%'
  OR trim(ai_text) = ''
  OR length(ai_text) = 1
  OR upper(ai_text) IN ('W', ' ')))
"""


def q_final_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: use_as_final promotion — engine a flagged on even docs,
    engine b on odd docs except doc%5==0 ('not ready', excluded); at
    most one engine flagged per doc (the strict invariant check runs
    eagerly inside the operator)."""
    from barks_ocr_spark.operators import comic

    docs = load(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.greatest(F.ceil(F.size(words) / F.lit(8)), F.lit(1)).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i * 8 + 1, 8)))

    def eng(name: str, flag) -> DataFrame:
        return docs.select(
            "doc_id",
            F.lit(name).alias("engine"),
            flag.alias("use_as_final"),
            chunks.alias("groups"),
        )

    prelim = eng("easyocr", F.col("doc_id") % 2 == 0).unionAll(
        eng("paddleocr", (F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 5 != 0))
    )
    final = comic.promote_final_groups(prelim, strict=True)
    return final.select("doc_id", "engine", F.size("groups").alias("n_groups"))


_SQL_FINAL_GROUPS = """
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'easyocr' ELSE 'paddleocr' END AS engine,
  CAST(greatest(CAST(ceil(len(string_split_regex(trim(text), '\\s+')) / 8.0) AS INT), 1)
       AS INTEGER) AS n_groups
FROM documents
WHERE doc_id % 2 = 0 OR doc_id % 5 <> 0
"""


def q_comic_title_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: broadcast semi-join against a curated catalog dim — titles
    t0..t36 derived from doc_id, every third title non-comic."""
    from barks_ocr_spark.operators import comic

    docs = load(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("t"), (F.col("doc_id") % 37).cast("string")).alias("title"),
    )
    catalog = (
        docs.select((F.col("doc_id") % 37).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("t"), F.col("k").cast("string")).alias("title"),
            (F.col("k") % 3 != 1).alias("is_comic"),
        )
    )
    return comic.filter_comic_titles(pages, catalog).select("doc_id", "title")


_SQL_COMIC_TITLE_FILTER = """
SELECT doc_id, 't' || CAST(doc_id % 37 AS VARCHAR) AS title
FROM documents WHERE (doc_id % 37) % 3 <> 1
"""


def q_rect_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: rect-rect min distance (0 on overlap) over doc-derived rect
    pairs; numpy kernel vs the closed-form SQL (identical IEEE ops)."""
    from barks_ocr_spark.operators import textops

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    rects = docs.select(
        "doc_id",
        (d % 100).cast("double").alias("ax0"),
        (d % 80).cast("double").alias("ay0"),
        (d % 100 + 30).cast("double").alias("ax1"),
        (d % 80 + 20).cast("double").alias("ay1"),
        (d * 7 % 150).cast("double").alias("bx0"),
        (d * 3 % 90).cast("double").alias("by0"),
        (d * 7 % 150 + 25).cast("double").alias("bx1"),
        (d * 3 % 90 + 15).cast("double").alias("by1"),
    )
    return textops.rect_distances(rects)


_SQL_RECT_DISTANCES = """
SELECT doc_id,
  sqrt(dx * dx + dy * dy) AS dist
FROM (
  SELECT doc_id,
    greatest(0, greatest(CAST(doc_id % 100 AS DOUBLE) - (doc_id * 7 % 150 + 25),
                         CAST(doc_id * 7 % 150 AS DOUBLE) - (doc_id % 100 + 30))) AS dx,
    greatest(0, greatest(CAST(doc_id % 80 AS DOUBLE) - (doc_id * 3 % 90 + 15),
                         CAST(doc_id * 3 % 90 AS DOUBLE) - (doc_id % 80 + 20))) AS dy
  FROM documents)
"""


# ════════════════════════════════════════════════════════════════════════
# Comic-page + media pipelines on datagen fixtures (binary-kernel paths).
# The semantics aren't SQL-expressible, so the oracle is a committed
# golden parquet produced by the pure-pandas kernels over the identical
# seeded inputs (scripts/make_goldens.py) — the differential check covers
# the whole Spark side (mapInPandas plumbing, Arrow transfer, schemas).
# ════════════════════════════════════════════════════════════════════════
_GOLDENS_DIR = "/root/repo/goldens"

_SQL_COMIC_SPANS = f"""
SELECT doc_id, kind, text, media_ref, "offset"
FROM read_parquet('{_GOLDENS_DIR}/comic_spans.parquet')
"""

_SQL_MEDIA_FEATURES = f"""
SELECT doc_id, media_ref, dim, v
FROM read_parquet('{_GOLDENS_DIR}/media_features.parquet')
"""


def q_comic_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-image bytes → OCR decode → grouping → ordered spans."""
    from barks_ocr_spark.datagen import docs as dg
    from barks_ocr_spark.operators import comic
    from barks_ocr_spark.schemas import PAGES_GEOM_SCHEMA

    pages = spark.createDataFrame(
        dg.gen_pages_geom(100, seed=11), schema=PAGES_GEOM_SCHEMA
    )
    result = comic.comic_pipeline(pages)
    return result.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → batched feature-extraction kernel."""
    import pandas as pd

    from barks_ocr_spark.operators import media

    rows = [
        (f"m{i}", f"img{i}.png", media.encode_fake_image(64 + i, 32 + i, 3, seed=i))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "media_ref", "blob"])
    )
    feats = media.image_features(df)
    return feats.select("doc_id", "media_ref", F.posexplode("features").alias("dim", "v"))


# ════════════════════════════════════════════════════════════════════════
# Training-data hygiene: repetition filter, PII scrub, decontamination
# ════════════════════════════════════════════════════════════════════════
def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (top-unigram/bigram fraction,
    duplicated-trigram fraction) per document."""
    # plain load: the query plan is pinned Exchange-free
    # (test_repetition_scores_is_zero_shuffle_kernel)
    return textstats.repetition_scores(load(spark, sf_dir, "documents"))


_SQL_REPETITION = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents
), g AS (
  SELECT doc_id, 'uni' AS kind, unnest(ws) AS gram FROM w
  UNION ALL
  SELECT doc_id, 'bi', unnest([concat_ws(' ', ws[i], ws[i+1])
    for i in generate_series(1, greatest(len(ws)-1, 0))]) FROM w
  UNION ALL
  SELECT doc_id, 'tri', unnest([concat_ws(' ', ws[i], ws[i+1], ws[i+2])
    for i in generate_series(1, greatest(len(ws)-2, 0))]) FROM w
), c AS (
  SELECT doc_id, kind, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, kind, gram
), k AS (
  SELECT doc_id, kind, MAX(cnt) AS top_cnt, SUM(cnt) AS total,
    COALESCE(SUM(cnt) FILTER (cnt > 1), 0) AS dup_cnt
  FROM c GROUP BY doc_id, kind
)
SELECT doc_id,
  COALESCE(ROUND(CAST(MAX(top_cnt) FILTER (kind = 'uni') AS DOUBLE)
    / MAX(total) FILTER (kind = 'uni'), 6), 0.0) AS top_unigram_frac,
  COALESCE(ROUND(CAST(MAX(top_cnt) FILTER (kind = 'bi') AS DOUBLE)
    / MAX(total) FILTER (kind = 'bi'), 6), 0.0) AS top_bigram_frac,
  COALESCE(ROUND(CAST(MAX(dup_cnt) FILTER (kind = 'tri') AS DOUBLE)
    / MAX(total) FILTER (kind = 'tri'), 6), 0.0) AS dup_trigram_frac
FROM k GROUP BY doc_id
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a deterministically planted corpus (the raw corpus
    contains no PII — both engines apply the identical plant, then
    redact + count per type: email, phone in three formats, SSN-shaped
    token, IPv4)."""
    from barks_ocr_spark.operators import textstats as ts

    # plain load: the query plan is pinned Exchange-free
    # (test_pii_redact_is_pure_projection)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-0199")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 13 == 0, F.lit(" phone (202) 555-0147")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 17 == 0, F.lit(" or 555.867.5309 works")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 19 == 0, F.lit(" ssn 123-45-6789")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 23 == 0, F.lit(" from 192.168.1.77")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return ts.pii_redact(docs)


def _pii_oracle_sql() -> str:
    """Build the oracle from the operator's own pattern table, so the
    Spark patterns and the RE2 oracle can never drift."""
    from barks_ocr_spark.operators.textstats import _PII_STAGES

    stages = []
    prev = "text"
    selects = []
    for i, (count_name, pat, token) in enumerate(_PII_STAGES):
        cur = f"t{i + 1}"
        stages.append(
            f"SELECT *, regexp_replace({prev}, '{pat}', '{token}', 'g')"
            f" AS {cur} FROM "
        )
        selects.append(
            f"CAST(len(regexp_extract_all({prev}, '{pat}')) AS BIGINT)"
            f" AS {count_name}"
        )
        prev = cur
    ctes = ",\n".join(
        f"s{i} AS ({sql}{'planted' if i == 0 else f's{i - 1}'})"
        for i, sql in enumerate(stages)
    )
    return f"""
WITH planted AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 7 = 0
         THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
         ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-0199' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN ' phone (202) 555-0147' ELSE '' END
    || CASE WHEN doc_id % 17 = 0 THEN ' or 555.867.5309 works' ELSE '' END
    || CASE WHEN doc_id % 19 = 0 THEN ' ssn 123-45-6789' ELSE '' END
    || CASE WHEN doc_id % 23 = 0 THEN ' from 192.168.1.77' ELSE '' END AS text
  FROM documents),
{ctes}
SELECT doc_id, {prev} AS text_redacted,
  {', '.join(selects)}
FROM s{len(stages) - 1}
"""


_SQL_PII_REDACT = _pii_oracle_sql()


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: docs with doc_id % 97 == 0 act as the
    held-out benchmark; the rest are the corpus. Word trigrams (n=3 —
    the corpus vocabulary is small, so trigram collisions are plentiful
    enough to exercise the join; production default is 5+)."""
    from barks_ocr_spark.operators import decontam

    docs = load(spark, sf_dir, "documents", spread=True)
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontam.contamination(corpus, eval_docs, n=3)


_SQL_CONTAMINATION = f"""
WITH canon AS (
  SELECT doc_id, string_split({_CANON_SQL}, ' ') AS ws FROM documents
), g AS (
  SELECT doc_id, list_distinct([concat_ws(' ', ws[i], ws[i+1], ws[i+2])
    for i in generate_series(1, greatest(len(ws)-2, 0))]) AS grams
  FROM canon
), eg AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
), dg AS (
  SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
  FROM g WHERE doc_id % 97 <> 0
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
  CAST(COUNT(*) AS BIGINT) AS n_contaminated,
  ROUND(CAST(COUNT(*) AS DOUBLE) / n_grams, 6) AS contam_frac
FROM dg JOIN eg USING (gram)
GROUP BY doc_id, n_grams
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset-card rollup (doc/distinct/token totals)."""
    return textstats.corpus_stats(load(spark, sf_dir, "documents"))


_SQL_CORPUS_STATS = f"""
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT md5({{CANON}})) AS BIGINT) AS n_distinct,
  CAST(SUM(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT)
    AS ws_tokens,
  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')))
    AS BIGINT) AS bpe_tokens,
  ROUND(AVG(len(string_split_regex(trim(lower(text)), '\\s+'))), 6)
    AS avg_words
FROM documents GROUP BY source
""".replace("{CANON}", _CANON_SQL)


def q_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC normalization over a deterministically planted corpus: every
    5th doc gets a decomposed 'cafe' + combining acute appended; the
    normalizer must compose it (and leave already-NFC docs unchanged)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit(" cafe\u0301")  # decomposed: e + combining acute
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return textstats.normalize_unicode(docs)


_SQL_NORMALIZE_UNICODE = """
WITH planted AS (
  SELECT doc_id,
    text || CASE WHEN doc_id % 5 = 0 THEN ' cafe' || chr(769) ELSE '' END AS text
  FROM documents)
SELECT doc_id, nfc_normalize(text) AS text_norm,
  COALESCE(nfc_normalize(text) <> text, false) AS changed
FROM planted
"""


def q_nfc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC normalization composed AHEAD of fingerprint/exact-dedup in
    one plan — the composition normalize_unicode's docstring motivates.
    Planted mixed-form duplicates: every doc gets a composed-é suffix
    (' café', U+00E9) and its +1M twin the DECOMPOSED form (' cafe' +
    U+0301). The byte strings differ, so canonical_text alone keys them
    apart ('caf' vs 'cafe' after the non-ASCII strip); NFC first
    composes the twin's e+◌́ into é and both fingerprints collapse —
    every planted pair MUST dedup together (and would not without the
    NFC stage, pinned by test_nfc_dedup_requires_normalization)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id", F.concat("text", F.lit(" caf\u00e9")).alias("text")  # composed é
    )
    twin = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" cafe\u0301")).alias("text"),  # e + combining acute
    )
    normed = textstats.normalize_unicode(base.unionAll(twin)).select(
        "doc_id", F.col("text_norm").alias("text")
    )
    out = dedup.exact_duplicates(normed)
    return out.select(
        "fp",
        "n_docs",
        F.array_join(
            F.transform("doc_ids", lambda x: x.cast("string")), ","
        ).alias("doc_ids"),
    )


_SQL_NFC_DEDUP = f"""
WITH mixed AS (
  SELECT doc_id, text || ' caf' || chr(233) AS text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' cafe' || chr(769) FROM documents
), normed AS (
  SELECT doc_id, nfc_normalize(text) AS text FROM mixed
)
SELECT fp, n_docs, doc_ids FROM (
  SELECT md5({_CANON_SQL}) AS fp, COUNT(*) AS n_docs,
         array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
  FROM normed GROUP BY 1)
WHERE n_docs > 1
"""


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule combined quality gate with auditable per-rule failure
    reasons. Thresholds picked so several rules actually fire on this
    corpus (word counts run 10-99, mean word lengths 3.7-5.3)."""
    return textstats.gopher_filter(
        load(spark, sf_dir, "documents"),
        min_words=30,
        min_mean_word_len=4.0,
    )


_SQL_GOPHER_FILTER = f"""
WITH w AS (
  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents
), feat AS (
  SELECT doc_id,
    len(ws) AS n_words,
    CASE WHEN len(ws) > 0
      THEN CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(ws)
      ELSE 0.0 END AS mwl,
    CASE WHEN len(ws) > 0
      THEN CAST(len(list_filter(ws, x -> x IN ({{EN}}))) AS DOUBLE) / len(ws)
      ELSE 0.0 END AS sr,
    CASE WHEN length(text) > 0
      THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text)
      ELSE 0.0 END AS pr
  FROM w
), g AS (
  SELECT doc_id, 'bi' AS kind, unnest([concat_ws(' ', ws[i], ws[i+1])
    for i in generate_series(1, greatest(len(ws)-1, 0))]) AS gram FROM w
  UNION ALL
  SELECT doc_id, 'tri', unnest([concat_ws(' ', ws[i], ws[i+1], ws[i+2])
    for i in generate_series(1, greatest(len(ws)-2, 0))]) FROM w
), c AS (
  SELECT doc_id, kind, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, kind, gram
), k AS (
  SELECT doc_id, kind, MAX(cnt) AS top_cnt, SUM(cnt) AS total,
    COALESCE(SUM(cnt) FILTER (cnt > 1), 0) AS dup_cnt
  FROM c GROUP BY doc_id, kind
), rep AS (
  SELECT doc_id,
    COALESCE(ROUND(CAST(MAX(top_cnt) FILTER (kind = 'bi') AS DOUBLE)
      / MAX(total) FILTER (kind = 'bi'), 6), 0.0) AS top_bi,
    COALESCE(ROUND(CAST(MAX(dup_cnt) FILTER (kind = 'tri') AS DOUBLE)
      / MAX(total) FILTER (kind = 'tri'), 6), 0.0) AS dup_tri
  FROM k GROUP BY doc_id
), rules AS (
  SELECT f.doc_id, f.n_words,
    concat_ws(',',
      CASE WHEN f.n_words < 30 THEN 'too_few_words' END,
      CASE WHEN f.n_words > 100000 THEN 'too_many_words' END,
      CASE WHEN f.mwl < 4.0 OR f.mwl > 10.0 THEN 'word_len_out_of_range' END,
      CASE WHEN f.sr < 0.02 THEN 'too_few_stopwords' END,
      CASE WHEN f.pr > 0.2 THEN 'too_much_punct' END,
      CASE WHEN r.top_bi > 0.2 THEN 'repeated_bigrams' END,
      CASE WHEN r.dup_tri > 0.3 THEN 'repeated_trigrams' END
    ) AS failed
  FROM feat f LEFT JOIN rep r USING (doc_id)
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
  failed = '' AS keep, failed
FROM rules
""".replace("{EN}", _EN_LIST_SQL)


_RATE_SAMPLE_RATES = {"src0": 0.0, "src1": 0.25, "src2": 0.5, "src3": 1.0}


def q_rate_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture-rate sampling (deterministic md5 Bernoulli):
    src0 dropped, src1 quartered, src2 halved, src3 and the default
    kept whole."""
    from barks_ocr_spark.operators import sampling

    return sampling.rate_sample(
        load(spark, sf_dir, "documents").select("doc_id", "source"),
        "source",
        _RATE_SAMPLE_RATES,
    )


_SQL_RATE_SAMPLE = """
SELECT doc_id, source FROM documents
WHERE lpad(substring(md5(CAST(doc_id AS VARCHAR)), 1, 4), 5, '0') <
  CASE source
    WHEN 'src0' THEN '00000'
    WHEN 'src1' THEN '04000'
    WHEN 'src2' THEN '08000'
    ELSE '10000' END
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end eval-set decontamination: the %97 split of
    q_contamination, but returning the SURVIVING corpus rows (full
    documents schema) after removing every doc with ≥1 trigram
    collision — flag → broadcast anti-join, the dedup_corpus shape."""
    from barks_ocr_spark.operators import decontam

    docs = load(spark, sf_dir, "documents", spread=True)
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontam.decontaminate(corpus, eval_docs, n=3)


_SQL_DECONTAMINATE = f"""
WITH canon AS (
  SELECT doc_id, string_split({_CANON_SQL}, ' ') AS ws FROM documents
), g AS (
  SELECT doc_id, list_distinct([concat_ws(' ', ws[i], ws[i+1], ws[i+2])
    for i in generate_series(1, greatest(len(ws)-2, 0))]) AS grams
  FROM canon
), eg AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
), flagged AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0)
  JOIN eg USING (gram)
)
SELECT d.* FROM documents d
WHERE d.doc_id % 97 <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
"""


_CLEAN_PROD_PLANT = (
    "the quick shared benchmark sentence used across evaluation suites everywhere"
)
_CLEAN_PROD_MOD = 29


def _planted_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the shared 10-word sentence appended to every
    %29 doc AND every eval (%97) doc — guarantees real 8-gram decontam
    collisions at the production n (natural 8-gram overlap between
    disjoint synthetic docs is ~zero, which would leave the n=8 stage
    unproven as a no-op)."""
    return load(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                (F.col("doc_id") % _CLEAN_PROD_MOD == 0)
                | (F.col("doc_id") % 97 == 0),
                F.lit(" " + _CLEAN_PROD_PLANT),
            ).otherwise(F.lit("")),
        ).alias("text"),
        "source",
    )


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep in ONE declarative plan
    (operators/pipeline.clean_corpus): Gopher quality gate → PII scrub →
    eval-set decontamination → per-source token-budget sampling,
    returning the final mix manifest (doc_id, source, n_tokens,
    cum_tokens). See the pipeline module docstring for the plan shape
    and the persisted-scrub stage checkpoint.

    DEMO operating point: n=3 decontam grams and a 400-token budget —
    the collision scale this tiny-vocabulary fixture corpus needs
    (decontam.py:39-42). The PRODUCTION point (n=8, realistic budget)
    is proven by ``clean_corpus_prod`` below; do not ship these
    constants."""
    from barks_ocr_spark.operators import pipeline

    docs = load(spark, sf_dir, "documents", spread=True)
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return pipeline.clean_corpus(
        corpus,
        eval_docs,
        n=3,
        budget_tokens=400,
        min_words=30,
        min_mean_word_len=4.0,
    )


def q_clean_corpus_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME composite at the PRODUCTION operating point: n=8
    decontam (decontam.DEFAULT_NGRAM — the published 8-to-13-gram
    window's low end) and a 2000-token per-source budget that genuinely
    truncates this corpus. Real 8-gram collisions come from the planted
    shared sentence (see _planted_clean_docs), so the decontam stage is
    proven to REMOVE at n=8, not vacuously pass."""
    from barks_ocr_spark.operators import pipeline

    docs = _planted_clean_docs(spark, sf_dir)
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return pipeline.clean_corpus(
        corpus,
        eval_docs,
        n=8,
        budget_tokens=2000,
        min_words=30,
        min_mean_word_len=4.0,
    )


def _clean_corpus_oracle_sql(
    n: int = 3, budget: int = 400, plant: str | None = None
) -> str:
    """Stitch the stage oracles into one CTE chain, with the PII regex
    stages generated from the operator's own pattern table, the decontam
    gram width ``n``, the budget, and (for the production point) the
    planted shared sentence all parameterized."""
    from barks_ocr_spark.operators.textstats import _PII_STAGES

    prev = "text"
    scrub = []
    for i, (_, pat, token) in enumerate(_PII_STAGES):
        cur = f"t{i + 1}"
        src = "gated" if i == 0 else f"s{i - 1}"
        scrub.append(
            f"s{i} AS (SELECT doc_id, source,"
            f" regexp_replace({prev}, '{pat}', '{token}', 'g') AS {cur}"
            f" FROM {src})"
        )
        prev = cur
    scrub_ctes = ",\n".join(scrub)
    gram = "concat_ws(' ', " + ", ".join(
        "ws[i]" if j == 0 else f"ws[i+{j}]" for j in range(n)
    ) + ")"
    gram_rng = f"generate_series(1, greatest(len(ws)-{n - 1}, 0))"
    if plant is None:
        base_cte = "base AS (SELECT doc_id, text, source FROM documents)"
    else:
        base_cte = f"""base AS (
  SELECT doc_id,
    text || CASE WHEN doc_id % {_CLEAN_PROD_MOD} = 0 OR doc_id % 97 = 0
                 THEN ' {plant}' ELSE '' END AS text,
    source
  FROM documents)"""
    return f"""
WITH {base_cte}, corpus0 AS (
  SELECT doc_id, text, source FROM base WHERE doc_id % 97 <> 0
), w AS (
  SELECT doc_id, text, source,
    string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM corpus0
), feat AS (
  SELECT doc_id,
    len(ws) AS n_words,
    CASE WHEN len(ws) > 0
      THEN CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(ws)
      ELSE 0.0 END AS mwl,
    CASE WHEN len(ws) > 0
      THEN CAST(len(list_filter(ws, x -> x IN ({_EN_LIST_SQL}))) AS DOUBLE) / len(ws)
      ELSE 0.0 END AS sr,
    CASE WHEN length(text) > 0
      THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text)
      ELSE 0.0 END AS pr
  FROM w
), gq AS (
  SELECT doc_id, 'bi' AS kind, unnest([concat_ws(' ', ws[i], ws[i+1])
    for i in generate_series(1, greatest(len(ws)-1, 0))]) AS gram FROM w
  UNION ALL
  SELECT doc_id, 'tri', unnest([concat_ws(' ', ws[i], ws[i+1], ws[i+2])
    for i in generate_series(1, greatest(len(ws)-2, 0))]) FROM w
), cq AS (
  SELECT doc_id, kind, gram, COUNT(*) AS cnt FROM gq GROUP BY doc_id, kind, gram
), kq AS (
  SELECT doc_id, kind, MAX(cnt) AS top_cnt, SUM(cnt) AS total,
    COALESCE(SUM(cnt) FILTER (cnt > 1), 0) AS dup_cnt
  FROM cq GROUP BY doc_id, kind
), rep AS (
  SELECT doc_id,
    COALESCE(ROUND(CAST(MAX(top_cnt) FILTER (kind = 'bi') AS DOUBLE)
      / MAX(total) FILTER (kind = 'bi'), 6), 0.0) AS top_bi,
    COALESCE(ROUND(CAST(MAX(dup_cnt) FILTER (kind = 'tri') AS DOUBLE)
      / MAX(total) FILTER (kind = 'tri'), 6), 0.0) AS dup_tri
  FROM kq GROUP BY doc_id
), gated AS (
  SELECT c.doc_id, c.text, c.source
  FROM corpus0 c JOIN feat f USING (doc_id) LEFT JOIN rep r USING (doc_id)
  WHERE f.n_words >= 30 AND f.n_words <= 100000
    AND f.mwl >= 4.0 AND f.mwl <= 10.0
    AND f.sr >= 0.02 AND f.pr <= 0.2
    AND COALESCE(r.top_bi, 0.0) <= 0.2 AND COALESCE(r.dup_tri, 0.0) <= 0.3
),
{scrub_ctes},
scrubbed AS (
  SELECT doc_id, {prev} AS text, source FROM s{len(scrub) - 1}
), canon AS (
  SELECT doc_id, string_split({_CANON_SQL}, ' ') AS ws FROM scrubbed
), dg AS (
  SELECT doc_id, unnest(list_distinct([{gram}
    for i in {gram_rng}])) AS gram
  FROM canon
), ecanon AS (
  SELECT doc_id, string_split({_CANON_SQL}, ' ') AS ws
  FROM base WHERE doc_id % 97 = 0
), eg AS (
  SELECT DISTINCT unnest(list_distinct([{gram}
    for i in {gram_rng}])) AS gram
  FROM ecanon
), flagged AS (
  SELECT DISTINCT doc_id FROM dg JOIN eg USING (gram)
), cleaned AS (
  SELECT * FROM scrubbed WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
), sized AS (
  SELECT doc_id, source,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_tokens,
    md5(CAST(doc_id AS VARCHAR)) AS rk
  FROM cleaned
), cum AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM sized
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(c AS BIGINT) AS cum_tokens
FROM cum WHERE c - n_tokens < {budget}
"""


_SQL_CLEAN_CORPUS = _clean_corpus_oracle_sql()
_SQL_CLEAN_CORPUS_PROD = _clean_corpus_oracle_sql(
    n=8, budget=2000, plant=_CLEAN_PROD_PLANT
)


_BOILER = "all rights reserved contact the archive team for takedown requests"


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style repeated-chunk removal over a deterministically planted
    corpus: every 4th doc gets the same appended boilerplate sentence;
    the operator must strip it from all of them while keeping each doc's
    unique body."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(". " + _BOILER)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return dedup.remove_repeated_chunks(docs)


_SQL_CHUNK_DEDUP = f"""
WITH planted AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 4 = 0 THEN '. {_BOILER}' ELSE '' END AS text
  FROM documents
), ch0 AS (
  SELECT doc_id,
    list_filter(string_split_regex(text, '\\.\\s+'), c -> trim(c) <> '') AS chunks
  FROM planted
), ch AS (
  SELECT doc_id, unnest(generate_series(1, len(chunks))) AS pos,
    unnest(chunks) AS chunk
  FROM ch0
), rep AS (
  SELECT chunk FROM ch GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 2
), kept AS (
  SELECT * FROM ch WHERE chunk NOT IN (SELECT chunk FROM rep)
), tot AS (
  -- from ch0, not the exploded rows: chunkless docs keep their row
  SELECT doc_id, len(chunks) AS n_chunks FROM ch0
), reb AS (
  SELECT doc_id, string_agg(chunk, '. ' ORDER BY pos) AS text_clean,
    COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(text_clean, '') AS text_clean,
  CAST(n_chunks AS BIGINT) AS n_chunks,
  CAST(n_chunks - COALESCE(n_kept, 0) AS BIGINT) AS n_removed
FROM tot t LEFT JOIN reb USING (doc_id)
"""


def q_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget mixture sampling (600 BPE-ish tokens per
    source; the doc crossing the line is kept)."""
    from barks_ocr_spark.operators import sampling

    return sampling.budget_sample(load(spark, sf_dir, "documents"), "source", 600)


_SQL_BUDGET_SAMPLE = """
WITH sized AS (
  SELECT doc_id, source,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_tokens,
    md5(CAST(doc_id AS VARCHAR)) AS rk
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM sized
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum - n_tokens < 600
"""


def q_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-25% of documents by n_chars (ties md5-broken) — the
    "keep the best p% by score" corpus cut. An integer score guarantees
    heavy ties, so the histogram refinement exits through its
    single-value shortcut and the tie set exercises cap_per_group's
    two-phase take-n."""
    from barks_ocr_spark.operators import sampling

    return sampling.quantile_filter(
        load(spark, sf_dir, "documents"), "n_chars", 0.25
    )


_SQL_QUANTILE_FILTER = """
WITH nn AS (SELECT CAST(floor(count(*) * 0.25) AS BIGINT) AS k
            FROM documents WHERE n_chars IS NOT NULL)
SELECT doc_id, text, lang, source, n_chars
FROM documents, nn
WHERE n_chars IS NOT NULL
QUALIFY row_number() OVER (
  ORDER BY n_chars DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
) <= k
"""


def q_c4_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning over the documents table: per doc,
    the prose-surviving lines re-joined, line/sentence counters, and the
    page-level keep verdict. The synthetic corpus is single-line
    unpunctuated text, so the query PLANTS line structure first (the
    issue-plant pattern): every ' join ' becomes a sentence break, and
    the doc gains a final period — line lengths then vary enough to
    exercise every predicate (short lines die on min_words, long ones
    survive, sentence counts straddle the ≥3 verdict)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.replace(F.col("text"), F.lit(" join "), F.lit(".\nthen ")),
            F.lit("."),
        ).alias("text"),
    )
    return textstats.c4_line_filter(docs)


_SQL_C4_LINES = """
WITH d AS (
  SELECT doc_id,
    replace(text, ' join ', '.' || chr(10) || 'then ') || '.' AS text
  FROM documents
), l AS (
  SELECT doc_id,
    CASE WHEN COALESCE(text, '') = '' THEN []::VARCHAR[]
         ELSE string_split(COALESCE(text, ''), chr(10)) END AS lines
  FROM d
), k AS (
  SELECT doc_id, lines,
    list_filter(lines, x ->
      (suffix(trim(x), '.') OR suffix(trim(x), '!')
       OR suffix(trim(x), '?') OR suffix(trim(x), '"'))
      AND len(string_split_regex(trim(x), '\\s+')) >= 5
      AND NOT contains(lower(trim(x)), 'javascript')
      AND NOT contains(lower(trim(x)), 'lorem ipsum')
      AND NOT contains(trim(x), '{')
      AND NOT contains(trim(x), '}')
    ) AS kept
  FROM l
), j AS (
  SELECT doc_id, lines, kept,
    list_aggregate(kept, 'string_agg', chr(10)) AS joined
  FROM k
)
SELECT doc_id,
  COALESCE(joined, '') AS clean_text,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_kept,
  CAST(len(regexp_extract_all(COALESCE(joined, ''), '[.!?]')) AS BIGINT)
    AS n_sentences,
  len(kept) >= 1
    AND len(regexp_extract_all(COALESCE(joined, ''), '[.!?]')) >= 3
    AS keep_doc
FROM j
"""


# ════════════════════════════════════════════════════════════════════════
# Registry
# ════════════════════════════════════════════════════════════════════════
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "pricing_summary": (q_pricing_summary, _SQL_PRICING),
    "top_brand_revenue": (q_top_brand_revenue, _SQL_TOP_BRAND),
    "shipping_priority": (q_shipping_priority, _SQL_SHIPPING),
    "local_supplier_volume": (q_local_supplier_volume, _SQL_LOCAL_SUPPLIER),
    "order_priority": (q_order_priority, _SQL_ORDER_PRIORITY),
    "customers_without_orders": (q_customers_without_orders, _SQL_CUST_NO_ORDERS),
    "top3_customers_per_nation": (q_top3_customers_per_nation, _SQL_TOP3_CUST),
    "running_order_total": (q_running_order_total, _SQL_RUNNING_TOTAL),
    "events_hourly": (q_events_hourly, _SQL_EVENTS_HOURLY),
    "top_users_per_event_type": (q_top_users_per_event_type, _SQL_TOP_USERS),
    "first_event_per_user": (q_first_event_per_user, _SQL_FIRST_EVENT),
    "event_sessions": (q_event_sessions, _SQL_EVENT_SESSIONS),
    "asof_last_click": (q_asof_last_click, _SQL_ASOF_LAST_CLICK),
    "range_join_tiers": (q_range_join_tiers, _SQL_RANGE_JOIN_TIERS),
    "kmv_distinct_users": (q_kmv_distinct_users, _SQL_KMV_DISTINCT),
    "heavy_hitters": (q_heavy_hitters, _SQL_HEAVY_HITTERS),
    "value_percentiles": (q_value_percentiles, _SQL_VALUE_PERCENTILES),
    "hypertable_rollup": (q_hypertable_rollup, _SQL_HYPERTABLE_ROLLUP),
    "events_json_props": (q_events_json_props, _SQL_EVENTS_JSON),
    "word_index": (q_word_index, _SQL_WORD_INDEX),
    "word_doc_freq": (q_word_doc_freq, _SQL_WORD_DOC_FREQ),
    "bucketed_index_join": (q_bucketed_index_join, _SQL_BUCKETED_INDEX_JOIN),
    "tf_idf": (q_tf_idf, _SQL_TF_IDF),
    "domain_cap": (q_domain_cap, _SQL_DOMAIN_CAP),
    "pack_documents": (q_pack_documents, _SQL_PACK_DOCUMENTS),
    "train_test_split": (q_train_test_split, _SQL_TRAIN_TEST_SPLIT),
    "lang_id": (q_lang_id, _SQL_LANG_ID),
    "quality_scores": (q_quality_scores, _SQL_QUALITY),
    "token_counts": (q_token_counts, _SQL_TOKEN_COUNTS),
    "fingerprints": (q_fingerprints, _SQL_FINGERPRINTS),
    "repetition_scores": (q_repetition_scores, _SQL_REPETITION),
    "pii_redact": (q_pii_redact, _SQL_PII_REDACT),
    "contamination": (q_contamination, _SQL_CONTAMINATION),
    "decontaminate": (q_decontaminate, _SQL_DECONTAMINATE),
    "gopher_filter": (q_gopher_filter, _SQL_GOPHER_FILTER),
    "rate_sample": (q_rate_sample, _SQL_RATE_SAMPLE),
    "corpus_stats": (q_corpus_stats, _SQL_CORPUS_STATS),
    "clean_corpus": (q_clean_corpus, _SQL_CLEAN_CORPUS),
    "clean_corpus_prod": (q_clean_corpus_prod, _SQL_CLEAN_CORPUS_PROD),
    "normalize_unicode": (q_normalize_unicode, _SQL_NORMALIZE_UNICODE),
    "nfc_dedup": (q_nfc_dedup, _SQL_NFC_DEDUP),
    "chunk_dedup": (q_chunk_dedup, _SQL_CHUNK_DEDUP),
    "budget_sample": (q_budget_sample, _SQL_BUDGET_SAMPLE),
    "quantile_filter": (q_quantile_filter, _SQL_QUANTILE_FILTER),
    "c4_lines": (q_c4_lines, _SQL_C4_LINES),
    "dedup_increment": (q_dedup_increment, _SQL_DEDUP_INCREMENT),
    "exact_duplicates": (q_exact_duplicates, _SQL_EXACT_DUPS),
    "jaccard_pairs": (q_jaccard_pairs, _SQL_JACCARD_PAIRS),
    "dup_clusters": (q_dup_clusters, _SQL_DUP_CLUSTERS),
    "dedup_corpus": (q_dedup_corpus, _SQL_DEDUP_CORPUS),
    "minhash_dups": (q_minhash_dups, _SQL_JACCARD_UNCAPPED),
    "simhash_dups": (q_simhash_dups, _SQL_SIMHASH_DUPS),
    "entity_rollup": (q_entity_rollup, _SQL_ENTITY_ROLLUP),
    "entity_search": (q_entity_search, _SQL_ENTITY_SEARCH),
    "entity_word_search": (q_entity_word_search, _SQL_ENTITY_WORD_SEARCH),
    "issue_histogram": (q_issue_histogram, _SQL_ISSUE_HISTOGRAM),
    "topk_cosine": (q_topk_cosine, _SQL_TOPK_COSINE),
    "lsh_topk": (q_lsh_topk, _SQL_LSH_TOPK),
    "lsh_topk_indexed": (q_lsh_topk_indexed, _SQL_LSH_TOPK),
    "lsh_topk_banded": (q_lsh_topk_banded, _SQL_LSH_TOPK),
    "ivf_topk": (q_ivf_topk, _SQL_IVF_TOPK),
    "ivf_topk_indexed": (q_ivf_topk_indexed, _SQL_IVF_TOPK),
    "pq_topk": (q_pq_topk, _SQL_PQ_TOPK),
    "pq_topk_indexed": (q_pq_topk_indexed, _SQL_PQ_TOPK),
    "pq_topk_trained": (q_pq_topk_trained, None),
    "embedding_near_dups": (q_embedding_near_dups, _SQL_EMBEDDING_NEAR_DUPS),
    "embedding_centroids": (q_embedding_centroids, _SQL_CENTROIDS),
    "extract_spans": (q_extract_spans, _SQL_EXTRACT_SPANS),
    "book_assembly": (q_book_assembly, _SQL_BOOK_ASSEMBLY),
    "stream_events_hourly": (q_stream_events_hourly, _SQL_EVENTS_HOURLY),
    "stream_stateful_dedup": (q_stream_stateful_dedup, _SQL_STREAM_STATEFUL_DEDUP),
    "stream_event_sessions": (q_stream_event_sessions, _SQL_STREAM_EVENT_SESSIONS),
    "salted_user_rollup": (q_salted_user_rollup, _SQL_SALTED_USER_ROLLUP),
    "compare_counters": (q_compare_counters, _SQL_COMPARE),
    "best_fuzzy_match": (q_best_fuzzy_match, _SQL_BEST_FUZZY),
    "entity_corrections": (q_entity_corrections, _SQL_ENTITY_CORRECTIONS),
    "footnote_fold": (q_footnote_fold, _SQL_FOOTNOTE_FOLD),
    "index_search": (q_index_search, _SQL_INDEX_SEARCH),
    "index_integrity": (q_index_integrity, _SQL_INDEX_INTEGRITY),
    "index_hyphen_dups": (q_index_hyphen_dups, _SQL_INDEX_HYPHEN_DUPS),
    "search_phrase": (q_search_phrase, _SQL_SEARCH_PHRASE),
    "search_all_terms": (q_search_all_terms, _SQL_SEARCH_ALL),
    "context_entities": (q_context_entities, _SQL_CONTEXT_ENTITIES),
    "comic_spans": (q_comic_spans, _SQL_COMIC_SPANS),
    "media_features": (q_media_features, _SQL_MEDIA_FEATURES),
    "spell_suggest": (q_spell_suggest, _SQL_SPELL_SUGGEST),
    "comparison_keys": (q_comparison_keys, _SQL_COMPARISON_KEYS),
    "sentence_end": (q_sentence_end, _SQL_SENTENCE_END),
    "rewrap": (q_rewrap, _SQL_REWRAP),
    "text_fit": (q_text_fit, _SQL_TEXT_FIT),
    "column_split": (q_column_split, _SQL_COLUMN_SPLIT),
    "blockquotes": (q_blockquotes, _SQL_BLOCKQUOTES),
    "page_scan_injection": (q_page_scan_injection, _SQL_PAGE_SCAN_INJECTION),
    "extraction_metrics": (q_extraction_metrics, _SQL_EXTRACTION_METRICS),
    "missing_panels": (q_missing_panels, _SQL_MISSING_PANELS),
    "cache_misses": (q_cache_misses, _SQL_CACHE_MISSES),
    "dodgy_groups": (q_dodgy_groups, _SQL_DODGY_GROUPS),
    "final_groups": (q_final_groups, _SQL_FINAL_GROUPS),
    "comic_title_filter": (q_comic_title_filter, _SQL_COMIC_TITLE_FILTER),
    "rect_distances": (q_rect_distances, _SQL_RECT_DISTANCES),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}
