"""Generic relational operator suite (SURVEY.md §2.7).

The reference implements no relational operators beyond its two windowed
aggregations — Spark provides these natively and the engine exposes them as
first-class, oracle-checked queries over the TPC-H-ish testdata tables:
joins (broadcast/shuffle, semi/anti, as-of), sorts/limits/top-k, set ops,
rollup/cube, analytic window functions, distinct aggregation, sliding and
session event-time windows, and JSON scalar extraction.

Determinism discipline for oracle parity
----------------------------------------
Floating-point SUM/AVG is order-dependent (double addition is not
associative), and Spark's partial-aggregate ordering differs from DuckDB's.
Any aggregated money value therefore goes through **row-level cents
conversion** (``floor(x*100 + 0.5)`` as BIGINT — identical per-row in both
engines) and is summed exactly as integers. This is also the right design
at 100 TB: integer aggregation is cheaper and exact. ``l_quantity`` is
integral (verified) so its double sum is exact too.

Scale notes per operator are in each docstring; the common rules:
dimension tables (region/nation/customer at these ratios) are broadcast;
top-k per group is window + filter (one shuffle, no global sort); global
top-N is ``orderBy().limit(n)`` (Spark's TakeOrdered — no full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import load_table
from ..sources.trips import load_events

CENTS = "CAST(floor({x} * 100.0 + 0.5) AS BIGINT)"


def _cents(x: str) -> F.Column:
    return F.expr(CENTS.format(x=x))


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary. One shuffle (groupBy on two low-
    cardinality keys); all arithmetic row-level then exact integer sums."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = "l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)"
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1997-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(_cents("l_extendedprice")).alias("sum_base_price_cents"),
            F.sum(_cents(disc_price)).alias("sum_disc_price_cents"),
            F.count("*").alias("count_order"),
        )
        .withColumn(
            "avg_qty",
            F.col("sum_qty").cast("double") / F.col("count_order"),
        )
    )


PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum({CENTS.format(x='l_extendedprice')}) AS BIGINT) AS sum_base_price_cents,
       CAST(sum({CENTS.format(x='l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)')}) AS BIGINT) AS sum_disc_price_cents,
       count(*) AS count_order,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation revenue rollup.

    Join strategy for scale: nation (25 rows) and customer (1.5 % of
    lineitem) broadcast; the lineitem⋈orders join is the only shuffle pair
    and AQE handles skew. Broadcasts asserted in tests.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = li.withColumn(
        "rev_cents", _cents("l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)")
    )
    return (
        rev.join(orders, rev.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum("rev_cents").alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
    )


REVENUE_BY_NATION_SQL = f"""
SELECT n_name,
       CAST(sum({CENTS.format(x='l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)')}) AS BIGINT) AS revenue_cents,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_orders_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order volume per region: a two-level snowflake join
    (orders -> customer -> nation -> region), every dimension broadcast.
    With this, every testdata table is exercised by at least one query.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", _cents("o_totalprice").alias("price_cents")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price_cents").alias("total_cents"),
        )
    )


ORDERS_BY_REGION_SQL = f"""
SELECT r_name, count(*) AS n_orders,
       CAST(sum({CENTS.format(x='o_totalprice')}) AS BIGINT) AS total_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(status, priority) with portable grouping id
    (GROUPING(a)*2 + GROUPING(b) — same formula both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("total_cents", _cents("o_totalprice"))
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("total_cents").alias("sum_total_cents"),
            (
                F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
            ).alias("gid"),
        )
    )


ROLLUP_ORDERS_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum({CENTS.format(x='o_totalprice')}) AS BIGINT) AS sum_total_cents,
       GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            (
                F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
            ).alias("gid"),
        )
    )


CUBE_ORDERS_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (the approx variant is a separate,
    rows-only query — approx_count_distinct has no cross-engine oracle)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


DISTINCT_COUNTS_SQL = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) — the scale path for distinct
    counting — bound-checked in-query against the exact distinct count.

    Sketch estimates are engine-specific, so the raw estimate can never
    hash-match a DuckDB oracle; instead the result carries the EXACT
    count plus a ``sketch_ok`` boolean asserting the engine's own sketch
    landed within 5% of it (HLL++ rsd here is 0.02, so 5% is a hard
    bound, not a hope). Both engines compute the same deterministic
    (exact, true) row — the sketch still runs on every execution, and a
    sketch regression flips the boolean and fails the hash gate.
    At 100 TB the exact twin is the expensive side (count distinct
    shuffles the key set); production uses the sketch column alone —
    this query is the operator plus its verification harness.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("n_parts_exact"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "n_parts_exact",
            "n_rows",
            (
                F.abs(F.col("approx_parts") - F.col("n_parts_exact"))
                <= F.lit(0.05) * F.col("n_parts_exact")
            ).alias("sketch_ok"),
        )
    )


APPROX_DISTINCT_SQL = """
SELECT l_returnflag, n_parts_exact, n_rows,
       abs(approx_parts - n_parts_exact)
         <= CAST(0.05 AS DOUBLE) * n_parts_exact AS sketch_ok
FROM (
  SELECT l_returnflag,
         approx_count_distinct(l_partkey) AS approx_parts,
         count(DISTINCT l_partkey) AS n_parts_exact,
         count(*) AS n_rows
  FROM lineitem GROUP BY l_returnflag)
"""


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one finished order — LEFT SEMI (EXISTS)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter("o_orderstatus = 'F'")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


SEMI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no urgent orders — LEFT ANTI (NOT EXISTS)."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        "o_orderpriority = '1-URGENT'"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


ANTI_JOIN_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
"""


def q_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer join + aggregate: every customer with order count/max (0/null
    for customers without orders). Pattern: aggregate the fact table FIRST,
    then join — shrinks the shuffle from |orders| to |customers|."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.withColumn("total_cents", _cents("o_totalprice"))
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.max("total_cents").alias("max_total_cents"),
        )
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            "max_total_cents",
        )
    )


CUSTOMER_ORDER_STATS_SQL = f"""
SELECT c_custkey,
       coalesce(n_orders, 0) AS n_orders,
       max_total_cents
FROM customer
LEFT JOIN (
  SELECT o_custkey, count(*) AS n_orders,
         max({CENTS.format(x='o_totalprice')}) AS max_total_cents
  FROM orders GROUP BY o_custkey
) ON c_custkey = o_custkey
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each event paired with the customer's latest order at
    event time. Spark has no native as-of; the scalable composition is
    the union + running-last_value window (the sort-merge as-of):

      1. tag both sides and union on (key, time) — orders sort BEFORE
         events at equal time (inclusive `o_ms <= ts_ms` bound), ties
         among same-ms orders broken by o_orderkey so the running last
         is the highest key (same rule as a top-1 by (ms, key) DESC);
      2. one window per key ordered by time carries the latest order
         struct forward (last_value ignoreNulls, unbounded-preceding);
      3. keep event rows with a carried order (inner semantics).

    Scale: ONE shuffle (hash on the key) + per-key sort — cost is
    O((|events|+|orders|) log) regardless of match fan-in, where the
    naive range-join + top-1 materializes every (event, earlier-order)
    pair before trimming (quadratic per hot key at 100 TB). For repeated
    runs, bucket both tables on the key and the exchange disappears.
    """
    ev = load_events(spark, sf_dir).select(
        F.col("user_id").alias("k"),
        F.expr("ts DIV 1000000").alias("t"),
        "event_id",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        # parquet ms timestamps read as TIMESTAMP_NTZ; cast (session tz is
        # UTC) so unix_millis applies — matches DuckDB's naive epoch_ms
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("t"),
        "o_orderkey",
        _cents("o_totalprice").alias("order_total_cents"),
    )
    tagged = orders.select(
        "k",
        "t",
        F.lit(0).alias("side"),  # orders first at equal time (inclusive asof)
        F.lit(None).cast("long").alias("event_id"),
        F.struct(
            F.col("t").alias("o_ms"), "o_orderkey", "order_total_cents"
        ).alias("ord"),
    ).unionByName(
        ev.select(
            "k",
            "t",
            F.lit(1).alias("side"),
            "event_id",
            F.lit(None)
            .cast("struct<o_ms:bigint,o_orderkey:bigint,order_total_cents:bigint>")
            .alias("ord"),
        )
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side", F.col("ord.o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("last_ord", F.last("ord", ignorenulls=True).over(w))
        .filter((F.col("side") == 1) & F.col("last_ord").isNotNull())
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            F.col("t").alias("ts_ms"),
            F.col("last_ord.o_orderkey").alias("o_orderkey"),
            F.col("last_ord.o_ms").alias("o_ms"),
            F.col("last_ord.order_total_cents").alias("order_total_cents"),
        )
    )


ASOF_JOIN_SQL = f"""
SELECT event_id, user_id, ts_ms, o_orderkey, o_ms,
       {CENTS.format(x='o_totalprice')} AS order_total_cents
FROM (
  SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms,
         o.o_orderkey, epoch_ms(o.o_orderdate) AS o_ms, o.o_totalprice,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY epoch_ms(o.o_orderdate) DESC,
                                     o.o_orderkey DESC) AS rn
  FROM events e
  JOIN orders o
    ON e.user_id = o.o_custkey AND epoch_ms(o.o_orderdate) <= epoch_ms(e.ts)
)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Sorts / top-k / analytic windows
# ---------------------------------------------------------------------------

def q_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 by aggregated quantity. orderBy().limit() compiles to
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .orderBy(F.desc("total_qty"), F.asc("l_partkey"))
        .limit(10)
    )


TOP_PARTS_SQL = """
SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem GROUP BY l_partkey
ORDER BY total_qty DESC, l_partkey ASC LIMIT 10
"""


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by account balance per nation — window row_number
    (the distributed top-k-per-group idiom: one hash exchange, in-partition
    sort, no global sort)."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "acctbal_cents", _cents("c_acctbal")
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("acctbal_cents"), F.asc("c_custkey")
    )
    return (
        cust.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 3")
        .select("c_nationkey", "rk", "c_custkey", "acctbal_cents")
    )


TOP_CUSTOMERS_PER_NATION_SQL = f"""
SELECT c_nationkey, rk, c_custkey, acctbal_cents FROM (
  SELECT c_nationkey, c_custkey,
         {CENTS.format(x='c_acctbal')} AS acctbal_cents,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY {CENTS.format(x='c_acctbal')} DESC,
                                     c_custkey ASC) AS rk
  FROM customer
) WHERE rk <= 3
"""


def q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frame functions: running count + lag per user over events."""
    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", F.expr("ts DIV 1000000").alias("ts_ms")
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("seq"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
        (F.col("ts_ms") - F.lag("ts_ms", 1).over(w)).alias("ms_since_prev"),
    )


RUNNING_TOTALS_SQL = """
SELECT event_id, user_id,
       row_number() OVER w AS seq,
       lag(event_type, 1) OVER w AS prev_type,
       epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER w AS ms_since_prev
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
"""


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT over nation keys of customers vs suppliers,
    tagged and unioned into one result."""
    cust_n = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct()
    supp_n = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct()
    both = cust_n.intersect(supp_n).withColumn("tag", F.lit("both"))
    cust_only = cust_n.exceptAll(supp_n).withColumn("tag", F.lit("customer_only"))
    supp_only = supp_n.exceptAll(cust_n).withColumn("tag", F.lit("supplier_only"))
    return both.unionByName(cust_only).unionByName(supp_only)


SET_OPS_SQL = """
SELECT nationkey, 'both' AS tag FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'customer_only' AS tag FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'supplier_only' AS tag FROM (
  SELECT DISTINCT s_nationkey AS nationkey FROM supplier
  EXCEPT SELECT DISTINCT c_nationkey FROM customer)
"""


# ---------------------------------------------------------------------------
# Event-time windows (sliding / session) + JSON scalar surface
# ---------------------------------------------------------------------------

def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — Spark's window() (each event in
    2 windows); oracle replicates the epoch-aligned assignment
    arithmetically."""
    ev = load_events(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.expr("ts DIV 1000"))
    )
    return (
        ev.groupBy(
            F.window("ts_t", "10 minutes", "5 minutes").alias("win"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_millis("win.start").alias("ws_ms"),
            "event_type",
            "n",
        )
    )


# Every event lies in exactly two 10-min/5-min-slide windows: the one
# starting at its 5-min bucket and the one 5 min earlier.
SLIDING_WINDOW_COUNTS_SQL = """
SELECT ws_ms, event_type, count(*) AS n FROM (
  SELECT (epoch_ms(ts) - (epoch_ms(ts) % 300000)) - k * 300000 AS ws_ms,
         event_type
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
)
GROUP BY ws_ms, event_type
"""


SESSION_GAP_MIN = 30


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 30-minute gap (session_window in
    batch mode; oracle = gaps-and-islands with lag + cumulative sum)."""
    return session_windows(
        load_events(spark, sf_dir).withColumn(
            "ts_t", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    )


def session_windows(ev_ts: DataFrame) -> DataFrame:
    """The per-user session-window count over any ``ts_t``-enriched
    events frame, batch or stream. The 0 s watermark lets a stream emit
    a session once event time passes its end (append mode); on batch
    input the optimizer drops it, so ``q_session_windows`` and
    ``jobs.q_session_windows_streaming`` run this one definition."""
    return (
        ev_ts.withWatermark("ts_t", "0 seconds")
        .groupBy(
            F.session_window("ts_t", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "n_events",
        )
    )


SESSION_WINDOWS_SQL = """
SELECT user_id,
       min(ts_us) // 1000 AS session_start_ms,
       (max(ts_us) + 1800000000) // 1000 AS session_end_ms,
       count(*) AS n_events
FROM (
  SELECT user_id, ts_us,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
                     OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                     >= 1800000000 OR lag(epoch_us(ts), 1)
                     OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                     IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM events
  )
)
GROUP BY user_id, sess_id
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS beyond rollup/cube: an explicit lattice of (flag,
    status), (flag), (status), () with grouping() indicator columns.

    Scale: one pass — Spark expands the sets via a single Expand node
    feeding one hash aggregate, so the cost is ~|sets| × scan, with
    map-side partial aggregation before the one shuffle.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_gsets"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               count(*) AS n_rows
        FROM lineitem_gsets
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        """
    )


GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS INT) AS g_flag,
       CAST(grouping(l_linestatus) AS INT) AS g_status,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), (l_linestatus), ())
"""


# Overlapping price bands (p_retailprice spans [900, 1000) in the testdata):
# a part in an overlap region matches MORE than one band — a true interval
# join, not a disguised CASE bucketing.
PRICE_BANDS: list[tuple[str, float, float]] = [
    ("economy", 900.0, 940.0),
    ("standard", 930.0, 970.0),
    ("premium", 960.0, 1000.0),
]


def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: parts against overlapping price bands.

    The band side is a tiny literal dimension, so the right physical plan
    is a **broadcast nested-loop join** — O(n·|bands|) with no shuffle of
    the fact side, which is exactly what Catalyst picks once the dim is
    broadcast. At 100 TB with a LARGE interval dimension the strategy
    flips to bucketization: overlay a grid of width `min_band_width`,
    explode each band into covered grid cells, equi-join on the cell key,
    then re-check the exact range — that variant is O(n) shuffled on the
    grid key. The small-dim broadcast form is canonical here.
    """
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    bands = spark.createDataFrame(
        PRICE_BANDS, "band STRING, lo DOUBLE, hi DOUBLE"
    )
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(_cents("p_retailprice")).alias("sum_price_cents"),
        )
    )


RANGE_JOIN_BANDS_SQL = f"""
SELECT band, count(*) AS n_parts,
       CAST(sum({CENTS.format(x='p_retailprice')}) AS BIGINT) AS sum_price_cents
FROM part
JOIN (VALUES ('economy', CAST(900.0 AS DOUBLE), CAST(940.0 AS DOUBLE)),
             ('standard', CAST(930.0 AS DOUBLE), CAST(970.0 AS DOUBLE)),
             ('premium', CAST(960.0 AS DOUBLE), CAST(1000.0 AS DOUBLE)))
     AS b(band, lo, hi)
  ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band
"""


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: event counts + exact
    value sums at 1-minute, 1-hour, and 1-day buckets in ONE pass.

    The three resolutions ride a single Expand (GROUPING SETS over
    precomputed bucket columns) — one scan, one shuffle, instead of three
    jobs. At 100 TB this is the continuous-aggregate pattern: the 1-min
    tier is the raw rollup, coarser tiers are re-rollups of it; here all
    tiers are exact because cents-sums are integers (re-aggregable).
    """
    ev = load_events(spark, sf_dir)
    ms = "(ts DIV 1000000)"
    ev = ev.select(
        F.expr(f"{ms} - {ms} % 60000").alias("minute_ms"),
        F.expr(f"{ms} - {ms} % 3600000").alias("hour_ms"),
        F.expr(f"{ms} - {ms} % 86400000").alias("day_ms"),
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("v_cents"),
    )
    ev.createOrReplaceTempView("events_rollup_src")
    return spark.sql(
        """
        SELECT minute_ms, hour_ms, day_ms,
               CASE WHEN minute_ms IS NOT NULL THEN 'minute'
                    WHEN hour_ms IS NOT NULL THEN 'hour'
                    ELSE 'day' END AS resolution,
               count(*) AS n_events, sum(v_cents) AS sum_value_cents
        FROM events_rollup_src
        GROUP BY GROUPING SETS ((minute_ms), (hour_ms), (day_ms))
        """
    )


TIME_ROLLUP_SQL = """
WITH src AS (
  SELECT epoch_ms(ts) - epoch_ms(ts) % 60000 AS minute_ms,
         epoch_ms(ts) - epoch_ms(ts) % 3600000 AS hour_ms,
         epoch_ms(ts) - epoch_ms(ts) % 86400000 AS day_ms,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v_cents
  FROM events
)
SELECT minute_ms, hour_ms, day_ms,
       CASE WHEN minute_ms IS NOT NULL THEN 'minute'
            WHEN hour_ms IS NOT NULL THEN 'hour'
            ELSE 'day' END AS resolution,
       count(*) AS n_events, CAST(sum(v_cents) AS BIGINT) AS sum_value_cents
FROM src
GROUP BY GROUPING SETS ((minute_ms), (hour_ms), (day_ms))
"""


def _median_low(pdf_vals) -> float:
    """Lower (discrete) median — deterministic, no interpolation."""
    import numpy as np

    v = np.sort(np.asarray(pdf_vals, dtype="float64"))
    return float(v[(len(v) - 1) // 2])


def q_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate surface (SURVEY.md §2.7 'UDF/UDAF'): per-nation
    lower-median customer account balance as a grouped-agg pandas UDF.

    The UDAF is Arrow-batched (one numpy sort per group server-side, no
    per-row Python). Median is holistic — it genuinely needs the group's
    values — so this is the honest use-case for a pandas UDAF rather
    than a built-in; for re-aggregable stats the built-ins win (see the
    cents-sum pattern everywhere else).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _median_impl(v: pd.Series) -> float:
        return _median_low(v.to_numpy())

    _median_impl.__annotations__ = {"v": pd.Series, "return": float}
    median_low = pandas_udf(_median_impl, "double")

    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(median_low("c_acctbal").alias("median_acctbal"))
        .select("c_nationkey", F.round("median_acctbal", 2).alias("median_acctbal"))
    )


# quantile_disc(0.5) is DuckDB's lower median (no interpolation) — the
# same element _median_low picks.
UDAF_MEDIAN_SQL = """
SELECT c_nationkey, round(quantile_disc(c_acctbal, 0.5), 2) AS median_acctbal
FROM customer
GROUP BY c_nationkey
"""


N_SALTS = 8


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join: events join a per-type dimension on
    event_type — 5 distinct keys over the whole fact table, the
    canonical pathological skew case. The salt spreads each hot key over
    N_SALTS reducers: fact rows get salt = pmod(hash(event_id), N), the
    dimension is exploded N ways, and the join key becomes (type, salt).

    Locally a 5-row dim would be broadcast (and Catalyst does exactly
    that — which is why the dim side here is built as a derived aggregate
    to keep the demonstration honest); the salted form is the fallback
    when BOTH sides are too large to broadcast and AQE's skew split
    can't help (single-key skew in a non-sort-merge join). Result is
    provably identical to the unsalted join — that equality is the
    oracle.
    """
    ev = load_events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("v_cents"),
    )
    # derived per-type dimension (e.g. a type->weight table)
    dim = (
        load_events(spark, sf_dir)
        .groupBy(F.col("event_type").alias("d_type"))
        .agg(F.count("*").alias("type_total"))
    )
    salted_fact = ev.withColumn(
        "salt", F.pmod(F.hash("event_id"), F.lit(N_SALTS)).cast("int")
    )
    salted_dim = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)]))
    )
    joined = salted_fact.join(
        salted_dim,
        (salted_fact.event_type == salted_dim.d_type)
        & (salted_fact.salt == salted_dim.salt),
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("v_cents").alias("sum_value_cents"),
        F.max("type_total").alias("type_total"),
    )


SKEW_SALTED_JOIN_SQL = """
SELECT e.event_type, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
       max(d.type_total) AS type_total
FROM events e
JOIN (SELECT event_type AS d_type, count(*) AS type_total
      FROM events GROUP BY event_type) d
  ON e.event_type = d.d_type
GROUP BY e.event_type
"""


_QUANTILES = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (the distributed-quantile scale path)
    bound-checked in-query against exact discrete quantiles.

    The exact twin is the value at 1-based rank floor(q*(n-1))+1 of the
    per-priority sort — an actual data element, so both engines produce
    the identical double, unlike interpolated percentile_cont whose
    float arithmetic can differ in the last bit. ``sketch_ok`` asserts
    each engine's own sketch (Spark approx_percentile accuracy=10000,
    DuckDB t-digest approx_quantile) lands within 5% of its exact twin,
    giving the driver a deterministic hashable row while the sketch
    still runs — and fails the gate — on every execution.

    Scale note: the exact twin needs a per-group sort (the window), which
    is exactly the cost the sketch exists to avoid at 100 TB; production
    reads the sketch column, this query is operator + verification
    harness in one plan.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    ranked = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number()
        .over(Window.partitionBy("o_orderpriority").orderBy("o_totalprice"))
        .alias("rn"),
        F.count("*")
        .over(Window.partitionBy("o_orderpriority"))
        .alias("n"),
    )
    exact_cols = [
        F.max(
            F.when(
                F.col("rn")
                == F.floor(F.lit(q) * (F.col("n") - 1)).cast("long") + 1,
                F.col("o_totalprice"),
            )
        ).alias(f"{name}_exact")
        for name, q in _QUANTILES
    ]
    agg = ranked.groupBy("o_orderpriority").agg(
        *exact_cols,
        F.expr(
            "approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)"
        ).alias("pcts"),
    )
    ok = None
    for i, (name, _q) in enumerate(_QUANTILES):
        cond = F.abs(
            F.col("pcts")[i] - F.col(f"{name}_exact")
        ) <= F.lit(0.05) * F.abs(F.col(f"{name}_exact"))
        ok = cond if ok is None else (ok & cond)
    return agg.select(
        "o_orderpriority",
        *[f"{name}_exact" for name, _q in _QUANTILES],
        ok.alias("sketch_ok"),
    )


def _approx_quantiles_sql() -> str:
    exact = ",\n         ".join(
        f"max(CASE WHEN rn = CAST(floor(CAST({q} AS DOUBLE) * (n - 1)) AS BIGINT) + 1"
        f" THEN o_totalprice END) AS {name}_exact"
        for name, q in _QUANTILES
    )
    approx = ",\n         ".join(
        f"approx_quantile(o_totalprice, {q}) AS a_{name}"
        for name, q in _QUANTILES
    )
    checks = " AND ".join(
        f"abs(a_{name} - {name}_exact)"
        f" <= CAST(0.05 AS DOUBLE) * abs({name}_exact)"
        for name, _q in _QUANTILES
    )
    cols = ", ".join(f"{name}_exact" for name, _q in _QUANTILES)
    return f"""
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders),
agg AS (
  SELECT o_orderpriority,
         {exact},
         {approx}
  FROM ranked GROUP BY o_orderpriority)
SELECT o_orderpriority, {cols}, {checks} AS sketch_ok FROM agg
"""


APPROX_QUANTILES_SQL = _approx_quantiles_sql()


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props column (S2/F5 surface:
    dynamic JSON field access with null-on-malformed semantics)."""
    ev = load_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        "event_type",
    ).filter(F.col("k").isNotNull())


JSON_EXTRACT_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k, event_type
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts per priority, pivoted to one column per order status.

    The status values are passed explicitly: without them Spark runs an
    extra distinct-collect pass over the fact table to discover pivot
    columns — a full scan you don't want at 100 TB (and a non-reproducible
    schema if a new status appears). Spark plans this as a two-stage
    aggregate: the first shuffle reduces the fact table to (priority,
    status) partial counts — 15 rows at ANY scale — and the second
    exchange only reshapes that tiny relation, so the 100 TB cost is one
    map-side-combined shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .withColumnsRenamed({"O": "n_open", "F": "n_filled", "P": "n_pending"})
    )


PIVOT_STATUS_SQL = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
FROM orders
GROUP BY o_orderpriority
"""


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping: per-returnflag lineitem totals unpivoted to
    (metric, value) rows — the melt() primitive for metric export.

    The aggregate runs first (one shuffle over 3 groups), so the unpivot
    expands a tiny relation; Spark's Expand emits both metric rows in one
    pass without re-reading the input.
    """
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
        F.sum(_cents("l_extendedprice")).alias("total_price_cents"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["total_qty", "total_price_cents"],
        "metric",
        "value",
    )


UNPIVOT_METRICS_SQL = f"""
WITH wide AS (
    SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(sum({CENTS.format(x='l_extendedprice')}) AS BIGINT) AS total_price_cents
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'total_qty' AS metric, total_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, 'total_price_cents' AS metric, total_price_cents AS value FROM wide
"""


def q_full_outer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (completes the join-type matrix): per-nation counts
    of high-balance customers vs high-balance suppliers — the balance
    filters make each side miss nations the other has, so both null
    directions are exercised. Two partial aggregates reduce each side to
    <= |nations| rows BEFORE the join, so the outer join itself is a
    25-row operation at any input scale (aggregate-then-join, never
    join-then-aggregate, when the join key equals the group key).
    """
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000.0)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_rich_customers"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000.0)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_rich_suppliers"))
    )
    return (
        cust.join(supp, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_rich_customers", F.lit(0)).alias("n_rich_customers"),
            F.coalesce("n_rich_suppliers", F.lit(0)).alias("n_rich_suppliers"),
        )
    )


FULL_OUTER_BALANCES_SQL = """
WITH c AS (
  SELECT c_nationkey AS nationkey, count(*) AS n_rich_customers
  FROM customer WHERE c_acctbal > 9000.0 GROUP BY c_nationkey
),
s AS (
  SELECT s_nationkey AS nationkey, count(*) AS n_rich_suppliers
  FROM supplier WHERE s_acctbal > 9000.0 GROUP BY s_nationkey
)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       coalesce(n_rich_customers, 0) AS n_rich_customers,
       coalesce(n_rich_suppliers, 0) AS n_rich_suppliers
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
"""


def q_priority_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type aggregation: per order status, the sorted distinct list
    of priorities plus its length. collect_set is order-nondeterministic
    across partition merge order — array_sort makes the result exact and
    oracle-comparable (the same discipline float sums get via cents).
    The list is emitted as a '|'-joined scalar string: array-typed output
    is not hashable by the driver's canonicalizer, and a canonical string
    is the portable wire form anyway.
    """
    orders = load_table(spark, sf_dir, "orders")
    plist = F.array_sort(F.collect_set("o_orderpriority"))
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.concat_ws("|", plist).alias("priorities"),
            F.size(plist).cast("bigint").alias("n_priorities"),
        )
    )


PRIORITY_LISTS_SQL = """
SELECT o_orderstatus,
       array_to_string(list(DISTINCT o_orderpriority ORDER BY o_orderpriority), '|')
         AS priorities,
       count(DISTINCT o_orderpriority) AS n_priorities
FROM orders GROUP BY o_orderstatus
"""


def q_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame analytic window (completes the frame-spec surface):
    7-day rolling revenue per order priority. The RANGE frame is over a
    day INDEX (datediff from a fixed epoch), so days missing from the
    data still bound the window correctly — ROWS 6 PRECEDING would be
    wrong whenever a priority has gap days.

    Scale: the window runs on the per-(priority, day) aggregate (one
    map-side-combinable shuffle reduces the fact table to ~|priorities| x
    |days| rows), not on raw orders; partitioning the window by priority
    caps per-task sort size at |days| rows. For entity-level rolling
    windows (per user/device) the same shape parallelizes by entity key.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            "o_orderpriority", F.to_date("o_orderdate").alias("day")
        )
        .agg(F.sum(_cents("o_totalprice")).alias("day_cents"))
        .withColumn(
            "day_idx", F.datediff(F.col("day"), F.to_date(F.lit("1992-01-01")))
        )
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day_idx")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "o_orderpriority",
        "day",
        "day_cents",
        F.sum("day_cents").over(w).alias("rolling7_cents"),
    )


ROLLING_REVENUE_SQL = f"""
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day_idx,
         CAST(sum({CENTS.format(x='o_totalprice')}) AS BIGINT) AS day_cents
  FROM orders GROUP BY 1, 2, 3
)
SELECT o_orderpriority, day, day_cents,
       CAST(sum(day_cents) OVER (PARTITION BY o_orderpriority ORDER BY day_idx
                            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         AS BIGINT) AS rolling7_cents
FROM daily
"""


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact/dimension join via bucketed tables: orders and
    customer both bucketed (and sorted) on the customer key, then joined
    WITHOUT any exchange on the join key.

    This is the 100 TB posture for a join you run repeatedly: pay the
    shuffle ONCE at ingest (the bucketed write), and every subsequent
    join reads both sides already hash-clustered on the key — the scan's
    bucketing satisfies the join's distribution requirement, so the plan
    has no Exchange before the SortMergeJoin (verified in the test by
    inspecting the physical plan). The ``merge`` hint pins SMJ so the
    demonstration doesn't degrade to a broadcast at toy scale; at real
    scale neither side fits a broadcast anyway. Bucket count (8 here)
    is sized so one bucket ~ one task's memory at target scale; both
    sides must agree on it. The pre-write ``repartition(8, key)`` uses
    the same murmur3 pmod placement as the bucket spec, giving one file
    per bucket. A residual SMJ sort remains (Spark ignores sortBy
    metadata on read by default) but it is a local, single-bucket sort —
    no exchange, pipelined with the scan.
    """
    wh = "/root/repo/spark-warehouse"
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", _cents("o_totalprice").alias("price_cents")
    )
    for name, df, key in (
        ("bucketed_customer", cust, "c_custkey"),
        ("bucketed_orders", orders, "o_custkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.repartition(8, F.col(key))
            .write.format("parquet")
            .mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{wh}/{name}")
            .saveAsTable(name)
        )
    c = spark.table("bucketed_customer")
    o = spark.table("bucketed_orders")
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price_cents").alias("total_cents"),
        )
    )


BUCKETED_JOIN_SQL = f"""
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum({CENTS.format(x='o_totalprice')}) AS BIGINT) AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "orders_by_region": q_orders_by_region,
    "rollup_orders": q_rollup_orders,
    "cube_orders": q_cube_orders,
    "distinct_counts": q_distinct_counts,
    "approx_distinct": q_approx_distinct,
    "semi_join": q_semi_join,
    "anti_join": q_anti_join,
    "customer_order_stats": q_customer_order_stats,
    "asof_join": q_asof_join,
    "top_parts": q_top_parts,
    "top_customers_per_nation": q_top_customers_per_nation,
    "running_totals": q_running_totals,
    "set_ops": q_set_ops,
    "sliding_window_counts": q_sliding_window_counts,
    "session_windows": q_session_windows,
    "grouping_sets": q_grouping_sets,
    "range_join_bands": q_range_join_bands,
    "time_rollup": q_time_rollup,
    "udaf_median": q_udaf_median,
    "skew_salted_join": q_skew_salted_join,
    "approx_quantiles": q_approx_quantiles,
    "json_extract": q_json_extract,
    "pivot_status": q_pivot_status,
    "unpivot_metrics": q_unpivot_metrics,
    "bucketed_join": q_bucketed_join,
    "full_outer_balances": q_full_outer_balances,
    "priority_lists": q_priority_lists,
    "rolling_revenue": q_rolling_revenue,
}

ORACLES = {
    "pricing_summary": PRICING_SUMMARY_SQL,
    "revenue_by_nation": REVENUE_BY_NATION_SQL,
    "orders_by_region": ORDERS_BY_REGION_SQL,
    "rollup_orders": ROLLUP_ORDERS_SQL,
    "cube_orders": CUBE_ORDERS_SQL,
    "distinct_counts": DISTINCT_COUNTS_SQL,
    "approx_distinct": APPROX_DISTINCT_SQL,
    "semi_join": SEMI_JOIN_SQL,
    "anti_join": ANTI_JOIN_SQL,
    "customer_order_stats": CUSTOMER_ORDER_STATS_SQL,
    "asof_join": ASOF_JOIN_SQL,
    "top_parts": TOP_PARTS_SQL,
    "top_customers_per_nation": TOP_CUSTOMERS_PER_NATION_SQL,
    "running_totals": RUNNING_TOTALS_SQL,
    "set_ops": SET_OPS_SQL,
    "sliding_window_counts": SLIDING_WINDOW_COUNTS_SQL,
    "session_windows": SESSION_WINDOWS_SQL,
    "grouping_sets": GROUPING_SETS_SQL,
    "range_join_bands": RANGE_JOIN_BANDS_SQL,
    "time_rollup": TIME_ROLLUP_SQL,
    "udaf_median": UDAF_MEDIAN_SQL,
    "skew_salted_join": SKEW_SALTED_JOIN_SQL,
    "approx_quantiles": APPROX_QUANTILES_SQL,
    "json_extract": JSON_EXTRACT_SQL,
    "pivot_status": PIVOT_STATUS_SQL,
    "unpivot_metrics": UNPIVOT_METRICS_SQL,
    "bucketed_join": BUCKETED_JOIN_SQL,
    "full_outer_balances": FULL_OUTER_BALANCES_SQL,
    "priority_lists": PRIORITY_LISTS_SQL,
    "rolling_revenue": ROLLING_REVENUE_SQL,
}
