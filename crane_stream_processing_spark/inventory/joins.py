"""Join inventory — SURVEY.md §2.3 J1-J7. The reference has no relational
join (its "join" is a keyed aggregation, server/Crane.go:179-188); this
module exposes the full Spark join surface over the driver tables, each
oracle-checked against DuckDB.

Scale notes per query are inline; the common rules: dimension tables
(region/nation) are explicitly broadcast, fact-fact joins shuffle on their
keys and rely on AQE skew handling, and the as-of join uses the linear
union+window recipe from operators.asof rather than a quadratic range join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import row_count
from ..operators.asof import asof_join
from ..session import clone_session
from . import dsum, query, t


@query(
    "join_inner_revenue_by_nation",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_inner_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 equi inner: orders⨝customer⨝nation, revenue per nation.
    customer⨝orders shuffles on custkey (AQE-coalesced); nation is an
    explicit broadcast — zero shuffle for the dim side at any SF."""
    orders, cust, nation = (t(spark, sf_dir, n) for n in ("orders", "customer", "nation"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "inner")
        .groupBy("n_name")
        .agg(
            dsum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "join_left_outer_customer_orders",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(28,4))), 0) AS DOUBLE) AS spend
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def join_left_outer_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 left outer: every customer with order count + spend, zero-order
    customers kept (NULL-extended then coalesced). One shuffle on custkey."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("spend"),
        )
    )


@query(
    "join_full_outer_daily_activity",
    oracle="""
    WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
               FROM orders GROUP BY 1),
         e AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events
               FROM events GROUP BY 1)
    SELECT CAST(COALESCE(o.d, e.d) AS VARCHAR) AS day,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_events, 0) AS n_events
    FROM o FULL OUTER JOIN e ON o.d = e.d
    """,
)
def join_full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 full outer: order-days ⟗ event-days; each side has days the other
    lacks (orders span years, events span one month). Aggregates first —
    the outer join runs on two tiny pre-aggregated sides, not raw facts."""
    o = (
        t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    e = (
        t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return o.join(e, o.d == e.d, "full").select(
        F.coalesce(o.d, e.d).cast("string").alias("day"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


@query(
    "join_semi_customers_with_open_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    GROUP BY c_mktsegment
    """,
)
def join_semi_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 left semi: customers having ≥1 open order, counted per segment.
    Semi join never duplicates left rows and ships only the key column of
    the right side."""
    cust = t(spark, sf_dir, "customer")
    open_orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 left anti: customers with no orders at all, per segment."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_theta_price_bands",
    oracle="""
    SELECT band, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(28,4))) AS DOUBLE) AS total_price
    FROM part
    JOIN (VALUES ('budget', 0.0, 500.0),
                 ('mid', 500.0, 1200.0),
                 ('premium', 1200.0, 1e18)) AS bands(band, lo, hi)
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
)
def join_theta_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 theta (non-equi): part × price-band table on a range predicate —
    BroadcastNestedLoopJoin with a 3-row broadcast side, so the 'nested
    loop' is O(|part|·3) and fully parallel."""
    part = t(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 0.0, 500.0), ("mid", 500.0, 1200.0), ("premium", 1200.0, 1e18)],
        "band string, lo double, hi double",
    )
    cond = (F.col("p_retailprice") >= F.col("lo")) & (F.col("p_retailprice") < F.col("hi"))
    return (
        part.join(F.broadcast(bands), cond, "inner")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dsum("p_retailprice").alias("total_price"),
        )
    )


@query(
    "join_cross_region_pairs",
    oracle="""
    SELECT a.r_name AS r1, b.r_name AS r2
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey < b.r_regionkey
    """,
)
def join_cross_region_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 cross: unordered region pairs. Cross joins are reserved for
    provably tiny inputs (|region| = 5); the < filter halves the square."""
    r = t(spark, sf_dir, "region")
    a, b = r.alias("a"), r.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.r_regionkey") < F.col("b.r_regionkey"))
        .select(F.col("a.r_name").alias("r1"), F.col("b.r_name").alias("r2"))
    )


@query(
    "join_range_shipped_within_30d",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      AND l_shipdate >= o_orderdate
      AND l_shipdate <  o_orderdate + INTERVAL 30 DAY
    GROUP BY o_orderpriority
    """,
)
def join_range_shipped_within_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 range/interval join: lineitems shipped within 30 days of their
    order date. The equi key (orderkey) drives the shuffle; the range
    predicate evaluates post-match, so this stays a hash/sort-merge join,
    never a nested loop."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < o.o_orderdate + F.expr("INTERVAL 30 DAYS"))
    )
    return (
        li.join(o, cond, "inner")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


@query(
    "join_asof_last_purchase_before_error",
    oracle="""
    SELECT e.event_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS error_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def join_asof_last_purchase_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 as-of: each error event paired with the user's most recent
    purchase at-or-before it (NULL if none). Linear union+window recipe
    (operators.asof) — one shuffle on user_id, no join explosion; DuckDB
    ASOF JOIN is the oracle."""
    ev = t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof_join(
        errors, purchases, on=["user_id"], left_ts="ts", right_ts="ts", value_cols=["value"]
    )
    return joined.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("error_ts"),
        F.col("value_r").alias("purchase_value"),
    )


@query(
    "join_asof_next_purchase_after_error",
    oracle="""
    SELECT e.event_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS error_ts,
           p.value AS next_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts <= p.ts
    """,
)
def join_asof_next_purchase_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 as-of, FORWARD direction: each error event paired with the
    user's first purchase at-or-after it (NULL if none) — the "what did
    the user do next" lookup. Same linear union+window recipe as the
    backward variant with the window's time order mirrored
    (operators.asof direction="forward"): one shuffle on user_id, no join
    explosion; DuckDB ASOF JOIN with the inequality flipped is the
    oracle."""
    ev = t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(
        errors, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["value"], direction="forward",
    )
    return joined.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("error_ts"),
        F.col("value_r").alias("next_purchase_value"),
    )


@query(
    "join_asof_tolerance_7d_purchase",
    oracle="""
    SELECT e.event_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS error_ts,
           CASE WHEN e.ts - p.ts <= INTERVAL 7 DAY THEN p.value END
             AS recent_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def join_asof_tolerance_7d_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J6 as-of with a TOLERANCE bound (the pandas merge_asof
    ``tolerance=`` knob): each error event paired with the user's most
    recent purchase at-or-before it, but only if that purchase happened
    within the last 7 days — staler matches yield NULL (a "recent
    context" lookup: a week-old purchase is noise, not context). Zero
    plan change vs the unbounded as-of — the matched row's own
    timestamp rides inside the carried struct and the bound is one
    post-carry CASE, so cost stays a single shuffle on user_id. The
    oracle applies the identical CASE to DuckDB's ASOF JOIN result:
    both engines NULL out the SAME matched row, so tolerance semantics
    (not just the join) are hash-checked."""
    ev = t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(
        errors, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["value"], tolerance=F.expr("INTERVAL 7 DAYS"),
    )
    return joined.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("error_ts"),
        F.col("value_r").alias("recent_purchase_value"),
    )


@query(
    "join_asof_nearest_purchase",
    oracle="""
    SELECT e.event_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS error_ts,
           CASE WHEN b.ts IS NOT NULL
                     AND (f.ts IS NULL OR e.ts - b.ts <= f.ts - e.ts)
                THEN b.value ELSE f.value END AS nearest_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON e.user_id = b.user_id AND e.ts >= b.ts
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') f
      ON e.user_id = f.user_id AND e.ts <= f.ts
    """,
)
def join_asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 as-of, NEAREST direction — the third pandas merge_asof mode,
    completing backward/forward/tolerance/nearest parity: each error
    event paired with the user's temporally CLOSEST purchase on either
    side (ties prefer the earlier one). One key shuffle feeding two
    window frames (running last-before + first-after over the same
    union) — never a range join. The oracle composes DuckDB's two
    directional ASOF joins with the same distance CASE, so the choice
    logic itself is hash-checked, not just each direction."""
    ev = t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(
        errors, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["value"], direction="nearest",
    )
    return joined.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("error_ts"),
        F.col("value_r").alias("nearest_purchase_value"),
    )


@query(
    "join_nullsafe_segment",
    oracle="""
    WITH c AS (
      SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg, c_acctbal FROM customer
    ),
    dim AS (
      SELECT DISTINCT NULLIF(c_mktsegment, 'BUILDING') AS seg,
             COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'UNSEGMENTED') AS label
      FROM customer
    )
    SELECT d.label, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS total_balance
    FROM c JOIN dim d ON c.seg IS NOT DISTINCT FROM d.seg
    GROUP BY d.label
    """,
)
def join_nullsafe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match NULL dim rows instead of dropping out — the standard pattern for
    joining on a nullable derived key without a COALESCE sentinel. The
    null-safe condition stays a hash-join key (EqualNullSafe is
    equi-joinable in Catalyst), and the dim side broadcasts."""
    cust = t(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
        "c_acctbal",
    )
    dim = (
        t(spark, sf_dir, "customer")
        .select(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"))
        .distinct()
        .withColumn("label", F.coalesce(F.col("seg"), F.lit("UNSEGMENTED")))
    )
    joined = cust.join(F.broadcast(dim), cust["seg"].eqNullSafe(dim["seg"]))
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal").alias("total_balance"),
    )


@query(
    "join_salted_order_revenue",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_salted_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact-dim join, graded: the salted two-phase recipe
    (operators.skew.salted_join — fact side salted into 16 buckets, dim
    side replicated 16x, join on (key, salt)) must be value-identical to
    the plain join, which is the oracle. The salt never reaches the
    output, so correctness is independent of the salt distribution —
    the property that makes salting safe to deploy when AQE's runtime
    skew split isn't enough (one pathological key hotter than a whole
    task's budget)."""
    from ..operators.skew import salted_join

    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # salted_join joins on a single shared column name; align the keys.
    joined = salted_join(
        orders.withColumnRenamed("o_custkey", "custkey"),
        cust.withColumnRenamed("c_custkey", "custkey"),
        on="custkey",
        salt_buckets=16,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


@query(
    "join_salted_skew_spend",
    oracle="""
    SELECT c_mktsegment,
           COUNT(o_orderkey) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS spend
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def join_salted_skew_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join — the manual skew-mitigation recipe for when
    one join key dominates (a single hot customer/user key lands an
    entire shuffle partition on one task; AQE's skew split only kicks in
    past its size thresholds and can't split a single key group at all
    for non-mergeable downstream ops). Fact side gets a deterministic
    salt (o_orderkey % 8 — uniform, reproducible); the build side
    explodes into all 8 salt replicas; the join key becomes
    (custkey, salt) so the hot key's rows spread across 8 tasks. The
    oracle is the UNSALTED join — salting must be result-invisible, and
    grading it against the plain SQL pins exactly that. Replication
    factor trades build-side memory (8×) for per-task balance; at 100 TB
    you salt ONLY the keys a frequency pre-scan flags (bounded hot set),
    keeping replication off the long tail. Reference parity: the
    reference hash-partitions on raw key (server/Crane.go:179-188) and
    would hot-spot the same way; this query is the mitigation its design
    lacks."""
    salt_n = 8
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salted_cust = cust.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(salt_n)]))
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice",
        (F.col("o_orderkey") % salt_n).cast("int").alias("salt"),
    )
    return (
        orders.join(
            salted_cust,
            (orders.o_custkey == salted_cust.c_custkey)
            & (orders.salt == salted_cust.salt),
            "inner",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice").alias("spend"),
        )
    )


@query(
    "join_bloom_runtime_filter",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
             AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime BLOOM-FILTER join pruning — the semi-join reduction that
    makes selective fact-fact joins survive 100 TB: Catalyst injects a
    bloom filter built from the FILTERED orders side
    (o_orderpriority = '1-URGENT', ~15% selectivity; note the injector's
    `isLikelySelective` gate accepts an equality but NOT an IN list)
    into the lineitem side as a ``might_contain`` predicate (built by a
    ``bloom_filter_agg`` scalar subquery over the filtered orders keys)
    evaluated at the scan, so most non-matching fact rows die BEFORE the
    exchange instead of traveling through the shuffle to be dropped by
    the join — at cluster scale the difference between a network-bound
    and a scan-bound join. The injection is a pure optimization
    (may-contain ⇒ false positives re-checked by the join), so the
    oracle is the PLAIN join SQL: the pruned plan must be
    result-identical. Spark gates injection on cluster-scale size
    thresholds (application side > 10 GiB) and skips it when the
    creation side would broadcast; this query scopes those knobs down
    so the sf-scale harness exercises the 100 TB plan shape (where
    orders is NOT broadcastable and lineitem dwarfs 10 GiB).
    Conf isolation: the knobs are set on a clone session
    (``session.clone_session``: same SparkContext, its own SQLConf),
    never on the caller's session, so a query planned CONCURRENTLY on
    the caller's session can never observe
    ``autoBroadcastJoinThreshold=-1`` or inherit the bloom thresholds.
    The returned DataFrame belongs to the clone and executes on the
    shared context.
    ``tests/test_plan_quality.py`` asserts ``bloom_filter_agg`` +
    ``might_contain`` are actually in the optimized plan;
    ``test_bloom_runtime_filter_conf_isolation`` (same file) interleaves
    two invocations with a caller-session broadcast plan mid-window."""
    n_orders = max(row_count(sf_dir, "orders"), 1)
    confs = {
        # Application (pruned) side must look big enough to bother.
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # Creation side must look small enough to build the filter from.
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        # A broadcastable creation side suppresses injection (the rule
        # only fires for probable shuffle joins) — mimic the 100 TB
        # planning inputs where neither side broadcasts.
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # Without row-count stats the filter is built at the default
        # 8,388,608 bits (1 MB), and every lineitem scan task carries it
        # as a literal (a 1 MB task binary). Size it for the orders rows
        # (an upper bound on the filtered side) at Spark's 3 % false
        # positive rate; Spark caps both at its max* confs.
        "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems": str(n_orders),
        "spark.sql.optimizer.runtime.bloomFilter.numBits": str(
            math.ceil(-n_orders * math.log(0.03) / math.log(2) ** 2)
        ),
    }
    iso = clone_session(spark, "bloom", confs)
    orders = t(iso, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    lineitem = t(iso, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    joined = lineitem.join(
        orders.select("o_orderkey", "o_orderpriority"),
        lineitem.l_orderkey == orders.o_orderkey,
    )
    out = joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_extendedprice").alias("revenue"),
    )
    # Force plan resolution (bloom injection happens at optimization
    # time) while the clone's confs are current; the returned DataFrame
    # carries the already-optimized plan.
    out._jdf.queryExecution().optimizedPlan()
    return out


# sf_dir → database of ANALYZEd copies in the live session's catalog; not an artifact
_CBO_DBS: dict[str, str] = {}

_CBO_TABLES = {
    "orders": "o_orderkey, o_custkey, o_totalprice",
    "customer": "c_custkey, c_nationkey",
    "nation": "n_nationkey, n_regionkey, n_name",
    "region": "r_regionkey, r_name",
}


def _cbo_stats_db(spark: SparkSession, sf_dir: str) -> str:
    """Managed catalog copies of the join tables with ANALYZE TABLE
    table+column statistics — the metadata CostBasedJoinReorder needs
    (row counts, NDVs, min/max). Built once per (process, sf_dir) into a
    dedicated database (name derived from the sf_dir hash so concurrent
    scales never collide), re-validated on reuse via tableExists AND an
    isdir check on the warehouse directory — the data lives in scratch
    space a tmp-reaper can empty mid-process, and the catalog alone
    would keep vouching for vanished files (the same hazard the artifact
    registry's isdir check handles). This
    is the offline step a production deployment schedules after ingest:
    stats are table metadata, amortized across every query that plans
    against them. Hygiene: the key is the REALPATH of sf_dir (a trailing
    slash or relative spelling must not mint a second database), and the
    database's warehouse directory is registered for atexit removal like
    every other fixture (the catalog entries themselves live in the
    in-memory/derby metastore of the owning process)."""
    import hashlib
    import os

    from . import register_scratch_dir

    key = os.path.realpath(sf_dir)
    db = "crane_cbo_" + hashlib.md5(key.encode()).hexdigest()[:10]
    if _CBO_DBS.get(key) == db and all(
        spark.catalog.tableExists(f"{db}.{name}") for name in _CBO_TABLES
    ):
        loc = _cbo_db_dir(spark, db)
        if loc is None or os.path.isdir(loc):
            return db
        # warehouse dir reaped under us: fall through and rebuild — the
        # saveAsTable overwrite below replaces catalog entries + files.
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for name, cols in _CBO_TABLES.items():
        t(spark, sf_dir, name).write.mode("overwrite").saveAsTable(
            f"{db}.{name}"
        )
        spark.sql(f"ANALYZE TABLE {db}.{name} COMPUTE STATISTICS")
        spark.sql(
            f"ANALYZE TABLE {db}.{name} COMPUTE STATISTICS FOR COLUMNS {cols}"
        )
    loc = _cbo_db_dir(spark, db)
    if loc is not None:
        register_scratch_dir(loc)
    _CBO_DBS[key] = db
    return db


def _cbo_db_dir(spark: SparkSession, db: str) -> str | None:
    """Local filesystem path of the database's warehouse directory, or
    None when it can't be determined (non-file scheme, describe failure
    — callers treat None as 'skip the disk check')."""
    try:
        loc = next(
            r.info_value
            for r in spark.sql(f"DESCRIBE DATABASE {db}").collect()
            if r.info_name == "Location"
        )
    except Exception:  # noqa: BLE001 — best-effort metadata probe
        return None
    return loc[len("file:"):] if loc.startswith("file:") else None


@query(
    "join_cbo_stats_reorder",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
             AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
    GROUP BY n_name
    """,
)
def join_cbo_stats_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join REORDERING from column statistics (round-5 verdict
    optional item — the remaining Catalyst lever for 100 TB multi-join
    queries): the four-way star is written in the PESSIMAL syntactic
    order — the two largest tables first (orders ⋈ customer), the
    selective region filter last — and CostBasedJoinReorder, fed by
    ``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`` metadata on
    managed catalog copies (`_cbo_stats_db`), flips it to the
    stats-optimal left-deep order: (nation ⋈ filtered region) first —
    a 25×1-row build — then customer, then orders, so every
    intermediate stays dimension-sized until the single fact-table
    probe. Measured on this corpus the optimized relation order is
    exactly reversed from the syntactic one (plan-asserted in
    tests/test_plan_quality.py against a stats-blind clone). Reordering
    is a pure optimization: the result is order-independent, so the
    oracle is the plain join SQL over the original parquet (the managed
    copies are byte-identical snapshots of the same tables). Conf
    isolation: cbo.enabled/joinReorder.enabled live on a clone session
    (``session.clone_session``, as in `join_bloom_runtime_filter`: the
    catalog/metastore is shared across sessions of one context, the
    SQLConf is not); broadcast thresholds are zeroed there
    because at 100 TB the fact side never broadcasts and join ORDER is
    what decides the shuffled bytes."""
    db = _cbo_stats_db(spark, sf_dir)
    iso = clone_session(
        spark,
        "cbo",
        {
            "spark.sql.cbo.enabled": "true",
            "spark.sql.cbo.joinReorder.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    o = iso.table(f"{db}.orders")
    c = iso.table(f"{db}.customer")
    n = iso.table(f"{db}.nation")
    r = iso.table(f"{db}.region").filter(F.col("r_name") == "EUROPE")
    out = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )
    out._jdf.queryExecution().optimizedPlan()  # reorder happens here
    return out
