"""Spark-4-native surface — the extension APIs the reference's Go `App`
interface (reference ``server/Crane.go:179-188``: one flatMap transform +
one keyed merge per app) maps onto in modern Spark, beyond classic UDFs:

- **Python UDTF** (table-valued transform, SURVEY.md §2.10 "table-valued →
  explode of an array-returning UDF"): a declared-schema generator class,
  Arrow-batched, invoked through SQL ``LATERAL`` so each input row fans
  out to N output rows inside the task — the direct analog of the
  reference's per-line flatMap ``transform`` (``server/wordCount.go:75-84``).
- **VariantType** for semi-structured data: ``parse_json`` → binary
  variant, field access via ``variant_get`` without a declared schema —
  the schema-on-read path for ragged JSON at 100 TB (no full-schema
  inference pass over the corpus).
- **Correlated LATERAL subquery**: per-row dependent subqueries that
  Catalyst decorrelates into joins — the declarative form of "for each
  outer row, run an inner query", which at scale must NEVER execute
  per-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from ..catalog import table_path
from ..session import clone_session, scan_splits, small_state_width
from . import query, t


@udtf(returnType="bigram string", useArrow=True)
class BigramUDTF:
    """Emit each adjacent token pair of a whitespace-tokenized text.
    Declared single-column schema; Arrow batches the row fan-out."""

    def eval(self, text):  # noqa: D102 — UDTF contract
        if text is None:
            return
        toks = text.split(" ")
        for a, b in zip(toks, toks[1:]):
            if a and b:
                yield (a + " " + b,)


@query(
    "udtf_bigram_top20",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), bi AS (
      SELECT ts[i] || ' ' || ts[i + 1] AS bigram
      FROM toks, UNNEST(generate_series(1, len(ts) - 1)) AS u(i)
      WHERE ts[i] <> '' AND ts[i + 1] <> ''
    )
    SELECT bigram, COUNT(*) AS n
    FROM bi
    GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
)
def udtf_bigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 table-valued function: top-20 corpus bigrams via a Python
    UDTF fanned out with SQL LATERAL. The UDTF runs inside the scan task
    (no shuffle before the fan-out); the count aggregates map-side before
    the single exchange. The same job as the reference's wordCount
    flatMap→count, lifted to a declared-schema table function."""
    spark.udtf.register("crane_bigrams", BigramUDTF)
    t(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT b.bigram, COUNT(*) AS n
        FROM docs_udtf d, LATERAL crane_bigrams(d.text) b
        GROUP BY b.bigram
        ORDER BY n DESC, bigram ASC
        LIMIT 20
        """
    )


@query(
    "variant_props_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS k_distinct,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)
                    * CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sq_sum
    FROM events
    GROUP BY event_type
    """,
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VariantType path: events.props parses once into a
    binary variant (no declared schema — schema-on-read), fields come out
    with ``variant_get`` typed casts. At 100 TB variant beats
    from_json-with-inferred-schema because there is no inference pass and
    unqueried fields are never decoded; integer aggregates are exact so
    the oracle matches bit-for-bit."""
    ev = t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("k").alias("k_distinct"),
            F.sum(F.col("k") * F.col("k")).alias("k_sq_sum"),
        )
    )


@query(
    "sql_lateral_top2_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer,
    LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 2
    )
    WHERE c_mktsegment = 'FURNITURE'
    """,
)
def sql_lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each FURNITURE customer's two largest
    orders. Catalyst decorrelates the per-row dependent subquery into a
    ranked window over one orders shuffle — semantically "run a query per
    customer", physically ONE pass (per-row re-execution would be O(|C|)
    scans at scale). Deterministic (price, orderkey) tiebreak."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat")
    return spark.sql(
        """
        SELECT c_custkey, o_orderkey, o_totalprice
        FROM customer_lat,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders_lat
          WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC
          LIMIT 2
        )
        WHERE c_mktsegment = 'FURNITURE'
        """
    )


@query(
    "sql_recursive_order_chain",
    oracle="""
    WITH RECURSIVE nxt AS (
      SELECT o_orderkey,
             LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS next_key
      FROM orders
    ),
    roots AS (
      SELECT o_orderkey FROM (
        SELECT o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rk
        FROM orders
      ) WHERE rk = 1
    ),
    chain(root_key, o_orderkey, depth) AS (
      SELECT o_orderkey, o_orderkey, 1 FROM roots
      UNION ALL
      SELECT c.root_key, n.next_key, c.depth + 1
      FROM chain c JOIN nxt n ON n.o_orderkey = c.o_orderkey
      WHERE n.next_key IS NOT NULL
    )
    SELECT root_key, o_orderkey, depth FROM chain
    """,
)
def sql_recursive_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 recursive CTE (WITH RECURSIVE, UNION ALL): walk each
    customer's order-succession DAG from their first order, labeling every
    order with its chain root and 1-based depth — the iterate-until-fixed-
    point surface (hierarchies, BOM explosions, path enumeration) that
    pre-4.0 Spark needed driver-side loops for. The successor edges form
    per-customer chains (a DAG), so UNION ALL recursion terminates — the
    engine's recursive CTE does not yet support UNION-distinct, which
    cyclic graphs would need (the distributed alternative for those:
    operators.dedup.connected_components label propagation).

    The walk is unrolled: each recursive step advances up to
    ``ORDER_CHAIN_HOPS`` (K) hops through a cached hop table (the order's
    1st..Kth successors, from one window pass), so a chain of length L
    takes ceil((L - 1) / K) steps instead of L - 1 — 3 instead of ~24 at
    sf0.01 and sf0.1, where every step is a new plan, a repartition, a
    convergence probe and a broadcast regardless of its size. Only the
    K-th hop of a step is ``live`` and extends the frontier, so every
    chain member is emitted exactly once, as in the one-hop walk. The
    hop table is cached because every step re-executes the recursion's
    non-recursive side (an uncached window would re-scan and re-sort
    orders per step), and registered for post-query release (harnesses
    call release_query_caches after materializing), so it cannot pin
    memory across later queries."""
    # The recursion's width follows the input's scan splits, floored at
    # the small-state width so a one-split input does not serialize every
    # step on one core; at scale the split count dominates. The width and
    # the AQE switch live in a clone session (session.clone_session: shared
    # SparkContext and caches, its own SQLConf), so the host session's
    # confs never change.
    splits = scan_splits(t(spark, sf_dir, "orders"), sf_dir, table_path(sf_dir, "orders"))
    width_floor = small_state_width(spark)
    rec_parts = max(splits, width_floor)
    confs = {"spark.sql.shuffle.partitions": str(rec_parts)}
    # With AQE on, every recursion step materializes its stages as separate
    # jobs; for a floor-sized input the frontier is KB-sized and that is
    # pure overhead. An input wide enough to set the width keeps AQE.
    if splits <= width_floor:
        confs["spark.sql.adaptive.enabled"] = "false"
    rec = clone_session(spark, "order_chain", confs)
    return _order_chain(rec, sf_dir, rec_parts)


# Hops advanced per recursion step: the per-step fixed cost (plan, probe,
# repartition, broadcast) dominates; 8 tied 16 for fastest in a sweep of
# {4, 6, 8, 16} at sf0.01 and sf0.1, with a hop table half the size.
ORDER_CHAIN_HOPS = 8


def _order_chain(rec: SparkSession, sf_dir: str, parts: int) -> DataFrame:
    """The unrolled order-chain walk in session ``rec``. The hop table is
    hash-partitioned on the join key at ``parts``, the recursion's shuffle
    width, so its side of every step's join reuses the cached layout."""
    from pyspark.sql import Window

    from . import register_query_cache

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # hop 0 is the order itself (the anchor's row); hops 1..K its successors
    succ = [F.lead("o_orderkey", h).over(w) for h in range(1, ORDER_CHAIN_HOPS + 1)]
    hops = register_query_cache(
        t(rec, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.row_number().over(w).alias("rk"),
            F.array("o_orderkey", *succ).alias("hops"),
        )
        .select("o_orderkey", "rk", F.posexplode("hops").alias("hop", "dst"))
        .where("dst IS NOT NULL")
        .repartition(parts, "o_orderkey")
        .cache()
    )
    # No eager count: the walk's anchor step fills the cache, and counting
    # first only added jobs (19 vs 14 at sf0.01).
    hops.createOrReplaceTempView("order_chain_hops")  # clone-scoped view
    # The anchor reads hop 0's dst (the order itself) as its second column,
    # not o_orderkey twice: a repeated attribute in the anchor's output
    # makes each step's LogicalRDD fail its output-column match and WARN.
    return rec.sql(
        f"""
        WITH RECURSIVE chain(root_key, o_orderkey, depth, live) AS (
          SELECT o_orderkey, dst, 1, TRUE
          FROM order_chain_hops WHERE rk = 1 AND hop = 0
          UNION ALL
          SELECT c.root_key, n.dst, c.depth + n.hop, n.hop = {ORDER_CHAIN_HOPS}
          FROM chain c JOIN order_chain_hops n ON n.o_orderkey = c.o_orderkey
          WHERE c.live AND n.hop > 0
        )
        SELECT root_key, o_orderkey, depth FROM chain
        """
    )


@query(
    "sql_pipe_priority_revenue",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderstatus <> 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sql_pipe_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (|> — SPARK-49555): the linear FROM |>
    WHERE |> AGGREGATE |> ORDER BY form of a filter-aggregate, parsed to
    the exact same logical plan as the nested SELECT (the oracle is the
    classic form — identical results prove the equivalence). Surface
    coverage next to WITH RECURSIVE / LATERAL / VARIANT in this module;
    the decimal-cast SUM keeps the double exact per the engine's float
    discipline."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe")
    return spark.sql(
        """
        FROM orders_pipe
        |> WHERE o_orderstatus <> 'F'
        |> AGGREGATE CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
                     COUNT(*) AS n_orders
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


@query(
    "udf_sql_function_margin",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                         AS DECIMAL(28,6))) AS DOUBLE) AS charged,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_extendedprice * (1 - l_discount) * (1 + l_tax)
          - l_extendedprice * (1 - l_discount) > 200.0
    GROUP BY l_returnflag
    """,
)
def udf_sql_function_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 declarative SQL UDF (Spark 4 CREATE FUNCTION ... RETURN):
    the charged-amount and tax-margin business expressions packaged as
    named SQL functions. Unlike Python UDFs these are INLINED by the
    analyzer into the calling plan — the filter and aggregate below run
    as ordinary whole-stage-codegen expressions with pushdown intact, so
    the extension point costs nothing at 100 TB. The oracle states the
    inlined expressions directly; charged sums go through the exact-
    decimal cast (see inventory docstring)."""
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION crane_charged(p DOUBLE, d DOUBLE, t DOUBLE)
           RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION crane_tax_margin(p DOUBLE, d DOUBLE, t DOUBLE)
           RETURNS DOUBLE RETURN crane_charged(p, d, t) - p * (1 - d)"""
    )
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sqludf")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(CAST(crane_charged(l_extendedprice, l_discount, l_tax)
                             AS DECIMAL(28,6))) AS DOUBLE) AS charged,
               COUNT(*) AS n
        FROM lineitem_sqludf
        WHERE crane_tax_margin(l_extendedprice, l_discount, l_tax) > 200.0
        GROUP BY l_returnflag
        """
    )


@query(
    "sql_named_params_revenue",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_totalprice > 1000.0
    GROUP BY o_orderstatus
    """,
)
def sql_named_params_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (spark.sql(query, args=...)): named :placeholders
    bind as typed literals at parse time — the injection-safe templating
    surface for programmatic query generation (a curation pipeline
    stamping out per-domain variants of one audited statement). The
    literals reach Catalyst as constants, so pushdown/partition pruning
    see them exactly like hand-written SQL; the oracle is the same
    statement with the bindings inlined."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_params")
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                 AS revenue,
               COUNT(*) AS n
        FROM orders_params
        WHERE o_orderdate >= :since AND o_totalprice > :min_price
        GROUP BY o_orderstatus
        """,
        args={"since": "1996-01-01", "min_price": 1000.0},
    )


@query(
    "sql_groupby_all_orders",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY ALL
    """,
)
def sql_groupby_all_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (SPARK-41631): every non-aggregate select item
    becomes a grouping key, inferred by the analyzer — the DuckDB-style
    ergonomic that keeps hand-edited exploration SQL valid as columns
    are added. Resolves to the identical hash-aggregate plan as an
    explicit GROUP BY 1, 2 (the oracle runs DuckDB's own GROUP BY ALL —
    two engines' inference proven equivalent on the same statement)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gball")
    return spark.sql(
        """
        SELECT o_orderstatus,
               o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        FROM orders_gball
        GROUP BY ALL
        """
    )


@udtf(returnType="user_id bigint, session_start string, n_events bigint")
class SessionizeUDTF:
    """Per-partition stateful sessionizer (30-minute gap, strict-greater
    split matching F.session_window's merge-at-exactly-gap semantics —
    see eventtime.ORACLE_SESSION_30M). With ``TABLE(...) PARTITION BY
    user_id ORDER BY ...`` Spark runs a FRESH instance per user and
    feeds rows in order: ``eval`` accumulates the open session,
    ``terminate`` flushes the last one — the custom-stateful-operator
    contract (reference: per-key bolt state, server/Crane.go) expressed
    as a declared-schema table function."""

    def __init__(self):
        self._user = None
        self._start = None
        self._last = None
        self._n = 0

    def eval(self, row):  # noqa: D102 — UDTF contract
        ts, user = row["ts"], row["user_id"]
        if self._n and (ts - self._last).total_seconds() > 1800.0:
            yield (self._user, self._start.strftime("%Y-%m-%d %H:%M:%S.%f"),
                   self._n)
            self._n = 0
        if not self._n:
            self._user, self._start = user, ts
        self._last = ts
        self._n += 1

    def terminate(self):  # noqa: D102 — UDTF contract
        if self._n:
            yield (self._user, self._start.strftime("%Y-%m-%d %H:%M:%S.%f"),
                   self._n)


@query(
    "udtf_sessionize_table_arg",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id < 300
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def udtf_sessionize_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 polymorphic-input UDTF: the SAME 30-minute sessionization
    already graded in batch (evt_session_windows_30m, F.session_window)
    and streaming (stream_session_windows_30m) — now as a Python UDTF
    consuming ``TABLE(events) PARTITION BY user_id ORDER BY (ts,
    event_id)``, the Spark 4 surface for user-defined PER-KEY STATEFUL
    operators in batch SQL. Three implementations, one oracle: the
    gaps-and-islands SQL. The engine shuffles/sorts by the declared
    partitioning before the UDTF sees a row, so state is a single open
    session per instance — O(1) memory regardless of corpus size. Python
    row-at-a-time is the slow path (that is WHY the built-in
    session_window grades the unbounded run); the user_id < 300 probe
    bound keeps the demo O(bounded) while exercising the full contract
    incl. per-partition terminate() flush."""
    spark.udtf.register("crane_sessionize", SessionizeUDTF)
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    ev.createOrReplaceTempView("events_sess_udtf")
    return spark.sql(
        """
        SELECT user_id, session_start, n_events
        FROM crane_sessionize(TABLE(events_sess_udtf)
                              PARTITION BY user_id ORDER BY (ts, event_id))
        """
    )
