"""Core inventory: the flagship query + the four reference apps as named,
oracle-checked queries over the driver tables.

The reference apps consume text lines (FIXTURES.md §A); here their inputs
are rendered from the driver tables (documents.text as the free-text corpus;
CLF-shaped lines synthesized from events) so each app's full
parse→transform→aggregate→top-k path is exercised and DuckDB re-derives the
same answer independently.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import apps
from . import dsum, davg, query, t


# --------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (SURVEY.md §7 M1).
# Scale: single shuffle on two low-cardinality keys; partial aggregation
# map-side; filter + 7-column projection push into the parquet scan.
# --------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(28,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: grouped sums/averages over lineitem with a
    shipdate predicate (pushed to the parquet scan)."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, scale=6).alias("sum_disc_price"),
            dsum(charge, scale=6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Reference app parity (SURVEY.md §2.2 P1-P4, §2.4 A1/A2/A4, §2.6 T1).
# --------------------------------------------------------------------------
def duck_fields(expr: str) -> str:
    """DuckDB SQL for the whitespace fields of ``expr``, as the apps read
    them (Go ``strings.Fields`` over Java's ``\\s``): strip, then split,
    on one class, so padding never yields an empty leading or trailing
    field. DuckDB's ``TRIM`` strips spaces only, and RE2's ``\\s`` lacks
    the ``\\v`` that Java's has."""
    ws = r"[\s\v]"
    return (
        f"string_split_regex(regexp_replace({expr}, '^{ws}+|{ws}+$', '', 'g'), "
        f"'{ws}+')"
    )


@query(
    "app_wordcount_top5",
    oracle=f"""
    SELECT word, cnt FROM (
      SELECT word, COUNT(*) AS cnt
      FROM (SELECT unnest({duck_fields("text")}) AS word FROM documents)
      WHERE word <> ''
      GROUP BY word
    ) ORDER BY cnt DESC, word ASC LIMIT 5
    """,
)
def app_wordcount_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wordCount app (P1+A1/A2+T1): tokenize documents.text on whitespace,
    count words, top-5 by (count desc, word asc).
    Reference: server/wordCount.go:75-84,45-74,99-124."""
    lines = t(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    return apps.wordcount(lines)


@query(
    "app_top_users_top5",
    oracle=f"""
    SELECT followee, cnt FROM (
      SELECT list_extract({duck_fields(
               "CAST(o_orderkey AS VARCHAR) || ' ' || CAST(o_custkey AS VARCHAR)"
             )}, 2) AS followee,
             COUNT(*) AS cnt
      FROM orders
      GROUP BY 1
    ) ORDER BY cnt DESC, followee ASC LIMIT 5
    """,
)
def app_top_users_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """twitter app (P2+A1+T1): edge lines "follower followee" rendered from
    orders as "orderkey custkey"; count per followee (= orders per customer),
    top-5. Reference: server/twitter.go:59-67,33-58."""
    lines = t(spark, sf_dir, "orders").select(
        F.concat_ws(" ", F.col("o_orderkey"), F.col("o_custkey")).alias("value")
    )
    return apps.top_users(lines)


@query(
    "app_hot_resources_top5",
    oracle=f"""
    SELECT resource, cnt FROM (
      SELECT list_extract(f, 7) AS resource, COUNT(*) AS cnt
      FROM (
        SELECT {duck_fields("line")} AS f
        FROM (
          SELECT 'h - - [01/Jan/2024: +0000] "GET ' || event_type ||
                 ' HTTP/1.0" 200 ' || CAST(event_id % 97 AS VARCHAR) AS line
          FROM events
        )
        WHERE contains(line, '200')
      )
      WHERE len(f) >= 10
      GROUP BY 1
    ) ORDER BY cnt DESC, resource ASC LIMIT 5
    """,
)
def app_hot_resources_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hothttp app (P3+A1+T1): Common-Log-format lines synthesized from
    events ("GET <event_type> ... 200 <bytes>"); filter '200', require >=10
    fields, count field[6] (the resource), top-5.
    Reference: server/hothttp.go:59-73,33-58. DuckDB list_extract is
    1-based, hence index 7 for Spark's f[6]."""
    ev = t(spark, sf_dir, "events")
    lines = ev.select(
        F.concat(
            F.lit('h - - [01/Jan/2024: +0000] "GET '),
            F.col("event_type"),
            F.lit(' HTTP/1.0" 200 '),
            (F.col("event_id") % 97).cast("string"),
        ).alias("value")
    )
    return apps.hot_resources(lines)


@query(
    "src_clf_typed_scan",
    oracle="""
    SELECT resource, COUNT(*) AS hits,
           CAST(SUM(event_id % 97) AS BIGINT) AS total_bytes
    FROM (
      SELECT event_type AS resource, event_id FROM events
    )
    GROUP BY resource
    ORDER BY hits DESC, resource ASC
    LIMIT 5
    """,
)
def src_clf_typed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/custom-source path: CLF access-log lines (rendered from events,
    written as a multi-file text dir) read back through the engine's
    Python DataSource (`crane_clf`) as a TYPED relation — parse once at
    the source, then plain relational ops. One InputPartition per file =
    file-parallel scan; the oracle re-derives the aggregate from the
    events table, proving the source's parse is lossless.

    Bench note: first use of a Python DataSource in a session pays ~5 s of
    worker spin-up (planner + per-task Python processes); the warm scan of
    the same 600k-line dir is <1 s. The cost is per-session, not per-query
    — long-lived sessions amortize it away. The rendered CLF dir is a
    deterministic function of the events table, so it's written once per
    (process, sf_dir) and reused — the query under test is the SCAN, not
    the fixture write."""
    from .. import datasource
    from . import artifact

    def _build_clf(log_dir: str) -> None:
        ev = t(spark, sf_dir, "events")
        lines = ev.select(
            F.concat(
                F.lit('h - - [01/Jan/2024:00:00:00 +0000] "GET '),
                F.col("event_type"),
                F.lit(' HTTP/1.0" 200 '),
                (F.col("event_id") % 97).cast("string"),
            ).alias("value")
        )
        lines.repartition(8).write.mode("overwrite").text(log_dir)

    log_dir = artifact("crane_clf", sf_dir, _build_clf)

    datasource.register(spark)
    typed = spark.read.format("crane_clf").option("path", log_dir).load()
    return (
        typed.filter(F.col("status") == 200)
        .groupBy("resource")
        .agg(
            F.count(F.lit(1)).alias("hits"),
            F.sum("nbytes").alias("total_bytes"),
        )
        .orderBy(F.col("hits").desc(), F.col("resource").asc())
        .limit(5)
    )


@query(
    "app_grep_counts",
    oracle="""
    SELECT source AS vm, COUNT(*) AS cnt
    FROM documents
    WHERE regexp_matches(text, 'agg.*join')
    GROUP BY source
    """,
)
def app_grep_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep (P4+A4): regex scan over documents.text with
    per-source match counts — the MP1 scatter-gather as a distributed scan
    (reference server/querier.go:15-56; provenance column = 'vm')."""
    docs = t(spark, sf_dir, "documents")
    matches = docs.filter(F.col("text").rlike("agg.*join")).select(
        F.col("source").alias("vm")
    )
    return matches.groupBy("vm").agg(F.count(F.lit(1)).alias("cnt"))


def _part_fixture(spark: SparkSession, sf_dir: str) -> str:
    """events written hive-partitioned by event_type, an artifact shared
    by the partitioned-roundtrip and DPP queries."""
    from .. import catalog
    from . import artifact

    def _build(part_dir: str) -> None:
        ev = catalog.load_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").partitionBy("event_type").parquet(part_dir)

    return artifact("crane_part", sf_dir, _build)


@query(
    "io_partitioned_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM events
    WHERE event_type IN ('error', 'purchase')
    GROUP BY event_type
    """,
)
def io_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side layout path, graded end-to-end: events written
    partitioned by event_type (hive-style dirs), then read back with a
    partition predicate — the filter must resolve at directory level
    (PartitionFilters, zero data files of other types opened; asserted in
    tests/test_plan_quality.py for the catalog path) and the aggregate
    must match the oracle computed from the unpartitioned source, proving
    the write→read cycle is lossless. The fixture is a deterministic
    function of the events table, written once per (process, sf_dir) —
    the query under test is the partitioned SCAN."""
    from . import dsum

    part_dir = _part_fixture(spark, sf_dir)

    df = spark.read.parquet(part_dir)
    return (
        df.filter(F.col("event_type").isin("error", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
    )


@query(
    "io_dynamic_partition_pruning",
    oracle="""
    WITH dim AS (
      SELECT * FROM (VALUES ('purchase', 'conversion'), ('signup', 'conversion'),
                            ('view', 'traffic'), ('click', 'traffic'),
                            ('error', 'ops')) v(event_type, category)
    )
    SELECT e.event_type, COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    WHERE d.category = 'conversion'
    GROUP BY e.event_type
    """,
)
def io_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning, graded end-to-end: the fact side is the
    hive-partitioned events fixture with NO static predicate — the
    partitions to read are only knowable from the dimension's filter
    (category = 'conversion'), and Catalyst injects a runtime
    dynamicpruning subquery into the scan's PartitionFilters (reusing
    the dimension broadcast), so only 2 of the 5 event_type directories
    are ever opened. At 100 TB this is the mechanism that turns a
    date-dimension filter into a fact-partition skip without the query
    author restating the predicate. Plan-asserted in
    tests/test_plan_quality.py; the aggregate matches the oracle
    computed from the unpartitioned source."""
    from . import dsum

    part_dir = _part_fixture(spark, sf_dir)

    fact = spark.read.parquet(part_dir)
    dim = spark.createDataFrame(
        [
            ("purchase", "conversion"),
            ("signup", "conversion"),
            ("view", "traffic"),
            ("click", "traffic"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    return (
        fact.join(dim.filter(F.col("category") == "conversion"), "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
    )


@query(
    "src_csv_roundtrip",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS total_balance
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 CSV surface, graded end-to-end: customer written as headered
    CSV, read back with an EXPLICIT schema (no inference pass — at 100 TB
    schema inference is a full extra scan) and quote-safe defaults, then
    aggregated; must match the oracle over the parquet original, proving
    the text roundtrip lossless. Fixture written once per (process,
    sf_dir); the graded path is the typed CSV scan."""
    from . import artifact, dsum

    def _build_csv(path: str) -> tuple[str, object]:
        src = t(spark, sf_dir, "customer")
        src.write.mode("overwrite").option("header", True).csv(path)
        return (path, src.schema)

    path, schema = artifact("crane_csv", sf_dir, _build_csv)
    # The graded read goes through the engine's own typed CSV surface
    # (explicit schema + DROPMALFORMED), not a raw spark.read.
    from ..io import read_csv

    df = read_csv(spark, path, schema)
    return df.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("c_acctbal").alias("total_balance"),
    )


@query(
    "src_json_roundtrip",
    oracle="""
    SELECT lang, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_text_len
    FROM documents
    GROUP BY lang
    """,
)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 JSON-lines surface: documents (free text with quotes/unicode →
    exercises JSON string escaping) written as JSONL, read back with an
    explicit schema, aggregated per lang; the text-length sum proves the
    payload survived byte-exact. Same fixture-cache pattern as the CSV
    roundtrip; the graded path is the typed JSON scan."""
    from . import artifact

    def _build_json(path: str) -> tuple[str, object]:
        src = t(spark, sf_dir, "documents")
        src.write.mode("overwrite").json(path)
        return (path, src.schema)

    path, schema = artifact("crane_json", sf_dir, _build_json)
    from ..io import read_json  # engine's typed JSONL surface

    df = read_json(spark, path, schema)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_text_len"),
    )


@query(
    "src_orc_roundtrip",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS total_price,
           CAST(MIN(o_orderdate) AS VARCHAR) AS first_order
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 ORC surface — the other built-in columnar format (predicate
    pushdown + column pruning work the same as parquet): orders written
    as ORC, read back with the explicit schema, aggregated; timestamp
    min proves type fidelity through the format. Fixture cached per
    (process, sf_dir); the graded path is the typed ORC scan."""
    from . import artifact, dsum

    def _build_orc(path: str) -> tuple[str, object]:
        src = t(spark, sf_dir, "orders")
        src.write.mode("overwrite").orc(path)
        return (path, src.schema)

    path, schema = artifact("crane_orc", sf_dir, _build_orc)
    df = spark.read.schema(schema).orc(path)
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice").alias("total_price"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias(
            "first_order"
        ),
    )


@query(
    "src_xml_roundtrip",
    oracle="""
    SELECT lang, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_text_len
    FROM documents
    GROUP BY lang
    """,
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 XML surface (Spark 4's built-in ``xml`` data source — the
    format enterprise feeds still arrive in): documents written as XML
    (free text with quotes/angle-brackets/unicode → exercises XML
    entity escaping, the hardest text encoding of the source family),
    read back through the engine's typed XML reader (explicit schema +
    rowTag + DROPMALFORMED — no inference pass), aggregated per lang;
    the text-length sum proves the payload survived the entity
    encode/decode byte-exact. Same fixture-cache pattern as the
    CSV/JSON/ORC roundtrips; the graded path is the typed XML scan."""
    from . import artifact
    from ..io import read_xml

    def _build_xml(path: str) -> tuple[str, object]:
        src = t(spark, sf_dir, "documents")
        src.write.mode("overwrite").option("rowTag", "doc").option(
            "rootTag", "docs"
        ).format("xml").save(path)
        # XML 1.0 cannot represent control characters (0x00-0x08, 0x0B,
        # 0x0C, 0x0E-0x1F): a corpus row containing one would be written
        # but dropped on re-read by DROPMALFORMED while the oracle reads
        # the original parquet — a SILENT divergence. Fail loudly at
        # fixture-build time instead.
        n_src = src.count()
        n_back = read_xml(spark, path, src.schema, row_tag="doc").count()
        if n_back != n_src:
            raise ValueError(
                f"XML roundtrip dropped rows ({n_src} -> {n_back}): the "
                "corpus contains XML-unrepresentable control characters"
            )
        return (path, src.schema)

    path, schema = artifact("crane_xml", sf_dir, _build_xml)

    df = read_xml(spark, path, schema, row_tag="doc")
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_text_len"),
    )


@query(
    "io_dynamic_partition_overwrite",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM (
      SELECT event_type, value FROM events WHERE event_type <> 'error'
      UNION ALL
      SELECT event_type, value * 2 AS value FROM events
      WHERE event_type = 'error'
    ) GROUP BY event_type
    """,
)
def io_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite — the incremental-backfill write
    pattern a long-lived 100 TB table lives by: re-computing one
    partition (here the 'error' slice, values doubled by a corrected
    pipeline) and writing it with ``mode("overwrite")`` +
    ``partitionOverwriteMode=dynamic`` replaces ONLY the partitions the
    new data touches — static overwrite mode would silently TRUNCATE
    the whole table to the one slice, the classic production data-loss
    footgun this query pins shut. The fixture builds the base
    hive-partitioned copy and then performs the surgical overwrite (its
    own copy — the shared partitioned fixture of the DPP queries stays
    pristine); the graded aggregate over the post-state proves both
    halves: untouched partitions read back exactly the source rows, the
    overwritten partition holds exactly the recomputed ones. The mode is
    a per-WRITE option, so nothing session-global changes."""
    from .. import catalog
    from . import artifact, dsum

    def _build_dynpo(d: str) -> None:
        ev = catalog.load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value", "event_type"
        )
        ev.write.mode("overwrite").partitionBy("event_type").parquet(d)
        corrected = ev.filter(F.col("event_type") == "error").withColumn(
            "value", F.col("value") * 2
        )
        corrected.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("event_type").parquet(d)

    path = artifact("crane_dynpo", sf_dir, _build_dynpo)
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
    )


@query(
    "io_batch_cdc_merge",
    oracle="""
    WITH cdc_u AS (
      SELECT event_id, value * 3 AS value FROM events WHERE event_id % 7 = 0
    ),
    cdc_d AS (
      SELECT event_id FROM events WHERE event_id % 11 = 0
    ),
    cdc_i AS (
      SELECT event_id + 1000000000 AS event_id,
             CAST(event_id % 100 AS DOUBLE) AS value
      FROM events WHERE event_id % 13 = 0
    ),
    merged AS (
      SELECT e.event_id, COALESCE(u.value, e.value) AS value
      FROM events e
      LEFT JOIN cdc_u u ON e.event_id = u.event_id
      WHERE e.event_id NOT IN (SELECT event_id FROM cdc_d)
      UNION ALL
      SELECT event_id, value FROM cdc_i
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM merged
    """,
)
def io_batch_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC MERGE (upsert-as-rewrite) — how a plain-parquet 100 TB
    table applies a change feed without a transactional table format:
    deletes drop via LEFT ANTI join on the key, updates take the CDC
    value via LEFT join + coalesce, inserts append — one key-shuffled
    pass over base ∪ changes, then the merged state is REWRITTEN to
    parquet (at scale: only the partitions the keys touch, composing
    with `io_dynamic_partition_overwrite`'s mode) and the graded
    aggregate reads the POST-STATE back, proving row counts, the exact
    decimal value total, and an id checksum against the oracle's
    relational merge. The synthetic feed derives deterministically from
    the table itself (mod-7 updates ×3, mod-11 deletes, mod-13 inserts
    at key+1e9); a key hit by both update and delete is DELETED on both
    engines (the delete filter applies regardless of the update join).
    Delete semantics use an ANTI JOIN, never ``NOT IN`` (a NULL in the
    subquery would silently empty a NOT IN result — the oracle's keys
    are provably non-NULL so its NOT IN is safe)."""
    from .. import catalog
    from . import artifact, dsum

    def _build_cdc(d: str) -> None:
        ev = catalog.load_table(spark, sf_dir, "events").select(
            "event_id", "value"
        )
        upd = ev.filter(F.col("event_id") % 7 == 0).select(
            "event_id", (F.col("value") * 3).alias("__uval")
        )
        dels = ev.filter(F.col("event_id") % 11 == 0).select("event_id")
        ins = ev.filter(F.col("event_id") % 13 == 0).select(
            (F.col("event_id") + 1_000_000_000).alias("event_id"),
            (F.col("event_id") % 100).cast("double").alias("value"),
        )
        merged = (
            ev.join(dels, "event_id", "left_anti")
            .join(upd, "event_id", "left")
            .select(
                "event_id",
                F.coalesce(F.col("__uval"), F.col("value")).alias("value"),
            )
            .unionByName(ins)
        )
        merged.write.mode("overwrite").parquet(d)

    path = artifact("crane_cdc", sf_dir, _build_cdc)
    return spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("total_value"),
        F.sum("event_id").cast("long").alias("id_checksum"),
    )


# The shared IVM fixture contract: the materialized per-customer aggregate
# over PRE-CUTOFF orders, and the synthetic change feed (inserts = orders
# on/after the cutoff, deletes = pre-cutoff orders with key % 37 = 0).
# One definition feeds the batch IVM query, the streaming IVM twin
# (streaming_queries.stream_incremental_agg_maintenance), and their
# shared from-scratch-recompute oracle.
IVM_CUT = "1997-01-01"

IVM_ORACLE = """
    WITH survivors AS (
      SELECT o_custkey, o_totalprice FROM orders
      WHERE (o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 37 <> 0)
         OR o_orderdate >= TIMESTAMP '1997-01-01'
    )
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
             AS total_price
    FROM survivors GROUP BY o_custkey
    """


def ivm_base_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (as an artifact) the IVM base state: the per-customer
    COUNT + exact-decimal SUM over pre-cutoff orders, written to parquet
    — the at-rest view a refresh reads INSTEAD of the fact table."""
    from .. import catalog
    from . import artifact

    def _build_base(d: str) -> None:
        orders = catalog.load_table(spark, sf_dir, "orders")
        agg = (
            orders.filter(F.col("o_orderdate") < IVM_CUT)
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(
                    F.col("o_totalprice").cast("decimal(28,4)")
                ).alias("total_dec"),
            )
        )
        agg.write.mode("overwrite").parquet(d)

    return artifact("crane_ivm_base", sf_dir, _build_base)


def ivm_signed_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic signed change feed (one definition for the batch
    query and the streaming twin's landed files): inserts contribute
    (+1, +price), deletes (−1, −price), keyed by o_custkey."""
    orders = t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(28,4)")
    inserts = orders.filter(F.col("o_orderdate") >= IVM_CUT).select(
        "o_custkey",
        F.lit(1).cast("long").alias("dn"),
        dec.alias("dv"),
    )
    deletes = orders.filter(
        (F.col("o_orderdate") < IVM_CUT) & (F.col("o_orderkey") % 37 == 0)
    ).select(
        "o_custkey",
        F.lit(-1).cast("long").alias("dn"),
        (-dec).alias("dv"),
    )
    return inserts.unionByName(deletes)


def ivm_fold_view(base_agg: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold signed per-group deltas (o_custkey, dn, dv) into the
    materialized view — O(groups + delta); zero-count groups drop. The
    fold algebra itself is streaming.ivm.signed_fold, ONE definition
    shared with the streaming maintainer's read path and the journal
    compaction (round-9 review: three hand-synced copies collapsed)."""
    from ..streaming.ivm import signed_fold

    return signed_fold(
        base_agg, delta, "o_custkey", "n_orders", "total_dec"
    ).select(
        "o_custkey",
        "n_orders",
        F.col("total_dec").cast("double").alias("total_price"),
    )


@query("io_incremental_agg_maintenance", oracle=IVM_ORACLE)
def io_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE — how a materialized aggregate over a
    100 TB fact table absorbs a change feed WITHOUT the full rescan: the
    per-customer order aggregate is materialized once to parquet (counts
    + EXACT decimal sums — the self-maintainable aggregate classes), and
    the maintenance pass combines that small at-rest state with SIGNED
    delta aggregates computed from the changes alone — inserts (orders
    on/after the 1997-01-01 cutoff) contribute (+1, +price), deletes
    (pre-cutoff orders with o_orderkey % 37 = 0) contribute (−1, −price)
    — one union + one groupBy over |distinct keys| + |delta| rows.
    Groups whose count reaches zero drop out (full-group deletion
    handled). The oracle recomputes the view FROM SCRATCH over the
    post-change row set, so the grade is the IVM correctness theorem for
    this view: maintained state ≡ recomputed state, row-for-row with
    exact decimal money. Scale shape, stated precisely: the MERGE is
    O(groups + delta) — the base enters as one row per group, never as
    fact rows. The delta itself is SYNTHESIZED HERE by filtering the
    fact table (this fixture has no external change feed), so this
    query's own plan does scan orders to manufacture the inserts and
    deletes — the date predicate pushes to those scans, but a
    production refresh must NOT copy that part: the feed lands as its
    own small table and the incremental path reads ONLY it plus the
    materialized aggregate, which is what ``tools/scale_probe.py
    --ivm-only`` models and measures (flat refresh cost vs a fact-scan
    recompute growing 1.0→9.7 s across 1×–300×, DESIGN.md). At 100 TB
    with a 0.1% daily delta that is the difference between scanning
    100 GB and 100 TB per refresh. COUNT+SUM are the self-maintainable
    pair (MIN/MAX would need the anti-monotone rescan on delete —
    documented limit, not hidden). The fixture/feed/fold definitions are
    shared with the streaming twin
    (`stream_incremental_agg_maintenance`, which maintains the SAME view
    from a LANDED feed through the idempotent batch sink) — see
    :func:`ivm_base_dir` / :func:`ivm_signed_feed` / :func:`ivm_fold_view`."""
    base_agg = spark.read.parquet(ivm_base_dir(spark, sf_dir))
    delta = (
        ivm_signed_feed(spark, sf_dir)
        .groupBy("o_custkey")
        .agg(F.sum("dn").alias("dn"), F.sum("dv").alias("dv"))
    )
    return ivm_fold_view(base_agg, delta)


@query(
    "io_minmax_partial_rescan",
    oracle="""
    WITH survivors AS (
      SELECT o_custkey, o_totalprice FROM orders
      WHERE (o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 37 <> 0)
         OR o_orderdate >= TIMESTAMP '1997-01-01'
    ),
    touched AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 37 = 0
    )
    SELECT s.o_custkey, MIN(s.o_totalprice) AS min_price,
           COUNT(*) AS n_orders,
           s.o_custkey IN (SELECT o_custkey FROM touched) AS rescanned
    FROM survivors s GROUP BY s.o_custkey
    """,
)
def io_minmax_partial_rescan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANTI-MONOTONE half of incremental view maintenance —
    `io_incremental_agg_maintenance` handles COUNT/SUM (self-maintainable
    under insert AND delete); MIN/MAX are self-maintainable only under
    INSERT (min(old, new) needs no history), while a DELETE can remove
    the extremum, forcing a rescan. The production answer is a PARTIAL
    rescan, implemented here: groups untouched by any delete keep their
    materialized MIN verbatim (zero fact rows read for them — they enter
    as one row each, anti-joined against the touched-key set); groups a
    delete touched are recomputed from their surviving base rows ONLY (a
    semi-join prunes the fact scan to those groups — with the fact
    bucketed/partitioned by key, that is the only data read); insert
    minima fold in with a final per-group MIN (the insert-monotone
    identity). Each emitted group carries its `rescanned` flag, so the
    maintenance ledger itself is graded: the oracle recomputes both the
    view AND which groups required rescanning, row-for-row. MIN involves
    no arithmetic (order-independent comparisons), so the double grades
    hash-exact with no decimal ladder. Like the COUNT/SUM twin, the
    change feed is SYNTHESIZED here by filtering the fact table; a real
    deployment lands it as its own table (see `tools/scale_probe.py
    --ivm-only` and that query's docstring for the precise scan-shape
    claim). At 100 TB with point deletes, the touched-key set is tiny
    and this refresh reads |touched groups| of data instead of the
    table."""
    from .. import catalog
    from . import artifact

    CUT = "1997-01-01"

    def _build_minview(d: str) -> None:
        orders = catalog.load_table(spark, sf_dir, "orders")
        agg = (
            orders.filter(F.col("o_orderdate") < CUT)
            .groupBy("o_custkey")
            .agg(
                F.min("o_totalprice").alias("min_price"),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )
        agg.write.mode("overwrite").parquet(d)

    path = artifact("crane_ivm_min", sf_dir, _build_minview)
    matview = spark.read.parquet(path)
    orders = t(spark, sf_dir, "orders")
    pre = orders.filter(F.col("o_orderdate") < CUT)
    deletes = pre.filter(F.col("o_orderkey") % 37 == 0)
    touched = deletes.select("o_custkey").distinct()

    # untouched groups: the materialized row IS the answer — no fact read
    untouched = matview.join(touched, "o_custkey", "anti").select(
        "o_custkey", "min_price", F.col("n_orders").cast("long").alias("n")
    )
    # touched groups: recompute from their SURVIVING base rows only
    rescanned = (
        pre.join(touched, "o_custkey", "semi")
        .filter(F.col("o_orderkey") % 37 != 0)
        .groupBy("o_custkey")
        .agg(
            F.min("o_totalprice").alias("min_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # inserts: MIN is insert-monotone — fold in with a final per-group MIN
    ins = (
        orders.filter(F.col("o_orderdate") >= CUT)
        .groupBy("o_custkey")
        .agg(
            F.min("o_totalprice").alias("min_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    merged = (
        untouched.unionByName(rescanned)
        .unionByName(ins)
        .groupBy("o_custkey")
        .agg(
            F.min("min_price").alias("min_price"),
            F.sum("n").alias("n_orders"),
        )
    )
    return merged.join(
        touched.withColumn("__t", F.lit(True)), "o_custkey", "left"
    ).select(
        "o_custkey",
        "min_price",
        "n_orders",
        F.coalesce(F.col("__t"), F.lit(False)).alias("rescanned"),
    )


def cdc_ivm_base_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (as an artifact) the CDC-IVM base state: the per-user
    COUNT + exact-decimal SUM(value) view over events — shared by the
    batch upsert query and its streaming twin."""
    from .. import catalog
    from . import artifact

    def _build_base(d: str) -> None:
        ev = catalog.load_table(spark, sf_dir, "events")
        agg = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,4)")).alias("total_dec"),
        )
        agg.write.mode("overwrite").parquet(d)

    return artifact("crane_cdcivm_base", sf_dir, _build_base)


def cdc_signed_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC upsert feed expanded to SIGNED change rows (user_id, dn,
    dv) — ONE definition for the batch query and the streaming twin's
    landed files: mod-7 UPDATEs become the canonical DELETE+INSERT pair
    (−1, −old) / (+1, +new·3) carrying before/after images, mod-11
    DELETEs subtract their row, delete-wins on update∩delete keys, and
    mod-13 INSERTs arrive with their full synthesized row."""
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dec = F.col("value").cast("decimal(28,4)")
    upd = ev.filter(
        (F.col("event_id") % 7 == 0) & (F.col("event_id") % 11 != 0)
    )
    upd_del = upd.select(
        "user_id", F.lit(-1).cast("long").alias("dn"), (-dec).alias("dv")
    )
    upd_ins = upd.select(
        "user_id",
        F.lit(1).cast("long").alias("dn"),
        (F.col("value") * 3).cast("decimal(28,4)").alias("dv"),
    )
    dels = ev.filter(F.col("event_id") % 11 == 0).select(
        "user_id", F.lit(-1).cast("long").alias("dn"), (-dec).alias("dv")
    )
    ins = ev.filter(F.col("event_id") % 13 == 0).select(
        (F.col("event_id") % 50).alias("user_id"),
        F.lit(1).cast("long").alias("dn"),
        (F.col("event_id") % 100)
        .cast("double")
        .cast("decimal(28,4)")
        .alias("dv"),
    )
    return upd_del.unionByName(upd_ins).unionByName(dels).unionByName(ins)


CDC_IVM_ORACLE = """
    WITH u AS (
      SELECT event_id, value * 3 AS new_value FROM events
      WHERE event_id % 7 = 0 AND event_id % 11 <> 0
    ),
    d AS (SELECT event_id FROM events WHERE event_id % 11 = 0),
    i AS (
      SELECT CAST(event_id % 50 AS BIGINT) AS user_id,
             CAST(event_id % 100 AS DOUBLE) AS value
      FROM events WHERE event_id % 13 = 0
    ),
    merged AS (
      SELECT e.user_id, COALESCE(u.new_value, e.value) AS value
      FROM events e LEFT JOIN u ON e.event_id = u.event_id
      WHERE e.event_id NOT IN (SELECT event_id FROM d)
      UNION ALL
      SELECT user_id, value FROM i
    )
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM merged GROUP BY user_id
    """


@query("io_cdc_ivm_maintenance", oracle=CDC_IVM_ORACLE)
def io_cdc_ivm_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC FEED → MAINTAINED VIEW — the round-8 verdict's item #4,
    composing the upsert feed shape of `io_batch_cdc_merge` (mod-7
    UPDATEs ×3, mod-11 DELETEs, mod-13 INSERTs at synthesized keys) with
    `io_incremental_agg_maintenance`'s signed-delta refresh: the
    materialized per-user COUNT + exact-decimal SUM(value) view absorbs
    the full change feed WITHOUT rescanning events. Every UPDATE expands
    into the canonical DELETE+INSERT pair — (−1, −old_value) then
    (+1, +new_value) — which is how a view maintainer consumes a
    Debezium-style feed carrying before/after images; updates whose key
    is ALSO deleted are excluded from the update leg (the delete wins,
    matching the CDC merge's semantics), and INSERT rows carry their own
    synthesized user_id (a new fact row arrives with all its columns).
    The base view enters as ONE row per user (never fact rows), the
    delta is O(changes), and the oracle recomputes the view FROM SCRATCH
    over the post-CDC row set — the IVM correctness theorem for the full
    upsert path. Decimal sums keep the money exact on both engines; the
    UPDATE's new value is computed in double (value*3, identical IEEE)
    before the exact decimal cast. At 100 TB: refresh cost is
    O(feed + groups) — the fixture synthesizes the feed from the events
    table for the bounded grade (predicates push to those scans), while
    a production run reads a landed feed table, the shape the streaming
    twin `stream_cdc_ivm_maintenance` executes for real (the signed
    expansion, base view and oracle are ONE definition:
    :func:`cdc_signed_feed` / :func:`cdc_ivm_base_dir` /
    ``CDC_IVM_ORACLE``)."""
    from ..streaming.ivm import signed_fold

    base_agg = spark.read.parquet(cdc_ivm_base_dir(spark, sf_dir))
    delta = (
        cdc_signed_feed(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.sum("dn").alias("dn"), F.sum("dv").alias("dv"))
    )
    return signed_fold(
        base_agg, delta, "user_id", "n_events", "total_dec"
    ).select(
        "user_id",
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
    )


@query(
    "src_binaryfile_scan",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < 50
    """,
)
def src_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 ``binaryFile`` source — the ingest entry point for MULTIMODAL
    corpora (media blobs land as opaque files; the engine reads them as
    ``binary`` content plus typed envelope metadata, exactly the brief's
    multimodal-column contract and the upstream of the WAV/BMP decode
    operators): a bounded fixture of 50 per-document files is scanned
    with an explicit ``pathGlobFilter`` (pushed to the file LISTING —
    non-matching files are never opened), the document key is recovered
    from the filename, and the graded row proves the BYTE-EXACT envelope
    — file size equals the text's utf-8 byte length and the content md5
    equals the oracle's md5 over the original table — i.e. nothing
    re-encoded, truncated, or reordered between the filesystem and the
    DataFrame. At 100 TB this scan parallelizes per file (each blob one
    task, no splitting mid-file) which is precisely what opaque media
    wants; the fixture is an artifact like every other source fixture."""
    from . import artifact

    def _build_binfiles(d: str) -> None:
        # bounded fixture: 50 rows by literal id filter — the collect
        # moves a fixed-size artifact, not SF-scaled data
        rows = (
            t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 50)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(d, f"doc_{r.doc_id}.txt"), "wb") as fh:
                fh.write(r.text.encode("utf-8"))

    path = artifact("crane_binfile", sf_dir, _build_binfiles)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(path)
    )
    return df.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@query(
    "src_rate_word_cycle",
    oracle="""
    SELECT (['alpha', 'beta', 'gamma', 'delta'])[CAST(event_id % 4 AS INT) + 1]
             AS word,
           COUNT(*) AS n,
           MIN(event_id) AS first_seq,
           MAX(event_id) AS last_seq
    FROM events
    GROUP BY 1
    """,
)
def src_rate_word_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S10 content path, graded batch-equivalently: the rate source's
    deterministic line synthesis (``streaming.sources.word_cycle`` — word
    = words[seq mod n], the declarative stand-in for the reference
    spout's per-tuple emission, reference server/Crane.go:63-99) applied
    over the events table's id sequence and aggregated per word. The
    socket/rate sources themselves are wall-clock-bound and can't run at
    the driver, but this pins the exact Column expression they emit
    through — a broken cycle (off-by-one, wrong modulus cast) shifts
    every count and min/max. Pure row-local projection + one hash
    aggregate on a 4-value key; no shuffle beyond the final group."""
    from ..streaming.sources import word_cycle

    ev = t(spark, sf_dir, "events")
    return (
        ev.select(
            F.col("event_id").alias("seq"),
            word_cycle(
                F.col("event_id"), ["alpha", "beta", "gamma", "delta"]
            ).alias("word"),
        )
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("seq").alias("first_seq"),
            F.max("seq").alias("last_seq"),
        )
    )


# sf_dirs whose bucketed tables exist in the live session's catalog: valid
# only for that session's lifetime, so not an artifact.
_BUCKETED_SFS: set[str] = set()


@query(
    "io_bucketed_colocated_join",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def io_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-bucketed co-located fact-fact join — THE shuffle-elimination
    strategy for repeated big joins at 100 TB: lineitem and orders are
    written once bucketed by order key (8 buckets here; thousands in
    production), after which every join on that key reads bucket i
    against bucket i with ZERO Exchange on either side (plan-asserted in
    tests/test_plan_quality.py: exactly one Exchange total — the final
    aggregate's). A MERGE hint pins sort-merge join because at test SF
    the orders side fits a broadcast, which would mask the bucket
    alignment this query grades; at production scale neither fact side
    broadcasts and the bucketed sort-merge plan is the only
    non-shuffling one. The fixture write happens once per (process,
    sf_dir); the graded path is the bucketed scan + join."""
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    lt, ot = f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"
    # The existence probe must consult the SESSION's catalog, not only the
    # process-level memo: saveAsTable registers in the per-session
    # in-memory catalog, so a fresh SparkSession in the same process
    # would otherwise skip creation and hit TABLE_OR_VIEW_NOT_FOUND.
    if sf_dir not in _BUCKETED_SFS or not (
        spark.catalog.tableExists(lt) and spark.catalog.tableExists(ot)
    ):
        # A fresh session's in-memory catalog doesn't know about managed
        # dirs a previous process left in the warehouse — clear both the
        # catalog entry and the leftover location before (re)writing.
        import shutil

        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for tbl in (lt, ot):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
        t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ).write.mode("overwrite").format("parquet").bucketBy(
            8, "l_orderkey"
        ).sortBy("l_orderkey").saveAsTable(lt)
        t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        ).write.mode("overwrite").format("parquet").bucketBy(
            8, "o_orderkey"
        ).sortBy("o_orderkey").saveAsTable(ot)
        _BUCKETED_SFS.add(sf_dir)

    from . import dsum

    joined = spark.table(lt).hint("merge").join(
        spark.table(ot), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6
        ).alias("revenue"),
    )


@query(
    "io_zorder_layout",
    oracle="""
    WITH filt AS (
      SELECT o_custkey & 65535 AS a, o_totalprice,
             DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               & 65535 AS b
      FROM orders
      WHERE o_custkey BETWEEN 100 AND 500
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
    ), s1 AS (
      SELECT o_totalprice,
             (a | (a << 8)) & 16711935 AS a, (b | (b << 8)) & 16711935 AS b
      FROM filt
    ), s2 AS (
      SELECT o_totalprice,
             (a | (a << 4)) & 252645135 AS a, (b | (b << 4)) & 252645135 AS b
      FROM s1
    ), s3 AS (
      SELECT o_totalprice,
             (a | (a << 2)) & 858993459 AS a, (b | (b << 2)) & 858993459 AS b
      FROM s2
    ), s4 AS (
      SELECT o_totalprice,
             (a | (a << 1)) & 1431655765 AS a, (b | (b << 1)) & 1431655765 AS b
      FROM s3
    )
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
             AS total_price,
           CAST(SUM(a | (b << 1)) AS BIGINT) AS z_sum
    FROM s4
    """,
)
def io_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered layout, graded end-to-end: orders are
    written once range-partitioned + sorted on the interleaved bits of
    (o_custkey, days(o_orderdate)) — operators/layout.py — then read
    back with a range box on BOTH raw dimensions. Because every file
    covers a small rectangle of the key space, parquet min/max stats
    prune files on either predicate (file-level clustering is asserted
    quantitatively in tests/test_layout.py); hive partitioning can only
    do this for one low-cardinality dim. The aggregate (count + exact
    decimal price sum + bigint sum of the Morton codes recomputed at
    read time) matches the oracle's shift/mask ladder on the original
    table, proving the layout write is lossless AND the bit math is
    engine-independent. At 100 TB: one range shuffle at write time buys
    two-dimensional file skipping on every scan thereafter."""
    from ..operators.layout import morton_interleave, write_zordered
    from . import artifact

    def _build_zorder(zdir: str) -> None:
        orders = t(spark, sf_dir, "orders").withColumn(
            "o_orderday",
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).cast("long"),
        )
        write_zordered(orders, zdir, "o_custkey", "o_orderday", num_files=8)

    zdir = artifact("crane_zorder", sf_dir, _build_zorder)

    df = spark.read.parquet(zdir).filter(
        (F.col("o_custkey").between(100, 500))
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice").alias("total_price"),
        F.sum(
            morton_interleave(F.col("o_custkey"), F.col("o_orderday"))
        ).alias("z_sum"),
    )


@query(
    "io_schema_evolution",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_evolved,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value,
           COUNT(CASE WHEN event_id % 2 = 1 THEN event_type END) AS n_etype
    FROM events
    """,
)
def io_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read, graded end-to-end: the fixture writes the
    events table as two generations of files — an old one without and a
    new one with an added ``etype`` column (the normal drift of a
    long-lived 100 TB ingest: producers add fields over time, history is
    never rewritten). The scan unifies them with ``mergeSchema`` (footer
    union at planning time, one-time cost per listing; old files surface
    the new column as NULL — no data rewrite, no backfill job), and the
    aggregate proves no rows/values are lost and the NULL accounting is
    exact against the oracle on the unsplit source."""
    from .. import catalog
    from . import artifact, dsum

    def _build_evolve(evdir: str) -> None:
        ev = catalog.load_table(spark, sf_dir, "events")
        old = ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "user_id", "value"
        )
        new = ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "user_id", "value", F.col("event_type").alias("etype")
        )
        old.write.mode("overwrite").parquet(os.path.join(evdir, "gen=0"))
        new.write.mode("overwrite").parquet(os.path.join(evdir, "gen=1"))

    evdir = artifact("crane_evolve", sf_dir, _build_evolve)

    # Hive-style discovery keeps `gen` as a partition column, so the
    # generation count is independent of the evolved column's NULLs —
    # counting non-NULL etype here would be vacuously equal to n_etype
    # and diverge from the oracle if a new-generation row ever carried a
    # NULL event_type.
    df = spark.read.option("mergeSchema", "true").parquet(evdir)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("gen") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_evolved"),
        dsum("value").alias("total_value"),
        F.count("etype").alias("n_etype"),
    )


@query(
    "io_compact_small_files",
    oracle="""
    SELECT CAST(64 AS INTEGER) AS n_files_before,
           CAST(4 AS INTEGER) AS n_files_after,
           COUNT(*) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM events
    """,
)
def io_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, graded end-to-end: events deliberately
    written as 64 tiny parquet files (the pathology every long-running
    100 TB ingest accumulates — per-file open/footer costs dominate scans
    and crush the driver's listing), then compacted by a repartition(4)
    rewrite. The graded row proves the whole cycle: the before/after file
    counts match the expected layout literals, and the row count +
    id-checksum computed FROM THE COMPACTED OUTPUT match the oracle's
    source-table values — compaction preserved every row. At 100 TB the
    same rewrite runs per partition-directory with target_size = HDFS
    block; file counting uses the FS listing exactly as here."""
    import glob as _glob
    import shutil

    from . import artifact

    def _build_compact(d: str) -> tuple[str, int, int]:
        ev = t(spark, sf_dir, "events").select("event_id")
        # every repartition(64) partition must be non-empty or the
        # oracle's 64/4 file-count literals hash-fail opaquely — fail
        # loudly here instead if the fixture ever shrinks below 64 rows.
        # coalesce(1) first: round-robin distributes each INPUT partition
        # from an independent start offset, so only a single >=64-row
        # input partition guarantees all 64 output slots are hit (raise,
        # not assert — python -O must not strip the guard).
        n_events = ev.count()
        if n_events < 64:
            raise ValueError(
                f"io_compact_small_files needs >=64 events, got {n_events}"
            )
        small = os.path.join(d, "small")
        ev.coalesce(1).repartition(64).write.mode("overwrite").parquet(small)
        n_before = len(_glob.glob(os.path.join(small, "part-*.parquet")))
        compact = os.path.join(d, "compact")
        spark.read.parquet(small).repartition(4).write.mode(
            "overwrite"
        ).parquet(compact)
        n_after = len(_glob.glob(os.path.join(compact, "part-*.parquet")))
        # the compact write has executed eagerly; the 64-file staging dir
        # is garbage now — only the compacted dir is re-read
        shutil.rmtree(small, ignore_errors=True)
        return (compact, n_before, n_after)

    compact, n_before, n_after = artifact("crane_compact", sf_dir, _build_compact)

    return (
        spark.read.parquet(compact)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
        .select(
            F.lit(n_before).cast("int").alias("n_files_before"),
            F.lit(n_after).cast("int").alias("n_files_after"),
            "n_rows",
            "id_checksum",
        )
    )
