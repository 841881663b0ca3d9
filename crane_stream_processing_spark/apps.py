"""Reference application pipelines as composable DataFrame transforms.

The reference ships three Crane applications plus a distributed grep; each
was a Go ``App`` object with a ``transform`` (worker) and ``join`` (sink)
method wired into a fixed spout→workers→sink topology
(reference ``server/Crane.go:179-188``, ``:219-232``). Here each app is a
pure DataFrame→DataFrame function, usable identically in batch and
Structured Streaming (pass a streaming DataFrame of lines); topology,
delivery, and partial aggregation are Catalyst/Tungsten's job.

Determinism note: the reference breaks count ties arbitrarily (Go map
iteration order, reference ``server/wordCount.go:107-111``); every top-k
here totally orders by (count desc, key asc) so results are reproducible
and oracle-checkable.

Tokenizing note: every app reads its fields with one literal regex per
line through ``regexp_extract_all``, so the pattern compiles once per task
and no field array is built only to read one element: wordCount explodes
``tokens`` (every ``\\S+``), and top-users and hot-resources explode the
one capture of an anchored line pattern (``_field``), which is ``[]`` for
a line of the wrong shape. Fields follow Go ``strings.Fields`` over Java's
``\\s`` (space, ``\\t``, ``\\n``, ``\\x0b``, ``\\f``, ``\\r``): leading and
trailing whitespace never yields an empty field. In each pattern ``\\S+``
and ``\\s+`` alternate, so a match runs in linear time.

Scale note: each pipeline is one shuffle (the groupBy); the top-k is a
TakeOrderedAndProject over partial per-partition top-ks — no single-node
"joiner" bottleneck like the reference's lone sink (SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import tokens

__all__ = [
    "wordcount",
    "top_users",
    "hot_resources",
    "grep",
    "grep_counts",
    "APP_REGISTRY",
]

TOP_K = 5  # reference flushes the top 5 (server/wordCount.go:101-124)

# Anchored whole-line patterns; group 1 is the one field the app keeps.
EDGE_FOLLOWEE = r"^\s*\S+\s+(\S+)\s*$"  # exactly 2 fields → field[1]
CLF_RESOURCE = r"^\s*(?:\S+\s+){6}(\S+)(?:\s+\S+){3,}\s*$"  # ≥10 → field[6]


def _topk_by_count(counted: DataFrame, key: str, k: int) -> DataFrame:
    # Total order: count desc, key asc — deterministic unlike the reference.
    return counted.orderBy(F.col("cnt").desc(), F.col(key).asc()).limit(k)


def _field(lines: DataFrame, col: str, pattern: str, name: str) -> DataFrame:
    # One row per line that matches: the anchored pattern matches at most
    # once, so regexp_extract_all yields [capture] or [] and explode drops
    # the misfits. One regex evaluation per line — a regexp_extract plus a
    # `!= ""` filter evaluates it twice, because the filter is pushed below
    # the projection with the alias inlined.
    return lines.select(
        F.explode(F.regexp_extract_all(F.col(col), F.lit(pattern), 1)).alias(name)
    )


def wordcount(lines: DataFrame, k: int = TOP_K, col: str = "value") -> DataFrame:
    """Word-count top-k.

    Reference semantics: worker splits each line on whitespace and emits
    (word, 1); sink accumulates counts; ticker writes the top 5
    (``server/wordCount.go:75-84`` transform, ``:45-74`` join, ``:99-124``
    flush). One Spark shuffle: explode(tokens) → groupBy.count.
    """
    words = lines.select(F.explode(tokens(F.col(col))).alias("word"))
    counted = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    return _topk_by_count(counted, "word", k)


def top_users(lines: DataFrame, k: int = TOP_K, col: str = "value") -> DataFrame:
    """Twitter most-followed top-k.

    Reference semantics: each line is ``follower followee``; worker keeps
    field[1] (the followee), sink counts per followee
    (``server/twitter.go:59-67`` transform, ``:33-58`` join). Lines without
    exactly 2 fields are dropped (``server/twitter.go:60-64``):
    ``EDGE_FOLLOWEE`` matches only a 2-field line, whitespace-padded or
    not, and captures its second field.
    """
    followees = _field(lines, col, EDGE_FOLLOWEE, "followee")
    counted = followees.groupBy("followee").agg(F.count(F.lit(1)).alias("cnt"))
    return _topk_by_count(counted, "followee", k)


def hot_resources(lines: DataFrame, k: int = TOP_K, col: str = "value") -> DataFrame:
    """HTTP hottest-resources top-k over Common-Log-format lines.

    Reference semantics: drop lines not containing "200", drop lines with
    <10 whitespace fields, keep field[6] (the resource), count per resource
    (``server/hothttp.go:59-73`` transform, ``:33-58`` join).
    ``CLF_RESOURCE`` skips six fields, captures the seventh and requires at
    least three more.
    """
    ok = lines.filter(F.col(col).contains("200"))
    resources = _field(ok, col, CLF_RESOURCE, "resource")
    counted = resources.groupBy("resource").agg(F.count(F.lit(1)).alias("cnt"))
    return _topk_by_count(counted, "resource", k)


def grep(spark: SparkSession, path: str, pattern: str) -> DataFrame:
    """Distributed grep: the MP1 scatter-gather as a distributed scan.

    Reference semantics: client fans a regex out to every VM's querier; each
    scans its local log, returning matching lines annotated with VM id and
    line number plus a match count (``server/querier.go:15-56``,
    ``client/client.go:38-92``). Here the "VMs" are files: provenance via
    input_file_name(), 1-based line numbers via a per-file window.

    Note the line-number window shuffles by file; when line numbers aren't
    needed use a bare ``filter(rlike)`` which is a pure scan.
    """
    from pyspark.sql import Window as W

    lines = spark.read.text(path).select(
        F.col("value"), F.input_file_name().alias("vm")
    )
    w = W.partitionBy("vm").orderBy(F.monotonically_increasing_id())
    numbered = lines.withColumn("line_no", F.row_number().over(w))
    return numbered.filter(F.col("value").rlike(pattern))


def grep_counts(matches: DataFrame) -> DataFrame:
    """Per-source match counts (reference ``server/querier.go:40-49``;
    client-side total ``client/client.go:87-89`` = sum of this)."""
    return matches.groupBy("vm").agg(F.count(F.lit(1)).alias("cnt"))


# Name → pipeline registry. Mirrors the reference's app-name dispatch
# (server/Crane.go:219-232) — which registers only "wordCount" and leaves
# twitter/hothttp unwired (a reference gap, SURVEY.md §2.9 ST9); we register
# all three.
APP_REGISTRY: dict[str, Callable[[DataFrame], DataFrame]] = {
    "wordCount": wordcount,
    "twitter": top_users,
    "hothttp": hot_resources,
}
