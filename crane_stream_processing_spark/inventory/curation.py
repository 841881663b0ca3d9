"""Corpus-curation inventory — the sampling / balancing / redaction /
retention steps of a training-data pipeline (north-star surface; the
reference has no curation ops, SURVEY.md §2).

All sampling is hash-deterministic (operators.sampling): the draw for a
row is substr(md5(id),1,8) compared lexicographically against a hex
threshold, so Spark and DuckDB reproduce the exact same sample row-for-row
and the oracle can assert full row equality, not just counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import tokens
from ..operators import sampling as SA
from ..session import clone_session
from . import query, t, t_cpu
from .northstar import SQL_TOKS

# Oracle twin of operators.sampling.hash_uniform_hex.
SQL_U = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"

# THE train/val/test split, defined once: 10 id-hash buckets, bucket 0 =
# test, 1 = val, rest train (80/10/10). curate_kfold_split reports it and
# curate_split_leakage_audit audits it — both must always describe the
# SAME split, so both build from these two definitions (Spark + SQL twin).
_SPLIT_BUCKETS = 10
SQL_SPLIT_ROLE = f"""CASE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                          AS INTEGER) % {_SPLIT_BUCKETS}
                     WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train' END"""


def _split_role() -> Column:
    """Spark twin of :data:`SQL_SPLIT_ROLE`."""
    bucket = SA.hash_bucket("doc_id", _SPLIT_BUCKETS)
    return (
        F.when(bucket == 0, "test").when(bucket == 1, "val").otherwise("train")
    )


@query(
    "sample_stratified_lang",
    oracle=f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {SQL_U} < CASE lang
        WHEN 'en' THEN '{SA.hex_threshold(0.5)}'
        WHEN 'es' THEN '{SA.hex_threshold(0.25)}'
        ELSE '{SA.hex_threshold(0.1)}' END
    """,
)
def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — rebalance a corpus by language
    (keep half the dominant 'en', a quarter of 'es', a tenth of the rest).
    Pure codegen filter: no shuffle, no RNG state, the same rows on any
    cluster layout — reproducible corpus construction. At 100 TB this is
    one scan; the id-hash draw means re-runs and incremental backfills
    select identical rows."""
    docs = t(spark, sf_dir, "documents")
    return SA.stratified_sample(
        docs, "lang", {"en": 0.5, "es": 0.25}, "doc_id", default_fraction=0.1
    ).select("doc_id", "lang", "source")


@query(
    "sample_uniform_k_docs",
    oracle=f"""
    SELECT doc_id, source FROM documents
    ORDER BY {SQL_U}, doc_id LIMIT 100
    """,
)
def sample_uniform_k_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-sample as deterministic hash-order top-k (reservoir-
    equivalent in distribution, but reproducible and engine-portable).
    Executes as TakeOrderedAndProject — per-partition k-heaps merged on
    the driver, never a global sort; 100 TB in, k rows out."""
    docs = t(spark, sf_dir, "documents")
    return SA.uniform_k(docs, 100, "doc_id").select("doc_id", "source")


@query(
    "sample_cap_per_source",
    oracle=f"""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY {SQL_U}, doc_id) AS rn
      FROM documents
    )
    WHERE rn <= 10
    GROUP BY source
    """,
)
def sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap (domain balancing): at most 10 docs per source,
    chosen by id-hash — no single domain may dominate the corpus. One
    hash-partitioned window; the aggregate proves which rows survived.
    Giant-domain skew is the normal case this exists for; a pathological
    single-source corpus would pre-salt (operators.skew)."""
    docs = t(spark, sf_dir, "documents")
    capped = SA.cap_per_group(docs, "source", 10, "doc_id")
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("kept_chars")
    )


@query(
    "text_vocab_stats",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest({SQL_TOKS}) AS tok FROM documents
    ), tc AS (
      SELECT lang, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS total_tokens,
           COUNT(*) AS vocab_size,
           COUNT(*) FILTER (c = 1) AS hapax_count,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS type_token_ratio
    FROM tc GROUP BY lang
    """,
)
def text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics per language: token volume, distinct
    vocabulary, hapax legomena (frequency-1 types), type/token ratio —
    the profile a tokenizer-training or quality-monitoring step reads.
    Two-level aggregation: explode → (lang, token) partial counts (map-
    side combine collapses repeats before the shuffle) → per-lang rollup.
    The single double division is the same IEEE op in both engines."""
    docs = t(spark, sf_dir, "documents")
    tc = (
        docs.select("lang", F.explode(tokens("text")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tc.groupBy("lang").agg(
        F.sum("c").alias("total_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.count(F.when(F.col("c") == 1, 1)).alias("hapax_count"),
        (F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")).alias(
            "type_token_ratio"
        ),
    )


@query(
    "text_redact_marker",
    oracle=r"""
    SELECT source,
           COUNT(*) FILTER (len(regexp_extract_all(text, '\bspark\b')) > 0) AS docs_hit,
           CAST(SUM(len(regexp_extract_all(text, '\bspark\b'))) AS BIGINT)
             AS n_redacted
    FROM documents
    GROUP BY source
    """,
)
def text_redact_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern redaction accounting — the PII-scrub shape (regex match →
    replace → audit counts), run on a word-boundary marker term since the
    synthetic corpus has no real PII. regexp_count is a codegen expression
    (one automaton pass per doc, no UDF); the redacted text itself is
    ``regexp_replace(text, pat, '[X]')`` on the same pass — the audit
    aggregate is what's asserted because it pins BOTH the match count and
    its grouping."""
    docs = t(spark, sf_dir, "documents")
    hits = F.regexp_count(F.col("text"), F.lit(r"\bspark\b"))
    return (
        docs.select("source", hits.alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.when(F.col("h") > 0, 1)).alias("docs_hit"),
            F.sum("h").alias("n_redacted"),
        )
    )


@query(
    "dedup_survivor_retention",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, n_chars, {SQL_TOKS} AS tk FROM documents
    ), fp AS (
      SELECT doc_id, source, n_chars,
             md5(array_to_string(list_sort(list_distinct(tk)), ' ')) AS f
      FROM toks
    ), surv AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
      FROM fp
    ), per_surv AS (
      SELECT source, COUNT(*) AS n_survivors,
             CAST(SUM(n_chars) AS BIGINT) AS retained_chars
      FROM surv WHERE rn = 1 GROUP BY source
    ), per_tot AS (
      SELECT source, COUNT(*) AS total_docs FROM documents GROUP BY source
    )
    SELECT t.source, total_docs, n_survivors, retained_chars
    FROM per_tot t JOIN per_surv s ON t.source = s.source
    """,
)
def dedup_survivor_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup RETENTION accounting: fingerprint each doc by its
    sorted-distinct token set (order-insensitive, so permuted near-copies
    collapse — collapses this corpus ~11%), keep the min-id survivor per
    fingerprint, and report per-source document/char retention — the
    shrinkage report every dedup run ships with. Fingerprint is one
    row-local projection (token array staged once — HOFs get no CSE);
    survivor choice is one window over the fingerprint; both aggregates
    are map-side-combinable counts."""
    from ..operators.text import _fingerprint_from

    docs = t(spark, sf_dir, "documents")
    # One canonical fingerprint definition (operators.text) — a local
    # re-spelling could drift from the expression the other fingerprint
    # oracles hash.
    fp = docs.select(
        "doc_id",
        "source",
        "n_chars",
        tokens("text").alias("tk"),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        _fingerprint_from(F.col("tk")).alias("f"),
    )
    w = Window.partitionBy("f").orderBy("doc_id")
    surv = (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("n_chars").alias("retained_chars"),
        )
    )
    tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("total_docs"))
    return tot.join(surv, "source").select(
        "source", "total_docs", "n_survivors", "retained_chars"
    )


@query(
    "sample_weighted_length",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, len({SQL_TOKS}) AS ntok FROM documents)
    SELECT doc_id, source, ntok FROM d
    WHERE {SQL_U} < CASE WHEN ntok / 100.0 >= 1.0 THEN 'g'
      ELSE lpad(lower(hex(CAST(floor(ntok / 100.0 * 4294967296.0) AS BIGINT))), 8, '0')
      END
    ORDER BY doc_id
    """,
)
def sample_weighted_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling with a per-row keep probability — here
    length-proportional (ntok/100), the shape used to build token-budget
    estimates or favor substantive documents. The weight→threshold mapping
    is floor(w·16^8)→hex, IEEE/integer-deterministic, so Spark and the
    oracle keep exactly the same rows. Pure filter: one scan, no shuffle,
    reproducible on any layout."""
    docs = t(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", F.size(tokens("text")).alias("ntok"))
    w = F.col("ntok") / F.lit(100.0)
    return SA.weighted_sample(d, w, "doc_id").orderBy("doc_id")


@query(
    "sample_temperature_lang",
    oracle=f"""
    WITH c AS (SELECT lang, COUNT(*) AS c_s FROM documents GROUP BY lang),
    m AS (SELECT MAX(c_s) AS c_max FROM c),
    f AS (
      SELECT lang,
             least(1.0, 0.2 * sqrt(c_max / c_s)) AS frac
      FROM c CROSS JOIN m
    )
    SELECT doc_id, lang FROM documents JOIN f USING (lang)
    WHERE {SQL_U} < CASE WHEN frac >= 1.0 THEN 'g'
      ELSE lpad(lower(hex(CAST(floor(frac * 4294967296.0) AS BIGINT))), 8, '0')
      END
    ORDER BY doc_id
    """,
)
def sample_temperature_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-style source mixing: per-language sampling fraction
    0.2·sqrt(c_max/c_s), capped at 1 — rare languages keep relatively more
    of their documents than the dominant one (the alpha=0.5 rebalancing of
    multilingual corpus construction). sqrt is IEEE-correctly-rounded (no
    libm drift), division is exact-input IEEE, so both engines compute the
    identical fraction and hence identical thresholds — cross-group double
    sums are deliberately avoided. One tiny aggregate broadcast back onto
    a scan-side filter."""
    docs = t(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c_s"))
    m = c.agg(F.max("c_s").alias("c_max"))
    f = c.crossJoin(F.broadcast(m)).select(
        "lang",
        F.least(F.lit(1.0), F.lit(0.2) * F.sqrt(F.col("c_max") / F.col("c_s"))).alias(
            "frac"
        ),
    )
    return (
        docs.join(F.broadcast(f), "lang")
        .filter(SA.hash_uniform_hex("doc_id") < SA.hex_threshold_col(F.col("frac")))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@query(
    "curate_shard_assignment",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len({SQL_TOKS}) AS ntok,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 16 AS shard
      FROM documents
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM d GROUP BY shard ORDER BY shard
    """,
)
def curate_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output sharding: assign every document to one of 16 shards by id-hash
    (the write-side layout step before a 100 TB corpus export — shard =
    the partitionBy/bucketBy key) and report per-shard balance (doc and
    token totals). Hash assignment is md5-deterministic, so shards are
    stable across engines, re-runs, and cluster layouts — an interrupted
    export resumes into identical shards. One scan + one 16-group
    aggregate; the balance stats are what an operator alarms on (a skewed
    shard means a hot writer)."""
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(tokens("text")).alias("ntok"),
        SA.hash_bucket("doc_id", 16).alias("shard"),
    )
    return (
        d.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


@query(
    "curate_quality_gate",
    oracle=f"""
    WITH s AS (
      SELECT lang, tk,
             len(tk) AS n_words,
             list_aggregate(list_transform(tk, x -> len(x)), 'sum') AS sum_len,
             len(list_filter(tk, x -> x IN ('a', 'the'))) AS n_stop,
             len(list_distinct(tk)) AS n_distinct
      FROM (SELECT lang, {SQL_TOKS} AS tk FROM documents)
      WHERE len(tk) > 0
    ), g AS (
      SELECT lang, n_words,
             CAST(sum_len AS DOUBLE) / n_words AS mwl,
             CAST(n_stop AS DOUBLE) / n_words AS sf,
             CAST(n_distinct AS DOUBLE) / n_words AS df
      FROM s
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (n_words BETWEEN 25 AND 80
                            AND mwl >= 3.0 AND mwl <= 7.0
                            AND sf <= 0.35 AND df >= 0.55) AS n_pass,
           COUNT(*) FILTER (n_words NOT BETWEEN 25 AND 80) AS fail_len,
           COUNT(*) FILTER (mwl < 3.0 OR mwl > 7.0) AS fail_wordlen,
           COUNT(*) FILTER (sf > 0.35) AS fail_stop,
           COUNT(*) FILTER (df < 0.55) AS fail_rep,
           CAST(SUM(n_words) FILTER (n_words BETWEEN 25 AND 80
                                     AND mwl >= 3.0 AND mwl <= 7.0
                                     AND sf <= 0.35 AND df >= 0.55)
                AS BIGINT) AS kept_tokens
    FROM g GROUP BY lang
    """,
)
def curate_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021 §A1.1 rule
    shapes, thresholds calibrated to the synthetic corpus): word-count
    bounds, mean-word-length band, stopword-fraction ceiling, and a
    distinct-token floor (repetition guard), with a per-rule failure audit
    per language — the report a corpus-filtering run ships. All four
    signals derive from ONE tokenization per row (let-bound: higher-order
    lambdas get no CSE, see DESIGN.md) and reduce in one map-side-
    combinable aggregate; at 100 TB this is a single scan with no
    shuffle beyond the #langs-row rollup."""
    from ..functions import let

    docs = t(spark, sf_dir, "documents")
    sig = let(
        tokens("text"),
        lambda tk: F.struct(
            F.size(tk).alias("n_words"),
            F.aggregate(
                tk, F.lit(0), lambda acc, x: acc + F.length(x)
            ).alias("sum_len"),
            F.size(F.filter(tk, lambda x: x.isin("a", "the"))).alias("n_stop"),
            F.size(F.array_distinct(tk)).alias("n_distinct"),
        ),
    )
    nw = F.col("s.n_words")
    mwl = F.col("s.sum_len").cast("double") / nw
    sf = F.col("s.n_stop").cast("double") / nw
    df_ = F.col("s.n_distinct").cast("double") / nw
    ok_len = nw.between(25, 80)
    ok_mwl = (mwl >= 3.0) & (mwl <= 7.0)
    ok_stop = sf <= 0.35
    ok_rep = df_ >= 0.55
    ok = ok_len & ok_mwl & ok_stop & ok_rep
    return (
        docs.select("lang", sig.alias("s"))
        .filter(nw > 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(ok).alias("n_pass"),
            F.count_if(~ok_len).alias("fail_len"),
            F.count_if(~ok_mwl).alias("fail_wordlen"),
            F.count_if(~ok_stop).alias("fail_stop"),
            F.count_if(~ok_rep).alias("fail_rep"),
            F.sum(F.when(ok, nw)).alias("kept_tokens"),
        )
    )


@query(
    "pipeline_curate_end2end",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, n_chars, text, {SQL_TOKS} AS tk FROM documents
    ),
    sig AS (
      SELECT doc_id, lang, n_chars, text,
             len(tk) AS nw,
             list_sum(list_transform(tk, t -> length(t))) AS sum_len,
             len(list_filter(tk, t -> t IN ('a','the'))) AS n_stop,
             len(list_distinct(tk)) AS n_distinct
      FROM toks WHERE len(tk) > 0
    ),
    gated AS (
      SELECT *,
             (nw BETWEEN 25 AND 80)
             AND (sum_len::DOUBLE / nw >= 3.0 AND sum_len::DOUBLE / nw <= 7.0)
             AND (n_stop::DOUBLE / nw <= 0.35)
             AND (n_distinct::DOUBLE / nw >= 0.55) AS ok
      FROM sig
    ),
    passed AS (
      SELECT doc_id, lang, n_chars, md5(text) AS h FROM gated WHERE ok
    ),
    winners AS (SELECT h, MIN(doc_id) AS doc_id FROM passed GROUP BY h),
    surv AS (
      SELECT p.lang, COUNT(*) AS n_unique,
             CAST(SUM(p.n_chars) AS BIGINT) AS kept_chars
      FROM passed p
      JOIN winners w ON p.h = w.h AND p.doc_id = w.doc_id
      GROUP BY p.lang
    ),
    gate AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      FROM gated GROUP BY lang
    )
    SELECT g.lang, g.n_docs, g.n_pass,
           CAST(COALESCE(s.n_unique, 0) AS BIGINT) AS n_unique,
           CAST(g.n_pass - COALESCE(s.n_unique, 0) AS BIGINT)
             AS n_dup_removed,
           CAST(COALESCE(s.kept_chars, 0) AS BIGINT) AS kept_chars
    FROM gate g LEFT JOIN surv s ON g.lang = s.lang
    """,
)
def pipeline_curate_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation PIPELINE as one graded query — the composition
    proof that the pieces a user would chain (quality gate → exact
    dedup → per-language yield report) actually compose in one lazy
    plan with no driver round-trips: documents flow through the SAME
    four Gopher-style rules as `curate_quality_gate` (one let-bound
    tokenization per row), passers are exact-deduped by content md5
    (min-doc_id winner, the `dedup_exact_documents` recipe — the
    shuffle moves 32-byte hashes, never bodies), and the survivors
    reduce to the per-language curation yield: docs seen, gate passes,
    unique survivors, duplicates removed, kept characters. Scale shape:
    one corpus scan + one map-side-combinable gate rollup + one md5
    hash-shuffle + a #langs-row join — exactly the plan a 100 TB
    curation run wants (no stage reads the corpus twice; the winner
    join carries only hash/id/lang/n_chars columns)."""
    from ..functions import let, md5_hex

    docs = t(spark, sf_dir, "documents")
    sig = let(
        tokens("text"),
        lambda tk: F.struct(
            F.size(tk).alias("n_words"),
            F.aggregate(
                tk, F.lit(0), lambda acc, x: acc + F.length(x)
            ).alias("sum_len"),
            F.size(F.filter(tk, lambda x: x.isin("a", "the"))).alias("n_stop"),
            F.size(F.array_distinct(tk)).alias("n_distinct"),
        ),
    )
    # The staged signals feed TWO consumers (the gate rollup and the
    # dedup branch) — an ordinary projection would let CollapseProject
    # re-inline the tokenization into both (the multi-consumer let trap,
    # DESIGN.md): F.inline is a Generate, the barrier CollapseProject
    # cannot cross, so the struct evaluates once per row and both
    # branches read real attributes.
    staged = docs.select(
        "doc_id", "lang", "n_chars", "text", F.inline(F.array(sig))
    ).filter(F.col("n_words") > 0)
    nw = F.col("n_words")
    mwl = F.col("sum_len").cast("double") / nw
    sf_ = F.col("n_stop").cast("double") / nw
    dfr = F.col("n_distinct").cast("double") / nw
    ok = (
        nw.between(25, 80)
        & (mwl >= 3.0) & (mwl <= 7.0)
        & (sf_ <= 0.35)
        & (dfr >= 0.55)
    )
    gate = staged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(ok).alias("n_pass"),
    )
    passed = staged.filter(ok).select(
        "doc_id", "lang", "n_chars", md5_hex("text").alias("h")
    )
    winners = passed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    surv = (
        passed.join(winners, ["h", "doc_id"])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_unique"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
    )
    return gate.join(surv, "lang", "left").select(
        "lang",
        "n_docs",
        "n_pass",
        F.coalesce(F.col("n_unique"), F.lit(0)).cast("long").alias("n_unique"),
        (F.col("n_pass") - F.coalesce(F.col("n_unique"), F.lit(0)))
        .cast("long")
        .alias("n_dup_removed"),
        F.coalesce(F.col("kept_chars"), F.lit(0))
        .cast("long")
        .alias("kept_chars"),
    )


@query(
    "curate_mixture_weights",
    oracle=f"""
    WITH lt AS (
      SELECT lang, CAST(SUM(len(tk)) AS BIGINT) AS lang_tokens
      FROM (SELECT lang, {SQL_TOKS} AS tk FROM documents) GROUP BY lang
    ), tot AS (
      SELECT SUM(lang_tokens) AS total_tokens,
             COUNT(*) FILTER (lang NOT IN ('en', 'es')) AS n_other
      FROM lt
    ), w AS (
      SELECT lang, lang_tokens, total_tokens,
             CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
                       WHEN 'es' THEN CAST(0.2 AS DOUBLE)
                       ELSE CAST(0.3 AS DOUBLE) / n_other END AS target_share
      FROM lt, tot
    )
    SELECT lang, lang_tokens,
           CAST(lang_tokens AS DOUBLE) / total_tokens AS corpus_share,
           target_share,
           LEAST(CAST(3.0 AS DOUBLE),
                 target_share * total_tokens / lang_tokens) AS sample_weight,
           LEAST(CAST(3.0 AS DOUBLE),
                 target_share * total_tokens / lang_tokens) * lang_tokens
             AS expected_tokens
    FROM w
    """,
)
def curate_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: given a target language mixture (en 50%,
    es 20%, remainder split evenly), derive the per-language sampling
    weight (oversampling capped at 3 epochs — the standard repeat-budget
    guard) and the expected token yield. This is the planning step before
    a weighted corpus draw (sample_temperature_lang is the executing
    step). One scan → #langs-row aggregate; the totals join is a
    broadcast of a single row, so the plan stays one shuffle however big
    the corpus."""
    docs = t(spark, sf_dir, "documents")
    lt = (
        docs.select("lang", F.size(tokens("text")).alias("ntok"))
        .groupBy("lang")
        .agg(F.sum("ntok").alias("lang_tokens"))
    )
    tot = lt.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.count_if(~F.col("lang").isin("en", "es")).alias("n_other"),
    )
    w = lt.crossJoin(F.broadcast(tot)).select(
        "lang",
        "lang_tokens",
        "total_tokens",
        F.when(F.col("lang") == "en", F.lit(0.5).cast("double"))
        .when(F.col("lang") == "es", F.lit(0.2).cast("double"))
        .otherwise(F.lit(0.3).cast("double") / F.col("n_other"))
        .alias("target_share"),
    )
    weight = F.least(
        F.lit(3.0).cast("double"),
        F.col("target_share") * F.col("total_tokens") / F.col("lang_tokens"),
    )
    return w.select(
        "lang",
        "lang_tokens",
        (F.col("lang_tokens").cast("double") / F.col("total_tokens")).alias(
            "corpus_share"
        ),
        "target_share",
        weight.alias("sample_weight"),
        (weight * F.col("lang_tokens")).alias("expected_tokens"),
    )


@query(
    "curate_dq_audit",
    oracle="""
    SELECT 'n_rows' AS metric,
           (SELECT COUNT(*) FROM orders) AS value
    UNION ALL SELECT 'n_null_custkey',
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
    UNION ALL SELECT 'n_unexpected_status',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('F', 'O'))
    UNION ALL SELECT 'n_nonpositive_price',
           (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
    UNION ALL SELECT 'n_out_of_range_dates',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderdate < TIMESTAMP '1990-01-01'
               OR o_orderdate >= TIMESTAMP '2000-01-01')
    UNION ALL SELECT 'n_fk_orphans',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey
                                AND c.c_acctbal > 0))
    """,
)
def curate_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (Deequ-shape): completeness, domain,
    range, and referential-integrity checks over the orders table as ONE
    report of (metric, violation_count) rows. Every row-level check is a
    conditional count in a SINGLE aggregate pass (one scan however many
    checks — checks are columns, not queries); the FK-orphan check is a
    broadcast-able left-anti join against the (filtered) customer key
    set, the only check that inherently needs a second table. Thresholds
    are set so the report mixes genuinely-zero checks with firing ones
    ('P' statuses, post-2000 dates, zero-balance customers) — an
    all-zero report can't distinguish clean data from broken checks. At
    100 TB the audit costs one fact scan + one key-side anti join, and
    runs as a gate before a corpus ships — the batch twin of the
    malformed-record guards (P5, reference server/wordCount.go:46-49:
    log-and-drop with no ledger; the audit IS the ledger)."""
    orders = t(spark, sf_dir, "orders")
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    one_pass = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        cnt(F.col("o_custkey").isNull()).alias("n_null_custkey"),
        cnt(~F.col("o_orderstatus").isin("F", "O")).alias(
            "n_unexpected_status"
        ),
        cnt(F.col("o_totalprice") <= 0).alias("n_nonpositive_price"),
        cnt(
            (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
            | (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        ).alias("n_out_of_range_dates"),
    )
    valid_cust = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    orphans = (
        orders.join(
            valid_cust, orders["o_custkey"] == F.col("c_custkey"), "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("value"))
        .select(F.lit("n_fk_orphans").alias("metric"), "value")
    )
    report = one_pass.selectExpr(
        "stack(5, 'n_rows', n_rows, 'n_null_custkey', n_null_custkey, "
        "'n_unexpected_status', n_unexpected_status, 'n_nonpositive_price', "
        "n_nonpositive_price, 'n_out_of_range_dates', n_out_of_range_dates) "
        "AS (metric, value)"
    )
    return report.unionByName(orphans)


@query(
    "curate_kfold_split",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, len({SQL_TOKS}) AS ntok,
             {SQL_SPLIT_ROLE} AS role
      FROM documents
    )
    SELECT role,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT lang) AS n_langs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM d GROUP BY 1 ORDER BY 1
    """,
)
def curate_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10 by id-hash bucket):
    every document lands in exactly one role purely as a function of its
    id — stable across engines, re-runs, partitionings, and incremental
    corpus growth (new docs join a split without reshuffling old ones),
    which is the property that keeps eval sets uncontaminated across
    pipeline re-runs. One scan + one 3-group aggregate reporting the
    balance/coverage stats a training job validates before reading. The
    filter form (``bucket = k``) pushes to the scan when materializing a
    single split."""
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.size(tokens("text")).alias("ntok"),
        _split_role().alias("role"),
    )
    return (
        d.groupBy("role")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("role")
    )


@query(
    "curate_split_leakage_audit",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct({SQL_TOKS})), ' '))
               AS f,
             {SQL_SPLIT_ROLE} AS role
      FROM documents
    ), per_fp AS (
      SELECT f,
             COUNT(DISTINCT role) AS n_roles,
             COUNT(*) AS n_docs
      FROM d GROUP BY f
    )
    SELECT COUNT(*) AS n_fingerprints,
           COUNT(*) FILTER (n_roles > 1) AS n_leaky_fingerprints,
           CAST(COALESCE(SUM(n_docs) FILTER (n_roles > 1), 0) AS BIGINT)
             AS n_docs_in_leaky_groups
    FROM per_fp
    """,
)
def curate_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: a content fingerprint (order-insensitive
    token-set hash, the dedup key) that appears in more than one of the
    train/val/test splits means near-identical text straddles the held-out
    boundary — the contamination that silently inflates eval numbers. The
    audit joins the split assignment (id-hash bucket, curate_kfold_split)
    with the dedup fingerprint and counts straddling fingerprint groups —
    the pre-training check that decides whether dedup must run BEFORE
    splitting. One scan, one fingerprint aggregate; output is a 1-row
    report. (The id-hash split guarantees nothing about content: identical
    text under different ids lands in different splits ~uniformly, which
    is exactly what this catches.)"""
    docs = t(spark, sf_dir, "documents")
    from ..operators.text import fingerprint

    d = docs.select(
        fingerprint("text").alias("f"),
        _split_role().alias("role"),
    )
    per_fp = d.groupBy("f").agg(
        F.countDistinct("role").alias("n_roles"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    leaky = F.col("n_roles") > 1
    return per_fp.agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.count(F.when(leaky, 1)).alias("n_leaky_fingerprints"),
        F.coalesce(F.sum(F.when(leaky, F.col("n_docs"))), F.lit(0))
        .cast("long")
        .alias("n_docs_in_leaky_groups"),
    )


@query(
    "curate_label_coherence",
    oracle="""
    WITH vals AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label,
             unnest(range(1, len(embedding) + 1)) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
      WHERE label IS NOT NULL
    ),
    scales AS (SELECT dim, MAX(abs(val)) AS maxabs FROM vals GROUP BY dim),
    q AS (
      SELECT vec_id, label, dim,
             CAST(floor(val / maxabs * 127.0) AS BIGINT) AS q8
      FROM vals JOIN scales USING (dim) WHERE maxabs > 0
    ),
    ctr AS (SELECT label, dim, CAST(SUM(q8) AS BIGINT) AS c
            FROM q GROUP BY label, dim),
    nc AS (SELECT label, sqrt(CAST(SUM(c * c) AS DOUBLE)) AS cnorm
           FROM ctr GROUP BY label),
    vec AS (
      SELECT q.vec_id, q.label,
             CAST(SUM(q.q8 * ctr.c) AS DOUBLE) AS dot,
             sqrt(CAST(SUM(q.q8 * q.q8) AS DOUBLE)) AS vnorm
      FROM q JOIN ctr ON q.label = ctr.label AND q.dim = ctr.dim
      GROUP BY 1, 2
    ),
    cosv AS (
      SELECT vec.vec_id, vec.label, dot / (vnorm * nc.cnorm) AS cosc
      FROM vec JOIN nc USING (label)
      WHERE vnorm > 0 AND cnorm > 0
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           round(AVG(cosc), 6) AS mean_coherence,
           round(MIN(cosc), 6) AS min_coherence,
           CAST(COUNT(*) FILTER (cosc < 0) AS BIGINT) AS n_opposed
    FROM cosv GROUP BY label
    """,
)
def curate_label_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label-coherence audit — the mislabel / outlier
    detector a training-data pipeline runs before trusting class labels:
    per label, the cosine of every member to its label centroid, reduced
    to mean / min / opposed-count. Arithmetic is exact end-to-end: the
    per-dimension int8 quantization (same floor formula
    ``sim_quantize_int8`` proves IEEE-identical cross-engine) makes the
    centroid an exact BIGINT sum vector, dots and squared norms exact
    BIGINTs, and each per-vector cosine ONE double expression
    (dot / (sqrt * sqrt)) — bit-identical in any engine, no rounding
    ladder needed until the final per-label mean (round 6). Self-
    inclusion in the centroid is deliberate (bias 1/n, vanishing at
    scale). Plan shape: posexplode → two hash aggregates + one 64-row
    broadcast (scales) + one (labels x dims)-row broadcast-sized join
    (centroids) — every shuffle keyed on (label, dim) or vec_id, nothing
    quadratic; at 100 TB the centroid table is still labels x dims rows.

    Persist layer (round-5 fix of the r3→r4 regression): the EXPLODED
    int8 relation is ~8× LARGER than the packed source arrays (one
    ~32-byte row per vector component vs 4 bytes in the parquet array),
    so materializing it — the round-4 shape — pays more in cache write
    than the saved re-scan at every scale. What gets persisted instead
    are the relations BOUNDED BY SCHEMA, not by corpus: ``scales`` (dims
    rows) and ``ctr`` (labels×dims rows) — a few KB each — while the
    scan+explode recomputes (columnar parquet scans are the cheap part).
    Measured at sf0.1 (interleaved A/B, 9 runs each): this shape 0.90 s
    median vs 1.00 s for the exploded-persist form; a fully-unpersisted
    variant ties at 0.86 s locally but re-aggregates the corpus-wide
    ``scales``/``ctr`` reductions per consumer — the part that stops
    being free at 100 TB. On the full-suite path the query reads
    ~1.2 s steadily across rounds (suite runs carry session/cache churn
    the isolated A/B doesn't), so the persist reshape is justified by
    the SHAPE argument — persisted bytes bounded by schema, not corpus
    — rather than by local wall-clock (round-5 verdict note)."""
    emb = t(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    vals = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("pos", "valf"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.col("valf").cast("double").alias("val"),
    )
    from pyspark import StorageLevel

    from . import register_query_cache

    # Registered for post-query release: both cached relations are reused
    # by downstream aggregates of THIS query only — harnesses unpersist
    # them via release_query_caches once the result is collected.
    scales = register_query_cache(
        vals.groupBy("dim")
        .agg(F.max(F.abs(F.col("val"))).alias("maxabs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    q = (
        vals.join(F.broadcast(scales), "dim")
        .filter(F.col("maxabs") > 0)
        .select(
            "vec_id",
            "label",
            "dim",
            F.floor(F.col("val") / F.col("maxabs") * F.lit(127.0))
            .cast("long")
            .alias("q8"),
        )
    )
    ctr = register_query_cache(
        q.groupBy("label", "dim")
        .agg(F.sum("q8").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nc = ctr.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")).alias("cnorm")
    )
    vec = (
        q.join(F.broadcast(ctr), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("q8") * F.col("c")).cast("double").alias("dot"),
            F.sqrt(F.sum(F.col("q8") * F.col("q8")).cast("double")).alias("vnorm"),
        )
    )
    cosv = (
        vec.join(F.broadcast(nc), "label")
        .filter((F.col("vnorm") > 0) & (F.col("cnorm") > 0))
        .select(
            "vec_id",
            "label",
            (F.col("dot") / (F.col("vnorm") * F.col("cnorm"))).alias("cosc"),
        )
    )
    return cosv.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("cosc"), 6).alias("mean_coherence"),
        F.round(F.min("cosc"), 6).alias("min_coherence"),
        F.count_if(F.col("cosc") < 0).alias("n_opposed"),
    )


# ---------------------------------------------------------------------------
# Privacy: k-anonymity audit
# ---------------------------------------------------------------------------


@query(
    "curate_k_anonymity",
    oracle="""
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS k
      FROM documents GROUP BY lang, source
    )
    SELECT CAST(5 AS BIGINT) AS k_threshold,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COALESCE(SUM(CASE WHEN k < 5 THEN 1 END), 0) AS BIGINT)
             AS cells_below_k,
           CAST(COALESCE(SUM(CASE WHEN k < 5 THEN k END), 0) AS BIGINT)
             AS rows_at_risk,
           CAST(MIN(k) AS BIGINT) AS min_k
    FROM cells
    """,
)
def curate_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (lang, source):
    a released corpus is k-anonymous when every quasi-identifier cell
    holds >= k rows — smaller cells re-identify their members, so the
    privacy gate counts sub-threshold cells and the rows exposed in them
    (the set a release pipeline must suppress or generalize). One
    groupBy on the quasi-identifier plus a scalar fold over the
    cell-count relation — the cell table is bounded by identifier
    cardinality, not corpus size, so the audit costs one scan at any
    SF. Sweeping k means re-folding the same cell table, not
    re-scanning."""
    docs = t(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("k"))
    below = F.when(F.col("k") < 5, 1)
    at_risk = F.when(F.col("k") < 5, F.col("k"))
    return cells.agg(
        F.lit(5).cast("long").alias("k_threshold"),
        F.count(F.lit(1)).alias("n_cells"),
        F.coalesce(F.sum(below), F.lit(0)).cast("long").alias("cells_below_k"),
        F.coalesce(F.sum(at_risk), F.lit(0)).cast("long").alias("rows_at_risk"),
        F.min("k").alias("min_k"),
    )


# ---------------------------------------------------------------------------
# RAG-style overlapping chunking
# ---------------------------------------------------------------------------


@query(
    "curate_chunk_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKS} AS tk FROM documents
    ), sized AS (
      SELECT doc_id, len(tk) AS n,
             CASE WHEN len(tk) = 0 THEN 0
                  WHEN len(tk) <= 32 THEN 1
                  ELSE 1 + CAST(ceil((len(tk) - 32) / 24.0) AS BIGINT)
             END AS n_chunks
      FROM toks
    ), chunks AS (
      SELECT doc_id, n, n_chunks, unnest(range(0, n_chunks)) AS c
      FROM sized WHERE n_chunks > 0
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, n_chunks,
           CAST(c AS BIGINT) AS chunk_idx,
           CAST(c * 24 + 1 AS BIGINT) AS tok_start,
           CAST(least(c * 24 + 32, n) AS BIGINT) AS tok_end
    FROM chunks
    """,
)
def curate_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunking (RAG / long-context ingestion): split
    each document into token windows of size 32 with stride 24 (8-token
    overlap so no boundary sentence is lost), 1 row in → n_chunks rows
    out with [tok_start, tok_end] spans (1-based, end-inclusive,
    last chunk clipped). n_chunks = 1 + ceil((n-32)/24) — every token is
    covered and the final window always reaches token n. Pure array
    arithmetic + one posexplode of a SIZE-BOUNDED index sequence (no
    per-token explode): the expansion factor is n/stride ≈ 1.33 rows,
    not n rows, so the operator is scan-shaped at 100 TB. Companion to
    curate_pack_sequences (which concatenates; this one splits)."""
    docs = t(spark, sf_dir, "documents")

    # One tokenization per row, enforced structurally: the let-bound body
    # derives (n_tokens, n_chunks, chunk-index sequence) from the single
    # bound token count, and explode(array(struct)) materializes that
    # struct through a Generate node — downstream projections reference
    # the generated attribute, so CollapseProject has nothing to
    # re-inline (the plan-quality sweep pins one split() per node).
    def body(n: Column) -> Column:
        nc = (
            F.when(n == 0, F.lit(0))
            .when(n <= 32, F.lit(1))
            .otherwise(1 + F.ceil((n - F.lit(32)) / 24.0))
            .cast("long")
        )
        idx = F.when(
            nc > 0, F.sequence(F.lit(0).cast("long"), nc - 1)
        ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
        return F.struct(
            n.cast("long").alias("n_tokens"),
            nc.alias("n_chunks"),
            idx.alias("idx"),
        )

    from ..functions import let

    staged = docs.select(
        "doc_id",
        F.explode(F.array(let(F.size(tokens("text")), body))).alias("s"),
    )
    exploded = staged.select(
        "doc_id",
        F.col("s.n_tokens").alias("n_tokens"),
        F.col("s.n_chunks").alias("n_chunks"),
        F.explode("s.idx").alias("chunk_idx"),
    )
    return exploded.select(
        "doc_id",
        "n_tokens",
        "n_chunks",
        "chunk_idx",
        (F.col("chunk_idx") * 24 + 1).alias("tok_start"),
        F.least(F.col("chunk_idx") * 24 + 32, F.col("n_tokens")).alias("tok_end"),
    )


# ---------------------------------------------------------------------------
# Distributed contiguous id assignment (the two-pass offset recipe)
# ---------------------------------------------------------------------------


@query(
    "curate_assign_row_ids",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_id
    FROM documents
    """,
)
def curate_assign_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 0-based training-example ids by global doc_id order —
    WITHOUT the global sort a naive ROW_NUMBER() OVER (ORDER BY ...)
    window would force onto one task. The two-pass recipe every
    at-scale pipeline uses: (1) range-repartition by the order key, sort
    within partitions, rank locally; (2) count each partition (a
    partition-count-sized aggregate), prefix-sum those counts, and add
    each partition's offset to its local ranks via a broadcast join on
    spark_partition_id. The answer is IDENTICAL for any range-boundary
    choice (offsets absorb whatever the sampler picked — range
    partitioning only needs to keep key ranges disjoint and ordered), so
    the row-level oracle holds even though the physical split is
    sampled. Plan (verified): the emit path is one range shuffle + local
    sort + one Arrow pass; the count pass re-shuffles only the bare
    doc_id column (the standard two-pass zipWithIndex cost — cheaper
    than caching the corpus); nothing is global but the
    partition-count vector (SinglePartition over <= #partitions rows)."""
    from pyspark.sql import types as TY

    docs = t(spark, sf_dir, "documents")
    parts = docs.select("doc_id").repartitionByRange(
        int(spark.conf.get("spark.sql.shuffle.partitions")), F.col("doc_id")
    ).sortWithinPartitions("doc_id")

    # Per-partition local ranks via one Arrow pass with a running counter
    # — NOT a window over spark_partition_id(), which would re-shuffle
    # the whole corpus a second time to cluster by pid (rows are already
    # exactly there); this keeps the range exchange as the only full-data
    # shuffle. mapInPandas has no partition-id argument, so the pid rides
    # along as a codegen column (no shuffle — rows keep their partition).
    staged = parts.select("doc_id", F.spark_partition_id().alias("pid"))

    def _rank_batches(batches):
        import pandas as pd

        seen = 0
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "pid": pdf["pid"],
                    "local_rank": range(seen, seen + len(pdf)),
                }
            )
            seen += len(pdf)
            yield out

    schema = TY.StructType(
        [
            TY.StructField("doc_id", TY.LongType()),
            TY.StructField("pid", TY.IntegerType()),
            TY.StructField("local_rank", TY.LongType()),
        ]
    )
    local = staged.mapInPandas(_rank_batches, schema=schema)
    counts = local.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = counts.select(
        "pid",
        (F.sum("cnt").over(
            Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
        )).alias("off"),
    ).fillna(0, subset=["off"])
    return (
        local.join(F.broadcast(offsets), "pid")
        .select("doc_id", (F.col("off") + F.col("local_rank")).alias("row_id"))
    )


@query(
    "sample_weighted_es_topk",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             (CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
                                                CHR(0))), 1, 8)) AS BIGINT)
              + 1) / 4294967296.0 AS u
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, es_key FROM (
      SELECT doc_id, lang, n_chars,
             round(-ln(u) * 1000.0 / n_chars, 6) AS es_key,
             ROW_NUMBER() OVER (
               ORDER BY round(-ln(u) * 1000.0 / n_chars, 6), doc_id) AS rk
      FROM d
    ) WHERE rk <= 50
    """,
)
def sample_weighted_es_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted 50-doc sample WITHOUT replacement
    (Efraimidis–Spirakis A-Res keys over the deterministic id-hash
    uniform — operators/sampling.py weighted_topk_es): the draw every
    'sample k documents proportional to length' request actually wants,
    where the Bernoulli sampler (sample_weighted_length) can only
    approximate k in expectation and can never exclude re-selection.
    Keys are rounded before ranking (ln last-ulp discipline) and the
    id tiebreak makes the k-cut engine-exact, so the oracle reproduces
    the sample row-for-row. Plan: TakeOrderedAndProject (per-partition
    heaps, k rows to the driver) — no global sort at any scale."""
    docs = t(spark, sf_dir, "documents")
    return SA.weighted_topk_es(docs, 50, "n_chars", "doc_id").select(
        "doc_id", "lang", "n_chars", "es_key"
    )


@query(
    "curate_dsir_importance",
    oracle=f"""
    WITH bg AS (
      SELECT doc_id, lang, substr(md5(b), 1, 2) AS bkt
      FROM (
        SELECT doc_id, lang,
               unnest([tk[i] || ' ' || tk[i+1]
                       FOR i IN range(1, greatest(len(tk), 1))]) AS b
        FROM (SELECT doc_id, lang, {SQL_TOKS} AS tk FROM documents)
      )
    ),
    pc AS (
      SELECT doc_id, lang, bkt, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3
    ),
    tbl AS (
      SELECT bkt, SUM(c) AS r_cnt,
             COALESCE(SUM(c) FILTER (lang = 'en'), 0) AS t_cnt
      FROM pc GROUP BY bkt
    ),
    tot AS (SELECT SUM(r_cnt) AS rt, SUM(t_cnt) AS tt FROM tbl),
    llr AS (
      SELECT bkt, ln((t_cnt + 1.0) / (tt + 256.0))
                  - ln((r_cnt + 1.0) / (rt + 256.0)) AS w
      FROM tbl CROSS JOIN tot
    ),
    wt AS (
      SELECT pc.doc_id, CAST(SUM(pc.c) AS BIGINT) AS n_bigrams,
             ROUND(SUM(pc.c * llr.w), 6) AS dsir_logweight
      FROM pc JOIN llr USING (bkt) GROUP BY pc.doc_id
    )
    SELECT d.doc_id, COALESCE(wt.n_bigrams, 0) AS n_bigrams,
           COALESCE(wt.dsir_logweight, 0.0) AS dsir_logweight
    FROM documents d LEFT JOIN wt USING (doc_id)
    """,
)
def curate_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection importance weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score every
    raw document by the log-likelihood ratio of a TARGET hashed-n-gram
    distribution (here the 'en' slice — the in-domain exemplar) against
    the RAW corpus distribution, over a fixed 256-bucket hashed bigram
    vocabulary (bucket = first 2 hex chars of md5(bigram) — a hash both
    engines share bit-for-bit). Add-1 smoothed:
    w(doc) = sum_b c_b(doc) * [ln((t_b+1)/(T+256)) - ln((r_b+1)/(R+256))].
    Downstream, `exp(weight)`-proportional Gumbel/ES resampling (the
    machinery of sample_weighted_es_topk) IS importance resampling.
    Scale shape: one tokenization, per-doc bucket counts are ONE
    map-side-combinable groupBy; the model is a 256-row LLR relation
    (broadcast), never a vocabulary-sized shuffle — at 100 TB the hashed
    projection is exactly why DSIR works where exact n-gram LMs don't.
    The 1-row corpus-totals crossJoin is the standard bounded scalar
    broadcast (cf. curate_mixture_weights)."""
    docs = t_cpu(spark, sf_dir, "documents")
    from ..operators.text import dsir_logweights

    return dsir_logweights(
        docs, "doc_id", "text", F.col("lang") == "en", n_buckets_hex_chars=2
    )


@query(
    "curate_dsir_resample",
    oracle=f"""
    WITH bg AS (
      SELECT doc_id, lang, substr(md5(b), 1, 2) AS bkt
      FROM (
        SELECT doc_id, lang,
               unnest([tk[i] || ' ' || tk[i+1]
                       FOR i IN range(1, greatest(len(tk), 1))]) AS b
        FROM (SELECT doc_id, lang, {SQL_TOKS} AS tk FROM documents)
      )
    ),
    pc AS (
      SELECT doc_id, lang, bkt, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3
    ),
    tbl AS (
      SELECT bkt, SUM(c) AS r_cnt,
             COALESCE(SUM(c) FILTER (lang = 'en'), 0) AS t_cnt
      FROM pc GROUP BY bkt
    ),
    tot AS (SELECT SUM(r_cnt) AS rt, SUM(t_cnt) AS tt FROM tbl),
    llr AS (
      SELECT bkt, ln((t_cnt + 1.0) / (tt + 256.0))
                  - ln((r_cnt + 1.0) / (rt + 256.0)) AS w
      FROM tbl CROSS JOIN tot
    ),
    wt AS (
      SELECT pc.doc_id, ROUND(SUM(pc.c * llr.w), 6) AS lw
      FROM pc JOIN llr USING (bkt) GROUP BY pc.doc_id
    ),
    scored AS (
      SELECT d.doc_id, d.lang, COALESCE(wt.lw, 0.0) AS dsir_logweight,
             (CAST(('0x' || substr(md5(COALESCE(CAST(d.doc_id AS VARCHAR),
                                                CHR(0))), 1, 8)) AS BIGINT)
              + 1) / 4294967296.0 AS u
      FROM documents d LEFT JOIN wt USING (doc_id)
    )
    SELECT doc_id, lang, dsir_logweight, es_key FROM (
      SELECT doc_id, lang, dsir_logweight,
             round(-ln(u) * 1000.0 / exp(dsir_logweight), 6) AS es_key,
             ROW_NUMBER() OVER (
               ORDER BY round(-ln(u) * 1000.0 / exp(dsir_logweight), 6),
                        doc_id) AS rk
      FROM scored
    ) WHERE rk <= 50
    """,
)
def curate_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING — the selection step that completes
    the Xie et al. 2023 recipe (curate_dsir_importance computes the
    weights; this query actually draws the corpus subset): sample 50
    documents WITHOUT replacement proportionally to exp(logweight) via
    the Efraimidis–Spirakis A-Res keys over the deterministic id-hash
    uniform (operators/sampling.py weighted_topk_es — the same
    machinery as sample_weighted_es_topk, fed by the learned importance
    weight instead of a stored column). exp(lw) > 0 always, so no row
    is excluded; target-like documents win proportionally more often,
    each at most once — importance resampling, not reweighting. Plan:
    the weight pass is the DSIR map + 256-row broadcast model, then
    TakeOrderedAndProject (per-partition k-heaps) — 100 TB in, 50 rows
    out, no global sort. Keys are rounded before ranking with id
    tiebreak, so the drawn subset is engine-exact and the oracle
    reproduces it row-for-row."""
    from ..operators.text import dsir_logweights

    docs = t_cpu(spark, sf_dir, "documents")
    wt = dsir_logweights(docs, "doc_id", "text", F.col("lang") == "en")
    wdf = (
        docs.select("doc_id", "lang")
        .join(wt.select("doc_id", "dsir_logweight"), "doc_id")
        .withColumn("w", F.exp("dsir_logweight"))
    )
    return SA.weighted_topk_es(wdf, 50, "w", "doc_id").select(
        "doc_id", "lang", "dsir_logweight", "es_key"
    )


# Shared by curate_pii_redact and its streaming twin (stream_pii_redact):
# the stream must answer identically to the batch pass.
ORACLE_PII_REDACT = """
    WITH staged AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com'
                  || CASE WHEN doc_id % 2 = 0
                          THEN ' tel 555-' || CAST(1000 + doc_id % 9000
                                                   AS VARCHAR)
                          ELSE '' END AS s
      FROM documents
    ),
    red AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(
               s, '[a-z0-9]+@[a-z]+\\.[a-z]+')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(s, '\\d{3}-\\d{4}')) AS BIGINT)
               AS n_phones,
             regexp_replace(
               regexp_replace(s, '[a-z0-9]+@[a-z]+\\.[a-z]+',
                              '[EMAIL]', 'g'),
               '\\d{3}-\\d{4}', '[PHONE]', 'g') AS r
      FROM staged
    )
    SELECT doc_id, n_emails, n_phones, md5(r) AS redacted_md5,
           len(regexp_extract_all(r, '[a-z0-9]+@[a-z]+\\.[a-z]+')) = 0
           AND len(regexp_extract_all(r, '\\d{3}-\\d{4}')) = 0
             AS fully_redacted
    FROM red
    """


@query("curate_pii_redact", oracle=ORACLE_PII_REDACT)
def curate_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION — the scrubbing pass every shareable training corpus
    runs before export (emails/phones masked, not dropped, so document
    structure survives for the model): deterministic PII is first
    INJECTED per document (an email always, a phone on even ids — the
    synthesize_bmp convention: the fixture corpus has no real PII, so
    the query manufactures a known ground truth), then the redactor
    masks both pattern classes with JVM-side regexp_replace and counts
    matches with regexp_count. Graded end-to-end: per-doc match counts,
    the md5 of the REDACTED text (so a lazy redactor that only counts
    cannot pass), and `fully_redacted` — zero pattern hits remain after
    masking, the idempotence/completeness certificate, which the oracle
    re-derives rather than asserts. Both engines run the same RE2-safe
    patterns over the same staged strings, so every row is hash-exact.
    At 100 TB: stateless row-local regex in whole-stage codegen — one
    scan, no shuffle, no Python."""
    return build_pii_redact(t_cpu(spark, sf_dir, "documents"))


def build_pii_redact(docs: DataFrame) -> DataFrame:
    """The PII injection + redaction transform, shared verbatim by the
    batch query above and its streaming twin (`stream_pii_redact`) —
    the build_curate_stream discipline: one definition, so the graded
    batch semantics and the production on-ingest scrubber can never
    desynchronize. Works on any (doc_id, text) frame, batch or
    streaming (every stage is a stateless row-local projection)."""
    email_pat = r"[a-z0-9]+@[a-z]+\.[a-z]+"
    phone_pat = r"\d{3}-\d{4}"
    staged = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" tel 555-"),
                    (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("s"),
    )
    r = F.regexp_replace(
        F.regexp_replace(F.col("s"), email_pat, "[EMAIL]"),
        phone_pat,
        "[PHONE]",
    )
    red = staged.select(
        "doc_id",
        F.regexp_count("s", F.lit(email_pat)).cast("long").alias("n_emails"),
        F.regexp_count("s", F.lit(phone_pat)).cast("long").alias("n_phones"),
        r.alias("r"),
    )
    return red.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.md5("r").alias("redacted_md5"),
        (
            (F.regexp_count("r", F.lit(email_pat)) == 0)
            & (F.regexp_count("r", F.lit(phone_pat)) == 0)
        ).alias("fully_redacted"),
    )


@query(
    "curate_token_budget_fill",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, len({SQL_TOKS}) AS tok_cnt FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, CAST(tok_cnt AS BIGINT) AS tok_cnt,
             CAST(SUM(tok_cnt) OVER (
               PARTITION BY lang ORDER BY tok_cnt DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM toks WHERE tok_cnt > 0
    )
    SELECT lang, doc_id, tok_cnt, cum_tokens
    FROM ranked WHERE cum_tokens <= 2000
    """,
)
def curate_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET corpus fill — the mixture-construction primitive: a
    pretraining run buys a FIXED token budget per language/domain, not a
    document count, so selection is 'take documents in preference order
    until the budget is spent'. Preference here is longest-first (the
    packing-friendly heuristic; any deterministic key composes — DSIR
    weight, quality score), the running spend is ONE window cumulative
    sum per language partition, and the cut is cum_tokens <= 2000.
    Emitted rows are the purchased corpus with each document's running
    total — the receipt. Every number is an integer, so rows grade
    hash-exact.

    SCALE SHAPE: a naive window cumsum sorts each FULL language
    partition — at 100 TB with few languages that sort dominates.
    Instead the plan first cuts each language to its ``budget`` longest
    documents via a ``row_number() <= budget`` filter: zero-token
    documents are gated out (``tok_cnt > 0``, mirrored in the oracle),
    so every emitted document costs at least one token and no rank
    beyond ``budget`` can ever satisfy ``cum_tokens <= budget`` — the
    cut is EXACT, not a heuristic. Catalyst's ``InferWindowGroupLimit``
    turns that rank filter into map-side ``WindowGroupLimit`` (a
    per-group top-k heap in each scan task BEFORE the shuffle), so the
    sort input is O(budget × langs × tasks), independent of corpus size
    (plan-asserted in tests/test_plan_quality.py). The cumsum then runs
    within the k survivors.

    The rewrite applies only to k under
    ``windowGroupLimitThreshold``, whose default (1000) is below the
    budget, and the threshold is read when the caller plans the returned
    frame. So the plan is built on a clone session
    (``session.clone_session``) with the threshold raised: sessions the
    engine didn't build still get the rewrite, and the caller's conf
    never changes."""
    budget = 2000
    iso = clone_session(
        spark,
        "token_budget",
        {"spark.sql.optimizer.windowGroupLimitThreshold": "100000"},
    )
    docs = t_cpu(iso, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.size(tokens("text")).cast("long").alias("tok_cnt")
    ).filter(F.col("tok_cnt") > 0)
    wo = Window.partitionBy("lang").orderBy(F.col("tok_cnt").desc(), "doc_id")
    topk = (
        toks.withColumn("rk", F.row_number().over(wo))
        .filter(F.col("rk") <= budget)
        .drop("rk")
    )
    w = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        topk.withColumn("cum_tokens", F.sum("tok_cnt").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select("lang", "doc_id", "tok_cnt", "cum_tokens")
    )


@query(
    "curate_dsir_shift",
    oracle=f"""
    WITH bg AS (
      SELECT doc_id, lang, substr(md5(b), 1, 2) AS bkt
      FROM (
        SELECT doc_id, lang,
               unnest([tk[i] || ' ' || tk[i+1]
                       FOR i IN range(1, greatest(len(tk), 1))]) AS b
        FROM (SELECT doc_id, lang, {SQL_TOKS} AS tk FROM documents)
      )
    ),
    pc AS (
      SELECT doc_id, lang, bkt, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3
    ),
    tbl AS (
      SELECT bkt, SUM(c) AS r_cnt,
             COALESCE(SUM(c) FILTER (lang = 'en'), 0) AS t_cnt
      FROM pc GROUP BY bkt
    ),
    tot AS (SELECT SUM(r_cnt) AS rt, SUM(t_cnt) AS tt FROM tbl),
    llr AS (
      SELECT bkt, ln((t_cnt + 1.0) / (tt + 256.0))
                  - ln((r_cnt + 1.0) / (rt + 256.0)) AS w
      FROM tbl CROSS JOIN tot
    ),
    wt AS (
      SELECT pc.doc_id, ROUND(SUM(pc.c * llr.w), 6) AS lw
      FROM pc JOIN llr USING (bkt) GROUP BY pc.doc_id
    ),
    scored AS (
      SELECT d.doc_id, d.lang, COALESCE(wt.lw, 0.0) AS lw,
             (CAST(('0x' || substr(md5(COALESCE(CAST(d.doc_id AS VARCHAR),
                                                CHR(0))), 1, 8)) AS BIGINT)
              + 1) / 4294967296.0 AS u
      FROM documents d LEFT JOIN wt USING (doc_id)
    ),
    sel AS (
      SELECT doc_id, lang, lw FROM (
        SELECT doc_id, lang, lw,
               ROW_NUMBER() OVER (
                 ORDER BY round(-ln(u) * 1000.0 / exp(lw), 6), doc_id) AS rk
        FROM scored
      ) WHERE rk <= 50
    )
    SELECT 'raw' AS corpus, CAST(floor(lw) AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN 1 END), 0)
                AS BIGINT) AS n_en
    FROM scored GROUP BY 2
    UNION ALL
    SELECT 'selected' AS corpus, CAST(floor(lw) AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN 1 END), 0)
                AS BIGINT) AS n_en
    FROM sel GROUP BY 2
    """,
)
def curate_dsir_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SELECTION-ACTUALLY-SHIFTED-THE-DISTRIBUTION proof (Xie et al.
    2023 Fig. 2 analog): materialize the DSIR-resampled corpus
    (curate_dsir_resample's exact draw) and emit the logweight HISTOGRAM
    of the raw corpus next to the selected one — unit-width bins
    (floor(logweight)) with per-bin doc counts and target-language ('en')
    counts, all integer-exact. A correct importance resample concentrates
    the selected mass in the high-logweight bins and raises the en share;
    this query makes that auditable as data rather than a claim — the
    acceptance report a production selection run ships next to the
    corpus it curated. Plan: the DSIR map + 256-row broadcast model is
    one pass; the draw is TakeOrderedAndProject (50 rows); both
    histograms are map-side-combinable groupBys over ≤ a few dozen bins
    — at 100 TB the output stays O(bins), never O(docs). Binning uses
    floor over the SAME 6-dp-rounded weights both engines already
    hash-match (curate_dsir_importance), so bin edges cannot straddle
    an engine ulp."""
    from ..operators.text import dsir_logweights

    from . import register_query_cache

    docs = t_cpu(spark, sf_dir, "documents")
    wt = dsir_logweights(docs, "doc_id", "text", F.col("lang") == "en")
    # Three consumers (raw histogram, the ES draw, and the selected
    # histogram via the draw) each re-derive the scored relation;
    # uncached that is three re-folds of the DSIR weight join (the plan
    # showed 6 Generate subtrees before the dsir_logweights-internal
    # cache landed). O(docs) rows of 3 narrow columns, released
    # post-query by the harness sweep.
    scored = register_query_cache(
        docs.select("doc_id", "lang")
        .join(wt.select("doc_id", "dsir_logweight"), "doc_id")
        .cache()
    )
    sel = SA.weighted_topk_es(
        scored.withColumn("w", F.exp("dsir_logweight")), 50, "w", "doc_id"
    ).select("doc_id", "lang", "dsir_logweight")

    def hist(df: DataFrame, label: str) -> DataFrame:
        return (
            df.groupBy(
                F.floor("dsir_logweight").cast("bigint").alias("bin")
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(
                    F.when(F.col("lang") == "en", 1).otherwise(0)
                ).cast("bigint").alias("n_en"),
            )
            .select(F.lit(label).alias("corpus"), "bin", "n_docs", "n_en")
        )

    return hist(scored, "raw").unionAll(hist(sel, "selected"))
