"""North-star inventory — the LLM-training-data-pipeline operators the
driver's `north_star` requires beyond the reference's surface (SURVEY.md
§2.10): deduplication (exact, minhash-LSH, simhash, n-gram Jaccard,
embedding-cosine), similarity search (brute-force + LSH-bucketed ANN),
text analysis (language-ID, quality scoring, token counting, document
fingerprinting), and multimodal binary columns.

Every operator is a pure partition-parallel DataFrame transform (operators.*)
and every query here has a full DuckDB oracle — including the minhash-LSH
pipeline, re-derived end-to-end in SQL via md5 (the one hash both engines
share bit-for-bit). Multimodal decode runs through mapInPandas; its oracle
checks the envelope (byte length + payload md5) that the deterministic fake
decoder extracts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as X
from ..functions import tokens
from ..session import spread
from . import query, t, t_cpu

# ---------------------------------------------------------------------------
# Shared SQL fragments (kept in lockstep with the Spark-side operators).
# ---------------------------------------------------------------------------

# tokens(): whitespace split, empties dropped (functions.tokens).
SQL_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"

# shingles(k=3): k-token windows joined by spaces (operators.dedup.shingles).
SQL_SHINGLES = (
    "[array_to_string(tk[i:i+2], ' ') FOR i IN range(1, greatest(len(tk)-2, 0)+1)]"
)

# minhash_signature(NUM_HASHES=12): per seed s, lexicographic min of
# md5('s#' || shingle) (operators.dedup.minhash_signature).
SQL_MINHASH = "[list_min([md5(CAST(s AS VARCHAR) || '#' || x) FOR x IN g]) FOR s IN range(0, 12)]"

_CTE_LSH_BANDS = f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKS} AS tk FROM documents
),
sh AS (
  SELECT doc_id, {SQL_SHINGLES} AS g
  FROM toks WHERE len(tk) >= 3
),
sig AS (
  SELECT doc_id, {SQL_MINHASH} AS mh FROM sh
),
bands AS (
  SELECT doc_id, b AS band_idx,
         md5(mh[b*3+1] || '|' || mh[b*3+2] || '|' || mh[b*3+3]) AS band_hash
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
"""

# Inline plane literals shared by Spark and the oracle (similarity.hyperplanes
# is seeded md5 → identical values both sides; 6 planes → 64 buckets).
_PLANES = S.hyperplanes(6, 64)

# IVF coarse-quantizer centroids: 16 fixed seeded-pseudo-random directions
# (data-independent demo cells; a production build would k-means these).
_CENTROIDS = S.hyperplanes(16, 64, seed="crane-ivf")


def _sql_plane(row: list[float]) -> str:
    return "[" + ", ".join(f"{v!r}" for v in row) + "]"


def _sql_bucket(vec_expr: str) -> str:
    terms = [
        f"(CASE WHEN list_dot_product(CAST({vec_expr} AS DOUBLE[]), {_sql_plane(row)}) > 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p, row in enumerate(_PLANES)
    ]
    return "(" + " + ".join(terms) + ")"


# Oracle precondition (latent, pinned here): the similarity oracles assume
# NO zero-norm embeddings and NO exactly-tied centroid dot products — both
# impossible in the driver's synthetic embeddings (dense uniform floats).
# The OPERATORS do guard those cases (qn/cn > 0 filters, array_distinct on
# probe cells in similarity.py) because real-world corpora hit them; an
# engine graded on data containing a zero vector would need the same
# norm>0 filter mirrored into these oracle strings.
SQL_COSINE = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
@query(
    "dedup_exact_documents",
    oracle="""
    SELECT md5(text) AS content_md5,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one survivor per distinct text.
    The shuffle moves 32-byte md5 keys, never document bodies."""
    return D.exact_dedup(t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "dedup_minhash_lsh_jaccard",
    oracle=_CTE_LSH_BANDS
    + f""",
    sets AS (
      SELECT doc_id, list_distinct(g) AS g FROM sh
    )
    SELECT id_a, id_b,
           round(len(list_intersect(sa.g, sb.g))::DOUBLE
                 / len(list_distinct(sa.g || sb.g)), 6) AS jaccard
    FROM cand
    JOIN sets sa ON sa.doc_id = id_a
    JOIN sets sb ON sb.doc_id = id_b
    """,
)
def dedup_minhash_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection, the full scale pipeline: 3-token shingles →
    12-hash minhash signature → 4-band LSH self-join for candidates →
    exact shingle-set Jaccard only on candidates. Everything up to the
    band join is row-local array expressions; the join shuffles ~n·bands
    rows (linear in corpus size). No separate short-doc pre-filter: the
    staged size(sh) > 0 filter inside lsh_candidate_pairs already drops
    <3-token docs (k-shingling of <k tokens is empty), and pairs can only
    reference ids that survived it — one less tokenization per row.

    One chain execution: the DISTINCT shingle sets are materialized once
    (localCheckpoint) and all four consumers (two band-join legs, two
    exact-set legs) derive from them — valid because a minhash (per-seed
    MIN over per-shingle md5s) is invariant under duplicate shingles, so
    minhash(distinct(sh)) ≡ minhash(sh) bit-for-bit; the signature
    relation is materialized once more, so each band-join leg re-derives
    only the 4 trivial band md5s from 12 hex strings. At 100 TB that
    saves 3 executions of the full-corpus tokenize→shingle chain."""
    docs = t_cpu(spark, sf_dir, "documents")
    sets = docs.select(
        F.col("doc_id").alias("doc"),
        F.array_distinct(D.token_shingles(tokens("text"))).alias("sh"),
    ).localCheckpoint()
    sig = (
        sets.filter(F.size("sh") > 0)
        .select("doc", D.minhash_signature(F.col("sh")).alias("sig"))
        .localCheckpoint()
    )
    pairs = D.banded_candidate_pairs(D.signature_bands(sig))
    return D.jaccard_pairs(docs, pairs, "doc_id", "text", sets_df=sets)


def _dedup_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted AT-REST dedup index: DISTINCT (band_idx, band_hash)
    buckets of the EXISTING corpus (doc_id % 4 != 0), written once as a
    parquet artifact — what an incremental ingest pipeline keeps between
    runs so newcomers are checked against history WITHOUT re-banding it.
    Bounded by distinct buckets (≤ 4·docs rows of two small columns), it
    is the batch analogue of the state store `stream_dedup_minhash`
    keeps within its watermark."""
    from . import artifact

    def _build(path: str) -> None:
        docs = t_cpu(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 4 != 0
        )
        idx = (
            D.lsh_bands(docs.select("doc_id", "text"), "doc_id", "text")
            .select("band_idx", "band_hash")
            .distinct()
        )
        idx.write.mode("overwrite").parquet(path)

    return spark.read.parquet(artifact("crane_dedup_index", sf_dir, _build))


@query(
    "dedup_index_incremental_merge",
    oracle=_CTE_LSH_BANDS
    + """,
    old AS (
      SELECT DISTINCT band_idx, band_hash FROM bands WHERE doc_id % 4 <> 0
    ),
    nw AS (
      SELECT doc_id, band_idx, band_hash FROM bands WHERE doc_id % 4 = 0
    )
    SELECT n.doc_id,
           CAST(COUNT(o.band_hash) AS BIGINT) AS n_hit,
           CAST(COUNT(o.band_hash) > 0 AS INTEGER) AS is_dup
    FROM nw n LEFT JOIN old o
      ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
    GROUP BY n.doc_id
    """,
)
def dedup_index_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental AT-REST dedup-index merge (the batch complement of
    `stream_dedup_minhash`): the existing
    corpus's band buckets live in a PERSISTED parquet index
    (`_dedup_band_index`, built once and amortized across ingests), and a
    batch of newcomers (doc_id % 4 == 0 — a deterministic ~25% of the
    corpus standing in for 'today's crawl') is banded and checked against
    it with one hash equi-join on (band_idx, band_hash): per newcomer,
    ``n_hit`` = how many of its bands already exist in the index and
    ``is_dup`` = whether ANY does (the LSH collision verdict — such docs
    go to pairwise verification, the rest are novel and their buckets are
    unioned into the next index version; the union-write roundtrip is
    asserted equal to a from-scratch full-corpus index in
    ``tests/test_dedup_properties.py``). At 100 TB this is the shape that
    keeps continuous ingest O(new data): history is never re-banded, the
    index is a bounded two-column relation joined on its bucket key, and
    the join shuffles newcomers' bands only — no broadcast of the
    (SF-scaled) index side, no all-pairs. Newcomers shorter than one
    3-token shingle have no bands and are absent on both engines (same
    staged filter as the LSH pipeline)."""
    docs = t_cpu(spark, sf_dir, "documents")
    newcomers = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    nw_bands = D.lsh_bands(newcomers, "doc_id", "text")
    marked = _dedup_band_index(spark, sf_dir).withColumn("__hit", F.lit(1))
    return (
        nw_bands.join(marked, ["band_idx", "band_hash"], "left")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit")
        )
        .withColumn("is_dup", (F.col("n_hit") > 0).cast("int"))
    )


@query(
    "dedup_minhash_calibration",
    oracle=_CTE_LSH_BANDS
    + f""",
    sets AS (
      SELECT doc_id, list_distinct(g) AS g FROM sh
    )
    SELECT id_a, id_b,
           round(len(list_filter([sga.mh[i] = sgb.mh[i] FOR i IN range(1, 13)],
                                 b -> b)) / 12.0, 6) AS est_jaccard,
           round(len(list_intersect(sa.g, sb.g))::DOUBLE
                 / len(list_distinct(sa.g || sb.g)), 6) AS exact_jaccard,
           round(abs(round(len(list_filter([sga.mh[i] = sgb.mh[i]
                                            FOR i IN range(1, 13)], b -> b))
                           / 12.0, 6)
                     - round(len(list_intersect(sa.g, sb.g))::DOUBLE
                             / len(list_distinct(sa.g || sb.g)), 6)), 6)
             AS abs_err
    FROM cand
    JOIN sets sa ON sa.doc_id = id_a
    JOIN sets sb ON sb.doc_id = id_b
    JOIN sig sga ON sga.doc_id = id_a
    JOIN sig sgb ON sgb.doc_id = id_b
    """,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration for the minhash pipeline (companion to
    sim_lsh_recall_at_k's index calibration): for every LSH candidate
    pair, the signature-based Jaccard ESTIMATE (matching positions / 12
    — the unbiased minhash estimator) next to the exact shingle-set
    Jaccard and their absolute error. This is the measurement that
    justifies signature width before a 100 TB run: error scales
    ~1/sqrt(k_sigs), and at scale only the 12-value signatures (not the
    shingle sets) need to survive past the scan. md5 minhash is
    engine-identical, so the whole calibration — estimates included —
    grades row-level. Candidates come from the same banded self-join as
    dedup_minhash_lsh_jaccard; exact sets are joined back only for the
    candidate pairs.

    One chain execution: the distinct shingle sets and the signature
    relation are each materialized once (localCheckpoint; minhash over
    distinct shingles is bit-identical — per-seed MIN is duplicate-
    invariant) and all six consumers (two band legs, two exact-set legs,
    two signature legs) derive from them, so the tokenize→shingle chain
    runs once, not 6×, and the minhash once, not 4×. The est-side
    signature filter to size(sh) > 0 docs is equivalent: candidates can
    only reference docs that survived banding's own short-doc filter."""
    docs = t_cpu(spark, sf_dir, "documents")
    sets = docs.select(
        F.col("doc_id").alias("doc"),
        F.array_distinct(D.token_shingles(tokens("text"))).alias("sh"),
    ).localCheckpoint()
    staged = (
        sets.filter(F.size("sh") > 0)
        .select(
            F.col("doc").alias("doc_id"),
            D.minhash_signature(F.col("sh")).alias("mh"),
        )
        .localCheckpoint()
    )
    pairs = D.banded_candidate_pairs(
        D.signature_bands(staged, doc_col="doc_id", sig_col="mh")
    )
    exact = D.jaccard_pairs(docs, pairs, "doc_id", "text", sets_df=sets).select(
        "id_a", "id_b", F.col("jaccard").alias("exact_jaccard")
    )
    sa = staged.select(F.col("doc_id").alias("id_a"), F.col("mh").alias("mha"))
    sb = staged.select(F.col("doc_id").alias("id_b"), F.col("mh").alias("mhb"))
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("mha", "mhb", lambda x, y: x == y), lambda b: b
            )
        )
        / F.lit(12.0),
        6,
    )
    return (
        exact.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            est.alias("est_jaccard"),
            "exact_jaccard",
            F.round(
                F.abs(est - F.col("exact_jaccard")), 6
            ).alias("abs_err"),
        )
    )


@query(
    "dedup_lsh_tuning_curve",
    oracle=_CTE_LSH_BANDS
    + f""",
    sets AS (SELECT doc_id, list_distinct(g) AS g FROM sh),
    pairs AS (
      SELECT sa.doc_id AS pa, sb.doc_id AS pb,
             len(list_intersect(sa.g, sb.g)) AS i,
             len(sa.g) + len(sb.g) - len(list_intersect(sa.g, sb.g)) AS u
      FROM sets sa JOIN sets sb
        ON sa.doc_id < 100 AND sa.doc_id <> sb.doc_id
    ),
    binned AS (
      SELECT (p.i * 10) // p.u AS bin, c.id_a AS ca
      FROM pairs p
      LEFT JOIN cand c
        ON c.id_a = least(p.pa, p.pb) AND c.id_b = greatest(p.pa, p.pb)
    ),
    agg AS (
      SELECT CAST(bin AS BIGINT) AS jaccard_bin,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(COUNT(ca) AS BIGINT) AS n_candidates,
             round(COUNT(ca)::DOUBLE / COUNT(*), 4) AS cand_rate,
             1 - least(CAST(2*bin + 1 AS DOUBLE) / 20, CAST(1 AS DOUBLE))
                 * least(CAST(2*bin + 1 AS DOUBLE) / 20, CAST(1 AS DOUBLE))
                 * least(CAST(2*bin + 1 AS DOUBLE) / 20, CAST(1 AS DOUBLE)) AS q
      FROM binned GROUP BY bin
    )
    SELECT jaccard_bin, n_pairs, n_candidates, cand_rate,
           round(1 - q*q*q*q, 4) AS scurve_rate
    FROM agg
    """,
)
def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDING calibration — the companion to dedup_minhash_calibration
    (which calibrates the signature): measures, per exact-Jaccard decile,
    how often the (b=4, r=3) banded LSH actually surfaces a pair, next to
    the closed-form S-curve P(candidate | s) = 1 − (1 − s³)⁴ at the bin
    midpoint. This is the measurement that picks b and r BEFORE a 100 TB
    run: shift the curve left (more bands / shorter rows) for recall,
    right for precision, and verify the deployed banding tracks theory.
    Everything is deterministic and row-level: binning is INTEGER
    arithmetic ((i·10) div u over exact intersect/union counts — no float
    binning hazard), the S-curve is an identical IEEE multiply chain on
    both engines (q⁴ via explicit q·q·q·q, never pow()), and the exact
    side measures DIRECTED probe pairs — each of the first 100 docs
    against the full corpus, O(cap·n) like dedup_embedding_near_pairs —
    because the synthetic corpus's near-dup partners are scattered across
    the id range (a contiguous-window baseline would see zero dup mass).
    The LSH candidate set is the PRODUCTION full-corpus banded self-join,
    membership-checked per probe pair via (least, greatest) equi keys."""
    docs = t_cpu(spark, sf_dir, "documents")
    # Materialized ONCE and shared by four consumers: the full-corpus
    # probe leg (b), the 100-doc probe leg (a — reading 100 materialized
    # rows costs nothing), and both band-join legs via the signature
    # relation below (minhash over distinct shingles is bit-identical:
    # per-seed MIN is duplicate-invariant). The tokenize→shingle chain
    # runs once instead of 3× full-corpus + 1× probe-pruned. A checkpoint
    # that served only the pushed-down probe leg would not pay for itself.
    sets = (
        docs.select("doc_id", tokens("text").alias("toks"))
        .select(
            "doc_id",
            F.array_distinct(D.token_shingles(F.col("toks"))).alias("g"),
        )
        .filter(F.size("g") > 0)
        .localCheckpoint()
    )
    a = sets.filter(F.col("doc_id") < 100).select(
        F.col("doc_id").alias("pa"), F.col("g").alias("ga")
    )
    b = sets.select(F.col("doc_id").alias("pb"), F.col("g").alias("gb"))
    # Union size by inclusion-exclusion over DISTINCT sets (|A|+|B|−|A∩B|)
    # — one array op per pair instead of two; array_union would allocate a
    # merged array per pair just to take its length. The intersect size
    # appears at two sites (i, and inside u) but is NOT a higher-order
    # lambda, so whole-stage codegen's subexpression elimination evaluates
    # it once — measured: this direct form runs the sf0.1 pair scan in
    # ~2.6 s vs ~4.2 s for an explode(array(let(struct))) Generate
    # barrier (the barrier is the right tool only for HOF pipelines like
    # tokenize→shingle→minhash, where codegen CSE does not apply).
    pairs = a.join(b, F.col("pa") != F.col("pb")).select(
        F.least("pa", "pb").alias("id_a"),
        F.greatest("pa", "pb").alias("id_b"),
        F.size(F.array_intersect("ga", "gb")).alias("i"),
        (
            F.size("ga") + F.size("gb") - F.size(F.array_intersect("ga", "gb"))
        ).alias("u"),
    )
    sig = sets.select(
        "doc_id", D.minhash_signature(F.col("g")).alias("mh")
    ).localCheckpoint()
    cand = D.banded_candidate_pairs(
        D.signature_bands(sig, doc_col="doc_id", sig_col="mh")
    ).withColumn("c", F.lit(1))
    binned = pairs.join(cand, ["id_a", "id_b"], "left").select(
        F.expr("CAST((i * 10) DIV u AS BIGINT)").alias("jaccard_bin"), "c"
    )
    m = F.least(
        (2 * F.col("jaccard_bin") + 1).cast("double") / F.lit(20),
        F.lit(1.0),
    )
    q = F.lit(1.0) - m * m * m
    return (
        binned.groupBy("jaccard_bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count("c").alias("n_candidates"),
            F.round(F.count("c").cast("double") / F.count(F.lit(1)), 4).alias(
                "cand_rate"
            ),
        )
        .select(
            "jaccard_bin",
            "n_pairs",
            "n_candidates",
            "cand_rate",
            F.round(F.lit(1.0) - q * q * q * q, 4).alias("scurve_rate"),
        )
    )


@query(
    "text_shingle_novelty_deciles",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS} AS tk FROM documents),
    sh AS (SELECT doc_id, {SQL_SHINGLES} AS g FROM toks WHERE len(tk) >= 3),
    grams AS (SELECT doc_id, unnest(list_distinct(g)) AS gram FROM sh),
    firstseen AS (SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram),
    n AS (SELECT COUNT(*) AS nd FROM documents),
    per AS (
      SELECT g.doc_id, COUNT(*) AS n_grams,
             SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
      FROM grams g JOIN firstseen f USING (gram) GROUP BY g.doc_id
    )
    SELECT CAST((p.doc_id * 10) // n.nd AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_grams) AS BIGINT) AS total_grams,
           CAST(SUM(p.n_novel) AS BIGINT) AS novel_grams,
           round(CAST(SUM(p.n_novel) AS BIGINT)::DOUBLE
                 / CAST(SUM(p.n_grams) AS BIGINT), 6) AS novelty_rate
    FROM per p, n GROUP BY 1
    """,
)
def text_shingle_novelty_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus NOVELTY curve — the diminishing-returns measurement behind
    data-mixing decisions ('is the next shard of this source still adding
    new content?'): per ingestion decile (doc_id order stands in for
    arrival order), the fraction of each document's distinct 3-shingles
    never seen in any earlier document. A shingle is 'novel' exactly in
    the document that first introduces it (min doc_id — deterministic),
    so per-decile novel/total counts are exact BIGINTs and the rate is
    ONE division of exact integers — no average-of-doubles
    drift. Plan shape: explode distinct shingles → min-doc_id hash
    aggregate (map-side combined) → equi join back on the shingle →
    two keyed aggregates; the only crossJoin is the 1-row corpus-count
    scalar used for decile bucketing. Linear in corpus size, every
    shuffle keyed on the shingle or doc_id — the same keys a 100 TB
    vocabulary build shuffles on anyway."""
    docs = t_cpu(spark, sf_dir, "documents")
    # The tokenize→shingle→distinct chain feeds BOTH the first-seen
    # aggregate and the join-back leg — uncheckpointed it executes twice
    # (2 corpus scans in the committed before-plan). Materialize the
    # COMPACT per-doc distinct-shingle arrays once (the change-#8
    # discipline: checkpoint pre-explode, explode is cheap; swept by
    # release_query_caches) and derive both legs from it.
    shsets = docs.select(
        "doc_id",
        F.array_distinct(D.token_shingles(tokens("text"))).alias("gs"),
    ).localCheckpoint()
    grams = shsets.select("doc_id", F.explode("gs").alias("g"))
    firstseen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per = (
        grams.join(firstseen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("__nd"))
    return (
        per.crossJoin(F.broadcast(n_docs))
        .select(
            F.expr("CAST((doc_id * 10) DIV __nd AS BIGINT)").alias("decile"),
            "n_grams",
            "n_novel",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_novel").alias("novel_grams"),
        )
        .select(
            "decile",
            "n_docs",
            "total_grams",
            "novel_grams",
            F.round(
                F.col("novel_grams").cast("double") / F.col("total_grams"), 6
            ).alias("novelty_rate"),
        )
    )


@query(
    "dedup_simhash_documents",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest({SQL_TOKS}) AS tok FROM documents
    ),
    bitsum AS (
      SELECT doc_id, b,
             SUM(2 * (((strpos('0123456789abcdef', substr(md5(tok), b // 4 + 1, 1)) - 1)
                       >> (b % 4)) & 1) - 1) AS s
      FROM tk CROSS JOIN (SELECT unnest(range(0, 16)) AS b)
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS simhash
    FROM bitsum GROUP BY doc_id
    """,
)
def dedup_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit) per document — near-dup fingerprints whose Hamming
    distance tracks content similarity. One fold over the token array
    (aggregate+zip_with), no explode, no UDF; the oracle re-derives each bit
    from md5 hex digits."""
    docs = t_cpu(spark, sf_dir, "documents").filter(F.size(tokens("text")) >= 1)
    return docs.select("doc_id", D.simhash("text", bits=16).alias("simhash"))


@query(
    "dedup_embedding_near_pairs",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({SQL_COSINE}, 6) AS cos_sim
    FROM (SELECT * FROM embeddings WHERE vec_id < 200) a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({SQL_COSINE}, 6) >= 0.4
    """,
)
def dedup_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4), exact
    cosine over a BOUNDED probe window (vec_id < 200, broadcast) against
    the full corpus — O(cap·n), linear in corpus size, same bounding
    discipline as sim_cosine_topk (10-query cap) and
    dedup_ngram_jaccard_pairs (doc_id < 100). The unbounded all-pairs
    form is quadratic (10,000× the pairs at 100× data); the
    production-scale path over the WHOLE corpus is the LSH-bucketed
    dedup_cluster_canonical / sim_lsh_ann_topk."""
    return S.cosine_near_pairs(
        t_cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=0.4, probe_max_id=200,
    )


@query(
    "dedup_semantic_prune",
    oracle=f"""
    WITH u AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    ex AS (
      SELECT DISTINCT b.vec_id AS pruned
      FROM u a JOIN u b ON a.vec_id < b.vec_id
      WHERE round({SQL_COSINE}, 6) >= 0.4
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_window,
           CAST(COUNT(*) AS BIGINT) AS n_exact_pruned,
           TRUE AS subset_ok, TRUE AS recall_ok
    FROM ex
    """,
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al., 2023 — cluster the
    embedding space, prune near-duplicates within clusters): distributed
    k-means (k=8, the model shared with sim_ivf_kmeans_topk via the
    per-process cache), soft top-2 cell assignment, within-cell cosine
    prune at 0.4 keeping the lowest id (operators/dedup.py
    semantic_prune). The corpus-wide pruned set is Σn_c² work — linear
    once cluster count tracks corpus size — never the all-pairs scan.

    k-means is trained (outside SQL), so the graded contract follows the
    sim_ivf_kmeans_topk certificate pattern, anchored on a bounded
    window (vec_id < 200, both pair ids in-window): n_exact_pruned — the
    window's exact all-pairs prune count — is EXACT SQL and graded
    row-level; subset_ok asserts the structural invariant that within-
    cell pairs are a subset of all pairs (a FALSE means the prune rule
    itself broke); recall_ok asserts the trained clustering recovered
    >= 0.5 of the exact prune set (measured 0.85-1.0 at nprobe=2 across
    sf0.001-0.1, vs 0.3-0.6 at nprobe=1 — the soft assignment is what
    buys the margin)."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    sem = (
        D.semantic_prune(emb, _kmeans8(spark, sf_dir), threshold=0.4, nprobe=2)
        .filter(F.col("pruned") < 200)
        .withColumn("__sem", F.lit(1))
    )
    window = emb.filter(F.col("vec_id") < 200)
    ex = (
        S.cosine_near_pairs(
            window, "vec_id", "embedding", threshold=0.4, probe_max_id=200
        )
        .select(F.col("id_b").alias("pruned"))
        .distinct()
        .withColumn("__ex", F.lit(1))
    )
    n_window = window.agg(F.count(F.lit(1)).alias("n_window"))
    return (
        ex.join(sem, "pruned", "full")
        .agg(
            F.count("__ex").alias("n_exact_pruned"),
            F.count("__sem").alias("n_sem"),
            F.count(F.when(F.col("__ex").isNotNull(), F.col("__sem"))).alias(
                "n_inter"
            ),
        )
        .crossJoin(F.broadcast(n_window))
        .select(
            "n_window",
            "n_exact_pruned",
            (F.col("n_sem") == F.col("n_inter")).alias("subset_ok"),
            (F.col("n_inter") * 2 >= F.col("n_exact_pruned")).alias(
                "recall_ok"
            ),
        )
    )


@query(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE bucketed AS (
      SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round({SQL_COSINE}, 6) >= 0.4
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(src, node) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.node = e.u
    )
    SELECT node AS doc_id, MIN(src) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING — the step after pair generation in a real
    dedup pipeline: connected components over the near-dup pair graph,
    labeling every involved doc with its component's minimum id (the
    canonical survivor; keep doc_id == cluster_id downstream). Pairs are
    LSH-bucket-pruned exact-cosine (the scale path: equi join on bucket,
    Σ n_b² not n² — the all-pairs baseline is dedup_embedding_near_pairs);
    clustering is distributed hash-min label propagation (O(diameter)
    rounds of join+groupBy on the EDGE list, corpus never re-touched).
    The oracle runs the same closure as a recursive CTE — tractable for
    DuckDB at test SF, where the distributed form is the one that
    survives 10⁹-edge graphs."""
    pairs = S.cosine_near_pairs(
        t_cpu(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=0.4,
        bucket_planes=_PLANES,
    )
    labels = D.connected_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@query(
    "sim_cosine_topk",
    oracle=f"""
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             round({SQL_COSINE}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY round({SQL_COSINE}, 6) DESC, b.vec_id) AS rank
      FROM (SELECT * FROM embeddings WHERE vec_id < 10) a
      JOIN embeddings b ON a.vec_id <> b.vec_id
    ) WHERE rank <= 3
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-3 for a small query set (vec_id < 10):
    broadcast queries × corpus, per-query window top-k. O(|Q|·|corpus|) —
    right for reranking / small Q; LSH variant below for large Q."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=3)


SQL_COSINE_PRE16 = (
    "list_dot_product(CAST(a.embedding[1:16] AS DOUBLE[]),"
    " CAST(b.embedding[1:16] AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding[1:16] AS DOUBLE[]),"
    " CAST(a.embedding[1:16] AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding[1:16] AS DOUBLE[]),"
    " CAST(b.embedding[1:16] AS DOUBLE[]))))"
)


@query(
    "sim_matryoshka_rerank_topk",
    oracle=f"""
    WITH pre AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             a.embedding AS qv, b.embedding AS cv,
             round({SQL_COSINE_PRE16}, 6) AS pre_sim
      FROM (SELECT * FROM embeddings WHERE vec_id < 10
            AND list_dot_product(CAST(embedding[1:16] AS DOUBLE[]),
                                 CAST(embedding[1:16] AS DOUBLE[])) > 0) a
      JOIN embeddings b ON a.vec_id <> b.vec_id
       AND list_dot_product(CAST(b.embedding[1:16] AS DOUBLE[]),
                            CAST(b.embedding[1:16] AS DOUBLE[])) > 0
    ), short AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY pre_sim DESC, cand_id) AS prank
      FROM pre
    )
    SELECT query_id, cand_id, pre_sim, cos_sim, rank FROM (
      SELECT query_id, cand_id, pre_sim,
             round(list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))),
                   6) AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY round(list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))
                        / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
                           * sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))),
                        6) DESC, cand_id) AS rank
      FROM short WHERE prank <= 20
    ) WHERE rank <= 3
    """,
)
def sim_matryoshka_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (prefix-dimension) two-stage retrieval: coarse top-20
    shortlist on the first 16 of 64 dims, exact full-dim re-rank to
    top-3 — the MRL-embedding serving pattern where the cheap prefix pass
    does 4× less arithmetic (and at scale reads a 4× narrower column)
    before exact scoring touches only |Q|·shortlist pairs
    (operators/similarity.py matryoshka_topk). Both stages round(6) with
    candidate-id tiebreaks, so the oracle reproduces the exact shortlist
    and final ranking; both sides drop zero-prefix vectors (the oracle's
    list_dot_product guards mirror the operator's prefix-norm filter —
    none exist in driver data, but parity must not depend on that)."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    return S.matryoshka_topk(
        emb, emb.filter(F.col("vec_id") < 10),
        prefix_dim=16, shortlist=20, k=3,
    )


@query(
    "sim_lsh_bucket_histogram",
    oracle=f"""
    SELECT {_sql_bucket('embedding')} AS bucket, COUNT(*) AS n_vectors
    FROM embeddings GROUP BY 1
    """,
)
def sim_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (6 planes → 64 buckets) +
    occupancy histogram — the partitioning step of scalable ANN. Plane
    components are seeded-md5-derived literals, identical in the oracle."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    return (
        emb.select(S.lsh_bucket(F.col("embedding"), _PLANES).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


@query(
    "sim_lsh_ann_topk",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket FROM embeddings
    )
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             round({SQL_COSINE}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY round({SQL_COSINE}, 6) DESC, b.vec_id) AS rank
      FROM (SELECT * FROM bucketed WHERE vec_id < 10) a
      JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ) WHERE rank <= 3
    """,
)
def sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 via LSH bucketing: candidates restricted to the
    query's bucket, exact cosine within. The bucket equi-join replaces the
    crossJoin — per-query candidates shrink ~2^planes; shuffle key = bucket."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    return S.lsh_ann_topk(emb, emb.filter(F.col("vec_id") < 10), _PLANES, k=3)


_SQL_PROBES = "[CAST(bucket AS BIGINT), " + ", ".join(
    f"xor(CAST(bucket AS BIGINT), {1 << p})" for p in range(len(_PLANES))
) + "]"


@query(
    "sim_lsh_multiprobe_topk",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket FROM embeddings
    ), probes AS (
      SELECT vec_id, embedding, unnest({_SQL_PROBES}) AS probe
      FROM bucketed WHERE vec_id < 10
    )
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             round({SQL_COSINE}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY round({SQL_COSINE}, 6) DESC, b.vec_id) AS rank
      FROM probes a
      JOIN bucketed b ON a.probe = b.bucket AND a.vec_id <> b.vec_id
    ) WHERE rank <= 3
    """,
)
def sim_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-3 (Hamming-radius-1 probes): the recall knob on
    top of sim_lsh_ann_topk — 1+|planes| probe rows per QUERY (corpus
    hashed once, join still a bucket equi-join). On this synthetic corpus
    (near-orthogonal vectors, neighbor cosine ~0.3) measured recall@3
    rises ~4x over single-probe; on real embedding manifolds (neighbor
    cosine 0.7+) the same construction reaches 90%+. See
    tests/test_ann_recall.py for the measured recall ladder."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    return S.lsh_ann_topk_multiprobe(
        emb, emb.filter(F.col("vec_id") < 10), _PLANES, k=3
    )


_SQL_BQ_WORD = (
    "CAST(list_sum([CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - {lo}))"
    " ELSE 0 END FOR i IN range({lo}, {hi})]) AS BIGINT)"
)

_SQL_COS_QC = (
    "list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[]))))"
)


@query(
    "sim_binary_quant_hamming_topk",
    oracle=f"""
    WITH codes AS (
      SELECT vec_id, embedding,
             {_SQL_BQ_WORD.format(lo=1, hi=33)} AS w0,
             {_SQL_BQ_WORD.format(lo=33, hi=65)} AS w1
      FROM embeddings
      WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0
    ), short AS (
      SELECT * FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               a.embedding AS qv, b.embedding AS cv,
               bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS hamming,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)),
                          b.vec_id) AS hrank
        FROM (SELECT * FROM codes WHERE vec_id < 10) a
        JOIN codes b ON a.vec_id <> b.vec_id
      ) WHERE hrank <= 50
    )
    SELECT query_id, cand_id, hamming, cos_sim, rank FROM (
      SELECT query_id, cand_id, hamming,
             round({_SQL_COS_QC}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY round({_SQL_COS_QC}, 6) DESC,
                                         cand_id) AS rank
      FROM short
    ) WHERE rank <= 3
    """,
)
def sim_binary_quant_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN (the 1-bit rung of the compression ladder,
    below int8 sim_quantize_int8 and PQ): sign bits packed into two BIGINT
    words per vector (operators/similarity.py binary_code_words), coarse
    top-50 shortlist by XOR+popcount Hamming distance, exact-cosine
    re-rank to top-3. Unlike the trained IVF/PQ rungs this stage is fully
    deterministic (no k-means), so it carries a ROW-LEVEL oracle — the
    DuckDB twin repacks the same sign bits and reproduces both rank
    stages bit-for-bit. At 100 TB the coarse scan reads 16 bytes/vector
    instead of 256 and each distance is 2 xor+popcount ops instead of 64
    multiply-adds; the exact pass touches only |Q|·shortlist rows."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    return S.binary_quant_topk(
        emb, emb.filter(F.col("vec_id") < 10), shortlist=50, k=3
    )


@query(
    "sim_pca_power_topdir",
    oracle="""
    WITH q AS (
      SELECT [CAST(floor(CAST(e AS DOUBLE) * 8) AS BIGINT) FOR e IN embedding]
               AS qv
      FROM embeddings
    ), dims AS (SELECT unnest(range(1, 65)) AS d),
    g AS (
      SELECT i.d AS i, j.d AS j,
             CAST(SUM(qv[i.d] * qv[j.d]) AS BIGINT) AS g
      FROM q CROSS JOIN dims i CROSS JOIN dims j
      GROUP BY i.d, j.d
    ),
    v1 AS (SELECT i, CAST(SUM(g) AS BIGINT) AS v1 FROM g GROUP BY i),
    v2 AS (
      SELECT g.i, CAST(SUM(g.g * v1.v1) AS BIGINT) AS v2
      FROM g JOIN v1 ON g.j = v1.i GROUP BY g.i
    )
    SELECT v1.i AS dim, v1, v2 FROM v1 JOIN v2 ON v1.i = v2.i
    """,
)
def sim_pca_power_topdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (dominant principal direction) by power iteration
    over an exact-integer Gram matrix — the embedding-space analysis step
    (whitening, dimensionality audit, anisotropy check) a curation
    pipeline runs before indexing. Components quantize to floor(x·8)
    (deterministic IEEE ops), per-partition numpy partials build the
    64×64 Gram (mapInPandas emits dim² rows per PARTITION — the shuffle
    is model-sized, the corpus is read once), and two power-iteration
    matvecs from v0 = 1⃗ run as joins on the 4096-row Gram relation.
    Integer arithmetic is associative, so this ITERATIVE numerical
    algorithm grades with a full ROW-LEVEL oracle (no certificate): the
    DuckDB twin unrolls both matvecs as CTEs and must match all 64
    components of v1 and v2 bit-for-bit. Production variant normalizes v
    between rounds in float (same plan shape) once n pushes the int64
    overflow ceiling (~10⁹ rows at this scale factor's magnitudes).
    Reference parity: Crane has no linear algebra; north-star surface."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    return S.pca_power_components(emb, dim=64, scale=8)


@query(
    "sim_embedding_covariance",
    oracle="""
    WITH q AS (
      SELECT [CAST(floor(CAST(e AS DOUBLE) * 8) AS BIGINT) FOR e IN embedding]
               AS qv
      FROM embeddings
    ), dims AS (SELECT unnest(range(1, 65)) AS d),
    g AS (
      SELECT i.d AS i, j.d AS j,
             CAST(SUM(qv[i.d] * qv[j.d]) AS BIGINT) AS g
      FROM q CROSS JOIN dims i CROSS JOIN dims j
      GROUP BY i.d, j.d
    ),
    s AS (
      SELECT d.d AS i, CAST(SUM(qv[d.d]) AS BIGINT) AS s
      FROM q CROSS JOIN dims d GROUP BY d.d
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q)
    SELECT g.i, g.j,
           CAST(n.n * g.g - sa.s * sb.s AS BIGINT) AS cov_scaled
    FROM g JOIN s sa ON g.i = sa.i JOIN s sb ON g.j = sb.i CROSS JOIN n
    """,
)
def sim_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered embedding covariance, integer-exact (the whitening /
    anisotropy-correction input, companion to sim_pca_power_topdir's
    uncentered Gram): n²·Cov = n·QᵀQ − ssᵀ over floor(x·8)-quantized
    components — the 1/n divisions cleared so the 64×64 statistic is
    exact BIGINT arithmetic and grades row-level despite the corpus-wide
    reduction. One scan feeds both the mapInPandas Gram partials and the
    column sums; centering joins two broadcast 64-row vectors onto the
    4096-row Gram relation. At 100 TB nothing here scales with n except
    the single scan (partials stay dim² per partition)."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    return S.covariance_scaled(emb, dim=64, scale=8)


@query(
    "sim_lsh_recall_at_k",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket
      FROM embeddings
    ), exact AS (
      SELECT query_id, cand_id, rank FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY round({SQL_COSINE}, 6) DESC,
                                           b.vec_id) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) a
        JOIN embeddings b ON a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ), lsh AS (
      SELECT query_id, cand_id, rank FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY round({SQL_COSINE}, 6) DESC,
                                           b.vec_id) AS rank
        FROM (SELECT * FROM bucketed WHERE vec_id < 10) a
        JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ), joined AS (
      SELECT e.query_id, e.rank AS exact_rank, l.rank AS lsh_rank
      FROM exact e LEFT JOIN lsh l
        ON e.query_id = l.query_id AND e.cand_id = l.cand_id
    ), ks AS (SELECT unnest([1, 3, 5]) AS k)
    SELECT k,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COALESCE(SUM(CASE WHEN lsh_rank <= k THEN 1 END), 0) AS BIGINT)
             AS n_hit,
           round(CAST(COALESCE(SUM(CASE WHEN lsh_rank <= k THEN 1 END), 0)
                      AS DOUBLE) / COUNT(*), 4) AS recall
    FROM joined JOIN ks ON exact_rank <= k
    GROUP BY k
    """,
)
def sim_lsh_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN evaluation harness AS A QUERY: recall@{{1,3,5}} of
    single-probe LSH against the exact brute-force ranking, in one pass
    — the measurement a pipeline runs before trusting an index
    configuration (plane count, probe fan-out) at scale. Both rankings
    are deterministic (fixed seeded planes, 6-place rounding + id
    tiebreaks), so unlike the trained-index certificates this recall
    CURVE itself grades row-level: n_exact, n_hit, and the recall ratio
    must match the oracle exactly. Top-5 is computed once per side; the
    three k cuts are a 3-row join, not three reruns. (Measured here: recall
    rises with k since bucket misses concentrate in the tail —
    the multiprobe variant exists to recover them.)"""
    emb = t_cpu(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, q, k=5).select(
        "query_id", "cand_id", F.col("rank").alias("exact_rank")
    )
    lsh = S.lsh_ann_topk(emb, q, _PLANES, k=5).select(
        "query_id", "cand_id", F.col("rank").alias("lsh_rank")
    )
    joined = exact.join(lsh, ["query_id", "cand_id"], "left")
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(3), F.lit(5))).alias("k")
    )
    hit = F.when(F.col("lsh_rank") <= F.col("k"), 1)
    return (
        joined.join(F.broadcast(ks), F.col("exact_rank") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.coalesce(F.sum(hit), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(F.sum(hit), F.lit(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("recall"),
        )
    )


def _sql_ivf_cell(vec_expr: str) -> str:
    dots = ", ".join(
        f"list_dot_product(CAST({vec_expr} AS DOUBLE[]), {_sql_plane(row)})"
        for row in _CENTROIDS
    )
    return f"(list_position([{dots}], list_max([{dots}])) - 1)"


def _ivf_index(spark: SparkSession, sf_dir: str):
    """The persisted IVF index for the fixed 8-cell demo centroids: an
    artifact built by ivf_bucket_corpus and written as parquet — the
    offline index-build step every real IVF deployment amortizes. Reading
    it back is lossless, so searches answer identically to inline
    bucketing (the oracle recomputes cells from scratch and still
    matches)."""
    from . import artifact

    def _build(path: str) -> None:
        emb = t_cpu(spark, sf_dir, "embeddings")
        S.ivf_bucket_corpus(emb, _CENTROIDS).write.mode("overwrite").parquet(path)

    return spark.read.parquet(artifact("crane_ivf8_index", sf_dir, _build))


@query(
    "sim_ivf_ann_topk",
    oracle=f"""
    WITH celled AS (
      SELECT vec_id, embedding, {_sql_ivf_cell('embedding')} AS cell FROM embeddings
    )
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             round({SQL_COSINE}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY round({SQL_COSINE}, 6) DESC, b.vec_id) AS rank
      FROM (SELECT * FROM celled WHERE vec_id < 10) a
      JOIN celled b ON a.cell = b.cell AND a.vec_id <> b.vec_id
    ) WHERE rank <= 3
    """,
)
def sim_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the inverted-file scale path next to LSH): vectors
    assigned to the nearest of 16 fixed centroid directions (argmax dot),
    search probes only the query's cell. Cell assignment is a row-local
    argmax both engines compute identically. The corpus side reads the
    persisted inverted file (_ivf_index) — index build amortized, search
    measured."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    return S.ivf_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        _CENTROIDS,
        k=3,
        bucketed=_ivf_index(spark, sf_dir),
    )


_SQL_IVF_DOTS = "[" + ", ".join(
    f"list_dot_product(CAST(embedding AS DOUBLE[]), {_sql_plane(row)})"
    for row in _CENTROIDS
) + "]"


@query(
    "sim_ivf_nprobe_topk",
    oracle=f"""
    WITH dotted AS (
      SELECT vec_id, embedding, {_SQL_IVF_DOTS} AS dots FROM embeddings
    ),
    corpus AS (
      SELECT vec_id, embedding,
             (list_position(dots, list_max(dots)) - 1) AS cell
      FROM dotted
    ),
    probes AS (
      SELECT vec_id, embedding,
             unnest(list_transform(
               list_slice(list_sort(list_transform(
                 dots, (d, i) -> {{'d': -d, 'c': i - 1}})), 1, 2),
               s -> s.c)) AS cell
      FROM dotted WHERE vec_id < 10
    )
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             round({SQL_COSINE}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY round({SQL_COSINE}, 6) DESC, b.vec_id) AS rank
      FROM probes a JOIN corpus b ON a.cell = b.cell AND a.vec_id <> b.vec_id
    ) WHERE rank <= 3
    """,
)
def sim_ivf_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN (nprobe=2): each query searches its two nearest
    centroid cells instead of one, recovering boundary-loss recall for ~2×
    candidate cost. Probe cells come from operators.similarity.probe_cells
    — an INDEX-based top-nprobe (sort (dot, cell) pairs, tie toward the
    lower cell index) — and the oracle re-derives the identical recipe
    with a DuckDB two-arg lambda over ('d': -dot, 'c': index) structs,
    so exactly-tied centroid dots probe the same two DISTINCT cells on
    both engines (the old value-based list_position recipe collapsed ties
    to one doubly-joined cell and would hash-diverge). Corpus side reads
    the persisted inverted file (_ivf_index)."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    return S.ivf_ann_topk_nprobe(
        emb,
        emb.filter(F.col("vec_id") < 10),
        _CENTROIDS,
        k=3,
        nprobe=2,
        bucketed=_ivf_index(spark, sf_dir),
    )


@query(
    "sim_ivf_recall_at_k",
    oracle=f"""
    WITH dotted AS (
      SELECT vec_id, embedding, {_SQL_IVF_DOTS} AS dots FROM embeddings
    ),
    corpus AS (
      SELECT vec_id, embedding,
             (list_position(dots, list_max(dots)) - 1) AS cell
      FROM dotted
    ),
    exact AS (
      SELECT query_id, cand_id, rank FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY round({SQL_COSINE}, 6) DESC,
                                           b.vec_id) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) a
        JOIN embeddings b ON a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ),
    probes AS (
      SELECT np, vec_id, embedding,
             unnest(list_transform(
               list_slice(list_sort(list_transform(
                 dots, (d, i) -> {{'d': -d, 'c': i - 1}})), 1, np),
               s -> s.c)) AS cell
      FROM dotted CROSS JOIN (SELECT unnest([1, 2, 4]) AS np)
      WHERE vec_id < 10
    ),
    ann AS (
      SELECT np, query_id, cand_id, rank FROM (
        SELECT a.np, a.vec_id AS query_id, b.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY a.np, a.vec_id
                                  ORDER BY round({SQL_COSINE}, 6) DESC,
                                           b.vec_id) AS rank
        FROM probes a JOIN corpus b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ),
    joined AS (
      SELECT np, e.query_id, e.rank AS exact_rank, a.rank AS ann_rank
      FROM exact e CROSS JOIN (SELECT unnest([1, 2, 4]) AS np)
      LEFT JOIN ann a USING (np, query_id, cand_id)
    ),
    ks AS (SELECT unnest([1, 3, 5]) AS k)
    SELECT CAST(np AS BIGINT) AS nprobe, k,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COALESCE(SUM(CASE WHEN ann_rank <= k THEN 1 END), 0) AS BIGINT)
             AS n_hit,
           round(CAST(COALESCE(SUM(CASE WHEN ann_rank <= k THEN 1 END), 0)
                      AS DOUBLE) / COUNT(*), 4) AS recall
    FROM joined JOIN ks ON exact_rank <= k
    GROUP BY np, k
    """,
)
def sim_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning SURFACE as a query — recall@{{1,3,5}} × nprobe
    {{1,2,4}} against the exact brute-force ranking: the measurement that
    decides how many cells to probe before trusting an IVF deployment at
    scale (the LSH twin is sim_lsh_recall_at_k; sim_ivf_index_health
    watches the same index's cell balance). Recall must be monotone
    non-decreasing in nprobe by construction (each probe set is a
    superset of the last — the probe order is the deterministic
    index-based top-nprobe of operators.similarity.probe_cells), and the
    curve shows exactly how much boundary-loss each extra probe buys
    back. All three probe levels come from ONE search of the persisted
    inverted file (_ivf_index — index build amortized, search measured):
    probe_cells' probe list has the prefix property, so candidates are
    scored once at the widest probe and each level is a probe-rank
    filter — 3x fewer cell joins and cosine evaluations than separate
    searches, bit-identical rankings. The exact baseline is the
    standard bounded 10-query broadcast crossJoin. Like
    the LSH curve, every ranking is deterministic (6-place rounding +
    id tiebreaks), so the recall surface itself grades row-level."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    idx = _ivf_index(spark, sf_dir)
    exact = S.cosine_topk(emb, q, k=5).select(
        "query_id", "cand_id", F.col("rank").alias("exact_rank")
    )
    nps = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(4))).alias("np_")
    ).select(F.col("np_").cast("long").alias("nprobe"))
    # ONE search at the widest probe: probe_cells has the prefix property
    # (top-np cells = first np of the top-4 list), so each candidate is
    # scored ONCE, tagged with the probe rank that found it, and the
    # per-nprobe candidate sets are pr < np filters over that single
    # scored relation — 3x fewer cell joins and cosine evaluations than
    # three separate searches, bit-identical rankings.
    from ..functions import dot, l2norm

    qbase = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        l2norm("embedding").alias("qn"),
    ).filter(F.col("qn") > 0)
    qprobed = S.coarse_dots(qbase, _CENTROIDS, "qvec").select(
        "query_id",
        "qvec",
        "qn",
        F.posexplode(S.probe_cells(F.col("__dots"), 4)).alias("pr", "cell"),
    )
    scored = (
        qprobed.join(idx, "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "pr",
            "cand_id",
            F.round(
                dot("qvec", "cvec") / (F.col("qn") * F.col("cn")), 6
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window as W

    wnp = W.partitionBy("nprobe", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    ann = (
        scored.join(F.broadcast(nps), F.col("pr") < F.col("nprobe"))
        .withColumn("ann_rank", F.row_number().over(wnp))
        .filter(F.col("ann_rank") <= 5)
        .select("nprobe", "query_id", "cand_id", "ann_rank")
    )
    joined = exact.crossJoin(F.broadcast(nps)).join(
        ann, ["nprobe", "query_id", "cand_id"], "left"
    )
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(3), F.lit(5))).alias("k")
    )
    hit = F.when(F.col("ann_rank") <= F.col("k"), 1)
    return (
        joined.join(F.broadcast(ks), F.col("exact_rank") <= F.col("k"))
        .groupBy("nprobe", "k")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.coalesce(F.sum(hit), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(F.sum(hit), F.lit(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("recall"),
        )
    )


@query(
    "sim_ivf_filtered_topk",
    oracle=f"""
    WITH celled AS (
      SELECT vec_id, embedding, label, {_sql_ivf_cell('embedding')} AS cell
      FROM embeddings
    )
    SELECT query_id, cand_id, cand_label, cos_sim, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             b.label AS cand_label,
             round({SQL_COSINE}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY round({SQL_COSINE}, 6) DESC,
                                         b.vec_id) AS rank
      FROM (SELECT * FROM celled WHERE vec_id < 10) a
      JOIN celled b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      WHERE b.label % 2 = 0
    ) WHERE rank <= 3
    """,
)
def sim_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the production ANN problem most vector
    stores handle badly: top-k neighbors AMONG ROWS MATCHING A
    PREDICATE (here label % 2 = 0 — a metadata filter at ~50%
    selectivity). Dedicated ANN systems post-filter (retrieve k', drop
    non-matching, suffer a recall cliff when the filter is selective)
    or maintain per-filter indexes; relationally the filter simply
    composes — the predicate lands on the METADATA scan (parquet
    pushdown) and a hash semi-join restricts the persisted inverted
    file to matching ids BEFORE the cell equi-join, so the candidate
    set is exactly the matching rows of the probed cell and ranks are
    computed over the filtered population directly. No recall cliff, no
    extra index, and at 100 TB the filter REDUCES the join input
    instead of inflating k'. Same persisted index (_ivf_index), same
    deterministic 6-place rounding + id tiebreaks as the unfiltered
    sim_ivf_ann_topk, so the filtered ranking grades row-level."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    matching = emb.filter(F.col("label") % 2 == 0).select(
        F.col("vec_id").alias("cand_id")
    )
    filtered_index = _ivf_index(spark, sf_dir).join(
        matching, "cand_id", "semi"
    )
    return S.ivf_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        _CENTROIDS,
        k=3,
        bucketed=filtered_index,
    ).join(
        t_cpu(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("cand_label"),
        ),
        "cand_id",
    ).select("query_id", "cand_id", "cand_label", "cos_sim", "rank")


_CENTROIDS64 = S.hyperplanes(64, 64, seed="crane-ivf64")


def _sql_ivf_cell64(vec_expr: str) -> str:
    dots = ", ".join(
        f"list_dot_product(CAST({vec_expr} AS DOUBLE[]), {_sql_plane(row)})"
        for row in _CENTROIDS64
    )
    return f"(list_position([{dots}], list_max([{dots}])) - 1)"


# ONE oracle for every query that must serve the k=64-IVF coarse top-3
# answer contract — the relational batch path, the Arrow batch path, and
# the streaming serving path (stream_ivf_query_topk) all grade against
# this literal, so "the same row-level oracle" is a shared definition,
# not three hand-synced copies.
ORACLE_IVF_COARSE_TOPK: str = f"""
    WITH celled AS (
      SELECT vec_id, embedding, {_sql_ivf_cell64('embedding')} AS cell FROM embeddings
    )
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             round({SQL_COSINE}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY round({SQL_COSINE}, 6) DESC, b.vec_id) AS rank
      FROM (SELECT * FROM celled WHERE vec_id < 10) a
      JOIN celled b ON a.cell = b.cell AND a.vec_id <> b.vec_id
    ) WHERE rank <= 3
    """


@query("sim_ivf_rel_coarse_topk", oracle=ORACLE_IVF_COARSE_TOPK)
def sim_ivf_rel_coarse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-k IVF (k=64 cells) through the coarse quantizer
    (operators/similarity.py coarse_dots): the centroids ride a
    single-row broadcast matrix relation, crossJoined in (bounded: ONE
    row) and folded per-row with F.transform — so the physical plan is
    O(1) in k (measured 18 KB vs 294 KB for inlined centroid literals
    at k=64). This is the shape a billion-vector IVF needs: centroids
    are DATA in a broadcast variable, not plan text. Cell assignment is
    a deterministic row-local argmax (first-occurrence max → low-index
    tiebreak), so the oracle re-derives cells with the same 64 inlined
    plane literals and the grade is row-level, not a certificate."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    return S.ivf_ann_topk(
        emb, emb.filter(F.col("vec_id") < 10), _CENTROIDS64, k=3
    )


@query("sim_ivf_arrow_coarse_topk", oracle=ORACLE_IVF_COARSE_TOPK)
def sim_ivf_arrow_coarse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ARROW production fast path under the correctness gate: the
    corpus-side coarse assignment — the bulk stage that dominates a
    billion-vector index build — runs through ``ivf_assign_arrow`` (one
    vectorized ``np.add.accumulate`` fold per Arrow batch, 13× the
    interpreted relational path at 100× data, DESIGN.md), and the result
    must hash-match the SAME row-level oracle as `sim_ivf_rel_coarse_topk`
    — DuckDB re-deriving every cell from the 64 inlined plane literals.
    This is only
    possible because the exact fold is the IDENTICAL association order
    as Catalyst's ``aggregate`` and DuckDB's ``list_dot_product``
    (bitwise-proven in tests/test_kmeans_ivf.py on a cancellation
    fixture where the order decides the argmax) — i.e. the fast path is
    graded as CORRECT, not merely benchmarked as fast. The query side
    (10 vectors) buckets relationally — bit-identical cells by the same
    argument — and the within-cell search is the shared deterministic
    cosine top-k."""
    from ..functions import l2norm

    emb = t_cpu(spark, sf_dir, "embeddings")
    cells = S.ivf_assign_arrow(emb, _CENTROIDS64)
    bucketed = (
        emb.select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("cvec"),
            l2norm("embedding").alias("cn"),
        )
        .filter(F.col("cn") > 0)
        .join(cells.withColumnRenamed("vec_id", "cand_id"), "cand_id")
    )
    return S.ivf_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        _CENTROIDS64,
        k=3,
        bucketed=bucketed,
    )


def _ivf64_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted LARGE-K (64-cell) inverted file — the at-rest artifact `stream_ivf_ingest` appends to
    and `stream_ivf_query_topk` serves from. An artifact like
    `_ivf_index`; the health query below audits it in place."""
    from . import artifact

    def _build(path: str) -> None:
        emb = t_cpu(spark, sf_dir, "embeddings")
        S.ivf_bucket_corpus(emb, _CENTROIDS64).write.mode(
            "overwrite"
        ).parquet(path)

    return spark.read.parquet(artifact("crane_ivf64_index", sf_dir, _build))


def _trained_ivf_index(
    spark: SparkSession, sf_dir: str, model: str, emb: DataFrame, centroids
) -> DataFrame:
    """The persisted TRAINED inverted file of ``emb`` under the trained
    ``centroids``, keyed on the model's name — the `_ivf_index` pattern
    applied to the trained-centroid serving queries: a production
    deployment buckets the corpus once when the model lands (the offline
    index build) and every search thereafter reads the at-rest artifact.
    Reading back is lossless (float/double/int columns), so searches
    answer identically to inline bucketing — the oracles recompute cells
    from scratch and still match."""
    from . import artifact

    def _build(path: str) -> None:
        S.ivf_bucket_corpus(emb, centroids).write.mode("overwrite").parquet(
            path
        )

    return spark.read.parquet(
        artifact("crane_ivf_trained_index", sf_dir, _build, model)
    )


@query(
    "sim_ivf_index_health",
    oracle=f"""
    WITH celled AS (
      SELECT vec_id, {_sql_ivf_cell64('embedding')} AS cell
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[]))) > 0
    ),
    per AS (
      SELECT CAST(cell AS INTEGER) AS cell,
             CAST(COUNT(*) AS BIGINT) AS n_index,
             CAST(SUM(CASE WHEN vec_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new
      FROM celled GROUP BY cell
    )
    SELECT cell, n_index, n_new,
           round(n_index / CAST(SUM(n_index) OVER () AS DOUBLE), 6)
             AS share_index,
           round(n_new / CAST(SUM(n_new) OVER () AS DOUBLE), 6) AS share_new,
           round(abs(n_new / CAST(SUM(n_new) OVER () AS DOUBLE)
                     - n_index / CAST(SUM(n_index) OVER () AS DOUBLE)), 6)
             AS drift,
           n_index * COUNT(*) OVER () > 2 * SUM(n_index) OVER () AS hot
    FROM per
    """,
)
def sim_ivf_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF INDEX HEALTH — the operational complement of
    `stream_ivf_ingest`: a deployment
    that streams arrivals into an inverted file must WATCH the file, or
    cell skew quietly destroys both recall (hot cells over-probed) and
    latency (the hot cell is the straggler in every search). One scan of
    the persisted 64-cell index (`_ivf64_index`) produces the per-cell
    ledger: inventory size, the share of the newest arrival window in it
    (newcomers = vec_id % 4 — the `dedup_index_incremental_merge`
    convention), the |window-share − index-share| DRIFT (sustained drift
    = the data moved; retrain the centroids), and a HOT flag (cell > 2×
    the mean active-cell size = split/re-balance candidate; the
    comparison is pure integer cross-multiplication, no float
    threshold). Shapes for 100 TB: groupBy(cell) is a 64-group partial
    agg, the totals are an unpartitioned window over 64 ROWS (post-agg —
    never over the corpus), and both engines derive every number from
    exact integer counts (shares/drift are single IEEE divisions of
    equal ints, rounded 6 on both sides). Zero-norm vectors are outside
    the index by construction (`ivf_bucket_corpus` drops them), so the
    oracle applies the same guard."""
    from pyspark.sql import Window

    idx = _ivf64_index(spark, sf_dir).select("cand_id", "cell")
    per = idx.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_index"),
        F.sum(F.when(F.col("cand_id") % 4 == 0, 1).otherwise(0)).alias("n_new"),
    )
    w = Window.partitionBy()  # 64 post-agg rows — never the corpus
    tot = F.sum("n_index").over(w)
    tot_new = F.sum("n_new").over(w)
    n_cells = F.count(F.lit(1)).over(w)
    return per.select(
        F.col("cell").cast("int").alias("cell"),
        "n_index",
        "n_new",
        F.round(F.col("n_index") / tot, 6).alias("share_index"),
        F.round(F.col("n_new") / tot_new, 6).alias("share_new"),
        F.round(
            F.abs(F.col("n_new") / tot_new - F.col("n_index") / tot), 6
        ).alias("drift"),
        (F.col("n_index") * n_cells > 2 * tot).alias("hot"),
    )


def _trained64(spark: SparkSession, sf_dir: str):
    """The k=64 / 2-iteration k-means model (an artifact, trained by the
    exact, engine-deterministic `kmeans_fit`) and its not-null corpus
    frame — ONE definition for the retrain loop and both trained serving
    queries, so the training filter / k / iters cannot drift between
    queries whose oracles share one CTE re-derivation."""
    from . import artifact

    emb = t_cpu(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    model = artifact(
        "crane_kmeans64_exact_model",
        sf_dir,
        lambda: S.kmeans_fit(
            emb.filter(S.l2norm("embedding") > 0), k=64, iters=2
        ),
        directory=False,
    )
    return emb, model


def _sql_kmeans64_exact_ctes() -> str:
    """The CTE chain re-deriving `kmeans_fit`'s k=64 / 2-iteration
    trained centroids (`pq_fit` with m=1) and the rebuilt inverted file
    IN SQL — what makes the retrain loop's after-side integers
    two-sided. Mirrors the trainer move for move: seeds = the 64
    lowest-first-occurrence-id distinct vectors; each training
    assignment = argmin L2 via argmax(dot − ||c||²/2) with the
    lowest-cell tiebreak (`pq_codes`); each mean = per-dimension exact
    2⁴⁸-scaled integer decimal sums → one decimal→double conversion, one
    IEEE division, one exact exponent shift (empty cells keep the previous
    centroid); the FINAL index assignment is plain-dot argmax — the
    ivf_bucket_corpus discipline. Requires `celled` (vec_id, embedding,
    …) in scope; emits `trained` (cell, cvec) and `a3` (vec_id,
    embedding, cell)."""
    scale = "281474976710656.0"  # 2^48 — similarity.EXACT_COMPONENT_SCALE
    mean_list = ", ".join(
        f"CAST(SUM(CAST(embedding[{d + 1}] * {scale} AS DECIMAL(38,0)))"
        f" AS DOUBLE) / COUNT(*) / {scale}"
        for d in range(64)
    )

    def train_assign(cent: str, name: str) -> str:
        return f"""
    {name}_rk AS (
      SELECT v.vec_id, v.embedding, c.cell,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
               list_dot_product(CAST(v.embedding AS DOUBLE[]), c.cvec)
               - list_dot_product(c.cvec, c.cvec) / 2.0 DESC, c.cell) AS rk
      FROM celled v, {cent} c
    ),
    {name} AS (SELECT vec_id, embedding, cell FROM {name}_rk WHERE rk = 1)"""

    return f"""
    seeds AS (
      SELECT CAST(embedding AS DOUBLE[]) AS cvec,
             ROW_NUMBER() OVER (ORDER BY fid) - 1 AS cell
      FROM (SELECT embedding, MIN(vec_id) AS fid FROM celled
            GROUP BY embedding ORDER BY fid LIMIT 64)
    ),
    {train_assign('seeds', 'a1')},
    m1 AS (SELECT cell, [{mean_list}] AS cvec FROM a1 GROUP BY cell),
    m1f AS (SELECT s.cell, COALESCE(m.cvec, s.cvec) AS cvec
            FROM seeds s LEFT JOIN m1 m USING (cell)),
    {train_assign('m1f', 'a2')},
    m2 AS (SELECT cell, [{mean_list}] AS cvec FROM a2 GROUP BY cell),
    trained AS (SELECT f.cell, COALESCE(m.cvec, f.cvec) AS cvec
                FROM m1f f LEFT JOIN m2 m USING (cell)),
    a3_rk AS (
      SELECT v.vec_id, v.embedding, c.cell,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
               list_dot_product(CAST(v.embedding AS DOUBLE[]), c.cvec)
               DESC, c.cell) AS rk
      FROM celled v, trained c
    ),
    a3 AS (SELECT vec_id, embedding, cell FROM a3_rk WHERE rk = 1)"""


@query(
    "sim_ivf_retrain_loop",
    oracle=f"""
    WITH celled AS (
      SELECT vec_id, embedding, {_sql_ivf_cell64('embedding')} AS cell
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[]))) > 0
    ),
    per AS (SELECT cell, COUNT(*) AS n FROM celled GROUP BY cell),
    health AS (
      SELECT CAST(MAX(n) AS BIGINT) AS max_before,
             CAST(COALESCE(SUM(CASE WHEN n * (SELECT COUNT(*) FROM per)
                                         > 2 * (SELECT SUM(n) FROM per)
                                    THEN 1 END), 0) AS BIGINT) AS hot_before
      FROM per
    ),
    {_sql_kmeans64_exact_ctes()},
    pera AS (SELECT cell, COUNT(*) AS n FROM a3 GROUP BY cell),
    healtha AS (
      SELECT CAST(MAX(n) AS BIGINT) AS max_after,
             CAST(COALESCE(SUM(CASE WHEN n * (SELECT COUNT(*) FROM pera)
                                         > 2 * (SELECT SUM(n) FROM pera)
                                    THEN 1 END), 0) AS BIGINT) AS hot_after
      FROM pera
    ),
    exact AS (
      SELECT query_id, cand_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY round({SQL_COSINE}, 6) DESC,
                                           b.vec_id) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) a
        JOIN embeddings b ON a.vec_id <> b.vec_id
      ) WHERE rank <= 3
    ),
    annb AS (
      SELECT query_id, cand_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY round({SQL_COSINE}, 6) DESC,
                                           b.vec_id) AS rank
        FROM (SELECT * FROM celled WHERE vec_id < 10) a
        JOIN celled b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      ) WHERE rank <= 3
    ),
    anna AS (
      SELECT query_id, cand_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY round({SQL_COSINE}, 6) DESC,
                                           b.vec_id) AS rank
        FROM (SELECT * FROM a3 WHERE vec_id < 10) a
        JOIN a3 b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      ) WHERE rank <= 3
    ),
    hits AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT)
         FROM exact e JOIN annb USING (query_id, cand_id)) AS n_hit_before,
        (SELECT CAST(COUNT(*) AS BIGINT)
         FROM exact e JOIN anna USING (query_id, cand_id)) AS n_hit_after
    )
    SELECT (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM exact)
             AS n_queries,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
           h.max_before, h.hot_before, t.n_hit_before,
           ha.max_after, ha.hot_after, t.n_hit_after,
           ha.max_after <= h.max_before AS balance_improved,
           t.n_hit_after >= t.n_hit_before AS recall_not_worse,
           10 * t.n_hit_after >= 4 * (SELECT COUNT(*) FROM exact)
             AS recall_retrained_ok
    FROM health h CROSS JOIN healtha ha CROSS JOIN hits t
    """,
)
def sim_ivf_retrain_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full operational loop of an IVF index — HEALTH →
    RETRAIN → RECALL, tied into one graded query, TWO-SIDED end to
    end: audit the persisted fixed-hyperplane 64-cell index
    (`_ivf64_index` — max cell size and hot-cell count, the
    `sim_ivf_index_health` signals), re-run the distributed Lloyd's
    k-means trainer, which is ENGINE-DETERMINISTIC (`kmeans_fit`, k=64,
    2 iterations — per-dimension 2⁴⁸-scaled integer decimal sums make
    the trained centroids bit-reproducible and SQL-re-derivable;
    validated 64/64 centroid rows bit-identical against the DuckDB
    re-derivation at sf0.01 and sf0.1), rebuild the
    inverted file, and emit the loop's WHOLE ledger as oracle-computed
    values: max_before/hot_before/n_hit_before AND
    max_after/hot_after/n_hit_after are exact integers the oracle
    re-derives (its CTE chain replays seeds → two argmin-L2 assignment
    + exact-mean iterations → the final plain-dot bucketing —
    `_sql_kmeans64_exact_ctes`), and the three outcome flags
    (`balance_improved`, `recall_not_worse`, `recall_retrained_ok` —
    the ≥0.4·n_exact floor as integer cross-multiplication) are now
    COMPUTED ON BOTH SIDES from those integers — no literal TRUE
    anywhere in the oracle; a drifted centroid, a flipped assignment
    tie, or a lost recall hit mismatches the row. At 100 TB
    this is the production retrain playbook: the health scan is a
    64-group agg, training moves only k×dim decimal sums per iteration
    (map-side partials, O(k·dim·partitions) shuffle), the rebuild is
    one assignment pass, and the recall gate is a bounded 10-query
    probe — nothing in the loop scales worse than one corpus scan."""
    emb, trained = _trained64(spark, sf_dir)

    from pyspark.sql import Window

    def health(idx: DataFrame, suffix: str) -> DataFrame:
        per = idx.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        w = Window.partitionBy()  # 64 post-agg rows, never the corpus
        flagged = per.select(
            "n",
            (
                F.col("n") * F.count(F.lit(1)).over(w)
                > 2 * F.sum("n").over(w)
            ).alias("hot"),
        )
        return flagged.agg(
            F.max("n").cast("long").alias(f"max_{suffix}"),
            F.sum(F.col("hot").cast("long")).cast("long").alias(f"hot_{suffix}"),
        )

    before = _ivf64_index(spark, sf_dir)
    # Materialize the rebuilt inverted file ONCE: it feeds two plan
    # branches (health(after) and the retrained ANN's corpus side), and
    # each branch would otherwise replan + re-execute the k=64
    # broadcast-matrix argmin assignment over the corpus. `before` stays
    # lazy — it is a parquet fixture read, cheap per branch. Values are
    # preserved exactly; the persisted RDD is swept by
    # release_query_caches after grading.
    after = S.ivf_bucket_corpus(emb, trained).localCheckpoint()
    q = emb.filter(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, q, k=3).select("query_id", "cand_id")
    annb = S.ivf_ann_topk(
        emb, q, _CENTROIDS64, k=3, bucketed=before
    ).select("query_id", "cand_id", F.lit(1).alias("__hb"))
    anna = S.ivf_ann_topk(
        emb, q, trained, k=3, bucketed=after
    ).select("query_id", "cand_id", F.lit(1).alias("__ha"))
    rec = (
        exact.join(annb, ["query_id", "cand_id"], "left")
        .join(anna, ["query_id", "cand_id"], "left")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact"),
            F.count("__hb").cast("long").alias("n_hit_before"),
            F.count("__ha").cast("long").alias("n_hit_after"),
        )
    )
    return (
        rec.crossJoin(F.broadcast(health(before, "before")))
        .crossJoin(F.broadcast(health(after, "after")))
        .select(
            "n_queries",
            "n_exact",
            "max_before",
            "hot_before",
            "n_hit_before",
            "max_after",
            "hot_after",
            "n_hit_after",
            (F.col("max_after") <= F.col("max_before")).alias(
                "balance_improved"
            ),
            (F.col("n_hit_after") >= F.col("n_hit_before")).alias(
                "recall_not_worse"
            ),
            # 0.4 recall floor as integer cross-multiplication (no float
            # threshold): 10 * hits >= 4 * n_exact  <=>  recall >= 0.4
            (F.col("n_hit_after") * 10 >= 4 * F.col("n_exact")).alias(
                "recall_retrained_ok"
            ),
        )
    )


@query(
    "sim_ivf_trained_topk",
    oracle=f"""
    WITH celled AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[]))) > 0
    ),
    {_sql_kmeans64_exact_ctes()}
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             round({SQL_COSINE}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY round({SQL_COSINE}, 6) DESC,
                                         b.vec_id) AS rank
      FROM (SELECT * FROM a3 WHERE vec_id < 10) a
      JOIN a3 b ON a.cell = b.cell AND a.vec_id <> b.vec_id
    ) WHERE rank <= 3
    """,
)
def sim_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED-index ANN with a ROW-LEVEL grade — the query the exact
    trainer makes possible: the k=64 / 2-iteration model is
    bit-identical to the oracle's CTE re-derivation, so the SERVED
    ANSWERS themselves — (query_id, cand_id, cos_sim, rank) over the
    trained inverted file — grade hash-exact, the same row-level
    contract the fixed-hyperplane paths (`sim_ivf_rel_coarse_topk`)
    always had. This is the
    production serving configuration: data-driven cells (balanced by
    Lloyd's, the retrain loop's measured max-cell improvement) under
    the standard cell-equi-join + within-cell exact-cosine top-3. At
    100 TB: identical plan shape to every IVF query — broadcast
    centroid matrix, O(1) plan in k, candidates pruned to the query's
    cell; training cost is the retrain loop's O(k·dim·partitions)
    shuffle per iteration, paid offline."""
    emb, trained = _trained64(spark, sf_dir)
    return S.ivf_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        trained,
        k=3,
        bucketed=_trained_ivf_index(spark, sf_dir, "exact64", emb, trained),
    )


@query(
    "sim_ivf_trained_nprobe_topk",
    oracle=f"""
    WITH celled AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[]))) > 0
    ),
    {_sql_kmeans64_exact_ctes()},
    qprobe AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT v.vec_id, v.embedding, c.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_dot_product(CAST(v.embedding AS DOUBLE[]), c.cvec)
                 DESC, c.cell) AS pr
        FROM (SELECT * FROM celled WHERE vec_id < 10) v, trained c
      ) WHERE pr <= 2
    )
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             round({SQL_COSINE}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY round({SQL_COSINE}, 6) DESC,
                                         b.vec_id) AS rank
      FROM qprobe a JOIN a3 b ON a.cell = b.cell AND a.vec_id <> b.vec_id
    ) WHERE rank <= 3
    """,
)
def sim_ivf_trained_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe search on the TRAINED index, row-level graded — the
    boundary-recall knob (`ivf_ann_topk_nprobe`: each query probes its
    2 nearest trained cells — descending centroid dot, low-cell
    tiebreak, exactly the `probe_cells` contract) composed with the
    `kmeans_fit` model the oracle can re-derive: the oracle
    replays the trainer's CTE chain, takes each query's top-2 trained
    cells by dot via the same deterministic ordering, and re-ranks the
    union of both cells' candidates — so the nprobe mechanics
    themselves (probe selection, disjoint-cell candidate union, exact
    within-probe cosine top-3) grade hash-exact on a DATA-DRIVEN index,
    not just the fixed-hyperplane one. At 100 TB: candidates are
    2×avg-cell ≈ corpus/32 per query — the recall/cost dial
    `sim_ivf_recall_at_k` measures, here in its production (trained)
    configuration."""
    emb, trained = _trained64(spark, sf_dir)
    return S.ivf_ann_topk_nprobe(
        emb,
        emb.filter(F.col("vec_id") < 10),
        trained,
        k=3,
        nprobe=2,
        bucketed=_trained_ivf_index(spark, sf_dir, "exact64", emb, trained),
    )


@query(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH sets AS (
      SELECT doc_id, list_distinct({SQL_SHINGLES}) AS g
      FROM (
        SELECT doc_id, {SQL_TOKS} AS tk FROM documents WHERE doc_id < 100
      ) WHERE len(tk) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.g, b.g))::DOUBLE
                 / len(list_distinct(a.g || b.g)), 6) AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.g, b.g))::DOUBLE
                / len(list_distinct(a.g || b.g)), 6) >= 0.3
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-token shingle) Jaccard near-dup pairs over a bounded
    id window — the ground-truth measure the minhash-LSH pipeline
    approximates; all-pairs on purpose (candidate generation is the LSH
    query's job), kept bounded so cost is a constant ~5k pairs."""
    docs = t_cpu(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    docs = docs.filter(F.size(tokens("text")) >= 3)
    sets_df = docs.select(
        F.col("doc_id"), tokens("text").alias("toks")
    ).select("doc_id", F.array_distinct(D.token_shingles(F.col("toks"))).alias("g"))
    a = sets_df.select(F.col("doc_id").alias("id_a"), F.col("g").alias("ga"))
    b = sets_df.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.3)
    )


@query(
    "dedup_shingle_containment_top1",
    oracle=f"""
    WITH sets AS (
      SELECT doc_id, list_distinct({SQL_SHINGLES}) AS g
      FROM (
        SELECT doc_id, {SQL_TOKS} AS tk FROM documents WHERE doc_id < 100
      ) WHERE len(tk) >= 3
    )
    SELECT id_a, id_b, containment FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(len(list_intersect(a.g, b.g))::DOUBLE / len(a.g), 6)
               AS containment,
             ROW_NUMBER() OVER (
               PARTITION BY a.doc_id
               ORDER BY round(len(list_intersect(a.g, b.g))::DOUBLE
                              / len(a.g), 6) DESC, b.doc_id) AS rk
      FROM sets a JOIN sets b ON a.doc_id <> b.doc_id
    ) WHERE rk = 1
    """,
)
def dedup_shingle_containment_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT (|A∩B| / |A|) — the asymmetric companion to
    Jaccard, and the right metric for SUB-document duplication (a short
    doc fully quoted inside a long one scores containment 1.0 but
    Jaccard ≈ |A|/|B| → 0): for each document in the bounded probe
    window, its most-containing counterpart (top-1 by rounded score,
    id tiebreak). Threshold-free so the report shape is stable across
    corpora with no near-dup mass. Same bounding discipline as
    dedup_ngram_jaccard_pairs (doc_id < 100 — ground-truth tool; the
    scale path feeds the same metric from LSH candidate pairs)."""
    docs = t_cpu(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    docs = docs.filter(F.size(tokens("text")) >= 3)
    sets_df = docs.select(
        F.col("doc_id"), tokens("text").alias("toks")
    ).select("doc_id", F.array_distinct(D.token_shingles(F.col("toks"))).alias("g"))
    a = sets_df.select(F.col("doc_id").alias("id_a"), F.col("g").alias("ga"))
    b = sets_df.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gb"))
    cont = F.round(
        F.size(F.array_intersect("ga", "gb")).cast("double") / F.size("ga"), 6
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("id_a").orderBy(F.col("containment").desc(), F.col("id_b"))
    )
    return (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", cont.alias("containment"))
        .withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


@query(
    "dedup_substring_window_pairs",
    oracle="""
    WITH p AS (
      SELECT doc_id, unnest(list_distinct(
               [list_min(hs[j:j+19]) FOR j IN range(1, len(hs) - 20 + 2)]
             )) AS wh
      FROM (
        SELECT doc_id,
               [md5(substring(text, i, 40))
                FOR i IN range(1, length(text) - 40 + 2)] AS hs
        FROM documents WHERE length(text) >= 59
      )
    ),
    ok AS (SELECT wh FROM p GROUP BY wh HAVING COUNT(*) <= 20),
    f AS (SELECT doc_id, wh FROM p WHERE wh IN (SELECT wh FROM ok))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           COUNT(*) AS n_shared_windows
    FROM f a JOIN f b ON a.wh = b.wh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def dedup_substring_window_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring duplicate detection by WINNOWED window hashing —
    the scalable stand-in for suffix-array substring dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better":
    cross-document verbatim spans matter even when whole-doc Jaccard is
    low), with the fingerprint sampling of Schleimer-Wilkerson-Aiken
    2003 (MOSS winnowing): md5 every 40-char window, keep the minimum
    hash of each 20-hash window. Selection is content-defined, so it
    carries the winnowing theorem's guarantee — ANY shared verbatim
    span >= 40+20-1 = 59 chars yields at least one shared fingerprint,
    at any alignment (a naive stride sampler is phase-locked and misses
    unaligned quotations). Pairs sharing a fingerprint are scored by
    distinct shared fingerprints. Scale shape: fingerprinting is
    row-local inside one projection (let-bound hash array, O(len) md5
    per doc); the candidate step is a hash-bucket equi self-join —
    never all-pairs — and fingerprints appearing in more than 20
    documents (boilerplate) are dropped before the join, same
    hot-bucket discipline as LSH banding, so no bucket can go
    quadratic. Reference parity: the reference has no substring dedup;
    north-star coverage per SURVEY.md §2.10."""
    docs = t_cpu(spark, sf_dir, "documents")
    return D.substring_window_pairs(
        docs, "doc_id", "text", width=40, window=20, max_docs_per_window=20
    )


@query(
    "text_dup_ngram_coverage",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {SQL_SHINGLES} AS g
      FROM (SELECT doc_id, {SQL_TOKS} AS tk FROM documents)
    ),
    cnt AS (
      SELECT doc_id, s, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(g) AS s FROM sh)
      GROUP BY doc_id, s
    ),
    d AS (
      SELECT doc_id, COALESCE(SUM(c) FILTER (c > 1), 0) AS dup
      FROM cnt GROUP BY doc_id
    )
    SELECT sh.doc_id, len(sh.g) AS n_ngrams,
           CAST(COALESCE(d.dup, 0) AS BIGINT) AS dup_ngrams,
           ROUND(COALESCE(d.dup, 0)::DOUBLE
                 / greatest(len(sh.g), 1), 6) AS dup_frac
    FROM sh LEFT JOIN d USING (doc_id)
    """,
)
def text_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-n-gram coverage (Rae et al. 2021 §A1.1,
    'fraction of characters in duplicate n-grams' — token-fraction form):
    the share of a document's 3-gram instances whose 3-gram occurs more
    than once in the SAME document. Complements text_repetition_topbigram
    (which scores only the single hottest bigram): a doc cycling through
    many different repeated phrases scores high here while its top-bigram
    fraction stays low. ZERO shuffle: duplicate mass is computed inside
    one projection by a run-length fold over the sorted shingle array
    (run hits 2 → both instances become duplicates, +2; each further
    repeat +1 — all-integer arithmetic, no float-order hazard), so at
    100 TB it streams through the scan; the oracle recomputes it
    relationally (unnest → per-doc counts → filtered sum)."""
    docs = t_cpu(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", D.token_shingles(tokens("text")).alias("g")
    )
    folded = sh.select(
        "doc_id",
        F.size("g").alias("n_ngrams"),
        X.dup_ngram_count(F.col("g")).alias("dup_ngrams"),
    )
    return folded.select(
        "doc_id",
        "n_ngrams",
        "dup_ngrams",
        F.round(
            F.col("dup_ngrams").cast("double")
            / F.greatest(F.col("n_ngrams"), F.lit(1)),
            6,
        ).alias("dup_frac"),
    )


@query(
    "sim_knn_label_eval",
    oracle=f"""
    WITH knn AS (
      SELECT query_id, cand_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY round({SQL_COSINE}, 6) DESC,
                                           b.vec_id) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < 50) a
        JOIN embeddings b ON a.vec_id <> b.vec_id
      ) WHERE rank <= 3
    ), votes AS (
      SELECT k.query_id, e.label AS cand_label, COUNT(*) AS cnt
      FROM knn k JOIN embeddings e ON k.cand_id = e.vec_id
      GROUP BY 1, 2
    ), pred AS (
      SELECT query_id, cand_label AS pred_label FROM (
        SELECT query_id, cand_label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cnt DESC, cand_label) AS rk
        FROM votes
      ) WHERE rk = 1
    )
    SELECT p.query_id, q.label AS true_label, p.pred_label,
           (q.label = p.pred_label) AS correct
    FROM pred p JOIN embeddings q ON p.query_id = q.vec_id
    """,
)
def sim_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classifier evaluation — the embedding-quality probe a pipeline
    runs before trusting vectors for semantic dedup or retrieval: for
    each query (vec_id < 50) take its exact cosine top-3 neighbors,
    majority-vote their labels (ties → smallest label, so the vote is
    engine-deterministic), and compare to the query's own label. Low kNN
    accuracy means the embedding space doesn't respect the labels and
    every downstream similarity op inherits that noise. Reuses the
    cosine_topk contract (6-place rounding, id tiebreak) so the neighbor
    set is the oracle's; the vote is one groupBy + window over |Q|·3 rows.
    Per-query verdict rows (not just the aggregate) so mispredictions
    are inspectable."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    hits = S.cosine_topk(emb, emb.filter(F.col("vec_id") < 50), k=3)
    labels = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("label").alias("cand_label")
    )
    votes = (
        hits.join(F.broadcast(labels), "cand_id")
        .groupBy("query_id", "cand_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("query_id").orderBy(
            F.col("cnt").desc(), F.col("cand_label")
        )
    )
    pred = (
        votes.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("cand_label").alias("pred_label"))
    )
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return pred.join(truth, "query_id").select(
        "query_id",
        "true_label",
        "pred_label",
        (F.col("true_label") == F.col("pred_label")).alias("correct"),
    )


def _kmeans8(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The k=8 / 2-iteration k-means model (an artifact) shared by
    semantic dedup, the trained IVF certificate and IVF-PQ: train once,
    serve every subsequent search — the production IVF lifecycle."""
    from . import artifact

    return artifact(
        "crane_kmeans8_model",
        sf_dir,
        lambda: S.kmeans_fit(t_cpu(spark, sf_dir, "embeddings"), k=8, iters=2),
        directory=False,
    )


def _pq_books(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """The 8x32 / 2-iteration PQ codebooks (an artifact) shared by the PQ
    and IVF-PQ queries."""
    from . import artifact

    return artifact(
        "crane_pq_codebooks",
        sf_dir,
        lambda: S.pq_fit(
            t_cpu(spark, sf_dir, "embeddings"), m=8, ksub=32, iters=2
        ),
        directory=False,
    )


def _pq_codes(spark: SparkSession, sf_dir: str, books) -> DataFrame:
    """The corpus encoded under ``books`` (8 codes/vector), persisted as
    an artifact — the offline index-build step a production ANN
    deployment amortizes (the codes file IS the index; at 100 TB it is
    ~1/32 the float corpus and the only thing the search reads). Reading
    back is lossless, so searches answer identically to inline encoding —
    the oracles recompute everything from scratch and still hash-match."""
    from . import artifact

    def _build(path: str) -> None:
        S.pq_encode(t_cpu(spark, sf_dir, "embeddings"), books).write.mode(
            "overwrite"
        ).parquet(path)

    return spark.read.parquet(artifact("crane_pq_codes", sf_dir, _build))


@query(
    "sim_ivf_kmeans_topk",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(3 * COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF: distributed Lloyd's k-means (2 iterations, 8 cells)
    learns data-driven centroids, then cell-restricted exact-cosine top-3
    for queries vec_id < 10. The trained model (a few KB of centroids) is
    cached per (corpus, k, iters) — train once, serve every subsequent
    search, the production IVF lifecycle.

    k-means is iterative and outside SQL, so the graded contract is a
    CERTIFICATE (same pattern as the HLL/KLL sketches): the query measures
    its own recall@3 against the exact brute-force top-3 on the bounded
    query set and asserts recall >= 0.5 — measured 0.80-0.83 across SFs
    for nprobe=1 over 8 trained cells. The model itself is exact and
    engine-deterministic (`kmeans_fit`), so the margin covers recall
    across scale factors, not centroid drift. The fixed-centroid variant
    sim_ivf_ann_topk carries the row-level oracle for the search
    machinery itself."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    centroids = _kmeans8(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    ivf = S.ivf_ann_topk(
        emb,
        queries,
        centroids,
        k=3,
        bucketed=_trained_ivf_index(spark, sf_dir, "k8", emb, centroids),
    ).select(
        "query_id", "cand_id", F.lit(1).alias("__hit")
    )
    exact = S.cosine_topk(emb, queries, k=3).select("query_id", "cand_id")
    # One left join over the exact baseline computes all three numbers in
    # a single pass — the |Q|x|corpus| exact subplan is the expensive part
    # and must not be evaluated twice.
    return (
        exact.join(ivf, ["query_id", "cand_id"], "left")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact"),
            F.count("__hit").alias("n_hits"),
        )
        .select(
            "n_queries",
            "n_exact",
            (F.col("n_hits") >= F.lit(0.5) * F.col("n_exact")).alias("recall_ok"),
        )
    )


@query(
    "sim_pq_adc_topk",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(3 * COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the FAISS IVF-PQ serving path): train
    8x32 per-subspace codebooks with distributed Lloyd's k-means
    (operators/similarity.py pq_fit), encode the corpus to 8 small codes
    per vector, score queries by asymmetric-distance LUT lookups, keep a
    50-candidate shortlist, re-rank it with exact cosine. Completes the
    ANN ladder (brute force -> LSH -> IVF -> PQ): where IVF prunes WHICH
    vectors are scored, PQ compresses HOW each one is scored — at 100 TB
    the 8-byte codes replace the 256-byte float rows in the hot scan, a
    32x read shrink, and scoring is m LUT adds instead of dim multiplies.
    Corpus-side work is row-local encoding against a one-row broadcast
    codebook matrix, then equi-joins + groupBy sums; the other
    crossJoins are query-bounded (the 10-query LUT build and the
    certificate's exact baseline).

    PQ training is iterative (outside SQL), so the graded contract is a
    recall CERTIFICATE in the sim_ivf_kmeans_topk pattern: recall@3 of
    the re-ranked shortlist against exact brute-force top-3 on the
    bounded query set, asserted >= 0.5 — measured 0.80 at sf0.01 AND
    sf0.1 (shortlist=50 over 500-5000 vectors). The codebooks are exact
    and engine-deterministic (`pq_fit`), so the margin covers recall
    across scale factors, not centroid drift. Exact-side row counts come
    from the oracle; recall_ok is the certificate bit."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    pq = S.pq_adc_topk(
        emb, queries, books, shortlist=50, k=3,
        codes=_pq_codes(spark, sf_dir, books),
    ).select(
        "query_id", "cand_id", F.lit(1).alias("__hit")
    )
    exact = S.cosine_topk(emb, queries, k=3).select("query_id", "cand_id")
    return (
        exact.join(pq, ["query_id", "cand_id"], "left")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact"),
            F.count("__hit").alias("n_hits"),
        )
        .select(
            "n_queries",
            "n_exact",
            (F.col("n_hits") >= F.lit(0.5) * F.col("n_exact")).alias("recall_ok"),
        )
    )


@query(
    "sim_ivfpq_topk",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(3 * COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production index: trained IVF cells x trained PQ
    codes (FAISS IVF8,PQ8x32 shape; operators/similarity.py
    ivfpq_topk). The coarse quantizer restricts each query to its 3
    nearest cells, PQ ADC scores only those survivors from their 8-byte
    codes, and the 50-candidate shortlist is re-ranked with exact
    cosine. Both models are the SAME cached artifacts the single-axis
    queries grade (sim_ivf_kmeans_topk's centroids, sim_pq_adc_topk's
    codebooks) — one training cost, three graded consumers, the
    production reuse pattern.

    Recall compounds both approximations, so the certificate bar stays
    at 0.5 while the measured value is 0.77 (sf0.1) / 0.93 (sf0.01)
    with nprobe=3; both models are exact, so the margin covers recall
    across scale factors, not centroid drift.
    Exact-side counts come from the oracle; recall_ok is the
    certificate bit."""
    emb = t_cpu(spark, sf_dir, "embeddings")
    centroids, books = _kmeans8(spark, sf_dir), _pq_books(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    # the coarse cells are the k=8 trained index sim_ivf_kmeans_topk reads
    cells = _trained_ivf_index(spark, sf_dir, "k8", emb, centroids)
    approx = S.ivfpq_topk(
        emb, queries, centroids, books,
        nprobe=3, shortlist=50, k=3,
        codes=_pq_codes(spark, sf_dir, books),
        cells=cells.select("cand_id", "cell"),
    ).select("query_id", "cand_id", F.lit(1).alias("__hit"))
    exact = S.cosine_topk(emb, queries, k=3).select("query_id", "cand_id")
    return (
        exact.join(approx, ["query_id", "cand_id"], "left")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact"),
            F.count("__hit").alias("n_hits"),
        )
        .select(
            "n_queries",
            "n_exact",
            (F.col("n_hits") >= F.lit(0.5) * F.col("n_exact")).alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_ALL_MARKERS = tuple(sorted({m for ms in X.LANG_MARKERS.values() for m in ms}))


def _sql_markers(markers: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{m}'" for m in markers) + "]"


def _sql_hits(markers: tuple[str, ...]) -> str:
    return f"len(list_filter(tk, x -> list_contains({_sql_markers(markers)}, x)))"


_SQL_LANG_CASE = (
    "CASE WHEN best = 0 THEN 'und' "
    + " ".join(
        f"WHEN score_{lang} = best THEN '{lang}'" for lang in X.LANG_MARKERS
    )
    + " END"
)


@query(
    "text_stats_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, {SQL_TOKS} AS tk FROM documents
    ),
    scored AS (
      SELECT doc_id, text, tk,
             {", ".join(f"{_sql_hits(m)} AS score_{lang}" for lang, m in X.LANG_MARKERS.items())},
             greatest({", ".join(f"{_sql_hits(m)}" for m in X.LANG_MARKERS.values())}) AS best,
             len(tk) AS ws_tokens,
             round({_sql_hits(_ALL_MARKERS)}::DOUBLE / greatest(len(tk), 1), 6) AS stopword_ratio,
             round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1), 6) AS punct_ratio,
             round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1), 6) AS upper_ratio
      FROM toks
    )
    SELECT doc_id,
           {_SQL_LANG_CASE} AS lang,
           ws_tokens,
           CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS bpe_ish_tokens,
           punct_ratio, upper_ratio, stopword_ratio,
           round((CASE WHEN ws_tokens BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
                 + least(stopword_ratio * 4, 0.4)
                 + greatest(0.2 - punct_ratio, 0.0), 6) AS quality,
           md5(array_to_string(list_sort(list_distinct(tk)), ' ')) AS fingerprint
    FROM scored
    """,
)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis: marker-stopword language-ID, whitespace +
    BPE-ish regex token counts, punctuation/uppercase/stopword ratios,
    composite quality score, order-insensitive content fingerprint. One
    projection per document — no shuffle, no UDF."""
    docs = t_cpu(spark, sf_dir, "documents")
    # inline(array(struct)): the Generate evaluates the full signal struct
    # once per row — independent select() columns would each re-tokenize.
    return docs.select("doc_id", F.inline(F.array(X.doc_stats_struct("text"))))


@query(
    "pipeline_curate_corpus",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, text, {SQL_TOKS} AS tk FROM documents
    ),
    scored AS (
      SELECT doc_id, source,
             len(tk) AS ws_tokens,
             round({_sql_hits(_ALL_MARKERS)}::DOUBLE / greatest(len(tk), 1), 6) AS stopword_ratio,
             round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1), 6) AS punct_ratio,
             md5(array_to_string(list_sort(list_distinct(tk)), ' ')) AS fingerprint
      FROM toks
    ),
    quality AS (
      SELECT *,
             round((CASE WHEN ws_tokens BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
                   + least(stopword_ratio * 4, 0.4)
                   + greatest(0.2 - punct_ratio, 0.0), 6) AS q
      FROM scored
    ),
    kept AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
      FROM quality WHERE q >= 0.5
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(q) AS avg_quality,
           CAST(SUM(ws_tokens) AS BIGINT) AS total_tokens
    FROM kept WHERE rn = 1
    GROUP BY source
    """,
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data curation pipeline: quality-score every doc,
    keep quality >= 0.5, drop near-copies via the order-insensitive
    fingerprint (min doc_id survives), report per-source kept counts /
    mean quality / token volume. One projection + one window + one
    aggregate — the full curation pass is 2 shuffles regardless of corpus
    size."""
    from pyspark.sql import Window

    docs = t_cpu(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", "source", F.inline(F.array(X.curation_struct("text")))
    ).filter(F.col("q") >= 0.5)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    kept = staged.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("q").cast("decimal(28,6)")).cast("double") / F.count("q")).alias(
            "avg_quality"
        ),
        F.sum("ws_tokens").alias("total_tokens"),
    )


def _sql_ngram_score(grams: tuple[str, ...]) -> str:
    terms = [
        f"((length(text) - length(replace(text, '{g}', ''))) // {len(g)})"
        for g in grams
    ]
    return "(" + " + ".join(terms) + ")"


_SQL_NGRAM_CASE = (
    "CASE WHEN best = 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in X.NGRAM_PROFILES
    )
    + " END"
)


@query(
    "text_langid_ngram",
    oracle=f"""
    SELECT doc_id, {_SQL_NGRAM_CASE} AS lang_ngram,
           {", ".join(f"s_{lang}" for lang in X.NGRAM_PROFILES)}
    FROM (
      SELECT doc_id,
             {", ".join(f"{_sql_ngram_score(g)} AS s_{lang}" for lang, g in X.NGRAM_PROFILES.items())},
             greatest({", ".join(_sql_ngram_score(g) for g in X.NGRAM_PROFILES.values())}) AS best
      FROM documents
    )
    """,
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via character-n-gram profiles (Cavnar-Trenkle shape):
    per-language signature-trigram counts, argmax with deterministic
    tiebreak — the n-gram complement of the stopword-marker detector in
    text_stats_documents."""
    docs = t_cpu(spark, sf_dir, "documents")
    scores = {
        lang: sum(
            (X.ngram_count("text", g) for g in grams), F.lit(0).cast("long")
        ).alias(f"s_{lang}")
        for lang, grams in X.NGRAM_PROFILES.items()
    }
    return docs.select(
        "doc_id",
        X.langid_ngram("text").alias("lang_ngram"),
        *scores.values(),
    )


@query(
    "text_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             [CAST(unicode(c) AS BIGINT) FOR c IN string_split(text, '')]),
             (a, b) -> (a * 1000003 + b) % 2147483647) AS rhash
    FROM documents
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive Rabin-Karp rolling hash per document — one fold over
    character codes, bit-identical in both engines; the order-sensitive
    complement of the fingerprint in text_stats_documents."""
    docs = t_cpu(spark, sf_dir, "documents")
    return docs.select("doc_id", X.rolling_hash("text").alias("rhash"))


@query(
    "text_entropy_char",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents WHERE text IS NOT NULL
    ), cnt AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
    ), tot AS (
      SELECT doc_id, COUNT(*) AS n FROM chars GROUP BY doc_id
    )
    SELECT t.doc_id,
           round(ln(CAST(t.n AS DOUBLE))
                 - SUM(c * ln(CAST(c AS DOUBLE))) / t.n, 6) AS char_entropy
    FROM tot t JOIN cnt USING (doc_id)
    GROUP BY t.doc_id, t.n
    """,
)
def text_entropy_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy (nats) per document — the
    low-entropy quality gate that catches keyboard-mash / padding / spam
    the length and stopword ratios miss (operators/text.py
    char_entropy_nats). Zero shuffle on the Spark side: a run-length fold
    over the sorted char array, streaming through the scan; the oracle
    recomputes relationally (unnest -> per-char counts -> ln identity
    H = ln(n) - SUM(c*ln(c))/n). Both sides exclude NULL texts (the
    oracle's unnest would drop them while the operator yields NULL — the
    filter pins one semantics). EMPTY text is NOT split-parity: Spark's
    split('','') yields [] while DuckDB's string_split yields [''];
    outputs still agree only because the operator's when(n>0) guard
    emits 0.0 and the oracle's H collapses to ln(1)=0 — a refactor that
    removes either guard breaks empty-doc parity even though the split
    shapes never matched."""
    docs = t_cpu(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return docs.select(
        "doc_id", X.char_entropy_nats("text").alias("char_entropy")
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------
@query(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id AS media_id, i AS frame_idx,
           ((i + 1) * strlen(text)) // 4 - (i * strlen(text)) // 4 AS frame_len
    FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: each blob split into 4 contiguous
    'frames' via mapInPandas (1 row → 4 rows); the oracle re-derives every
    frame's byte extent arithmetically."""
    docs = t(spark, sf_dir, "documents")
    media = M.as_media_column(docs, "doc_id", "text", kind="video")
    frames = M.sample_frames(media, n_frames=4)
    return frames.select("media_id", "frame_idx", "frame_len")


@query(
    "mm_media_features",
    oracle="""
    SELECT doc_id AS media_id,
           'image' AS kind,
           strlen(text) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: wrap text bytes as opaque media blobs (typed
    binary envelope), run the Arrow-batched mapInPandas decoder (the
    deterministic fake — codecs aren't installed; media_decode_real is the
    real hook), and emit per-blob features. Oracle checks byte length +
    payload md5 (DuckDB md5 of a VARCHAR hashes its UTF-8 bytes — the same
    bytes the Spark side encodes)."""
    docs = t(spark, sf_dir, "documents")
    media = M.as_media_column(docs, "doc_id", "text", kind="image")
    return M.extract_features(media).select("media_id", "kind", "n_bytes", "payload_md5")


@query(
    "text_repetition_topbigram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKS} AS tk FROM documents
    ),
    bg AS (
      SELECT doc_id,
             [tk[i] || ' ' || tk[i+1] FOR i IN range(1, greatest(len(tk), 1))] AS g
      FROM toks
    ),
    cnt AS (
      SELECT doc_id, b, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(g) AS b FROM bg)
      GROUP BY doc_id, b
    ),
    top AS (
      SELECT doc_id, b AS top_bigram, c AS top_count FROM cnt
      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, b) = 1
    )
    SELECT bg.doc_id, len(bg.g) AS n_bigrams,
           COALESCE(top.top_bigram, '') AS top_bigram,
           COALESCE(top.top_count, 0) AS top_count,
           ROUND(COALESCE(top.top_count, 0)::DOUBLE
                 / greatest(len(bg.g), 1), 6) AS top_frac
    FROM bg LEFT JOIN top USING (doc_id)
    """,
)
def text_repetition_topbigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signal: the fraction of a document's
    bigrams taken by its single most frequent bigram (high → boilerplate /
    looped generation; the standard pretraining-corpus repetition gate).
    Computed with ZERO shuffle: bigrams are built and counted inside one
    projection via sort + run-length fold over the token array (ties →
    lexicographically smallest, matching the oracle's count-desc/value-asc
    window), so at 100 TB it streams through the scan like any map. The
    oracle recomputes it relationally (unnest → group → window)."""
    docs = t_cpu(spark, sf_dir, "documents")
    bg = docs.select("doc_id", X.token_bigrams("text").alias("g"))
    folded = bg.select(
        "doc_id",
        F.size("g").alias("n_bigrams"),
        F.expr(
            """
            aggregate(
              array_sort(g),
              struct(CAST('' AS STRING) AS prev, 0 AS run,
                     0 AS best_cnt, CAST('' AS STRING) AS best),
              (s, x) -> struct(
                x AS prev,
                IF(x = s.prev, s.run + 1, 1) AS run,
                IF(IF(x = s.prev, s.run + 1, 1) > s.best_cnt,
                   IF(x = s.prev, s.run + 1, 1), s.best_cnt) AS best_cnt,
                IF(IF(x = s.prev, s.run + 1, 1) > s.best_cnt, x, s.best) AS best
              )
            )
            """
        ).alias("st"),
    )
    return folded.select(
        "doc_id",
        "n_bigrams",
        F.col("st.best").alias("top_bigram"),
        F.col("st.best_cnt").alias("top_count"),
        F.round(
            F.col("st.best_cnt").cast("double")
            / F.greatest(F.col("n_bigrams"), F.lit(1)),
            6,
        ).alias("top_frac"),
    )


@query(
    "mm_audio_chunks",
    oracle="""
    WITH m AS (SELECT doc_id, strlen(text) AS L FROM documents),
    idx AS (SELECT unnest(range(0, 64)) AS i)
    SELECT doc_id AS media_id, i AS chunk_idx,
           i * 64 AS start_byte,
           least((i + 1) * 64, L) - i * 64 AS n_bytes
    FROM m JOIN idx ON i * 64 < L OR (i = 0 AND L = 0)
    """,
)
def mm_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-chunking plumbing: each blob split into fixed 64 B windows
    (1 → ⌈L/64⌉ rows via mapInPandas — ~9 chunks per synthetic doc, so the
    1→N fan-out is genuinely exercised; a production chunk size would be
    KB-scale); the oracle re-derives every chunk's byte extent
    arithmetically (range join capped at 64 chunks — oracle-side bound
    only, test texts are ≤4 KB)."""
    docs = t(spark, sf_dir, "documents")
    media = M.as_media_column(docs, "doc_id", "text", kind="audio")
    chunks = M.chunk_audio(media, chunk_bytes=64)
    return chunks.select("media_id", "chunk_idx", "start_byte", "n_bytes")


@query(
    "mm_image_resize",
    oracle="""
    SELECT doc_id AS media_id, 8 AS width, 8 AS height,
           md5(array_to_string(
             [text[(i * strlen(text)) // 64 + 1] FOR i IN range(0, 64)], ''
           )) AS pixels_md5
    FROM documents
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: nearest-neighbour sample of the payload
    bytes onto an 8×8 grid via mapInPandas (operators.multimodal
    resize_images; a real build swaps in PIL/cv2 under the identical
    contract). The oracle rebuilds each grid by character indexing — valid
    because the synthetic corpus is pure ASCII (byte i == char i+1); the
    operator itself is byte-based and encoding-agnostic."""
    docs = t(spark, sf_dir, "documents")
    media = M.as_media_column(docs, "doc_id", "text", kind="image")
    resized = M.resize_images(media, width=8, height=8)
    return resized.select(
        "media_id", "width", "height", F.md5("pixels").alias("pixels_md5")
    )


@query(
    "mm_wav_codec_roundtrip",
    oracle="""
    WITH d AS (
      SELECT doc_id, 8000 * (1 + doc_id % 3) AS rate, 200 + (doc_id % 300) AS n
      FROM documents
    ),
    s AS (SELECT doc_id, rate, n, unnest(range(0, n)) AS i FROM d),
    v AS (SELECT doc_id, rate, n,
                 ((doc_id * 7 + i * 13) % 512) - 256 AS samp FROM s)
    SELECT doc_id AS media_id, rate AS sample_rate,
           CAST(1 AS BIGINT) AS n_channels, CAST(16 AS BIGINT) AS bits,
           n AS n_samples, n * 1000 // rate AS duration_ms,
           CAST(MAX(samp) AS BIGINT) AS peak,
           CAST(SUM(ABS(samp)) AS BIGINT) AS sum_abs
    FROM v GROUP BY doc_id, rate, n
    """,
)
def mm_wav_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec roundtrip — not the deterministic fake: stage 1
    encodes a per-document int16 PCM ramp into an actual RIFF/WAVE
    container with the STDLIB ``wave`` writer; stage 2 is our hand-written
    RIFF parser (operators.multimodal.parse_wav_pcm) which walks the
    word-aligned chunk list, validates the PCM fmt tag, and numpy-decodes
    the data chunk. The decoder sees only bytes — every output column
    (rate, width, frame count, duration, peak, abs-sum) must be recovered
    from the container, and the oracle re-derives them in closed form from
    the signal definition. Two independent implementations (stdlib writer
    vs our reader) meeting byte-exactly is the codec-correctness proof;
    compressed codecs (JPEG/MP3) stay
    behind media_decode_real. Scale: both stages are Arrow-batched
    mapInPandas, partition-parallel, zero shuffle (reference parity:
    Crane has no media path; this is north-star surface)."""
    return M.wav_features(_media(spark, sf_dir, "wav"))


@query(
    "mm_wav_rms_energy_windows",
    oracle="""
    WITH d AS (SELECT doc_id, 200 + (doc_id % 300) AS n FROM documents),
    s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
    v AS (SELECT doc_id, i // 64 AS win_idx,
                 ((doc_id * 7 + i * 13) % 512) - 256 AS samp
          FROM s)
    SELECT doc_id AS media_id, CAST(win_idx AS BIGINT) AS win_idx,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(samp * samp) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(samp)) AS BIGINT) AS peak_abs,
           sqrt(CAST(SUM(samp * samp) AS BIGINT)::DOUBLE / COUNT(*)) AS rms
    FROM v GROUP BY doc_id, win_idx
    """,
)
def mm_wav_rms_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio FEATURE EXTRACTION over the real codec path — the
    DSP shape behind silence trimming / energy gating / VAD pre-filters
    in an audio-curation pipeline: encode each document's deterministic
    PCM ramp into a real RIFF/WAVE container (stdlib writer), decode it
    with the hand-written parser (operators/multimodal.py
    decode_wav_pcm), and emit per 64-frame window the integer-exact
    energy (sum of squares), peak amplitude, and RMS. 1→n_windows rows
    per file, Arrow-batched mapInPandas over the LANDED media fixture
    (media_fixture_dir — encoding is fixture synthesis, not operator
    time), zero shuffle in the decode stage. The oracle
    re-derives every window from the closed-form signal; sum_sq/peak are
    exact BIGINTs and the UNROUNDED rms is bit-identical because IEEE
    division + correctly-rounded sqrt over equal integer inputs match in
    any engine — a float column graded with NO rounding ladder."""
    return M.wav_energy_windows(
        _media(spark, sf_dir, "wav"), window_frames=64
    )


def _energy_delta_fp(energies: DataFrame) -> DataFrame:
    """Per-file energy-delta fingerprint from windowed energies: bit
    w−1 = (energy[w] > energy[w−1]) packed into one BIGINT — the
    classic loudness-profile audio fingerprint (the shape under
    Shazam-style constellation hashes, reduced to its sign skeleton).
    Pure Catalyst over the (media_id, win_idx, sum_sq) relation: one
    lag window per file + one groupBy."""
    from pyspark.sql import Window as W

    w = W.partitionBy("media_id").orderBy("win_idx")
    bit = F.when(
        F.col("prev").isNotNull() & (F.col("sum_sq") > F.col("prev")),
        F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT),"
            " CAST(win_idx - 1 AS INT)) AS BIGINT)"
        ),
    ).otherwise(F.lit(0).cast("long"))
    return (
        energies.withColumn("prev", F.lag("sum_sq").over(w))
        .groupBy("media_id")
        .agg(
            F.sum(bit).alias("fp"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
    )


def media_fixture_dir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Land an encoded media corpus as an artifact keyed on ``kind``:
    encoding (zlib DEFLATE, RIFF container writes) is FIXTURE SYNTHESIS,
    not the operator under test — a real deployment's assets already
    exist in the landing zone — so the graded/benched cost of every mm_*
    query is the decode→feature path only; the build time lands in
    inventory.fixture_seconds() and bench.py reports it separately."""
    from . import artifact

    builders = {
        "bmp": M.synthesize_bmp,
        "png": M.synthesize_png,
        "png_pert": M.synthesize_png_perturbed,
        "wav": M.synthesize_wav,
        "wav_scaled": M.synthesize_wav_scaled,
        "wav_pert": M.synthesize_wav_perturbed,
    }

    def _build(d: str) -> None:
        builders[kind](t(spark, sf_dir, "documents")).write.mode(
            "overwrite"
        ).parquet(d)

    return artifact("crane_media", sf_dir, _build, kind)


def _media(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """The landed media corpus, spread over the session's cores for the
    CPU-heavy decode (session.spread): blobs are a few hundred bytes each,
    so the scan yields fewer splits than cores."""
    d = media_fixture_dir(spark, sf_dir, kind)
    return spread(spark.read.parquet(d), sf_dir, d)


def _sql_wav_fp(samp: str, window: int = 64, n_alias: str = "n_windows") -> str:
    """THE closed-form energy-delta fingerprint CTE body — ONE
    definition parameterized on the sample expression, the window width
    and the window-count alias, shared by the volume-invariance oracle
    (window 64) and the banded near-dup oracle (window 8) so the
    fingerprint algebra cannot drift between them (the
    _sql_ahash_words discipline for audio). Emits (doc_id, fp,
    <n_alias>); requires ``s`` (doc_id, n, i) in scope."""
    return f"""
      SELECT doc_id,
             CAST(COALESCE(SUM(CASE WHEN prev IS NOT NULL AND e > prev
                  THEN (1::BIGINT << CAST(win_idx - 1 AS INT))
                  ELSE 0 END), 0) AS BIGINT) AS fp,
             CAST(COUNT(*) AS BIGINT) AS {n_alias}
      FROM (
        SELECT doc_id, win_idx, e,
               LAG(e) OVER (PARTITION BY doc_id ORDER BY win_idx) AS prev
        FROM (
          SELECT doc_id, i // {window} AS win_idx,
                 SUM(({samp}) * ({samp})) AS e
          FROM s GROUP BY doc_id, i // {window}
        )
      ) GROUP BY doc_id
    """


@query(
    "mm_wav_volume_invariant_fp",
    oracle=f"""
    WITH d AS (SELECT doc_id, 200 + (doc_id % 300) AS n FROM documents),
    s AS (SELECT doc_id, unnest(range(0, n)) AS i FROM d),
    fa AS ({_sql_wav_fp("(((doc_id * 7 + i * 13) % 512) - 256)")}),
    fb AS ({_sql_wav_fp("(2 * (((doc_id * 7 + i * 13) % 512) - 256))")})
    SELECT fa.doc_id AS media_id, fa.fp, fa.n_windows,
           (fa.fp = fb.fp AND fa.n_windows = fb.n_windows)
             AS volume_invariant
    FROM fa JOIN fb ON fa.doc_id = fb.doc_id
    """,
)
def mm_wav_volume_invariant_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOLUME-INVARIANT AUDIO FINGERPRINT — the audio analog of the
    image near-dup story: the same recording re-encoded LOUDER must
    land on the identical dedup key. Each document's PCM ramp is
    encoded twice as a real RIFF/WAVE container — once as-is, once with
    every sample × 2 (`synthesize_wav_scaled`, exact in int16
    headroom) — both go through the hand-written decoder and the
    windowed integer energy extraction, and each file folds to its
    energy-DELTA fingerprint (bit w−1 = energy rose from window w−1 to
    w, packed into one BIGINT). The invariance is algebra, not
    tolerance: scaling samples by g scales every integer energy by
    exactly g², preserving every > comparison — so the fingerprint is
    a loudness-normalized dedup key with NO floating-point
    normalization step. The grade is the certificate pattern done
    two-sided: Spark must compute `volume_invariant` TRUE per document
    from the two REAL encode→decode→fingerprint paths, and the oracle
    re-derives both fingerprints in closed form (the scaled side
    literally 2·samp) — a decoder bug, a window-boundary bug, or any
    float sneaking into the energy path flips graded rows. At 100 TB:
    1→1 per file, Arrow-batched decode, one lag window per file —
    partition-parallel, no corpus-wide state."""
    ea = _energy_delta_fp(
        M.wav_energy_windows(_media(spark, sf_dir, "wav"), window_frames=64)
    )
    eb = _energy_delta_fp(
        M.wav_energy_windows(
            _media(spark, sf_dir, "wav_scaled"), window_frames=64
        )
    ).select(
        F.col("media_id").alias("_mid"),
        F.col("fp").alias("_fp"),
        F.col("n_windows").alias("_nw"),
    )
    return ea.join(eb, ea.media_id == F.col("_mid")).select(
        "media_id",
        "fp",
        "n_windows",
        (
            (F.col("fp") == F.col("_fp"))
            & (F.col("n_windows") == F.col("_nw"))
        ).alias("volume_invariant"),
    )


_SQL_WAV_RAMP = "(((doc_id * 7 + i * 13) % 512) - 256)"


@query(
    "mm_wav_fp_hamming_near_pairs",
    oracle=f"""
    WITH d AS (SELECT doc_id, 200 + (doc_id % 300) AS n FROM documents),
    s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
    fa AS ({_sql_wav_fp(_SQL_WAV_RAMP, window=8, n_alias="nw")}),
    fb AS ({_sql_wav_fp(
        "CASE WHEN i // 8 = doc_id % ((n + 7) // 8) THEN 2 * "
        + _SQL_WAV_RAMP + " ELSE " + _SQL_WAV_RAMP + " END",
        window=8, n_alias="nw",
    )})
    SELECT fa.doc_id AS orig_doc_id, fb.doc_id AS edited_doc_id,
           CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming
    FROM fa JOIN fb
      ON fa.nw = fb.nw AND bit_count(xor(fa.fp, fb.fp)) <= 3
    """,
)
def mm_wav_fp_hamming_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate AUDIO detection,
    completing the image↔audio dedup symmetry: every document's real WAV
    meets a minimally EDITED re-encode of itself (ONE 8-frame energy
    window's samples doubled — synthesize_wav_perturbed; the edit flips
    at most the two adjacent energy-delta comparisons, measured spread
    0..2), both sides run the REAL RIFF decode → 8-frame windowed
    integer energies → energy-delta fingerprint (bit w−1 = energy rose
    into window w; 25–63 windows per file, so the fingerprint spans the
    BIGINT's bit range), and the near-dup join finds all pairs within
    Hamming distance 3 WITHOUT an all-pairs scan: each fingerprint
    splits into four 16-bit bands, candidates must share (n_windows,
    band_idx, band_value) as an EQUI join — duration is part of the key
    because the delta fingerprint is only comparable at equal window
    counts (a true re-encode pair always matches it) — and the exact
    distance verifies candidates. Banding is LOSSLESS at threshold 3 by
    pigeonhole (3 flipped bits touch ≤3 of 4 bands), and the guarantee
    is itself hash-graded: the oracle re-derives both fingerprints in
    closed form and replays the brute-force O(n²) same-length pair
    filter, which Spark's banded plan must reproduce exactly. At 100 TB:
    candidates are Σ per-bucket products over (duration × 65,536)
    buckets/band, never n² — the mm_ahash_hamming_near_pairs recipe on
    the audio modality. Plan-asserted equi join
    (tests/test_plan_quality.py)."""
    fa = _energy_delta_fp(
        M.wav_energy_windows(_media(spark, sf_dir, "wav"), window_frames=8)
    ).select(
        F.col("media_id").alias("orig_doc_id"),
        F.col("fp").alias("a_fp"),
        F.col("n_windows").alias("nw"),
    )
    fb = _energy_delta_fp(
        M.wav_energy_windows(
            _media(spark, sf_dir, "wav_pert"), window_frames=8
        )
    ).select(
        F.col("media_id").alias("edited_doc_id"),
        F.col("fp").alias("b_fp"),
        F.col("n_windows").alias("_nw"),
    )

    def bands(col):
        m = F.lit(0xFFFF)
        return F.array(
            *[
                F.shiftright(F.col(col), 16 * j).bitwiseAND(m)
                for j in range(4)
            ]
        )

    ea = fa.select(
        "orig_doc_id", "a_fp", "nw",
        F.posexplode(bands("a_fp")).alias("band_idx", "band_val"),
    )
    eb = fb.select(
        "edited_doc_id", "b_fp", F.col("_nw").alias("nw"),
        F.posexplode(bands("b_fp")).alias("band_idx", "band_val"),
    )
    ham = F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp")))
    # exact-distance verify is row-local on the joined candidates; the
    # distinct moves only surviving (3 small columns) pairs
    return (
        ea.join(eb, ["nw", "band_idx", "band_val"])
        .filter(ham <= 3)
        .select(
            "orig_doc_id",
            "edited_doc_id",
            ham.cast("long").alias("hamming"),
        )
        .distinct()
    )


@query(
    "mm_bmp_codec_roundtrip",
    oracle="""
    WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
               FROM documents),
    gx AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
    g AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM gx),
    p AS (SELECT doc_id, w, h,
            (x*7 + y*3 + doc_id) % 256 AS r,
            (x*5 + y*11 + 2*doc_id) % 256 AS gg,
            (x + y + 3*doc_id) % 256 AS b FROM g)
    SELECT doc_id AS media_id, w AS width, h AS height,
           (4 - (w * 3) % 4) % 4 AS row_pad,
           54 + (w * 3 + (4 - (w * 3) % 4) % 4) * h AS file_bytes,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(gg) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b
    FROM p GROUP BY doc_id, w, h
    """,
)
def mm_bmp_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec roundtrip: stage 1 encodes a per-document RGB
    grid (width 8..16 — every BMP row-padding case 0..3 bytes — height
    4..8) as a spec-conformant 24-bit BMP (BITMAPFILEHEADER +
    BITMAPINFOHEADER, bottom-up BGR rows, 4-byte-aligned strides);
    stage 2 is our hand-written decoder (operators.multimodal.parse_bmp24)
    which reads the pixel-array offset from the file header, validates the
    24-bit uncompressed profile, and numpy-decodes stride/padding/row
    order back to RGB channel sums. A padding or row-order bug shifts
    every channel sum, so the closed-form oracle pins the full byte
    layout. file_bytes doubles as the container-size certificate
    (54 + stride·h). Arrow-batched mapInPandas over the landed media
    fixture (media_fixture_dir), zero shuffle in the decode stage."""
    return M.bmp_features(_media(spark, sf_dir, "bmp"))


@query(
    "mm_bmp_ahash_fingerprint",
    oracle="""
    WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
               FROM documents),
    gx AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS x FROM d),
    g AS (SELECT doc_id, w, h, x, unnest(range(0, 8)) AS y FROM gx),
    p AS (SELECT doc_id, y * 8 + x AS cell,
            (((x*w)//8)*7 + ((y*h)//8)*3 + doc_id) % 256
          + (((x*w)//8)*5 + ((y*h)//8)*11 + 2*doc_id) % 256
          + (((x*w)//8) + ((y*h)//8) + 3*doc_id) % 256 AS gray
          FROM g),
    t AS (SELECT doc_id, SUM(gray) AS total FROM p GROUP BY doc_id)
    SELECT p.doc_id AS media_id,
           CAST(SUM(CASE WHEN cell < 32 AND gray * 64 > total
                         THEN (1::BIGINT << cell) ELSE 0 END) AS BIGINT)
             AS ahash_w0,
           CAST(SUM(CASE WHEN cell >= 32 AND gray * 64 > total
                         THEN (1::BIGINT << (cell - 32)) ELSE 0 END) AS BIGINT)
             AS ahash_w1,
           CAST(SUM(CASE WHEN gray * 64 > total THEN 1 ELSE 0 END) AS BIGINT)
             AS bits_set
    FROM p JOIN t USING (doc_id) GROUP BY p.doc_id
    """,
)
def mm_bmp_ahash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprint over the REAL codec path: encode each
    document's deterministic RGB grid as an actual 24-bit BMP, decode it
    byte-for-byte (decode_bmp24_pixels — header offset, stride padding,
    bottom-up BGR), then compute the classic 64-bit average hash (NN
    8×8 downsample → grayscale → threshold at the mean), all-integer so
    every bit grades exactly (operators/multimodal.py ahash64). This is
    image DEDUP plumbing: near-identical images differ by a few bits, so
    the dedup join is Hamming distance over (ahash_w0, ahash_w1) — the
    binary-quantization recipe applied to pixels. The oracle re-derives
    each bit in closed form from the generative pixel formula, so a
    stride/row-order/threshold bug anywhere in the decode→hash chain
    flips graded bits. Arrow-batched mapInPandas over the landed media
    fixture (media_fixture_dir), zero shuffle in the decode stage."""
    return M.bmp_ahash(_media(spark, sf_dir, "bmp"))


@query(
    "mm_png_codec_roundtrip",
    oracle="""
    WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
               FROM documents),
    gx AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
    g AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM gx),
    p AS (SELECT doc_id, w, h,
            (x*7 + y*3 + doc_id) % 256 AS r,
            (x*5 + y*11 + 2*doc_id) % 256 AS gg,
            (x + y + 3*doc_id) % 256 AS b FROM g)
    SELECT doc_id AS media_id, w AS width, h AS height,
           CAST(4 AS BIGINT) AS n_chunks,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(gg) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b
    FROM p GROUP BY doc_id, w, h
    """,
)
def mm_png_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-codec roundtrip — the first graded decode of a
    compressed container: stage 1 encodes each document's deterministic
    RGB grid as a spec-conformant 8-bit truecolor PNG with stdlib zlib only
    (operators/multimodal.py encode_png — scanline filters CYCLE y mod 5
    so None/Sub/Up/Average/Paeth are all on the encoded wire, and the
    DEFLATE stream is split across two IDAT chunks); stage 2 is our
    hand-written decoder (decode_png_pixels: signature, per-chunk CRC32
    validation, multi-IDAT reassembly, inflate, 5-type defilter). The
    oracle re-derives dimensions + channel sums in closed form from the
    generative pixel formula — compressed-size facts are deliberately NOT
    graded (DEFLATE output length is library-version-dependent), but
    n_chunks = 4 certifies the IHDR/IDAT×2/IEND walk. JPEG/MP3/H.264
    stay behind media_decode_real (need external libs). Arrow-batched
    mapInPandas, zero shuffle (reference parity: Crane has no media
    path; north-star surface)."""
    return M.png_features(_media(spark, sf_dir, "png"))


@query(
    "mm_png_ahash",
    oracle="""
    WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
               FROM documents),
    gx AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS x FROM d),
    g AS (SELECT doc_id, w, h, x, unnest(range(0, 8)) AS y FROM gx),
    p AS (SELECT doc_id, y * 8 + x AS cell,
            (((x*w)//8)*7 + ((y*h)//8)*3 + doc_id) % 256
          + (((x*w)//8)*5 + ((y*h)//8)*11 + 2*doc_id) % 256
          + (((x*w)//8) + ((y*h)//8) + 3*doc_id) % 256 AS gray
          FROM g),
    t AS (SELECT doc_id, SUM(gray) AS total FROM p GROUP BY doc_id)
    SELECT p.doc_id AS media_id,
           CAST(SUM(CASE WHEN cell < 32 AND gray * 64 > total
                         THEN (1::BIGINT << cell) ELSE 0 END) AS BIGINT)
             AS ahash_w0,
           CAST(SUM(CASE WHEN cell >= 32 AND gray * 64 > total
                         THEN (1::BIGINT << (cell - 32)) ELSE 0 END) AS BIGINT)
             AS ahash_w1,
           CAST(SUM(CASE WHEN gray * 64 > total THEN 1 ELSE 0 END) AS BIGINT)
             AS bits_set
    FROM p JOIN t USING (doc_id) GROUP BY p.doc_id
    """,
)
def mm_png_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual fingerprint over the COMPRESSED codec path: encode each
    document's RGB grid as a real PNG (zlib DEFLATE, cycling scanline
    filters), decode it byte-for-byte (CRC walk → inflate → defilter),
    and compute the same all-integer 64-bit aHash as
    mm_bmp_ahash_fingerprint. The oracle is the BMP query's verbatim —
    the codec-invariance proof: a correct decoder makes the fingerprint
    independent of the container, so cross-codec image dedup is an
    equi-join on (ahash_w0, ahash_w1) whether assets arrived as BMP or
    PNG. Any defilter/CRC/inflate bug flips graded bits. Arrow-batched
    mapInPandas, zero shuffle."""
    return M.png_ahash(_media(spark, sf_dir, "png"))


def _sql_ahash_words(gray00_r: str) -> str:
    """The closed-form 64-bit aHash CTE body, parameterized on the red
    term of cell (0,0) so the perturbed twin reuses it (see
    mm_ahash_hamming_near_pairs)."""
    return f"""
      SELECT p.doc_id,
             CAST(SUM(CASE WHEN cell < 32 AND gray * 64 > total
                           THEN (1::BIGINT << cell) ELSE 0 END) AS BIGINT)
               AS w0,
             CAST(SUM(CASE WHEN cell >= 32 AND gray * 64 > total
                           THEN (1::BIGINT << (cell - 32)) ELSE 0 END)
                  AS BIGINT) AS w1
      FROM (
        SELECT doc_id, y * 8 + x AS cell,
               CASE WHEN (x*w)//8 = 0 AND (y*h)//8 = 0 THEN {gray00_r}
                    ELSE (((x*w)//8)*7 + ((y*h)//8)*3 + doc_id) % 256 END
             + (((x*w)//8)*5 + ((y*h)//8)*11 + 2*doc_id) % 256
             + (((x*w)//8) + ((y*h)//8) + 3*doc_id) % 256 AS gray
        FROM grid
      ) p
      JOIN (
        SELECT doc_id, SUM(
               CASE WHEN (x*w)//8 = 0 AND (y*h)//8 = 0 THEN {gray00_r}
                    ELSE (((x*w)//8)*7 + ((y*h)//8)*3 + doc_id) % 256 END
             + (((x*w)//8)*5 + ((y*h)//8)*11 + 2*doc_id) % 256
             + (((x*w)//8) + ((y*h)//8) + 3*doc_id) % 256) AS total
        FROM grid GROUP BY doc_id
      ) t USING (doc_id)
      GROUP BY p.doc_id
    """


@query(
    "mm_crosscodec_dedup_pairs",
    oracle=f"""
    WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
               FROM documents),
    gx AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS x FROM d),
    grid AS (SELECT doc_id, w, h, x, unnest(range(0, 8)) AS y FROM gx),
    hh AS ({_sql_ahash_words("doc_id % 256")})
    SELECT b.doc_id AS bmp_doc_id, q.doc_id AS png_doc_id,
           b.w0 AS ahash_w0, b.w1 AS ahash_w1
    FROM hh b JOIN hh q ON b.w0 = q.w0 AND b.w1 = q.w1
    """,
)
def mm_crosscodec_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END MULTIMODAL DEDUP over a MIXED landing zone — the
    pipeline mm_png_ahash's codec-invariance proof sets up, completed as
    one graded query: every document's RGB
    grid lands TWICE, once as a real 24-bit BMP and once as a real
    zlib-compressed PNG (disjoint media_id spaces — two crawls of the
    same asset in different containers); ONE mime-dispatched decode
    stage (operators.multimodal.mixed_media_ahash) fingerprints the
    heterogeneous corpus, and the dedup index is a plain EQUI-join on
    (ahash_w0, ahash_w1) between the BMP side and the PNG side. Codec
    invariance guarantees the diagonal (every asset matches its own
    re-encode); genuinely colliding documents (the generative grid
    repeats every lcm(256,9,5) ids) pair too, on BOTH engines — the
    oracle re-derives each 64-bit hash in closed form and replays the
    same self-join, so one flipped bit anywhere in either decoder breaks
    rows. Plan: decode is Arrow-batched zero-shuffle; the join is
    hash-partitioned on the two hash words (never a nested loop —
    asserted in tests/test_plan_quality.py). At 100 TB: fingerprints are
    8 bytes/asset, the join keys distribute uniformly (hash bits), and
    near-dup (small Hamming distance) escalates to the multiprobe /
    banded recipes the sim_* family grades."""
    from . import register_query_cache

    OFF = 1 << 40
    bmp = _media(spark, sf_dir, "bmp")
    png = _media(spark, sf_dir, "png").withColumn(
        "media_id", F.col("media_id") + OFF
    )
    # the self-join reads the decoded fingerprints twice; persist the
    # tiny (id, 2×long) relation so the encode+decode runs once
    # (released by the harness post-collect — register_query_cache)
    hashed = register_query_cache(
        M.mixed_media_ahash(bmp.unionByName(png)).persist()
    )
    bside = hashed.filter(F.col("media_id") < OFF).select(
        F.col("media_id").alias("bmp_doc_id"), "ahash_w0", "ahash_w1"
    )
    qside = hashed.filter(F.col("media_id") >= OFF).select(
        (F.col("media_id") - OFF).alias("png_doc_id"),
        F.col("ahash_w0").alias("_w0"),
        F.col("ahash_w1").alias("_w1"),
    )
    return bside.join(
        qside,
        (F.col("ahash_w0") == F.col("_w0"))
        & (F.col("ahash_w1") == F.col("_w1")),
    ).select("bmp_doc_id", "png_doc_id", "ahash_w0", "ahash_w1")


@query(
    "mm_ahash_hamming_near_pairs",
    oracle=f"""
    WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
               FROM documents),
    gx AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS x FROM d),
    grid AS (SELECT doc_id, w, h, x, unnest(range(0, 8)) AS y FROM gx),
    ha AS ({_sql_ahash_words("doc_id % 256")}),
    hb AS ({_sql_ahash_words("(doc_id + 128) % 256")})
    SELECT ha.doc_id AS orig_doc_id, hb.doc_id AS edited_doc_id,
           CAST(bit_count(xor(ha.w0, hb.w0))
                + bit_count(xor(ha.w1, hb.w1)) AS BIGINT) AS hamming
    FROM ha JOIN hb
      ON bit_count(xor(ha.w0, hb.w0)) + bit_count(xor(ha.w1, hb.w1)) <= 3
    """,
)
def mm_ahash_hamming_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate image detection — the Hamming-space step beyond
    `mm_crosscodec_dedup_pairs`' exact equi-join: every document's PNG
    meets a minimally EDITED re-encode of itself (one pixel's red
    channel shifted — synthesize_png_perturbed; measured distances
    spread 0..6), both sides go through the REAL compressed decode →
    aHash, and the near-dup join finds all pairs within Hamming
    distance 3 WITHOUT an all-pairs scan: each 64-bit hash splits into
    four 16-bit bands, candidates must share a band as an EQUI join on
    (band_idx, band_value), and the exact distance verifies candidates.
    The banding is LOSSLESS at this threshold by pigeonhole — 3 flipped
    bits touch at most 3 of the 4 bands, so every true pair shares an
    intact band — which is what makes the grade exact: the oracle
    computes the same pair set by brute force (closed-form hashes, full
    O(n²) filter), and Spark's banded plan must reproduce it exactly,
    i.e. the recall guarantee itself is hash-graded. At 100 TB:
    candidates are Σ per-band-bucket products (65,536 buckets/band),
    never n²; raise bands (8×8-bit) for higher thresholds — the
    sim_lsh/multiprobe recipe on pixel space. Plan-asserted equi
    (tests/test_plan_quality.py)."""
    ha = M.png_ahash(_media(spark, sf_dir, "png")).select(
        F.col("media_id").alias("orig_doc_id"),
        F.col("ahash_w0").alias("a0"),
        F.col("ahash_w1").alias("a1"),
    )
    hb = M.png_ahash(_media(spark, sf_dir, "png_pert")).select(
        F.col("media_id").alias("edited_doc_id"),
        F.col("ahash_w0").alias("b0"),
        F.col("ahash_w1").alias("b1"),
    )

    def bands(w0, w1):
        m = F.lit(0xFFFF)
        return F.array(
            F.col(w0).bitwiseAND(m),
            F.shiftright(F.col(w0), 16).bitwiseAND(m),
            F.col(w1).bitwiseAND(m),
            F.shiftright(F.col(w1), 16).bitwiseAND(m),
        )

    ea = ha.select(
        "orig_doc_id", "a0", "a1",
        F.posexplode(bands("a0", "a1")).alias("band_idx", "band_val"),
    )
    eb = hb.select(
        "edited_doc_id", "b0", "b1",
        F.posexplode(bands("b0", "b1")).alias("band_idx", "band_val"),
    )
    ham = F.bit_count(F.col("a0").bitwiseXOR(F.col("b0"))) + F.bit_count(
        F.col("a1").bitwiseXOR(F.col("b1"))
    )
    # verify BEFORE the dedup shuffle: the exact-distance filter is
    # row-local on the joined candidates, so the distinct only moves
    # surviving pairs (3 small columns), not every band collision
    return (
        ea.join(eb, ["band_idx", "band_val"])
        .filter(ham <= 3)
        .select(
            "orig_doc_id",
            "edited_doc_id",
            ham.cast("long").alias("hamming"),
        )
        .distinct()  # a pair may share several bands
    )


@query(
    "udf_grouped_rank_normalize",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey) AS bal_rank,
           COUNT(*) OVER (PARTITION BY c_mktsegment) AS seg_size
    FROM customer
    """,
)
def udf_grouped_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 grouped-map surface (the reference App's per-key ``join``
    generalized): applyInPandas ranks each segment's customers by balance
    in local pandas — one shuffle on the group key, each group a local
    frame, never the driver. Integer outputs keep the oracle (window
    ROW_NUMBER) float-free. The built-in window query
    (window_ntile_quartiles) is the fast path; this grades the Python
    extension point itself."""
    import pandas as pd

    from ..functions.udf import grouped_map

    def rank_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        out = pdf.sort_values(["c_acctbal", "c_custkey"]).reset_index(drop=True)
        out["bal_rank"] = range(1, len(out) + 1)
        out["seg_size"] = len(out)
        return out[["c_custkey", "c_mktsegment", "bal_rank", "seg_size"]]

    cust = t(spark, sf_dir, "customer")
    return grouped_map(
        cust,
        ["c_mktsegment"],
        rank_group,
        "c_custkey long, c_mktsegment string, bal_rank long, seg_size long",
    )


@query(
    "udf_grouped_agg_price_range",
    oracle="""
    SELECT o_orderpriority,
           round(max(o_totalprice) - min(o_totalprice), 4) AS price_range,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def udf_grouped_agg_price_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 keyed-aggregate surface via pandas GROUPED_AGG (the third
    extension-point shape next to grouped-map and mapInPandas — the
    reference App's ``join`` + ``mergeCache`` fold, reference
    server/wordCount.go:45-74/33-43, as a vectorized Python aggregate):
    per-priority price range (max − min), an aggregate whose Arrow-batched
    Python evaluation is IEEE-exact so the oracle hash-matches (unlike a
    Python mean, whose pandas pairwise summation order differs from SQL's
    sequential fold). Plan: partial aggregation is NOT available to Python
    UDAFs — the groups shuffle raw — which is exactly why the built-in
    agg suite is the fast path and this grades only the extension point."""
    import pandas as pd  # noqa: F401 — signature type for the UDF closure

    from ..functions.udf import grouped_agg_pandas_udf

    # Both outputs must be pandas aggregates: Spark refuses to mix a
    # GROUPED_AGG pandas UDF with built-in aggregate functions in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT).
    rng = grouped_agg_pandas_udf(
        lambda s: float(s.max() - s.min()), "double"
    )
    cnt = grouped_agg_pandas_udf(lambda s: len(s), "long")
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(rng("o_totalprice"), 4).alias("price_range"),
            cnt("o_totalprice").alias("n_orders"),
        )
    )


@query(
    "udf_cogroup_customer_orders",
    oracle="""
    SELECT c_custkey, c_acctbal,
           COUNT(o_custkey) AS n_orders,
           MAX(o_totalprice) AS max_price
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_acctbal
    """,
)
def udf_cogroup_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 CO-GROUPED map surface (cogroup().applyInPandas): both
    relations shuffle on the key and arrive as two local pandas frames per
    key — the truest Python analog of the reference sink's two-stream
    keyed merge (reference server/wordCount.go:45-74: per-key cache fold
    across tuple streams). Per-customer order count + max price computed
    frame-side; count and max are exact, so the DuckDB LEFT JOIN oracle
    hash-matches. The built-in join+agg is the fast path (no Python, one
    shuffle side can broadcast); this grades the extension point.

    Scale shape: cogroup keys on a HASH BUCKET of the customer key, not
    the key itself — applyInPandas invokes the Python function once per
    cogroup key, so per-customer keying pays function-call + frame-
    construction overhead O(#customers) (measured 21.5 s at sf0.1, ~150k
    keys), while 64 buckets amortize it into vectorized pandas
    groupby/merge inside each call (0.9 s, same rows out). At 100 TB the
    bucket count scales with cluster cores, not key cardinality."""
    import pandas as pd

    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    N_BUCKETS = 64
    cust_b = cust.withColumn(
        "bucket", (F.col("c_custkey") % N_BUCKETS).cast("int")
    )
    orders_b = orders.withColumn(
        "bucket", (F.col("o_custkey") % N_BUCKETS).cast("int")
    )

    def merge(key, cdf: "pd.DataFrame", odf: "pd.DataFrame") -> "pd.DataFrame":
        if len(cdf) == 0:  # orders whose customer is absent: LEFT JOIN drops them
            return pd.DataFrame(
                {"c_custkey": [], "c_acctbal": [], "n_orders": [], "max_price": []}
            )
        per_cust = (
            odf.groupby("o_custkey", as_index=False)
            .agg(n_orders=("o_totalprice", "size"), max_price=("o_totalprice", "max"))
            .rename(columns={"o_custkey": "c_custkey"})
        )
        out = cdf[["c_custkey", "c_acctbal"]].merge(
            per_cust, on="c_custkey", how="left"
        )
        out["n_orders"] = out["n_orders"].fillna(0).astype("int64")
        # Nullable dtype so order-less customers surface as SQL NULL (a
        # plain float64 NaN would cross Arrow as a NaN VALUE, not null).
        out["max_price"] = out["max_price"].astype("Float64")
        return out

    return (
        cust_b.groupby("bucket")
        .cogroup(orders_b.groupby("bucket"))
        .applyInPandas(
            merge, "c_custkey long, c_acctbal double, n_orders long, max_price double"
        )
    )


@query(
    "udf_flatmap_token_rows",
    oracle=f"""
    SELECT doc_id, len({SQL_TOKS}) AS n_tokens,
           len(list_distinct({SQL_TOKS})) AS n_unique
    FROM documents
    """,
)
def udf_flatmap_token_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 table-valued transform surface: mapInPandas tokenizes each
    document in Python (regex identical to the JVM tokens() helper) and
    emits per-doc token stats — the reference ``transform``'s 1→N shape,
    Arrow-batched, zero shuffle. Grades the Python flatMap extension
    point; built-in explode(split()) remains the fast path."""
    import re

    import pandas as pd

    from ..functions.udf import flat_map

    # re.ASCII pins \s to ASCII whitespace — Python's default Unicode \s
    # also splits on U+00A0/U+0085 etc., which neither the JVM tokens()
    # helper nor the DuckDB oracle's RE2 \s treat as whitespace.
    ws = re.compile(r"\s+", re.ASCII)

    def tok_stats(batches):
        for pdf in batches:
            toks = pdf["text"].map(lambda s: [t for t in ws.split(s) if t])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": toks.map(len).astype("int64"),
                    "n_unique": toks.map(lambda ts: len(set(ts))).astype("int64"),
                }
            )

    docs = t_cpu(spark, sf_dir, "documents")
    return flat_map(
        docs.select("doc_id", "text"),
        tok_stats,
        "doc_id long, n_tokens long, n_unique long",
    )


@query(
    "sim_random_projection",
    oracle="""
    SELECT vec_id, CAST(t.j AS INTEGER) AS j,
           round(list_sum([embedding[d + 1]::DOUBLE *
                    (CASE WHEN substr(md5(t.j::VARCHAR || '#' || d::VARCHAR), 1, 1) < '8'
                          THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)
                    FOR d IN range(0, 64)]), 6) AS component
    FROM embeddings CROSS JOIN range(0, 8) AS t(j)
    """,
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss signed random projection 64→8 (operators.
    similarity.random_projection): the dimensionality-reduction stage a
    large-corpus ANN pipeline runs before candidate scoring. The ±1
    matrix is seeded from md5(j#d), so the oracle rebuilds it exactly;
    both engines fold the dot product in identical d-order (sequential
    left fold), keeping the doubles bit-equal before the 6-decimal
    round.

    Graded as posexploded ``(vec_id, j, component)`` scalar rows: the
    operator's natural ``array<double>`` output breaks the driver's
    pandas oracle canonicalizer ("unhashable type: 'list'" on
    sort_values), so array-typed columns are banned from graded outputs
    (tools/driver_check.py type audit); the array form remains the
    operator API (operators/similarity.py)."""
    proj = S.random_projection(
        t_cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        out_dim=8, in_dim=64,
    )
    return proj.select("vec_id", F.posexplode("proj").alias("j", "component"))


@query(
    "udf_arrow_native_score",
    oracle="""
    SELECT p_brand, COUNT(*) AS n,
           CAST(SUM(CAST(round(p_retailprice * (1.0 + p_size / 100.0), 4)
                         AS DECIMAL(28,6))) AS DOUBLE) AS scored_price
    FROM part
    GROUP BY p_brand
    """,
)
def udf_arrow_native_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 Arrow-native batch transform: mapInArrow hands the Python
    kernel raw pyarrow RecordBatches — no pandas conversion at all, the
    cheapest possible Python extension point (the step below mapInPandas
    on the overhead ladder: JVM ⇆ Arrow buffers only). The kernel scores
    each part with vectorized pyarrow.compute calls; a normal JVM-side
    aggregate then reduces the batches, so Python cost is one pass over
    column buffers and the shuffle moves only (brand, partials). The
    reference's transform is a per-tuple Go call (server/wordCount.go:
    75-84); this is the same hook shape at columnar-batch granularity."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from . import dsum

    def score(batches):
        for b in batches:
            price = b.column(b.schema.get_field_index("p_retailprice"))
            size = b.column(b.schema.get_field_index("p_size"))
            factor = pc.add(
                pc.divide(pc.cast(size, pa.float64()), pa.scalar(100.0)),
                pa.scalar(1.0),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("p_brand")),
                    pc.round(pc.multiply(price, factor), ndigits=4),
                ],
                ["p_brand", "scored"],
            )

    parts = t_cpu(spark, sf_dir, "part").select(
        "p_brand", "p_retailprice", "p_size"
    )
    scored = parts.mapInArrow(score, "p_brand string, scored double")
    return scored.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("scored", scale=6).alias("scored_price"),
    )


@query(
    "text_bpe_pair_candidates",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKS}) AS tok FROM documents
    ),
    pairs AS (
      SELECT substr(tok, i, 2) AS pair
      FROM toks, UNNEST(generate_series(1, len(tok) - 1)) AS u(i)
      WHERE len(tok) >= 2
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT 20
    """,
)
def text_bpe_pair_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step of tokenizer training: count every
    adjacent symbol pair inside whitespace tokens across the corpus and
    rank the merge candidates — exactly the statistic a byte-pair-
    encoding trainer maximizes each round (Sennrich et al. 2016, public
    algorithm). Pair extraction is one codegen'd
    ``transform(sequence(1, len-1), i -> substring(tok, i, 2))`` per
    token — no Python, no shuffle until the (pair, count) aggregate,
    which map-side combines to at most |alphabet|² partial rows per
    task regardless of corpus size; the top-20 is a TakeOrdered with
    the (n DESC, pair ASC) tiebreak pinned. Both engines index
    substrings by CHARACTER, so multibyte text agrees. At 100 TB this
    is the canonical two-phase aggregation — the iterated trainer
    would loop this query with the previous round's merges applied."""
    docs = t_cpu(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    pairs = toks.filter(F.length("tok") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(20)
    )


_BPE_PAIR_STRUCTS = (
    "transform(sequence(1, size(l) - 1), "
    "i -> struct(element_at(l, i) AS a, element_at(l, i + 1) AS b))"
)


def _bpe_train(words, rounds: int = 3):
    """Run ``rounds`` BPE merge rounds over a delimited-symbol word table
    (columns: ``sym`` + ``freq`` + any carried extras such as ``lang``).
    Returns ``(merge_rules, merged_words)``: the learned rules as
    (round, a, b, merged, pair_freq) tuples and the word table with every
    rule applied lazily. ONE copy of the parity-critical logic — the
    (n DESC, a ASC, b ASC) argmax tiebreak, the single-pass delimited
    replace, the break-on-exhaustion — shared by text_bpe_train_merges
    and text_bpe_compression_by_lang so a fix to either query cannot
    silently break the other's cross-engine parity. Each round's
    ``collect()`` moves ONE row (the merge rule, i.e. the model)."""
    merges: list[tuple] = []
    cur = words
    for rnd in range(1, rounds + 1):
        got = (
            cur.select(F.split(F.trim(F.col("sym")), " ").alias("l"), "freq")
            .filter(F.size("l") >= 2)
            .select(F.explode(F.expr(_BPE_PAIR_STRUCTS)).alias("p"), "freq")
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not got:  # vocabulary exhausted (every word fully merged):
            break    # the oracle's empty m{r} legs pass words through
        top = got[0]
        merges.append((rnd, top.a, top.b, top.a + top.b, int(top.n)))
        cur = cur.withColumn(
            "sym",
            F.replace(
                F.col("sym"),
                F.lit(f" {top.a} {top.b} "),
                F.lit(f" {top.a}{top.b} "),
            ),
        )
    return merges, cur


def _bpe_round_sql(r: int, src: str, carry: str = "freq") -> str:
    """One unrolled BPE training round as oracle CTEs: pair counts over
    the delimited symbol strings of ``src``, the argmax merge rule, and
    the post-merge word table (DuckDB recursive CTEs can't aggregate the
    recursive term, so fixed-round recurrences unroll — same pattern as
    the pagerank / Bellman-Ford / EWMA oracles). ``carry`` lists the
    word-table columns to thread through the merge besides ``sym``."""
    return f"""
    p{r} AS (
      SELECT l[i] AS a, l[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS n
      FROM (SELECT string_split(trim(sym), ' ') AS l, freq FROM {src}),
           UNNEST(generate_series(1, len(l) - 1)) AS u(i)
      WHERE len(l) >= 2
      GROUP BY 1, 2
    ),
    m{r} AS (SELECT a, b, n FROM p{r} ORDER BY n DESC, a ASC, b ASC LIMIT 1),
    w{r} AS (
      -- LEFT JOIN ON TRUE: an exhausted vocabulary (no pairs left before
      -- the final round) yields an EMPTY m{r}; a plain cross join would
      -- erase the word table and every later round with it. With the
      -- left join the words pass through unmerged, mirroring the Spark
      -- loop's break-on-empty.
      SELECT CASE WHEN m{r}.a IS NULL THEN sym
                  ELSE replace(sym, ' ' || m{r}.a || ' ' || m{r}.b || ' ',
                               ' ' || m{r}.a || m{r}.b || ' ') END AS sym,
             {carry}
      FROM {src} LEFT JOIN m{r} ON TRUE
    )"""


@query(
    "text_bpe_train_merges",
    oracle=f"""
    WITH words AS (
      SELECT ' ' || array_to_string(string_split(tok, ''), ' ') || ' ' AS sym,
             COUNT(*) AS freq
      FROM (SELECT unnest({SQL_TOKS}) AS tok FROM documents)
      GROUP BY 1
    ),
    {_bpe_round_sql(1, "words")},
    {_bpe_round_sql(2, "w1")},
    {_bpe_round_sql(3, "w2")}
    SELECT 1 AS round, a AS sym_a, b AS sym_b, a || b AS merged,
           n AS pair_freq FROM m1
    UNION ALL
    SELECT 2, a, b, a || b, n FROM m2
    UNION ALL
    SELECT 3, a, b, a || b, n FROM m3
    """,
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of BPE tokenizer training (Sennrich et al. 2016,
    public algorithm), distributed: each round counts adjacent symbol
    pairs weighted by word frequency, picks the argmax merge rule
    ((n DESC, a ASC, b ASC) tiebreak, pinned both engines), applies it
    to every word, and recounts. Output is the learned merge table —
    (round, pair, merged symbol, pair frequency), 3 rows.

    100 TB shape: training runs on the WORD-FREQUENCY table (one corpus
    scan + groupBy — vocabulary-sized, millions of rows at any corpus
    scale, cached via register_query_cache), never the corpus again;
    each round is one vocab-sized aggregate whose map-side combine
    bounds partials by |symbol-alphabet|². The per-round ``collect()``
    moves ONE row — the merge rule, i.e. the MODEL — matching the
    ivf_kmeans/pq centroid-extraction precedent. Words are delimited
    symbol strings (" c h a r s ") and a merge is a literal
    single-pass ``replace(' a b ' -> ' ab ')``: both engines scan
    left-to-right over non-overlapping matches, so results are
    bit-identical cross-engine. (That replace-pass semantics is the
    one deliberate variant vs the classic per-sequence greedy fold:
    immediately repeated pairs — "a a a a" — share a delimiter space,
    so a run merges across successive rounds rather than within one.
    Deterministic, engine-identical, and irrelevant to rule RANKING on
    natural text; documented so nobody 'fixes' one side alone.)

    Reference parity: the reference has no tokenizer trainer; this is
    north-star LLM-pipeline surface (SURVEY §2 note) extending
    text_bpe_pair_candidates (the single-round statistic) to the
    iterated trainer."""
    from . import register_query_cache

    docs = t_cpu(spark, sf_dir, "documents")
    words = register_query_cache(
        docs.select(F.explode(tokens("text")).alias("tok"))
        .select(
            F.concat(
                F.lit(" "), F.array_join(F.split("tok", ""), " "), F.lit(" ")
            ).alias("sym")
        )
        .groupBy("sym")
        .agg(F.count(F.lit(1)).alias("freq"))
        .cache()
    )
    merges, _ = _bpe_train(words)
    return spark.createDataFrame(
        merges,
        "round int, sym_a string, sym_b string, merged string, pair_freq long",
    )


@query(
    "text_bpe_compression_by_lang",
    oracle=f"""
    WITH words AS (
      SELECT ' ' || array_to_string(string_split(tok, ''), ' ') || ' ' AS sym,
             lang, COUNT(*) AS freq
      FROM (SELECT unnest({SQL_TOKS}) AS tok, lang
            FROM documents WHERE lang IS NOT NULL)
      GROUP BY 1, 2
    ),
    {_bpe_round_sql(1, "words", carry="lang, freq")},
    {_bpe_round_sql(2, "w1", carry="lang, freq")},
    {_bpe_round_sql(3, "w2", carry="lang, freq")}
    SELECT lang,
           CAST(SUM(freq) AS BIGINT) AS n_words,
           CAST(SUM(len(replace(trim(sym), ' ', '')) * freq) AS BIGINT)
             AS n_chars,
           CAST(SUM(len(string_split(trim(sym), ' ')) * freq) AS BIGINT)
             AS n_symbols,
           CAST(SUM(len(string_split(trim(sym), ' ')) * freq) AS DOUBLE)
             / CAST(SUM(len(replace(trim(sym), ' ', '')) * freq) AS DOUBLE)
             AS compression
    FROM w3
    GROUP BY lang
    """,
)
def text_bpe_compression_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full tokenizer-training pipeline end-to-end: train 3 BPE merge
    rounds on the corpus (same recipe as ``text_bpe_train_merges``),
    ENCODE every word with the learned rules, and report per-language
    compression — symbols-per-character after merging, the metric that
    decides how many merge rounds a production tokenizer buys per
    language. Output: (lang, word count, char count, symbol count,
    compression ratio); the ratio divides two exact BIGINTs, so the one
    double op is bit-identical cross-engine.

    Same 100 TB shape as the trainer: one corpus scan builds the
    (sym, lang, freq) vocabulary table (cached); training rounds
    aggregate over it lang-agnostically (freq is additive, so summing
    per-(sym, lang) rows equals the global pair count); the encode step
    is three literal replaces + a vocab-sized per-lang aggregate — the
    corpus is never rescanned. NULL-lang docs are filtered identically
    on both sides (F.concat/grouping NULL semantics diverge — the
    scalar_url_parse precedent)."""
    from . import register_query_cache

    docs = t_cpu(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    words = register_query_cache(
        docs.select(F.explode(tokens("text")).alias("tok"), "lang")
        .select(
            F.concat(
                F.lit(" "), F.array_join(F.split("tok", ""), " "), F.lit(" ")
            ).alias("sym"),
            "lang",
        )
        .groupBy("sym", "lang")
        .agg(F.count(F.lit(1)).alias("freq"))
        .cache()
    )
    _, cur = _bpe_train(words)
    stripped = F.replace(F.trim(F.col("sym")), F.lit(" "), F.lit(""))
    enc = cur.select(
        "lang",
        "freq",
        F.size(F.split(F.trim(F.col("sym")), " ")).alias("n_sym"),
        F.length(stripped).alias("n_chr"),
    )
    return (
        enc.groupBy("lang")
        .agg(
            F.sum("freq").alias("n_words"),
            F.sum(F.col("n_chr") * F.col("freq")).alias("n_chars"),
            F.sum(F.col("n_sym") * F.col("freq")).alias("n_symbols"),
        )
        .select(
            "lang",
            "n_words",
            "n_chars",
            "n_symbols",
            (
                F.col("n_symbols").cast("double")
                / F.col("n_chars").cast("double")
            ).alias("compression"),
        )
    )
