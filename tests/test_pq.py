"""Product-quantization properties: PQ is approximate by construction,
so the tests pin (1) the degenerate-exactness contract — when the ADC
shortlist covers the whole corpus, the exact re-rank stage makes the
output IDENTICAL to brute force, proving approximation lives only in
shortlist selection, never in the returned metric; (2) the code-table
shape/range invariants the encode join relies on; and (3) loud failure
on a mis-factored dimension. The recall floor of the full pipeline is
pinned by the sim_pq_adc_topk certificate in the graded registry."""

from __future__ import annotations

import random

import pytest

from crane_stream_processing_spark.operators import similarity as S


def _corpus(spark, n=30, dim=16, seed=7):
    rng = random.Random(seed)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_covering_shortlist_equals_exact(spark):
    emb = _corpus(spark)
    books = S.pq_fit(emb, m=4, ksub=4, iters=2)
    q = emb.filter("vec_id < 5")
    pq = S.pq_adc_topk(emb, q, books, shortlist=30, k=3)
    exact = S.cosine_topk(emb, q, k=3)
    got = {(r.query_id, r.cand_id, r.rank, r.cos_sim) for r in pq.collect()}
    want = {(r.query_id, r.cand_id, r.rank, r.cos_sim) for r in exact.collect()}
    assert got == want


def test_pq_encode_shape_and_range(spark):
    emb = _corpus(spark, n=20)
    m, ksub = 4, 4
    books = S.pq_fit(emb, m=m, ksub=ksub, iters=1)
    assert len(books) == m and all(len(b) == ksub for b in books)
    assert all(len(c) == 4 for b in books for c in b)  # dsub = 16/4
    codes = S.pq_encode(emb, books).collect()
    assert len(codes) == 20 * m  # one code per (vector, subspace)
    assert {(r.vid, r.sub_id) for r in codes} == {
        (i, j) for i in range(20) for j in range(m)
    }
    assert all(0 <= r.code < ksub for r in codes)


def test_pq_fit_rejects_indivisible_dim(spark):
    emb = _corpus(spark, dim=10)
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_fit(emb, m=4, ksub=2, iters=1)


def test_pq_fit_rejects_too_few_distinct_subvectors(spark):
    # All-identical vectors: every subspace has ONE distinct subvector,
    # so ksub=2 cannot be seeded and must fail loudly (a silent
    # half-empty codebook would quietly halve the index resolution).
    rows = [(i, [1.0] * 8) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="distinct"):
        S.pq_fit(emb, m=2, ksub=2, iters=1)


def test_ivfpq_subset_of_pq_and_true_cosines(spark):
    """IVF cell pruning can only REMOVE candidates relative to plain PQ
    over the same codebooks (same ADC scores, restricted pool), and both
    emit exact re-ranked cosines — so every IVF-PQ hit that plain-PQ
    also returns must carry the identical score."""
    emb = _corpus(spark, n=40)
    books = S.pq_fit(emb, m=4, ksub=4, iters=2)
    cents = S.kmeans_fit(emb, k=4, iters=2)
    q = emb.filter("vec_id < 5")
    pq = {
        (r.query_id, r.cand_id): r.cos_sim
        for r in S.pq_adc_topk(emb, q, books, shortlist=40, k=40).collect()
    }
    ivfpq = S.ivfpq_topk(
        emb, q, cents, books, nprobe=4, shortlist=40, k=3
    ).collect()
    assert ivfpq  # nprobe == k cells -> no pruning, must return rows
    for r in ivfpq:
        assert pq[(r.query_id, r.cand_id)] == r.cos_sim


def test_rowlocal_codes_match_batch_encode(spark):
    """The streaming ingest's row-local code assignment
    (pq_codebook_matrix + pq_codes_from_matrix) must be BIT-identical to
    the batch join+groupBy path (pq_encode) — same dot−off staging, same
    lowest-code tiebreak — including on a codebook engineered to produce
    exact score ties."""
    from pyspark.sql import functions as F

    emb = _corpus(spark, n=40, dim=16)
    books = S.pq_fit(emb, m=4, ksub=4, iters=2)

    batch = {
        (r.vid, r.sub_id): r.code
        for r in S.pq_encode(emb, books).collect()
    }
    pqmat = F.broadcast(S.pq_codebook_matrix(spark, books))
    rowlocal = {
        (r.vec_id, r.sub_id): r.code
        for r in emb.crossJoin(pqmat)
        .select(
            "vec_id",
            F.posexplode(
                S.pq_codes_from_matrix(F.col("embedding"), F.col("__pqmat"), 4)
            ).alias("sub_id", "code"),
        )
        .collect()
    }
    assert rowlocal == batch and len(batch) == 40 * 4

    # tie fixture: duplicate centroids in one subspace → both paths must
    # pick the LOWEST code
    tie_books = [[[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 1.0]]] * 2
    tie_emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 1.0]), (1, [0.0, 1.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    b = {
        (r.vid, r.sub_id): r.code
        for r in S.pq_encode(tie_emb, tie_books).collect()
    }
    m = F.broadcast(S.pq_codebook_matrix(spark, tie_books))
    r = {
        (row.vec_id, row.sub_id): row.code
        for row in tie_emb.crossJoin(m)
        .select(
            "vec_id",
            F.posexplode(
                S.pq_codes_from_matrix(F.col("embedding"), F.col("__pqmat"), 2)
            ).alias("sub_id", "code"),
        )
        .collect()
    }
    assert r == b
    assert r[(0, 0)] == 0 and r[(1, 0)] == 2  # ties → lowest code


def _arrow_codes(df, books):
    """(vid, sub_id) -> code from the fused IVF×PQ Arrow kernel; the
    coarse cell is irrelevant here, so one zero centroid of matching dim
    stands in for the IVF centroids."""
    dim = len(books) * len(books[0][0])
    return {
        (r.vec_id, r.sub_id): r.code
        for r in S.ivfpq_encode_arrow(df, [[0.0] * dim], books).collect()
    }


def test_arrow_encode_matches_batch_encode(spark):
    """The fused Arrow encoder's codes must agree with the join+groupBy
    path code-for-code — same argmax(dot − off) staging, same
    lowest-code tiebreak, including engineered exact ties."""
    emb = _corpus(spark, n=50, dim=16, seed=11)
    books = S.pq_fit(emb, m=4, ksub=4, iters=2)
    batch = {
        (r.vid, r.sub_id): r.code for r in S.pq_encode(emb, books).collect()
    }
    fast = _arrow_codes(emb, books)
    assert fast == batch and len(fast) == 50 * 4

    tie_books = [[[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 1.0]]] * 2
    tie_emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 1.0]), (1, [0.0, 1.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    b = {
        (r.vid, r.sub_id): r.code
        for r in S.pq_encode(tie_emb, tie_books).collect()
    }
    f = _arrow_codes(tie_emb, tie_books)
    assert f == b and f[(0, 0)] == 0 and f[(1, 0)] == 2


def test_arrow_encode_rejects_misfactored_dim(spark):
    import pytest as _pytest

    emb = _corpus(spark, n=4, dim=16)
    books3 = [[[0.0] * 3] * 4] * 4  # m*dsub = 12 != 16
    with _pytest.raises(Exception, match="vector dim 16 != index dim 12"):
        _arrow_codes(emb, books3)


def test_arrow_encode_exact_fold_matches_batch(spark):
    """The fused Arrow encoder's strict sequential fold must reproduce
    the join path's codes — including the cancellation fixture where
    the association order of the sub-dot decides the argmax."""
    emb = _corpus(spark, n=40, dim=16, seed=3)
    books = S.pq_fit(emb, m=4, ksub=4, iters=2)
    batch = {
        (r.vid, r.sub_id): r.code for r in S.pq_encode(emb, books).collect()
    }
    assert _arrow_codes(emb, books) == batch

    # one subspace (dsub=3): the fold of v.c0 loses the +1.0
    # (1e16 + 1.0 == 1e16) -> dot 0.0, score 0.0 - 1.5 = -1.5; exact
    # math would give 1.0 - 1.5 = -0.5. c1 scores -0.6 - 0.18 = -0.78,
    # strictly BETWEEN them — so the association order decides the
    # argmax: fold -> code 1, exact math -> code 0. The join path and
    # the Arrow kernel must agree on the fold's answer.
    cbooks = [[[1.0, 1.0, 1.0], [0.0, -0.6, 0.0]]]
    fx = spark.createDataFrame(
        [(0, [1e16, 1.0, -1e16])], "vec_id long, embedding array<double>"
    )
    b = S.pq_encode(fx, cbooks).collect()[0].code
    assert b == _arrow_codes(fx, cbooks)[(0, 0)] == 1
