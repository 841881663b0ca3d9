"""Product-quantization properties: PQ is approximate by construction,
so the tests pin (1) the degenerate-exactness contract — when the ADC
shortlist covers the whole corpus, the exact re-rank stage makes the
output IDENTICAL to brute force, proving approximation lives only in
shortlist selection, never in the returned metric; (2) the code-table
shape/range invariants of the encoder; (3) the trainer's exactness:
hand-computed means, k-means as PQ with one subspace and layout
independence; (4) Arrow-vs-relational encode
parity, ties and fold order included; and (5) loud failure on a
mis-factored dimension. The recall floor of the full pipeline is
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
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


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


def test_kmeans_is_pq_with_one_subspace(spark):
    emb = _corpus(spark, n=40)
    assert S.pq_fit(emb, m=1, ksub=4, iters=2)[0] == S.kmeans_fit(
        emb, k=4, iters=2
    )


def test_pq_hand_computed_means(spark):
    """pq_fit on a hand-separable float32-representable corpus, m=2,
    ksub=2, 1 iteration: each subspace's centroids must be EXACTLY the
    means of its own cells (decimal-exact sums / count / 2^48 shift),
    with seeds in first-occurrence id order per subspace — the two
    subspaces split the rows differently."""
    rows = [
        (1, [0.25, 0.0, 4.0, 4.0]),
        (2, [8.0, 8.25, 4.0, 4.0]),  # subspace 1 repeats row 1's subvector
        (3, [0.5, 0.25, 0.0, 0.5]),
        (4, [8.5, 7.75, 0.25, 0.0]),
        (5, [0.75, 0.5, 4.5, 3.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = S.pq_fit(df, m=2, ksub=2, iters=1)
    # subspace 0 seeds (0.25,0), (8,8.25): {1,3,5} -> 0, {2,4} -> 1
    assert got[0] == [
        [(0.25 + 0.5 + 0.75) / 3, (0.0 + 0.25 + 0.5) / 3],
        [(8.0 + 8.5) / 2, (8.25 + 7.75) / 2],
    ]
    # subspace 1 seeds (4,4) (id 1) and (0,0.5) (id 3; id 2 repeats the
    # first): {1,2,5} -> 0, {3,4} -> 1
    assert got[1] == [
        [(4.0 + 4.0 + 4.5) / 3, (4.0 + 4.0 + 3.5) / 3],
        [(0.0 + 0.25) / 2, (0.5 + 0.0) / 2],
    ]


def test_pq_model_independent_of_layout(spark, sf_dir):
    """The 8x32 codebooks are bit-identical across shuffle partitions,
    AQE and input partitioning: exact sums do not depend on merge
    order."""
    from crane_stream_processing_spark.catalog import load_table

    from .conftest import models_across_layouts

    emb = load_table(spark, sf_dir, "embeddings")
    models = models_across_layouts(
        spark, emb, lambda df: S.pq_fit(df, m=8, ksub=32, iters=2)
    )
    assert all(m == models[0] for m in models)


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
    """The fused Arrow encoder's codes must agree with the relational
    assigner (pq_encode) code-for-code — same argmax(dot − off) staging,
    same lowest-code tiebreak, including engineered exact ties."""
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
    the relational assigner's codes — including the cancellation fixture where
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
    # argmax: fold -> code 1, exact math -> code 0. The relational
    # assigner and the Arrow kernel must agree on the fold's answer.
    cbooks = [[[1.0, 1.0, 1.0], [0.0, -0.6, 0.0]]]
    fx = spark.createDataFrame(
        [(0, [1e16, 1.0, -1e16])], "vec_id long, embedding array<double>"
    )
    b = S.pq_encode(fx, cbooks).collect()[0].code
    assert b == _arrow_codes(fx, cbooks)[(0, 0)] == 1
