"""Distributed k-means (the IVF trainer) and the IVF search it feeds:
convergence, exactness, layout independence, integration with
ivf_ann_topk and probe selection under ties. Only the k x dim centroid
matrix touches the driver."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from crane_stream_processing_spark.catalog import load_table
from crane_stream_processing_spark.functions import dot
from crane_stream_processing_spark.operators.similarity import (
    hyperplanes,
    ivf_ann_topk,
    ivf_assign,
    ivfpq_topk,
    kmeans_fit,
)


def _inertia(emb, centroids) -> float:
    """Total squared distance to the assigned centroid."""
    offs = [sum(x * x for x in c) for c in centroids]
    scores = F.array(
        *[
            2 * dot(F.col("embedding"), F.array(*[F.lit(x) for x in c])) - F.lit(o)
            for c, o in zip(centroids, offs)
        ]
    )
    # ||v-c||^2 = ||v||^2 - (2 v.c - ||c||^2); minimize over c == maximize score
    return (
        emb.select(
            (dot("embedding", "embedding") - F.array_max(scores)).alias("d2")
        )
        .agg(F.sum("d2"))
        .collect()[0][0]
    )


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_kmeans_reduces_inertia(spark, emb):
    c1 = kmeans_fit(emb, k=4, iters=1)
    c4 = kmeans_fit(emb, k=4, iters=4)
    i1, i4 = _inertia(emb, c1), _inertia(emb, c4)
    assert i4 <= i1 + 1e-6  # Lloyd's never increases inertia
    assert len(c4) == 4 and len(c4[0]) == 64


@pytest.mark.parametrize("k", [4, 32])
def test_kmeans_cells_partition_corpus(spark, emb, k):
    """The trained model is a valid k×dim matrix and its cells partition
    the corpus, at small k and at k=32."""
    cents = kmeans_fit(emb, k=k, iters=1)
    assert len(cents) == k and len(cents[0]) == 64
    counts = {
        r.cell: r.n
        for r in ivf_assign(emb, cents)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sum(counts.values()) == emb.count()
    assert set(counts) <= set(range(k))


def test_trained_ivf_search_runs(spark, emb):
    cents = kmeans_fit(emb, k=4, iters=2)
    out = ivf_ann_topk(emb, emb.filter(F.col("vec_id") < 5), cents, k=3)
    rows = out.collect()
    assert all(r.rank <= 3 for r in rows)
    assert len({r.query_id for r in rows}) <= 5


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _leaked_centroids(cents, plan: str) -> list[int]:
    """Centroids whose first component appears as plan text. Checks every
    centroid: a plan string truncates a long ``array(...)`` argument list
    at spark.sql.debug.maxToStringFields (25), so a literal leak shows
    only the leading centroids."""
    return [i for i, c in enumerate(cents) if str(c[0]) in plan]


def test_relational_coarse_plan_shape(spark, emb):
    """The coarse quantizer must (a) carry the centroid matrix as
    broadcast DATA — no centroid component may appear as a plan literal —
    and (b) keep the plan O(1) in k: the k=64 plan is no larger than the
    k=8 plan, give or take expression-id digits."""
    cents = hyperplanes(64, 64, seed="crane-ivf64")
    q = emb.filter(F.col("vec_id") < 10)
    plan = _executed_plan(ivf_ann_topk(emb, q, cents, k=3))
    assert "BroadcastNestedLoopJoin" in plan
    assert not _leaked_centroids(cents, plan), "centroid literal leaked into plan"
    plan8 = _executed_plan(ivf_ann_topk(emb, q, cents[:8], k=3))
    assert len(plan) < 1.1 * len(plan8)


def test_ivfpq_query_probes_carry_no_centroid_literals(spark, emb):
    """ivfpq_topk's query-side probes go through the same coarse
    quantizer as every other IVF entry point: at k=64 no centroid
    component may appear as a plan literal."""
    cents = hyperplanes(64, 64, seed="crane-ivf64")
    books = [hyperplanes(16, 8, seed=f"crane-pq-sub{j}") for j in range(8)]
    q = emb.filter(F.col("vec_id") < 10)
    plan = _executed_plan(ivfpq_topk(emb, q, cents, books, k=3))
    assert not _leaked_centroids(cents, plan), "centroid literal leaked into plan"


def test_arrow_coarse_assign_matches_relational(spark, emb):
    """The Arrow quantizer must reproduce the relational path's cells
    bit for bit: corpus-wide at k=64 and k=256, and on a
    catastrophic-cancellation fixture where the association ORDER of the
    dot decides the argmax (exact arithmetic would pick the other cell)."""
    import numpy as np

    from crane_stream_processing_spark.operators.similarity import (
        ivf_assign_arrow,
    )

    for k in (64, 256):
        cents = hyperplanes(k, 64, seed="crane-ivf-arrow")
        rel = {(r.vec_id, r.cell) for r in ivf_assign(emb, cents).collect()}
        fast = {
            (r.vec_id, r.cell)
            for r in ivf_assign_arrow(emb, cents).collect()
        }
        assert fast == rel and len(fast) == emb.count()

    # numpy-level: the accumulate fold IS the Python sequential fold
    rng = np.random.default_rng(5)
    v, c = rng.normal(size=64), rng.normal(size=64)
    acc = 0.0
    for a, b in zip(v, c):
        acc = acc + a * b
    assert acc == np.add.accumulate(v * c)[-1]

    # cancellation fixture: sequential fold of v.c0 loses the +1.0
    # (1e16 + 1.0 == 1e16), so fold-dots are (0.0, 0.5) -> cell 1, while
    # mathematically exact dots are (1.0, 0.5) -> cell 0. Both paths
    # must AGREE on cell 1.
    tie_cents = [[1.0, 1.0, 1.0], [0.0, 0.5, 0.0]]
    fx = spark.createDataFrame(
        [(0, [1e16, 1.0, -1e16])], "vec_id long, embedding array<double>"
    )
    rel_cell = ivf_assign(fx, tie_cents).collect()[0].cell
    fast_cell = ivf_assign_arrow(fx, tie_cents).collect()[0].cell
    assert rel_cell == fast_cell == 1


def test_exact_kmeans_trainer_deterministic_and_guarded(spark, emb):
    """The exact trainer's two contracts: (a) run-determinism — two fits
    on the same input return bit-identical models (the property that
    makes the retrain loop's after-side SQL-re-derivable); (b) the
    integral-at-2^48 guard — a float64 input that is NOT exactly
    representable at the scale must raise, never silently produce an
    unprovable model. Also: the model trains (inertia improves over its
    seeds)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    a = kmeans_fit(emb, k=8, iters=2)
    b = kmeans_fit(emb, k=8, iters=2)
    assert a == b  # bit-identical, not allclose

    seeds = kmeans_fit(emb, k=8, iters=0)
    assert _inertia(emb, seeds) >= _inertia(emb, a)

    # 0.1 is not a dyadic rational: 0.1 * 2^48 is non-integral
    bad = emb.withColumn(
        "embedding",
        F.transform("embedding", lambda x: x.cast("double") + F.lit(0.1)),
    )
    with _pytest.raises(ValueError, match="not exactly representable"):
        kmeans_fit(bad, k=8, iters=1)


def test_exact_kmeans_hand_computed_means(spark):
    """kmeans_fit on a hand-separable float32-representable corpus: two
    clear clusters, k=2, 1 iteration — the trained centroids must be
    EXACTLY the cluster means (decimal-exact sums / count / 2^48 shift),
    and the seed order must follow first-occurrence id order. Guards the
    exact-fold arithmetic against refactors independently of the
    SQL-oracle parity."""
    # dyadic components (exact at 2^48); ids chosen so seeds = rows 1,2
    rows = [
        (1, [0.25, 0.0]), (2, [8.0, 8.25]),
        (3, [0.5, 0.25]), (4, [8.5, 7.75]), (5, [0.75, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = kmeans_fit(df, k=2, iters=1)
    # assignment to seeds (0.25,0) and (8,8.25): {1,3,5} -> cell 0,
    # {2,4} -> cell 1; means exactly:
    assert got[0] == [(0.25 + 0.5 + 0.75) / 3, (0.0 + 0.25 + 0.5) / 3]
    assert got[1] == [(8.0 + 8.5) / 2, (8.25 + 7.75) / 2]


def test_kmeans_model_independent_of_layout(spark, emb):
    """The k=8 model is bit-identical across shuffle partitions, AQE
    and input partitioning: exact sums do not depend on merge order."""
    from .conftest import models_across_layouts

    models = models_across_layouts(
        spark, emb, lambda df: kmeans_fit(df, k=8, iters=2)
    )
    assert all(m == models[0] for m in models)


def test_seeds_past_the_probe_are_lowest_first_occurrence(spark):
    """Seeds are the k distinct vectors with the lowest first-occurrence
    id, also when the 4k lowest-id rows hold fewer than k distinct
    vectors and the relational pass decides."""
    rows = [(i, [1.0, 1.0]) for i in range(8)]  # the 4k=8 probe: one vector
    rows += [(8, [2.0, 0.0]), (9, [1.0, 1.0]), (10, [0.0, 2.0]), (11, [2.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert kmeans_fit(df, k=2, iters=0) == [[1.0, 1.0], [2.0, 0.0]]
    with pytest.raises(ValueError, match="distinct"):
        kmeans_fit(df, k=4, iters=0)


def test_ivf_nprobe_tied_centroids_no_duplicate_pairs(spark):
    """Tied centroid dots must still probe nprobe DISTINCT cells exactly
    once each (probe_cells sorts (dot, cell-index) pairs, so ties break
    by index instead of collapsing through first-occurrence
    array_position). A duplicate cell in the probe list would emit
    duplicate (query, candidate) pairs inside the top-k; a collapsed
    tie would silently scan fewer than nprobe cells."""
    from crane_stream_processing_spark.operators.similarity import (
        ivf_ann_topk_nprobe,
    )

    emb = spark.createDataFrame(
        [(i, [1.0, float(i % 3)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    dup_centroids = [[1.0, 0.5], [1.0, 0.5]]  # every query ties both cells
    out = ivf_ann_topk_nprobe(
        emb, emb.filter("vec_id < 3"), dup_centroids, k=3, nprobe=2
    )
    rows = [(r.query_id, r.cand_id) for r in out.collect()]
    assert len(rows) == len(set(rows)), rows


def test_probe_cells_exact_count_under_ties(spark):
    """probe_cells must return exactly nprobe distinct cells even when
    dot values tie (a value-based recipe collapses tied dots through
    array_distinct, probing fewer cells and never scanning the tied
    cell), ordered desc-by-dot with low-index ties."""
    from pyspark.sql import functions as F

    from crane_stream_processing_spark.operators.similarity import (
        probe_cells,
    )

    df = spark.createDataFrame(
        [([0.5, 0.9, 0.9, 0.1, 0.9],)], "dots array<double>"
    )
    for nprobe, want in [(2, [1, 2]), (4, [1, 2, 4, 0]), (9, [1, 2, 4, 0, 3])]:
        got = df.select(
            probe_cells(F.col("dots"), nprobe).alias("c")
        ).first().c
        assert got == want, (nprobe, got)


def test_sim_ivf_retrain_loop_certificates(spark, sf_dir):
    """All three certificates must hold, and the oracle-exact integers
    must be internally consistent (hits bounded by exact rows, health
    scalars positive)."""
    from crane_stream_processing_spark.inventory.northstar import (
        sim_ivf_retrain_loop,
    )

    row = sim_ivf_retrain_loop(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_queries == 10 and r.n_exact == 30
    assert 0 <= r.n_hit_before <= r.n_exact
    assert r.max_before >= 1 and r.hot_before >= 0
    assert r.balance_improved and r.recall_not_worse and r.recall_retrained_ok
