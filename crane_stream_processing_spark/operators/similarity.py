"""Embedding similarity search (north-star surface): brute-force cosine
top-k as the exact baseline, random-hyperplane LSH bucketing as the scale
path. Embeddings are ``array<float>`` columns; all arithmetic is
double-precision JVM array expressions (functions.dot/l2norm) — no UDFs.

Scale: brute-force is O(|queries|·|corpus|) with the query side broadcast —
right for small query sets / reranking. LSH assigns each vector to a
bucket via sign bits of dot products with fixed hyperplanes; search then
probes only matching buckets: the crossJoin shrinks by ~2^planes.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dot, l2norm

__all__ = [
    "hyperplanes",
    "lsh_bucket",
    "cosine_topk",
    "cosine_near_pairs",
    "lsh_ann_topk",
    "lsh_ann_topk_multiprobe",
    "binary_code_words",
    "binary_quant_topk",
    "centroid_matrix",
    "coarse_dots",
    "ivf_centroid",
    "ivf_assign",
    "ivf_assign_arrow",
    "ivf_bucket_corpus",
    "ivf_ann_topk",
    "ivf_ann_topk_nprobe",
    "kmeans_fit",
    "random_projection",
    "pq_fit",
    "pq_encode",
    "codebook_matrix",
    "pq_codes",
    "pq_adc_topk",
    "ivfpq_topk",
    "pca_power_components",
    "quantize_floor",
    "integer_gram",
    "covariance_scaled",
]


def hyperplanes(n_planes: int, dim: int, seed: str = "crane-lsh") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): component (p, i)
    derives from md5(seed|p|i) — reproducible across engines/sessions with
    no RNG state, so the same literals can be inlined into oracle SQL."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{i}".encode()).digest()
            (u,) = struct.unpack("<Q", h[:8])
            row.append(round(u / 2**63 - 1.0, 6))
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = integer of sign bits of dot(vec, plane_p). DuckDB twin:
    SUM(CASE WHEN list_dot_product(...) > 0 THEN 1<<p END) with the same
    plane literals.

    Dimension-checked: a vector longer than the planes would make dot()
    fold past the plane array into NULLs, NULL > 0 is false, and EVERY
    vector would land in bucket 0 — the ANN variants silently degrade to
    one O(n²) bucket. Better a per-row error than a silently wrong
    index."""
    dim = len(planes[0])
    out = F.lit(0).cast("long")
    for p, row in enumerate(planes):
        plane = F.array(*[F.lit(v) for v in row])
        out = out + F.when(dot(vec, plane) > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0)
        )
    # NULL vectors pass through as NULL buckets (F.size(NULL) is NULL, so
    # the equality check can never be true for them and the raise would
    # fire with a misleading message); the raise is reserved for genuinely
    # mis-dimensioned non-NULL vectors.
    return (
        F.when(vec.isNull(), F.lit(None).cast("long"))
        .when(F.size(vec) == dim, out)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("lsh_bucket: vector dim "),
                    F.size(vec).cast("string"),
                    F.lit(f" != plane dim {dim}"),
                )
            )
        )
    )


def _cosine_topk_within(
    q: DataFrame, c: DataFrame, k: int, on: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Shared tail of every top-k variant: score each (query, candidate)
    pair sharing ``on`` (crossJoin when None — the exact baseline), exact
    cosine from the precomputed norms, deterministic per-query top-k
    (score desc, candidate id tiebreak). One definition so the contract —
    self-pair filter, 6-decimal rounding, tiebreak — cannot drift between
    the exact, LSH, multi-probe, and IVF variants.

    ``exclude_self`` (default True) drops query_id == cand_id pairs —
    correct for self-search, where queries are drawn from the corpus and
    every query would otherwise match itself at cosine 1.0. Pass False
    when query and corpus ids are INDEPENDENT namespaces: there an id
    collision is a legitimate match, not a self-pair."""
    joined = q.crossJoin(c) if on is None else q.join(c, on)
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("cand_id"))
    return _rank_by_cosine(joined, k)


def _rank_by_cosine(joined: DataFrame, k: int, *carry: str) -> DataFrame:
    """Exact cosine of each (query, candidate) row of ``joined`` from its
    (qvec, qn, cvec, cn) columns, rounded to 6 decimals, and the per-query
    top-k by score with a cand_id tiebreak. Output: (query_id, cand_id,
    *carry, cos_sim, rank)."""
    scored = joined.select(
        "query_id",
        "cand_id",
        *carry,
        F.round(dot("qvec", "cvec") / (F.col("qn") * F.col("cn")), 6).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _exact_rerank(
    short: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    *carry: str,
) -> DataFrame:
    """Second stage of every shortlist variant: join the (query_id,
    cand_id, *carry) shortlist back to the normed corpus vectors (an id
    equi-join: |Q|·shortlist rows against the corpus) and query vectors
    (the small broadcast), then :func:`_rank_by_cosine`. Zero vectors
    are dropped on both sides, as in :func:`cosine_topk`."""
    c_full = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cvec"),
        l2norm(vec_col).alias("cn"),
    ).filter(F.col("cn") > 0)
    q_full = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            l2norm(vec_col).alias("qn"),
        ).filter(F.col("qn") > 0)
    )
    joined = short.join(c_full, "cand_id").join(q_full, "query_id")
    return _rank_by_cosine(joined, k, *carry)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the (small) query set
    against the corpus, per-query window top-k. Rounded to 6 decimals with
    an id tiebreak so ranking is engine-deterministic.

    Norms are computed once per vector BEFORE the join, so each of the
    |Q|·|corpus| pairs costs one dot product, not three; the value
    dot/(qn·cn) is bit-identical to cosine()."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            l2norm(vec_col).alias("qn"),
        ).filter(F.col("qn") > 0)  # cosine undefined for zero vectors
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cvec"),
        l2norm(vec_col).alias("cn"),
    ).filter(F.col("cn") > 0)
    return _cosine_topk_within(q, c, k, exclude_self=exclude_self)


def matryoshka_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix_dim: int = 16,
    shortlist: int = 20,
    k: int = 3,
    exclude_self: bool = True,
) -> DataFrame:
    """Two-stage matryoshka (prefix-dimension) retrieval: score every
    candidate on the first ``prefix_dim`` components only, keep a
    per-query ``shortlist``, then re-rank the shortlist with exact
    full-dimension cosine. The production pattern for MRL-style
    embeddings, where prefixes are trained to be usable sub-embeddings:
    stage 1 does dim/prefix_dim (here 4×) less arithmetic per pair — and
    at 100 TB the prefix lives in its own narrow column/index so the
    coarse pass also reads 4× fewer bytes — while stage 2 touches only
    |Q|·shortlist pairs. Same determinism contract as
    :func:`_cosine_topk_within` at BOTH stages: round(6) before ranking,
    candidate-id tiebreak, so an oracle reproduces the exact shortlist
    and the exact final top-k.

    Output: (query_id, cand_id, pre_sim, cos_sim, rank) — pre_sim kept
    so the coarse-vs-exact gap (the matryoshka quality signal) is
    visible per hit.

    Zero-prefix vectors are dropped on both sides (a nonzero prefix norm
    implies a nonzero full norm, so the re-rank's full-norm filter drops
    nothing more); the graded oracle applies the identical guard.

    The coarse pass carries ONLY (query_id, cand_id, pre_sim) into the
    per-query top-k shuffle — full vectors would make the stage-1
    exchange move the exact payload the prefix trick exists to avoid;
    :func:`_exact_rerank` joins the survivors' vectors back."""
    q_pre = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.slice(F.col(vec_col), 1, prefix_dim).alias("qpre"),
            l2norm(F.slice(F.col(vec_col), 1, prefix_dim)).alias("qpn"),
        ).filter(F.col("qpn") > 0)  # nonzero prefix => nonzero full norm
    )
    c_pre = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.slice(F.col(vec_col), 1, prefix_dim).alias("cpre"),
        l2norm(F.slice(F.col(vec_col), 1, prefix_dim)).alias("cpn"),
    ).filter(F.col("cpn") > 0)
    joined = q_pre.crossJoin(c_pre)
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("cand_id"))
    coarse = joined.select(
        "query_id",
        "cand_id",
        F.round(dot("qpre", "cpre") / (F.col("qpn") * F.col("cpn")), 6).alias(
            "pre_sim"
        ),
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("pre_sim").desc(), F.col("cand_id")
    )
    short = coarse.withColumn("prank", F.row_number().over(w1)).filter(
        F.col("prank") <= shortlist
    )
    return _exact_rerank(short, corpus, queries, id_col, vec_col, k, "pre_sim")


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: restrict candidates to the query's LSH bucket,
    then exact cosine + window top-k within it. The bucket equi-join
    replaces the crossJoin — candidate count per query drops by ~2^planes,
    and the join shuffles on the bucket key (linear, AQE-skew-handled).
    Recall is tunable via plane count (fewer planes → bigger buckets)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2norm(vec_col).alias("qn"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    ).filter(F.col("qn") > 0)  # cosine undefined for zero vectors
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cvec"),
        l2norm(vec_col).alias("cn"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    ).filter(F.col("cn") > 0)
    return _cosine_topk_within(q, c, k, on="bucket", exclude_self=exclude_self)


def lsh_ann_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    exclude_self: bool = True,
) -> DataFrame:
    """Multi-probe LSH top-k: each query searches its own bucket PLUS every
    bucket at Hamming distance 1 (one sign bit flipped) — the standard
    recall knob for LSH (Lv et al., VLDB'07): a true neighbor lands in a
    different bucket exactly when some hyperplane separates the pair, and
    single-bit probes recover the (by far) most likely such misses without
    re-hashing or extra tables. Cost: 1 + |planes| probe rows per query —
    the probe fan-out is on the (small) query side only; the corpus is
    still hashed once and the join stays a bucket equi-join. A candidate
    lives in exactly one bucket, so probes can't duplicate pairs."""
    n = len(planes)
    bucket = lsh_bucket(F.col(vec_col), planes)
    probe_list = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(1 << p) for p in range(n)]
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            l2norm(vec_col).alias("qn"),
            bucket.alias("bucket"),
        )
        .filter(F.col("qn") > 0)
        .select(
            "query_id", "qvec", "qn", F.explode(probe_list).alias("bucket")
        )
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cvec"),
        l2norm(vec_col).alias("cn"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    ).filter(F.col("cn") > 0)
    return _cosine_topk_within(q, c, k, on="bucket", exclude_self=exclude_self)


def binary_code_words(vec: Column, dim: int = 64) -> list[Column]:
    """1-bit (sign) quantization: pack ``dim`` sign bits (component > 0)
    into ``dim/32`` BIGINT words, 32 bits per word so no word ever touches
    the sign bit — bit i of word w is set iff vec[32·w + i] > 0. Pure JVM
    array expressions (zip_with against a literal power-of-two weight
    array + aggregate), no UDF; at scale the codes are computed in the
    same single pass that reads the floats and are 16 bytes/vector where
    the float rows are 256 — the 16× read shrink binary-quantized serving
    stacks (e.g. faiss IndexBinaryFlat) exploit."""
    if dim % 32:
        raise ValueError("dim must be a multiple of 32")
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(32)])
    zero = F.lit(0).cast("long")
    words = []
    for w in range(dim // 32):
        chunk = F.slice(vec, 1 + 32 * w, 32)
        bits = F.zip_with(
            chunk, weights, lambda v, wt: F.when(v > 0, wt).otherwise(zero)
        )
        words.append(F.aggregate(bits, zero, lambda acc, x: acc + x))
    return words


def binary_quant_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    shortlist: int = 50,
    k: int = 3,
    exclude_self: bool = True,
) -> DataFrame:
    """Binary-quantization ANN: coarse scan by Hamming distance over the
    packed sign-bit codes (XOR + popcount per word — ~10× cheaper than a
    64-float dot and reading 16× fewer bytes), per-query ``shortlist`` by
    (hamming asc, id asc), exact-cosine re-rank of the shortlist to top-k.
    Sign-bit codes approximate angular distance (the Goemans–Williamson
    bound: E[hamming] ∝ angle), so Hamming shortlisting is the standard
    cheap first stage for cosine search. Everything is deterministic —
    codes are exact integer expressions, both rank stages tie-break on
    candidate id — so the whole pipeline is row-level reproducible in SQL
    (no training, unlike IVF/PQ). The coarse stage is a broadcast
    nested-loop over the (bounded) query side, identical in shape to the
    exact baseline but on 2 BIGINTs per vector instead of 64 floats."""
    qwords = binary_code_words(F.col(vec_col), dim)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            l2norm(vec_col).alias("qn"),
            *[wd.alias(f"qw{i}") for i, wd in enumerate(qwords)],
        ).filter(F.col("qn") > 0)
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cvec"),
        l2norm(vec_col).alias("cn"),
        *[wd.alias(f"cw{i}") for i, wd in enumerate(qwords)],
    ).filter(F.col("cn") > 0)
    joined = q.crossJoin(c)
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("cand_id"))
    ham = None
    for i in range(dim // 32):
        term = F.bit_count(F.col(f"qw{i}").bitwiseXOR(F.col(f"cw{i}")))
        ham = term if ham is None else ham + term
    hw = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("cand_id").asc()
    )
    short = (
        joined.withColumn("hamming", ham)
        .withColumn("hrank", F.row_number().over(hw))
        .filter(F.col("hrank") <= shortlist)
    )
    return _rank_by_cosine(short, k, "hamming")


def centroid_matrix(spark: SparkSession, centroids: list[list[float]]) -> DataFrame:
    """The centroid matrix as DATA: a single-row relation whose one column
    ``__cmat`` is ``array<array<double>>``, one centroid per element in
    cell order. Broadcast-crossJoined into the vector side (bounded: ONE
    row; k·dim·8 bytes, ~2 MB even at k=4096, dim=64), it carries the
    full matrix without any O(k·dim) literal expressions, so the plan
    stays O(1) in k. Built from pandas so that, with Arrow enabled, it is
    a JVM-side LocalRelation: a relation parallelized from Python rows
    needs a Python-worker job to build the broadcast (~0.3 s per query on
    a 4-core VM, independent of data size)."""
    import pandas as pd

    rows = [[float(x) for x in c] for c in centroids]
    return spark.createDataFrame(
        pd.DataFrame({"__cmat": [rows]}), "__cmat array<array<double>>"
    )


def coarse_dots(
    df: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    """The coarse quantizer: ``df`` plus ``__dots``, the array of
    dot(``vec_col``, centroid) in cell order — the one source of
    per-centroid dots for every IVF entry point and semantic dedup
    (trainers and PQ codes assign through :func:`pq_codes`, whose argmax
    subtracts ||c||²/2). The centroids arrive through the broadcast
    :func:`centroid_matrix` relation; cell id is the array index, so
    :func:`ivf_centroid` / :func:`probe_cells` consume ``__dots``
    directly. Row-local, so a streaming ``df`` gets a stream-static
    broadcast join."""
    mat = F.broadcast(centroid_matrix(df.sparkSession, centroids))
    return (
        df.crossJoin(mat)
        .withColumn("__dots", F.transform("__cmat", lambda c: dot(vec_col, c)))
        .drop("__cmat")
    )


def probe_cells(dots: Column, nprobe: int) -> Column:
    """Top-``nprobe`` cell indices by descending centroid dot, as an array
    — index-based selection, so exactly-tied centroid dots still yield
    exactly ``nprobe`` DISTINCT cells (the earlier value-based recipe —
    slice top dot values, map back via first-occurrence array_position,
    array_distinct — collapsed ties and silently probed fewer cells; the
    tied cell was never scanned). Sorts (dot, cell) pairs with an explicit
    comparator: descending dot, ascending cell index on ties — the same
    low-index tiebreak as ``ivf_centroid``. Pure row-local expression;
    cells are distinct by construction so no dedup step is needed and a
    downstream explode probes each cell exactly once."""
    pairs = F.transform(
        dots,
        lambda d, i: F.struct(d.alias("d"), i.cast("int").alias("c")),
    )
    ordered = F.array_sort(
        pairs,
        lambda a, b: F.when(a["d"] > b["d"], F.lit(-1))
        .when(a["d"] < b["d"], F.lit(1))
        .otherwise(a["c"] - b["c"]),
    )
    return F.transform(F.slice(ordered, 1, nprobe), lambda s: s["c"])


def ivf_centroid(dots: Column) -> Column:
    """IVF coarse quantizer: cell id = argmax of the centroid-dot array
    (max dot ≈ min L2 for unit-ish vectors, and cheaper). Assignment is
    a pure row-local expression both engines compute identically;
    array_position takes the FIRST occurrence of the max → deterministic
    low-index tiebreak; 0-based cell id."""
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-quantize each vector to its trained IVF cell — (id, cell)
    only, the incremental index-INGEST stage: new vectors arriving after
    the index was trained are routed to their inverted lists without
    touching history. Entirely row-local (:func:`coarse_dots` + argmax —
    a stream-static broadcast cross join, bounded: ONE row), so the stage
    composes unchanged with Structured Streaming micro-batches: the
    streaming twin ``stream_ivf_ingest`` runs this exact function on a
    file stream and is graded batch-equivalently. Cells are bit-identical to
    :func:`ivf_bucket_corpus` (same fold, same argmax tiebreak)."""
    base = df.select(F.col(id_col), F.col(vec_col))
    return coarse_dots(base, centroids, vec_col).select(
        id_col, ivf_centroid(F.col("__dots")).alias("cell")
    )


def _vector_batches(batches, vec_col: str, dim: int):
    """(pdf, vecs) for each non-empty pandas batch of a ``mapInPandas``
    kernel: ``vecs`` is the batch's vector column as an n × ``dim``
    float64 matrix. A vector of another length raises."""
    import numpy as np

    for pdf in batches:
        if pdf.empty:
            continue
        vecs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        if vecs.shape[1] != dim:
            raise ValueError(f"vector dim {vecs.shape[1]} != index dim {dim}")
        yield pdf, vecs


def _fold_argmax(x, mat, offs=0.0):
    """First-max argmax over the last axis of ``dot(x, mat) − offs``, for
    ``x`` of shape (..., dim) and ``mat`` of shape (..., k, dim). Each dot
    is the strict left-to-right ``np.add.accumulate`` fold of the
    elementwise products — the association order of Catalyst's
    ``aggregate`` and DuckDB's ``list_dot_product`` — so scores are
    bit-identical to the relational operators, and ``argmax`` keeps their
    low-index tiebreak. Costs one (..., k, dim) temporary."""
    import numpy as np

    dots = np.add.accumulate(x[..., None, :] * mat, axis=-1)[..., -1]
    return (dots - offs).argmax(axis=-1).astype("int32")


def ivf_assign_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow/numpy form of the coarse quantizer — (id, cell) like
    :func:`ivf_assign`, but each Arrow batch is scored by one vectorized
    fold (:func:`_fold_argmax`) instead of per-row higher-order-function
    folds, which Catalyst evaluates interpreted (no whole-stage codegen
    inside ``transform``). Cells are bit-identical to :func:`ivf_assign`,
    including on a catastrophic-cancellation fixture where the
    association order decides the argmax (tests/test_kmeans_ivf.py).
    NULL ids/vectors are filtered (a NULL embedding has no cell on any
    path); mis-sized vectors raise."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.float64)  # k × dim

    def assign(batches):
        for pdf, vecs in _vector_batches(batches, vec_col, cmat.shape[1]):
            cells = _fold_argmax(vecs, cmat)
            yield pd.DataFrame({id_col: pdf[id_col].values, "cell": cells})

    base = df.select(id_col, vec_col).filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    )
    return base.mapInPandas(assign, f"{id_col} long, cell int")


def ivf_bucket_corpus(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF index build: assign every corpus vector to its nearest
    centroid cell and precompute its norm — columns (cand_id, cvec, cn,
    cell). In a production system this runs ONCE per corpus+centroid set
    and persists (the inverted file); searches then only bucket the query
    side. Persisting and re-reading it is lossless (float/double/int
    columns), so cached indexes answer identically to inline bucketing."""
    base = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cvec"),
        l2norm(vec_col).alias("cn"),
    ).filter(F.col("cn") > 0)
    return coarse_dots(base, centroids, "cvec").select(
        "cand_id", "cvec", "cn", ivf_centroid(F.col("__dots")).alias("cell")
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    bucketed: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) ANN: both sides assigned to their nearest
    centroid cell; search probes only the query's cell (nprobe=1), exact
    cosine + top-k within it. The cell equi-join replaces the crossJoin —
    candidates shrink by ~|centroids|; recall/cost is tuned by the
    centroid count and (in a fuller build) nprobe > 1. Pass ``bucketed``
    (a prebuilt :func:`ivf_bucket_corpus` result) to search an existing
    index instead of bucketing the corpus inline."""
    qbase = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2norm(vec_col).alias("qn"),
    ).filter(F.col("qn") > 0)
    q = coarse_dots(qbase, centroids, "qvec").select(
        "query_id", "qvec", "qn", ivf_centroid(F.col("__dots")).alias("cell")
    )
    c = bucketed if bucketed is not None else ivf_bucket_corpus(
        corpus, centroids, id_col, vec_col
    )
    return _cosine_topk_within(q, c, k, on="cell", exclude_self=exclude_self)


def ivf_ann_topk_nprobe(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 2,
    bucketed: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF ANN with multi-probe: each query searches its ``nprobe`` nearest
    cells (descending centroid dot), recovering most of the recall nprobe=1
    loses at cell boundaries for ~nprobe× the candidate cost — still
    |centroids|/nprobe× cheaper than brute force.

    The probe list is a row-local array expression (``probe_cells``):
    sort (dot, cell-index) pairs descending by dot with a low-index
    tiebreak and take the first ``nprobe`` — exactly ``nprobe`` distinct
    cells even under tied dots — then explode to one (query, cell) row
    per probe. Candidates live in exactly one cell, so probing distinct
    cells can't duplicate a pair and the downstream equi-join + window
    top-k is unchanged."""
    qbase = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2norm(vec_col).alias("qn"),
    ).filter(F.col("qn") > 0)
    q = coarse_dots(qbase, centroids, "qvec").select(
        "query_id",
        "qvec",
        "qn",
        F.explode(probe_cells(F.col("__dots"), nprobe)).alias("cell"),
    )
    c = bucketed if bucketed is not None else ivf_bucket_corpus(
        corpus, centroids, id_col, vec_col
    )
    return _cosine_topk_within(q, c, k, on="cell", exclude_self=exclude_self)


def cosine_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    bucket_planes: list[list[float]] | None = None,
    probe_max_id: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold (exact,
    pairwise). The all-pairs form (``bucket_planes=None``) is the
    correctness baseline; passing hyperplanes restricts candidates to
    same-LSH-bucket pairs — the join gains an equi key, the plan flips
    from BroadcastNestedLoopJoin to a hash/sort-merge join on bucket, and
    cost drops from O(n²) to Σ per-bucket n_b² — the form that survives a
    10⁹-vector corpus (recall bounded by bucket collision probability,
    raise planes→more/smaller buckets or union several plane sets).

    Norms precomputed per vector (1 dot per pair instead of 3). In the
    all-pairs form the non-equi condition makes parallelism equal the
    stream side's partition count, so repartition the input for CPU-bound
    corpora (the inventory queries do).

    ``probe_max_id`` bounds the probe (left) side to ids below the cap and
    broadcasts it: cost drops from O(n²) to O(cap·n) — LINEAR in corpus
    size, the shape a registry/bench query must have (an unbounded
    all-pairs plan is 10,000× the pairs at 100× the data). Leave ``None``
    only for explicitly bounded inputs or the bucketed form."""
    cols = [F.col(id_col), F.col(vec_col), l2norm(vec_col).alias("nrm")]
    if bucket_planes is not None:
        cols.append(lsh_bucket(F.col(vec_col), bucket_planes).alias("bucket"))
    staged = df.select(*cols).filter(
        F.col("nrm") > 0  # cosine undefined for zero vectors
    )
    a_src = staged if probe_max_id is None else staged.filter(
        F.col(id_col) < probe_max_id
    )
    a = a_src.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("nrm").alias("na"),
        *([F.col("bucket")] if bucket_planes is not None else []),
    )
    if probe_max_id is not None:
        # pin the bounded side as the broadcast build side so the big
        # corpus streams — never the other way around
        a = F.broadcast(a)
    b = staged.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("nrm").alias("nb"),
        *([F.col("bucket").alias("bucket_b")] if bucket_planes is not None else []),
    )
    cond = F.col("id_a") < F.col("id_b")
    if bucket_planes is not None:
        cond = (F.col("bucket") == F.col("bucket_b")) & cond
    return (
        a.join(b, cond)
        .select(
            "id_a",
            "id_b",
            F.round(dot("va", "vb") / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 8,
    in_dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Seeded signed random projection (Achlioptas/JL sketch): out[j] =
    Σ_d vec[d]·s(j,d) with s(j,d) ∈ {±1} derived from md5(j#d) — the one
    hash both engines share bit-for-bit, so an oracle can rebuild the
    exact matrix. Dimensionality reduction ahead of ANN: 64→8 dims cuts
    candidate-scoring cost 8× while JL preserves pairwise distances in
    expectation. Pure per-row projection — no shuffle, no UDF, streams
    through the scan at any corpus size.

    The sign matrix is row-independent, so it is computed ONCE driver-side
    (hashlib md5 == Spark md5 == DuckDB md5 on the same string) and
    inlined as ±1.0 literals — the previous in-expression form re-derived
    all out_dim·in_dim md5s per data row. Each output dim is then a plain
    :func:`functions.dot` against its literal sign row, the same ascending
    left fold as the oracle's list_sum comprehension (bit-equal before the
    round)."""
    sign_rows = [
        F.array(
            *[
                F.lit(
                    1.0
                    if hashlib.md5(f"{j}#{d}".encode()).hexdigest()[0] < "8"
                    else -1.0
                )
                for d in range(in_dim)
            ]
        )
        for j in range(out_dim)
    ]
    v = F.col(vec_col)
    proj = F.array(*[F.round(dot(v, row), round_to) for row in sign_rows])
    # Same dimension discipline as lsh_bucket: a shorter sign row would
    # fold into NULL components silently.
    guarded = F.when(F.size(v) == in_dim, proj).otherwise(
        F.raise_error(
            F.concat(
                F.lit("random_projection: vector dim "),
                F.size(v).cast("string"),
                F.lit(f" != in_dim {in_dim}"),
            )
        )
    )
    return df.select(F.col(id_col), guarded.alias("proj"))


#: 2^48 — scales every float32-representable embedding component to an
#: EXACT integer-valued double (48 significand bits needed at this
#: corpus's exponent range < the 53 a double carries; asserted per fit).
EXACT_COMPONENT_SCALE = float(1 << 48)


def codebook_matrix(
    spark: SparkSession, codebooks: list[list[list[float]]]
) -> DataFrame:
    """A trained vector quantizer as DATA: ``m`` codebooks of ``k``
    centroids each (a k-means model is the case m=1) in a single-row
    relation. ``__cb`` is ``array<array<array<double>>>`` (outer index =
    sub_id, inner index = code) and ``__off`` is
    ``array<array<double>>``, the staged ||c||²/2 of each centroid, so
    assignment is argmax(dot − off). Broadcast-crossJoined (bounded: ONE
    row), it keeps the plan O(1) in m·k. Built from pandas so that, with
    Arrow enabled, it is a JVM-side LocalRelation, as
    :func:`centroid_matrix` is."""
    import pandas as pd

    cb = [[[float(x) for x in c] for c in book] for book in codebooks]
    off = [[sum(x * x for x in c) / 2.0 for c in book] for book in cb]
    return spark.createDataFrame(
        pd.DataFrame({"__cb": [cb], "__off": [off]}),
        "__cb array<array<array<double>>>, __off array<array<double>>",
    )


def _split(vec: Column, m: int, dsub: int) -> Column:
    """The ``m`` contiguous ``dsub``-long subvectors of ``vec``."""
    return F.array(*[F.slice(vec, j * dsub + 1, dsub) for j in range(m)])


def _sub_dots(vec: Column, m: int, dsub: int) -> Column:
    """dot(subvector j, centroid) for every code of every subspace, as
    ``array<array<double>>`` against the ``__cb`` column. Each subvector
    is sliced once per row and bound as a lambda variable: a slice inside
    the per-code lambda would be re-evaluated at every fold step."""
    return F.zip_with(
        _split(vec, m, dsub),
        F.col("__cb"),
        lambda s, book: F.transform(book, lambda c: dot(s, c)),
    )


def pq_codes(
    df: DataFrame, codebooks: list[list[list[float]]], vec_col: str
) -> DataFrame:
    """The code assigner: ``df`` plus ``__codes``, each vector's
    nearest-centroid code per subspace (``array<int>``, index = sub_id):
    argmax of dot(subvector j, c) − ||c||²/2, i.e. argmin L2. The first
    max wins (array_position), so ties go to the lowest code. Every
    trainer iteration, :func:`pq_encode` and the streaming IVF×PQ ingest
    assign through it. Row-local, with the codebooks arriving through
    the broadcast :func:`codebook_matrix` relation, so a streaming
    ``df`` gets a stream-static broadcast join and no state."""
    m, dsub = len(codebooks), len(codebooks[0][0])
    mat = F.broadcast(codebook_matrix(df.sparkSession, codebooks))
    scores = F.zip_with(
        _sub_dots(F.col(vec_col), m, dsub),
        F.col("__off"),
        lambda d, o: F.zip_with(d, o, lambda x, y: x - y),
    )
    codes = F.transform(
        scores, lambda s: (F.array_position(s, F.array_max(s)) - 1).cast("int")
    )
    return df.crossJoin(mat).withColumn("__codes", codes).drop("__cb", "__off")


def _seed_books(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe: list,
    m: int,
    dsub: int,
    k: int,
) -> list[list[list[float]]]:
    """Per subspace, the ``k`` distinct subvectors with the lowest
    first-occurrence id, in that order. ``probe`` holds the ``4k``
    lowest-id vectors in id order: a subvector first seen after them has
    a higher first id than any in them, so when every subspace finds
    ``k`` distinct subvectors in the probe (or the probe is the whole
    input) it decides. Otherwise one groupBy(sub_id, subvector) min(id)
    pass does. Distinct seeds matter on dedup-heavy corpora: a twin seed
    loses every tie to its lower-code copy and never receives a vector."""
    books: list[list[list[float]]] = [[] for _ in range(m)]
    seen: list[set] = [set() for _ in range(m)]
    for r in probe:
        for j in range(m):
            sv = tuple(float(x) for x in r[0][j * dsub : (j + 1) * dsub])
            if len(books[j]) < k and sv not in seen[j]:
                seen[j].add(sv)
                books[j].append(list(sv))
    if len(probe) == 4 * k and any(len(b) < k for b in books):
        first = (
            df.select(
                F.col(id_col).alias("i"),
                F.posexplode(_split(F.col(vec_col), m, dsub)).alias("j", "sv"),
            )
            .groupBy("j", "sv")
            .agg(F.min("i").alias("fid"))
        )
        rank = F.row_number().over(Window.partitionBy("j").orderBy("fid"))
        books = [[] for _ in range(m)]
        for r in (
            first.withColumn("r", rank)
            .filter(F.col("r") <= k)
            .orderBy("j", "r")
            .collect()
        ):
            books[r.j].append([float(x) for x in r.sv])
    for j, book in enumerate(books):
        if len(book) < k:
            raise ValueError(
                f"pq_fit: subspace {j} has only {len(book)} distinct "
                f"subvectors; need {k} — lower k or dedup the corpus first"
            )
    return books


def _exact_means(
    vecs: DataFrame, codebooks: list[list[list[float]]], dsub: int
) -> list[list[list[float]]]:
    """One Lloyd's iteration: assign every (vector, subspace) with
    :func:`pq_codes`, then recompute each centroid as the exact mean of
    its cell, one (sub_id, code, component) group per centroid
    component. Each float32 component scaled by 2⁴⁸ is an exact
    integer-valued double; summed as ``decimal(38,0)`` it is exact
    integer arithmetic, order-independent, with no rounding at the cast.
    mean = (CAST(sum AS DOUBLE) / n) / 2⁴⁸ is one correctly rounded
    conversion, one IEEE division and one exact exponent shift,
    identical in any engine. An aggregate in the same pass counts the
    non-integral components and raises. Empty cells keep their
    centroid. One sum over exploded components rather than one
    aggregate column per component: at sf0.01 on 4 cores an iteration
    takes 0.4–0.5 s this way against 1.1–1.4 s, for the same model."""
    m = len(codebooks)
    comps = (
        pq_codes(vecs, codebooks, "v")
        .select(
            F.posexplode(
                F.zip_with(
                    _split(F.col("v"), m, dsub),
                    F.col("__codes"),
                    lambda s, c: F.struct(c.alias("code"), s.alias("sv")),
                )
            ).alias("sub_id", "p")
        )
        .select("sub_id", "p.code", F.posexplode("p.sv").alias("d", "x"))
    )
    x = F.col("x").cast("double") * F.lit(EXACT_COMPONENT_SCALE)
    sums = (
        comps.groupBy("sub_id", "code", "d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x.cast("decimal(38,0)")).alias("s"),
            F.sum((x != F.floor(x)).cast("int")).alias("nonint"),
        )
        .collect()
    )
    if any(r["nonint"] for r in sums):
        raise ValueError(
            "pq_fit: input has components not exactly representable as "
            "integers at scale 2^48 — train on float32 embeddings"
        )
    new = [[list(c) for c in book] for book in codebooks]
    for r in sums:
        new[r["sub_id"]][r["code"]][r["d"]] = (
            float(r["s"]) / r["n"]
        ) / EXACT_COMPONENT_SCALE
    return new


def pq_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
) -> list[list[list[float]]]:
    """The vector-quantizer trainer: Lloyd's k-means in each of ``m``
    subspaces (dim/m components each), all m trained in the SAME
    distributed pass — the subspace id rides the groupBy key, so adding
    subspaces adds rows, not jobs. :func:`kmeans_fit` is the case m=1.
    Returns codebooks[sub][code] = centroid (driver-side model,
    m·ksub·dsub floats — a few KB; the corpus never reaches the driver).

    Engine-deterministic, so an ANSI-SQL oracle re-derives the model bit
    for bit (``northstar._sql_kmeans64_exact_ctes``): seeds are the
    lowest-first-occurrence-id distinct subvectors (:func:`_seed_books`),
    assignment is :func:`pq_codes`, and means are exact
    (:func:`_exact_means`). Input components must be exact integers at
    2⁴⁸ (float32 embeddings are); other input raises.

    Scale: the decimal sums collapse map-side to ≤ m·ksub·dsub rows per
    partition before the shuffle, and only the model reaches the driver.
    The decimal(38,0) headroom (~2¹²⁶) allows ~2⁷⁸ rows per cell. The
    vector column is cached while training (each iteration re-reads it).
    At 100 TB train on a sample (codebooks saturate at ~100k points) and
    encode the full corpus with :func:`pq_encode`."""
    probe = df.orderBy(id_col).limit(4 * ksub).select(vec_col).collect()
    if not probe:
        raise ValueError("pq_fit: input DataFrame has no rows")
    dim = len(probe[0][0])
    if dim % m != 0:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebooks = _seed_books(df, id_col, vec_col, probe, m, dsub, ksub)
    vecs = df.select(F.col(vec_col).alias("v")).persist()
    try:
        for _ in range(iters):
            codebooks = _exact_means(vecs, codebooks, dsub)
    finally:
        vecs.unpersist()
    return codebooks


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 4,
) -> list[list[float]]:
    """Distributed Lloyd's k-means over an embedding column — the trainer
    for data-driven IVF cells: :func:`pq_fit` with one subspace, so the
    model is its single k×dim codebook."""
    return pq_fit(df, id_col, vec_col, m=1, ksub=k, iters=iters)[0]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m nearest-centroid codes:
    (vid, sub_id, code) — m small ints per vector, the 8-byte-per-vector
    compressed index PQ exists for. :func:`pq_codes` plus a posexplode:
    row-local and linear, no shuffle."""
    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col))
    return pq_codes(base, codebooks, vec_col).select(
        "vid", F.posexplode("__codes").alias("sub_id", "code")
    )


def ivfpq_encode_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow/numpy form of the full IVF×PQ index entry: ONE
    ``mapInPandas`` pass computes each vector's coarse cell (as
    :func:`ivf_assign_arrow`) AND its m per-subspace PQ codes
    (argmax of sub-dot − ||c||²/2, as :func:`pq_encode`), emitting the
    exploded (vec_id, sub_id, code, cell) grain of
    ``stream_ivfpq_ingest`` — so a ``foreachBatch`` ingest needs no
    per-micro-batch join (a shuffle) to stitch cell onto codes. Every
    dot is the sequential fold of :func:`_fold_argmax`, so cells and
    codes are bit-identical to the relational :func:`ivf_assign` and
    :func:`pq_encode`, low-index cell and lowest-code tiebreaks included
    (tests/test_ann_ingest.py, tests/test_pq.py). NULL ids/vectors are
    filtered; mis-sized vectors raise."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.float64)  # k × dim
    books = np.asarray(codebooks, dtype=np.float64)  # m × ksub × dsub
    m, _ksub, dsub = books.shape
    offs = 0.5 * (books * books).sum(axis=2)  # m × ksub
    sub_ids = np.arange(m, dtype="int32")

    def enc(batches):
        for pdf, vecs in _vector_batches(batches, vec_col, m * dsub):
            cells = _fold_argmax(vecs, cmat)
            codes = _fold_argmax(vecs.reshape(len(vecs), m, dsub), books, offs)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].values, m),
                    "sub_id": np.tile(sub_ids, len(vecs)),
                    "code": codes.reshape(-1),
                    "cell": np.repeat(cells, m),
                }
            )

    base = df.select(id_col, vec_col).filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    )
    return base.mapInPandas(
        enc, f"{id_col} long, sub_id int, code int, cell int"
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist: int = 10,
    k: int = 3,
    exclude_self: bool = True,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ asymmetric-distance search (the FAISS IVF-PQ serving path,
    re-expressed relationally): approximate inner product of query q and
    candidate x as Σ_j LUT[q][j][code_j(x)] where LUT is the query's dot
    product with every centroid — computed ONCE per (query, centroid),
    then every candidate is scored by m integer-keyed lookups instead of
    dim multiplies. Top-``shortlist`` ADC candidates per query are then
    re-ranked with exact full-precision cosine (the standard two-stage
    contract, same determinism rules as :func:`_cosine_topk_within`).

    Relational shape: LUT = |Q|·m·ksub-row broadcast (a few KB); scoring =
    codes (n·m rows) equi-joined to the LUT on (sub_id, code) + groupBy
    (query_id, cand_id) SUM — linear in corpus size, map-side partials.
    The only crossJoins are against the one-row broadcast
    :func:`codebook_matrix` (the LUT build and the encode). ADC scores
    are rounded to 6 before ranking so shortlist membership is stable
    across retries/engines up to genuine 1e-6 ties (which the cand_id
    tiebreak then pins).

    Output: (query_id, cand_id, cos_sim, rank) for the exact re-ranked
    top-k; grade recall against brute force — ADC is an approximation,
    so its contract is a recall certificate, not row equality."""
    # ``codes`` lets the caller hand in the persisted encoded corpus (the
    # on-disk PQ index) instead of re-encoding per search — the offline
    # index-build amortization every PQ deployment relies on. Lossless
    # either way: the codes ARE the index.
    if codes is None:
        codes = pq_encode(corpus, codebooks, id_col, vec_col)
    codes = codes.withColumnRenamed("vid", "cand_id")
    lut = _adc_lut(queries, codebooks, id_col, vec_col)
    short = _adc_shortlist(
        codes.join(lut, ["sub_id", "code"]), shortlist, exclude_self
    )
    return _exact_rerank(short, corpus, queries, id_col, vec_col, k)


def _adc_lut(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The ADC lookup table, broadcast: (query_id, sub_id, code, lutv)
    with lutv = dot(query subvector, centroid) — the |Q| queries
    crossJoined with the one-row :func:`codebook_matrix` (the dots of
    :func:`pq_codes`, without the offsets), then exploded per subspace
    and per code. Inlining the codebook as m·ksub·dsub literals instead
    is semantically identical, but analysis + codegen of the 2k-literal
    projection cost ~2 s per run at any SF (measured 4.5 s -> 2.4 s)."""
    m, dsub = len(codebooks), len(codebooks[0][0])
    mat = F.broadcast(codebook_matrix(queries.sparkSession, codebooks))
    return F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col))
        .crossJoin(mat)
        .select(
            "query_id",
            F.posexplode(_sub_dots(F.col(vec_col), m, dsub)).alias(
                "sub_id", "__row"
            ),
        )
        .select("query_id", "sub_id", F.posexplode("__row").alias("code", "lutv"))
    )


def _adc_shortlist(
    scored: DataFrame, shortlist: int, exclude_self: bool
) -> DataFrame:
    """Per-query top-``shortlist`` candidates by ADC score: the SUM of
    each (query_id, cand_id)'s ``lutv`` rows, rounded to 6 so membership
    is stable across retries/engines up to genuine 1e-6 ties (which the
    cand_id tiebreak then pins)."""
    adc = scored.groupBy("query_id", "cand_id").agg(
        F.round(F.sum("lutv"), 6).alias("adc")
    )
    if exclude_self:
        adc = adc.filter(F.col("query_id") != F.col("cand_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("cand_id")
    )
    return adc.withColumn("arank", F.row_number().over(w)).filter(
        F.col("arank") <= shortlist
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    shortlist: int = 50,
    k: int = 3,
    exclude_self: bool = True,
    codes: DataFrame | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """The composed production index — IVF×PQ (the FAISS ``IVFx,PQy``
    shape): the coarse quantizer prunes WHICH candidates are considered
    (only the query's ``nprobe`` nearest cells), PQ codes compress HOW
    each survivor is scored (m LUT adds against 8-bit codes), and the
    ADC ``shortlist`` is re-ranked with exact full-precision cosine.
    At 100 TB this is the only layout that is simultaneously
    read-efficient (cell-pruned scan of 8-byte codes, not float rows)
    and shuffle-efficient (every join here is an equi-join on cell /
    code / id keys; the only crossJoins are against one-row broadcast
    centroid and codebook matrices).

    Candidate flow: codes ⨝ cells on cand_id (both built once per
    corpus — the persisted index), ⨝ the exploded (query, cell) probe
    list on cell, ⨝ the LUT on (query_id, sub_id, code), groupBy
    (query, cand) SUM. Same determinism contract as every other
    variant: round(6) before each ranking stage, cand_id tiebreak.
    Recall compounds both approximations (cell pruning AND code
    compression), so it sits below either alone — grade it with a
    certificate, never row equality."""
    # Both index halves accept the persisted on-disk form (see
    # pq_adc_topk): cells = (cand_id, cell), codes = pq_encode output.
    if cells is None:
        cells = ivf_bucket_corpus(corpus, centroids, id_col, vec_col).select(
            "cand_id", "cell"
        )
    if codes is None:
        codes = pq_encode(corpus, codebooks, id_col, vec_col)
    codes = codes.withColumnRenamed("vid", "cand_id")
    qbase = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col))
    probes = F.broadcast(
        coarse_dots(qbase, centroids, vec_col).select(
            "query_id",
            F.explode(probe_cells(F.col("__dots"), nprobe)).alias("cell"),
        )
    )
    lut = _adc_lut(queries, codebooks, id_col, vec_col)
    scored = (
        codes.join(cells, "cand_id")
        .join(probes, "cell")
        .join(lut, ["query_id", "sub_id", "code"])
    )
    short = _adc_shortlist(scored, shortlist, exclude_self)
    return _exact_rerank(short, corpus, queries, id_col, vec_col, k)


def quantize_floor(
    emb: DataFrame, vec_col: str = "embedding", scale: int = 8
) -> DataFrame:
    """floor(x·scale) integer quantization of a float-array column —
    deterministic IEEE ops (one double multiply + floor), so any engine
    reading the same parquet floats produces identical integers. The
    entry ticket to exact (associative, order-independent) distributed
    linear algebra over embeddings."""
    q = F.transform(
        F.col(vec_col),
        lambda e: F.floor(e.cast("double") * F.lit(float(scale))).cast("long"),
    )
    return emb.select(q.alias("qv"))


def integer_gram_partials(
    qdf: DataFrame, dim: int, with_sums: bool = False
) -> DataFrame:
    """Per-partition integer partials for the quantized-vector statistics,
    in ONE corpus pass: Gram cells QᵀQ as (i, j, partial) with i, j in
    1..dim; with ``with_sums`` additionally the per-dimension column sums
    as (i, 0, partial) and the row count as (0, 0, partial). Emitting the
    sums/count from the same Arrow batches the Gram already walks is what
    lets :func:`covariance_scaled` read the corpus once instead of three
    times (round-10, guide §1.2) — integer addition is associative, so
    every derived aggregate is bit-exact under any partitioning, identical
    to the separate posexplode/count passes it replaces."""

    def _partial_gram(batches):
        import numpy as np
        import pandas as pd

        acc = np.zeros((dim, dim), dtype=np.int64)
        sums = np.zeros(dim, dtype=np.int64)
        n = 0
        for pdf in batches:
            if len(pdf):
                m = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
                acc += m.T @ m
                if with_sums:
                    sums += m.sum(axis=0)
                    n += len(pdf)
        i, j = np.nonzero(np.ones((dim, dim), dtype=bool))
        out = {"i": i + 1, "j": j + 1, "partial": acc[i, j]}
        if not with_sums:
            yield pd.DataFrame(out)
            return
        d = np.arange(1, dim + 1, dtype=np.int64)
        yield pd.DataFrame(
            {
                "i": np.concatenate([out["i"], d, [0]]),
                "j": np.concatenate([out["j"], np.zeros(dim + 1, np.int64)]),
                "partial": np.concatenate([out["partial"], sums, [n]]),
            }
        )

    from pyspark.sql import types as T

    gram_schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("j", T.LongType()),
            T.StructField("partial", T.LongType()),
        ]
    )
    return qdf.mapInPandas(_partial_gram, schema=gram_schema)


def integer_gram(qdf: DataFrame, dim: int) -> DataFrame:
    """Distributed exact-integer Gram matrix G = QᵀQ over a quantized
    vector column ``qv``: per-partition numpy int64 partials via
    Arrow-batched mapInPandas — each partition emits exactly dim² rows,
    so the shuffle moves dim²·partitions rows (model-sized) while the
    corpus is read once and never re-shuffled. Integer addition is
    associative: the result is bit-exact under any partitioning."""
    return (
        integer_gram_partials(qdf, dim)
        .groupBy("i", "j")
        .agg(F.sum("partial").alias("g"))
    )


def covariance_scaled(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 8,
) -> DataFrame:
    """Centered covariance (scaled by n² to stay integer-exact): with
    q = floor(x·scale), emits n²·Cov[i,j] = n·Σq_i q_j − (Σq_i)(Σq_j)
    — the mean-centering identity with the 1/n divisions cleared, so
    every value is an exact BIGINT and the whole statistic (the input to
    embedding whitening / anisotropy correction) grades row-level in any
    engine. ONE corpus scan builds the Gram, the column sums AND the row
    count (integer_gram_partials with_sums — previously the sums were a
    second full corpus pass through a posexplode shuffle and the count a
    third scan; round-10, guide §1.2): the partials relation is
    model-sized (dim²+dim+1 rows per partition), localCheckpointed once
    (swept by release_query_caches), and the three aggregates derive from
    it — bit-exact, integer addition is associative. The centering join
    touches only the 4096-row Gram relation against two broadcast 64-row
    sum vectors."""
    qdf = quantize_floor(emb, vec_col, scale)
    # LAZY checkpoint: all three consumers live in the ONE final plan, so
    # the first stage that touches the partials materializes them and the
    # rest read the persisted blocks — no dedicated barrier job (the
    # connected_components precedent, round-10 change #2).
    p = integer_gram_partials(qdf, dim, with_sums=True).localCheckpoint(
        eager=False
    )
    g = (
        p.filter(F.col("j") > 0)
        .groupBy("i", "j")
        .agg(F.sum("partial").alias("g"))
    )
    sums = (
        p.filter((F.col("i") > 0) & (F.col("j") == 0))
        .groupBy("i")
        .agg(F.sum("partial").alias("s"))
    )
    n = p.filter(F.col("i") == 0).agg(F.sum("partial").alias("n"))
    sa = F.broadcast(sums.select(F.col("i").alias("_si"), F.col("s").alias("s_i")))
    sb = F.broadcast(sums.select(F.col("i").alias("_sj"), F.col("s").alias("s_j")))
    return (
        g.join(sa, g.i == sa._si)
        .join(sb, g.j == sb._sj)
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (F.col("n") * F.col("g") - F.col("s_i") * F.col("s_j")).alias(
                "cov_scaled"
            ),
        )
    )


def pca_power_components(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 8,
) -> DataFrame:
    """Distributed PCA direction via power iteration over an EXACT-integer
    Gram matrix: quantize each component to floor(x·scale) (deterministic
    — float multiply + floor are identical IEEE ops in any engine), build
    the dim×dim Gram matrix G = QᵀQ with per-partition numpy partials
    (Arrow-batched mapInPandas: each partition emits one dim² int64
    partial, the shuffle moves dim²·partitions rows — model-sized,
    NEVER corpus-sized), then run two unnormalized power-iteration
    matvecs from v0 = 1⃗ as tiny distributed joins on the 4096-row G.
    Integer arithmetic is associative, so every value is bit-exact
    regardless of partitioning — which is what lets an iterative
    numerical algorithm carry a row-level SQL oracle.

    Returns (dim, v1, v2): v2 converges to the dominant eigendirection
    (unnormalized). Overflow ceiling: |G| ≤ n·(scale·|x|max)², |v2| ≤
    dim²·|G|max²… int64-safe through ~10⁹ rows at scale=8; a production
    run at unbounded n float-normalizes v between rounds (same plan
    shape, certificate grading instead of row-level)."""
    # g feeds v1, v2's join AND the final v1⋈v2 — uncheckpointed, the
    # corpus-wide partials pass re-executes once per consumer (3 scans in
    # the committed before-plan). The Gram is dim² rows: materialize it
    # once (round-10, guide §1.2/§5; swept by release_query_caches).
    g = integer_gram(quantize_floor(emb, vec_col, scale), dim).localCheckpoint()
    v1 = g.groupBy("i").agg(F.sum("g").alias("v1"))  # G · 1⃗
    v2 = (
        g.join(F.broadcast(v1.select(F.col("i").alias("j"), "v1")), "j")
        .groupBy("i")
        .agg(F.sum(F.col("g") * F.col("v1")).alias("v2"))
    )
    return (
        v1.join(v2, "i")
        .select(F.col("i").alias("dim"), "v1", "v2")
    )
