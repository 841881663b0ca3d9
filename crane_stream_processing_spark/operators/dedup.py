"""Deduplication operators — exact and near-duplicate (north-star surface;
the reference has no dedup at all, SURVEY.md §2.7/§2.10).

All operators are pure DataFrame transforms over built-in functions:
shingling, minhash signatures, and banding are array expressions evaluated
per-row inside codegen (no explode of the shingle set, no Python), and the
only shuffles are the final band-bucket join / groupBys. Hashes are md5
(cross-engine stable) so DuckDB can oracle every step.

Scale: LSH turns the O(n²) near-dup problem into per-bucket joins. Bucket
key cardinality grows with corpus size, so the band join shuffles ~n·BANDS
rows — linear. Exact jaccard verification runs only on candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import let, md5_hex, seeded_md5, tokens
from ..session import scoped_confs, small_state_width

__all__ = [
    "exact_dedup",
    "minhash_signature",
    "lsh_bands",
    "lsh_candidate_pairs",
    "jaccard_pairs",
    "simhash",
    "connected_components",
    "semantic_prune",
]

NUM_HASHES = 12  # minhash signature length
BAND_ROWS = 3  # rows per LSH band → NUM_HASHES/BAND_ROWS = 4 bands


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one survivor (min id) per
    distinct content value. Hash-groupBy shuffles the md5, not the content."""
    return (
        df.select(md5_hex(content_col).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def token_shingles(toks: Column, k: int = 3) -> Column:
    """k-shingles over a token-array column: slide a k-window via transform
    over an index sequence — no explode, stays row-local. Empty array when
    the document has < k tokens.

    The input is let-bound, so passing a computed expression (even one the
    optimizer re-inlines through CollapseProject) still evaluates it exactly
    once per row — the k element_at reads per shingle hit the materialized
    binding, not the expression tree."""

    def body(tk: Column) -> Column:
        n = F.size(tk)
        # Guard the degenerate cases explicitly: Spark's sequence(start,
        # stop) runs DESCENDING when stop < start, so sequence(1, 0) is
        # [1, 0] — a <k-token (or null) document would index past the
        # array instead of yielding no shingles.
        idx = F.sequence(F.lit(1), n - (k - 1))
        empty = F.expr("CAST(array() AS array<string>)")
        return F.when(n >= F.lit(k), F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(tk, (i + j).cast("int")) for j in range(k)]
            ),
        )).otherwise(empty)

    return let(toks, body)


def minhash_signature(shingle_col: Column, num_hashes: int = NUM_HASHES) -> Column:
    """Minhash signature: per seed s, min over shingles of md5('s#'+shingle)
    (lexicographic min of a uniform hex hash is a valid min-hash, and md5 is
    identical in DuckDB). Returns array<string> of length num_hashes."""

    def body(shs: Column) -> Column:
        def seed_min(seed: int) -> Column:
            # Single-parameter lambda only: pyspark calls a 2-arg transform
            # lambda as (element, index), which would silently rebind a seed
            # default to the index column. Hashing delegates to
            # functions.seeded_md5 so the seed scheme (and its DuckDB
            # twin) lives in exactly one place.
            return F.array_min(
                F.transform(shs, lambda sh: seeded_md5(sh, seed))
            )

        return F.array(*[seed_min(s) for s in range(num_hashes)])

    # Let-bind: the shingle array is read num_hashes times below; without
    # the binding, a collapsed projection would recompute the whole
    # shingling (and its tokenization) once per seed.
    return let(shingle_col, body)


def _band_structs(sig: Column, n_bands: int, band_rows: int) -> Column:
    """Per-band md5 structs over a minhash signature array — the ONE
    definition of the band hash, shared by the full lsh_bands pipeline
    and signature_bands (banding a pre-computed signature relation)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at(sig, b * band_rows + r + 1)
                            for r in range(band_rows)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )


def signature_bands(
    sig_df: DataFrame,
    doc_col: str = "doc",
    sig_col: str = "sig",
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """Band an ALREADY-COMPUTED minhash-signature relation (doc, sig) into
    (doc, band_idx, band_hash) rows — the tail of :func:`lsh_bands` for
    callers that materialize the expensive tokens→shingles→minhash chain
    once (localCheckpoint) and derive bands from it: re-deriving the
    4 band md5s from 12 materialized hex strings is trivial next to
    re-running the chain, so a banded self-join's two legs can share one
    chain execution (guide §1.2/§2.4 — don't compute things twice)."""
    n_bands = num_hashes // band_rows
    return sig_df.select(
        F.col(doc_col).alias("doc"),
        F.explode(
            let(F.col(sig_col), lambda s: _band_structs(s, n_bands, band_rows))
        ).alias("band"),
    ).select("doc", "band.band_idx", "band.band_hash")


def banded_candidate_pairs(banded: DataFrame) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from a banded relation
    (doc, band_idx, band_hash) — the self-join half of
    :func:`lsh_candidate_pairs`, exposed so callers with a materialized
    banding can reuse it."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def lsh_bands(
    df: DataFrame,
    id_col: str,
    content_col: str,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """The shared LSH banding stage: tokens → k-shingles → minhash
    signature → per-band md5, exploded to one (doc, band_idx, band_hash)
    row per band. Entirely row-local array expressions (let-bound against
    re-inlining), so it runs unchanged under Structured Streaming —
    `stream_dedup_minhash` feeds these rows into a watermarked dedup while
    :func:`lsh_candidate_pairs` self-joins them for batch candidates.
    Extra columns of ``df`` (an event-time column, for streaming) pass
    through untouched."""
    if num_hashes % band_rows != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by band_rows "
            f"({band_rows}): the trailing {num_hashes % band_rows} "
            "signature rows would be computed but silently ignored, "
            "changing recall vs the requested parameters"
        )
    n_bands = num_hashes // band_rows

    # Passthrough columns ride the whole pipeline; a name colliding with
    # an internal alias or an output column would produce duplicate
    # columns / AMBIGUOUS_REFERENCE downstream — fail loudly instead.
    reserved = {"doc", "sh", "sig", "band", "band_idx", "band_hash"}
    clashes = reserved.intersection(
        c for c in df.columns if c not in (id_col, content_col)
    )
    if clashes:
        raise ValueError(
            f"lsh_bands: passthrough column(s) {sorted(clashes)} collide "
            "with internal/output names "
            "(doc, sh, sig, band, band_idx, band_hash) — rename them first"
        )

    def band_structs(sig: Column) -> Column:
        return _band_structs(sig, n_bands, band_rows)

    passthrough = [c for c in df.columns if c not in (id_col, content_col)]
    staged = (
        df.select(
            F.col(id_col).alias("doc"),
            token_shingles(tokens(content_col)).alias("sh"),
            *passthrough,
        )
        # <k-token docs have no shingles and therefore no signature; drop
        # them BEFORE banding — an empty signature would hash every short
        # doc into the same md5('') bucket in every band (spurious n²
        # candidates among short docs). Mirrors the oracle's len(tk) >= 3.
        .filter(F.size("sh") > 0)
        .select(
            "doc",
            minhash_signature(F.col("sh"), num_hashes).alias("sig"),
            *passthrough,
        )
    )
    return staged.select(
        "doc",
        F.explode(let(F.col("sig"), band_structs)).alias("band"),
        *passthrough,
    ).select("doc", "band.band_idx", "band.band_hash", *passthrough)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """LSH banding: split each signature into bands, hash each band, and
    self-join on (band_index, band_hash) — two docs collide iff some band
    matches entirely. Returns distinct candidate pairs (id_a < id_b).

    The join key (band_idx, band_hash) has cardinality ~n·bands/collision
    so the shuffle is linear in corpus size; a hot bucket (many identical
    docs) is an AQE skew-join case, not a crossJoin blow-up.

    Every pipeline stage (tokens → shingles → signature → band structs) is
    let-bound, so each evaluates exactly once per row no matter how the
    optimizer collapses the projections — an unprotected inline re-runs
    tokenization per shingle per seed per band (observed ~8× slowdown on
    the sf0.1 corpus even with staged select() columns, which
    CollapseProject merges right back)."""
    # Narrow to the two needed columns so no passthrough columns widen
    # the band shuffle/self-join.
    banded = lsh_bands(
        df.select(id_col, content_col), id_col, content_col, num_hashes, band_rows
    )
    return banded_candidate_pairs(banded)


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 3,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs: join each side's
    distinct-shingle array, intersect/union row-locally. Runs only on the
    LSH-surviving pairs — the expensive exactness is O(candidates).

    ``sets_df`` (columns ``doc``, ``sh`` = distinct shingle array) lets a
    caller that already materialized the shingle sets (localCheckpoint,
    shared with the banding stage) skip recomputing the tokenize→shingle
    chain once per join leg."""
    if sets_df is None:
        sets_df = df.select(
            F.col(id_col).alias("doc"), tokens(content_col).alias("toks")
        ).select(
            "doc", F.array_distinct(token_shingles(F.col("toks"), k)).alias("sh")
        )
    j = (
        pairs.join(sets_df.withColumnRenamed("doc", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets_df.withColumnRenamed("doc", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # Two empty shingle sets (both docs under k tokens): Jaccard is
    # undefined; call it 0.0 — no shared evidence, never a duplicate
    # verdict. Unguarded division aborts the whole job under ANSI mode
    # (DIVIDE_BY_ZERO) for any caller whose pair list isn't pre-filtered
    # the way lsh_candidate_pairs filters short docs.
    return j.select(
        "id_a",
        "id_b",
        F.when(
            union > 0, F.round(inter.cast("double") / union, 6)
        ).otherwise(F.lit(0.0)).alias("jaccard"),
    )


def simhash(col: Column | str, bits: int = 16) -> Column:
    """SimHash of a document's token multiset, built from md5 hex digits so
    it is engine-portable: token-hash bit b = bit (b%4) of hex digit b//4 of
    md5(token); simhash bit b is set iff sum over tokens of (2·bit−1) > 0.

    One fold over the token array accumulating a ±1 vector via zip_with —
    single pass, no UDF, no explode. DuckDB twin: explode tokens ×
    generate_series(0,bits-1), hex digit via strpos('0123..f', ...),
    group-sum, then bit-pack.

    Expression shape matters: md5 is hashed once per token (a transform
    stage, not inlined into the fold) and the bit-sum vector appears
    exactly once (zip_with against a power-of-two array), because
    higher-order lambdas re-evaluate any inlined subtree per element."""
    toks = tokens(col)
    zero = F.array(*[F.lit(0).cast("long") for _ in range(bits)])

    def contribs(h: Column) -> Column:
        # h is a lambda variable (cheap reference), so 16 substrings of an
        # already-computed digest — not 16 re-hashes.
        return F.array(
            *[
                (
                    F.shiftright(
                        F.conv(F.substring(h, b // 4 + 1, 1), 16, 10).cast("long"),
                        b % 4,
                    ).bitwiseAND(F.lit(1))
                    * 2
                    - 1
                ).cast("long")
                for b in range(bits)
            ]
        )

    hashes = F.transform(toks, lambda tok: F.md5(tok))
    sums = F.aggregate(
        hashes, zero, lambda acc, h: F.zip_with(acc, contribs(h), lambda a, c: a + c)
    )
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    bitvals = F.zip_with(
        sums, powers, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bitvals, F.lit(0).cast("long"), lambda a, x: a + x)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the
    clustering step that turns pairwise dedup output (minhash/simhash/
    embedding pairs above threshold) into groups with one canonical
    member: ``(node, label)`` where label = the component's minimum id.
    Downstream, keep ``node == label`` rows and drop the rest.

    Algorithm: distributed hash-min label propagation (the standard
    large-graph CC — each round every node takes the min label among
    itself and its neighbors), converging in O(graph diameter) rounds.
    Near-dup components are shallow (diameter a few hops), so 3-5 rounds
    typify. Each round is one shuffle (join on node) + one groupBy;
    ``localCheckpoint`` truncates the lineage so the plan doesn't grow
    exponentially across iterations; the convergence probe is a scalar
    SUM of labels — hash-min labels are monotone non-increasing, so an
    unchanged sum proves a fixpoint without the labels-to-labels join a
    changed-row count would need (one cheap agg per round, the only
    driver-side value, as in the k-means trainer).
    The reference has no graph step (its dedup surface is absent
    entirely, SURVEY.md §2.7); this is north-star pipeline machinery.

    The edge list is usually orders of magnitude smaller than the corpus
    that produced it, and each round pays a fixed cost per partition, so
    the loop runs at ``session.small_state_width``, not the corpus width:
    the edges are repartitioned to it and every round's shuffles are
    scoped to it (each localCheckpoint action plans under that scope).
    """
    spark = pairs.sparkSession
    key = "spark.sql.shuffle.partitions"
    width = min(int(spark.conf.get(key)), small_state_width(spark))
    with scoped_confs(spark, {key: str(width)}):
        # Materialize the PAIR list before the symmetrizing union: the two
        # union branches are separate physical subtrees, so an un-cut
        # lineage would execute the caller's pair-generation join (the
        # expensive part — e.g. the LSH-bucketed cosine scan) once PER
        # branch. Checkpointing the directed pairs first runs it exactly
        # once; the union then reads the materialized rows twice.
        directed = pairs.select(
            F.col(id_a).alias("u"), F.col(id_b).alias("v")
        ).localCheckpoint(eager=True)
        edges = directed.union(
            directed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        edges = edges.repartition(width).localCheckpoint(eager=True)

        labels = (
            edges.select("u")
            .distinct()
            .select(F.col("u").alias("node"), F.col("u").alias("label"))
            # lazy: the initial signature probe below materializes it
            .localCheckpoint(eager=False)
        )
        def signature(lb: DataFrame):
            # Type-agnostic convergence probe: an exact decimal sum of
            # per-row (node, label) hashes — changes whenever ANY label
            # changes (mod astronomically unlikely collisions), works for
            # string ids (a numeric cast of the label would throw under
            # ANSI or go NULL and falsely report convergence after one
            # round), and is merge-order-independent (decimal addition).
            return lb.agg(
                F.sum(F.xxhash64("node", "label").cast("decimal(38,0)"))
            ).collect()[0][0]

        prev_sum = signature(labels)
        converged = False
        for _ in range(max_iters):
            nbr = (
                edges.join(labels, edges.v == labels.node)
                .select(edges.u.alias("node"), F.col("label"))
            )
            # LAZY checkpoint: the signature action right below both
            # materializes the round's labels into the checkpoint AND
            # returns the convergence probe — one scheduled job per round
            # instead of two (eager checkpoint job + separate probe job).
            labels = (
                labels.unionByName(nbr)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=False)
            )
            cur_sum = signature(labels)
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
        if not converged:
            # Loud, not wrong: a component with diameter > max_iters would
            # otherwise return with MULTIPLE labels and the caller's
            # "survivor = (node == label)" step would silently keep
            # several copies per duplicate cluster. Hash-min propagation
            # converges in O(diameter) rounds; near-dup clusters are
            # shallow, so a miss here means the graph is not what the
            # caller thinks it is.
            raise RuntimeError(
                f"connected_components did not converge within "
                f"{max_iters} iterations — a component's diameter exceeds "
                "max_iters; raise it (rounds needed = graph diameter)"
            )
        return labels


def semantic_prune(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    nprobe: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023): assign
    every embedding to its ``nprobe`` nearest trained centroids (soft
    assignment — the multiprobe trick that recovers near-dup pairs
    straddling a cell boundary, measured recall 0.85-1.0 vs 0.3-0.6 at
    nprobe=1 on the driver corpora), compare vectors only WITHIN a shared
    cell, and prune every vector that has a lower-id same-cell neighbor
    with cosine >= threshold. Returns the distinct pruned id set.

    Scale: the all-pairs O(n²) scan becomes Σ_cells n_c² exact
    comparisons after an equi-join on the cell key — the SemDeDup recipe
    at 100 TB (cluster count grows with the corpus, keeping n_c bounded);
    soft assignment multiplies join rows by nprobe, not the pair count by
    nprobe². Pairs are oriented (id_a < id_b) so "keep the lowest id per
    semantic group" needs no second pass, and duplicate pairs from shared
    multi-cell membership collapse in the final distinct.

    CALLER NOTE: the soft-assignment relation is EAGERLY
    localCheckpoint-ed (it feeds both self-join legs; eager keeps the
    corpus-wide k-dot pass at exactly one execution even when the legs'
    tasks run concurrently). The persistent RDD this leaves behind must
    be released after the result is materialized —
    ``inventory.release_query_caches(spark)`` does so, and the bench /
    driver harnesses call it after every query; a library caller looping
    over corpora should do the same or unpersist via
    ``spark.sparkContext._jsc.getPersistentRDDs()`` sweep."""
    from ..functions import dot, l2norm
    from .similarity import coarse_dots, probe_cells

    # Both self-join legs read the soft-assigned relation — uncheckpointed
    # the corpus-wide k-dot assignment pass executes once per leg (the
    # substring_window_pairs discipline).
    # Swept by release_query_caches.
    e = (
        coarse_dots(emb, centroids, vec_col)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.explode(probe_cells(F.col("__dots"), nprobe)).alias("cell"),
            l2norm(vec_col).alias("nrm"),
        )
        .filter(F.col("nrm") > 0)
        .localCheckpoint()
    )
    a = e.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col("nrm").alias("na"), "cell",
    )
    b = e.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("nrm").alias("nb"), "cell",
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(dot("va", "vb") / (F.col("na") * F.col("nb")), 6)
            >= threshold
        )
        .select(F.col("id_b").alias("pruned"))
        .distinct()
    )


def winnow_fingerprints(
    text_col: str, width: int = 40, window: int = 20
) -> Column:
    """Winnowed substring fingerprints of a text column (Schleimer,
    Wilkerson & Aiken 2003, the MOSS algorithm): md5 EVERY `width`-char
    window (stride 1), then keep the minimum hash of every `window`
    consecutive hashes. Selection is content-defined — the min of a
    hash window inside a shared span is the same hash in both copies
    regardless of where the span sits in each document — which gives the
    paper's guarantee: any cross-document verbatim span of at least
    width+window-1 chars shares at least one selected fingerprint.
    (A naive stride-`s` sampler has NO such guarantee: its selected
    positions are phase-locked mod s, so an unaligned quotation is
    missed ~(s-1)/s of the time.) Returns array<string>, empty for
    texts shorter than width+window-1; all row-local, zero shuffle.
    The per-position hash array is let-bound so each window hash is
    computed ONCE (O(n) md5 + O(n·w) string mins per row), not per
    min-window (O(n·w) md5)."""
    guard = width + window - 1
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (width - 1), F.lit(1))),
        lambda i: F.md5(c.substr(i, F.lit(width))),
    )
    empty = F.expr("CAST(array() AS array<string>)")

    def body(hs: Column) -> Column:
        sel = F.transform(
            F.sequence(F.lit(1), F.size(hs) - (window - 1)),
            lambda j: F.array_min(F.slice(hs, j, window)),
        )
        return F.array_distinct(sel)

    return F.when(F.length(c) >= guard, let(hashes, body)).otherwise(empty)


def substring_window_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 40,
    window: int = 20,
    max_docs_per_window: int = 20,
) -> DataFrame:
    """EXACT-substring duplicate candidates via winnowed window hashing —
    the bucketed, Spark-native stand-in for suffix-array substring dedup
    (Lee et al. 2022 motivates the op; Schleimer et al. 2003 winnowing
    provides the sampling guarantee — see winnow_fingerprints): pairs of
    documents sharing a selected fingerprint are exact-overlap
    candidates, scored by how many distinct fingerprints they share.
    Any shared verbatim span >= width+window-1 chars is guaranteed to
    produce at least one shared fingerprint. Fingerprints present in
    more than `max_docs_per_window` documents (boilerplate) are dropped
    BEFORE the self-join — the same hot-bucket discipline as LSH
    banding — so no bucket can go quadratic. Output: id_a < id_b,
    n_shared_windows."""
    # wins (the O(len)-md5-per-doc winnowing pass) is consumed by the
    # boilerplate filter AND both self-join legs — without the
    # materialization the plan executes the winnowing 3×. pruned is
    # likewise read by both legs; both checkpoints are O(docs ×
    # fingerprints/doc) rows of (id, hash) and are swept by
    # release_query_caches.
    wins = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(winnow_fingerprints(text_col, width, window)).alias("wh"),
    ).localCheckpoint()
    keep = (
        wins.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") <= max_docs_per_window)
        .select("wh")
    )
    pruned = wins.join(keep, "wh").localCheckpoint()
    a = pruned.select(F.col("doc_id").alias("id_a"), "wh")
    b = pruned.select(F.col("doc_id").alias("id_b"), "wh")
    return (
        a.join(b, "wh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )
