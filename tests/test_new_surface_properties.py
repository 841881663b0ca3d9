"""Property tests for the newest surface: audio chunking (partition/
reassembly invariants), the top-bigram repetition fold (must equal the
relational groupBy-max), the random projection (linearity + seed
determinism), and the bitmap distinct kernel (must equal countDistinct
on adversarial id ranges spanning bucket boundaries)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crane_stream_processing_spark.operators import multimodal as M
from crane_stream_processing_spark.operators import similarity as S

from .conftest import TOKENIZER

_words = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=3), min_size=0, max_size=40
)


def _media(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return M.as_media_column(df, "doc_id", "text", kind="audio")


@settings(deadline=None, max_examples=15, suppress_health_check=list(HealthCheck))
@given(st.text(alphabet="abcxyz ", min_size=0, max_size=300), st.integers(3, 64))
def test_chunk_audio_reassembles_exactly(spark, text, chunk):
    rows = M.chunk_audio(_media(spark, [text]), chunk_bytes=chunk).collect()
    rows.sort(key=lambda r: r.chunk_idx)
    # contiguous, fixed-size except the tail, reassembles byte-exact
    assert rows[0].start_byte == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur.start_byte == prev.start_byte + prev.n_bytes
        assert prev.n_bytes == chunk
    joined = b"".join(bytes(r.chunk) for r in rows)
    assert joined == text.encode("utf-8")
    assert all(r.n_bytes == len(bytes(r.chunk)) for r in rows)
    # empty payload still yields exactly one (empty) chunk row
    n = max(-(-len(text.encode("utf-8")) // chunk), 1)
    assert len(rows) == n


@settings(deadline=None, max_examples=15, suppress_health_check=list(HealthCheck))
@given(_words)
def test_topbigram_fold_matches_relational_count(spark, words):
    """The zero-shuffle sort+run-length fold must agree with the obvious
    groupBy count on the exploded bigram list, including the
    count-desc/value-asc tie-break."""
    text = " ".join(words)
    bigrams = [f"{a} {b}" for a, b in zip(words, words[1:])]
    if bigrams:
        counts = {}
        for b in bigrams:
            counts[b] = counts.get(b, 0) + 1
        expect_cnt = max(counts.values())
        expect_bg = min(b for b, c in counts.items() if c == expect_cnt)
    else:
        expect_bg, expect_cnt = "", 0

    from crane_stream_processing_spark.functions import tokens

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    bg = df.select(
        "doc_id", tokens("text").alias("tk")
    ).select(
        "doc_id",
        F.expr(
            "IF(size(tk) < 2, array(), transform(sequence(0, size(tk) - 2),"
            " i -> concat(tk[i], ' ', tk[i+1])))"
        ).alias("g"),
    )
    folded = bg.select(
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
            ) AS st
            """
        )
    ).collect()[0].st
    assert folded.best_cnt == expect_cnt
    assert folded.best == expect_bg


def test_random_projection_deterministic_and_linear(spark):
    """Same input → same sketch across runs; scaling the vector scales
    the (unrounded) projection — checked via a 2x input."""
    v = [float(i % 7) - 3.0 for i in range(64)]
    df = spark.createDataFrame([(1, v), (2, [2 * x for x in v])],
                               "vec_id long, embedding array<double>")
    out = {r.vec_id: r.proj for r in S.random_projection(df, round_to=9).collect()}
    again = {r.vec_id: r.proj for r in S.random_projection(df, round_to=9).collect()}
    assert out == again
    for a, b in zip(out[1], out[2]):
        assert abs(b - 2 * a) < 1e-6


def test_bitmap_distinct_equals_count_distinct(spark):
    """Ids straddling the 32768-bit bucket boundary and negatives-free
    sparse ranges: the bitmap two-level aggregate must equal
    countDistinct exactly."""
    ids = (
        list(range(1, 100))
        + list(range(32760, 32780))  # bucket boundary straddle
        + [1, 5, 32770, 10_000_000, 10_000_000]  # dups + sparse high id
    )
    df = spark.createDataFrame([(i,) for i in ids], "user_id long")
    got = (
        df.groupBy(F.bitmap_bucket_number("user_id").alias("bucket"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).alias("n"))
        .collect()[0]
        .n
    )
    expect = df.agg(F.countDistinct("user_id").alias("n")).collect()[0].n
    assert got == expect


def test_short_and_null_docs_survive_dedup_and_multimodal(spark):
    """Regression: documents with < k tokens (or NULL text) must produce
    zero shingles and zero LSH candidates — not an element_at crash
    (sequence(1,0) is DESCENDING in Spark) nor a shared md5('') bucket
    that cross-pairs every short doc. Null payloads decode as empty
    media in every mapInPandas op."""
    from crane_stream_processing_spark.operators import dedup as D
    from crane_stream_processing_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "one two"),
         (5, "a b a b a b"), (6, "a b a b a b")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b) for r in
             D.lsh_candidate_pairs(docs, "doc_id", "text").collect()}
    assert pairs == {(5, 6)}

    from crane_stream_processing_spark.functions import tokens

    sh = docs.select(
        D.token_shingles(tokens("text")).alias("sh")
    ).collect()
    assert all(r.sh == [] for r in sh[:4])  # null/empty/short → no shingles

    m = M.as_media_column(docs, "doc_id", "text")
    assert M.extract_features(m).count() == 6
    feats = {r.media_id: r for r in M.extract_features(m).collect()}
    assert feats[1].n_bytes == 0 and feats[1].first_byte == -1
    assert M.sample_frames(m, 4).count() == 24
    assert M.resize_images(m).count() == 6
    assert M.chunk_audio(m, 4).filter("media_id = 1").count() == 1  # one empty chunk


def test_zero_norm_embeddings_excluded_from_similarity(spark):
    """Regression: all-zero (or NULL) embeddings have no defined cosine —
    they must be filtered at staging, not explode as DIVIDE_BY_ZERO under
    ANSI mode, in every similarity entry point."""
    from crane_stream_processing_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(1, None), (2, [0.0] * 64), (3, [1.0] * 64), (4, [1.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r.id_a, r.id_b)
             for r in S.cosine_near_pairs(emb, threshold=0.0).collect()}
    assert pairs == {(3, 4)}
    topk = S.cosine_topk(emb, emb).collect()
    assert {r.query_id for r in topk} == {3, 4}
    assert {r.cand_id for r in topk} == {3, 4}
    cent = [[1.0] * 64, [-1.0] * 64]
    assert S.ivf_bucket_corpus(emb, cent).filter("cand_id = 2").count() == 0
    assert S.ivf_ann_topk(emb, emb, cent).filter("query_id = 2").count() == 0


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_let_binding_survives_collapse_project(spark):
    """The evaluate-once contract of functions.let(): however the optimizer
    collapses the staged projections, the bound expression's tokenizer
    appears ONCE in the optimized plan — not once per reference site.
    (Without the binding, CollapseProject re-inlines the token array into
    every element_at inside the shingle lambda and into each of the 12
    minhash seed folds; this is the 8x LSH regression of DESIGN.md.)"""
    from crane_stream_processing_spark.functions import tokens
    from crane_stream_processing_spark.operators.dedup import (
        minhash_signature,
        token_shingles,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y")], "doc_id long, text string"
    )
    staged = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", token_shingles(F.col("toks")).alias("sh")
    ).select("doc_id", minhash_signature(F.col("sh")).alias("sig"))
    plan = _optimized_plan(staged)
    # one tokenization for the shingle binding — not 3 (element_at sites)
    # or 36 (x12 seeds); the collapsed projection keeps exactly one
    assert plan.count(TOKENIZER) == 1, plan[:3000]


def test_token_bigrams_edges_and_plan_shape(spark):
    """token_bigrams: empty/1-token/NULL docs yield [], n-token docs yield
    n-1 ordered pairs; the let-bound build tokenizes once in the plan."""
    from crane_stream_processing_spark.operators.text import token_bigrams

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "solo"), (3, ""), (4, None), (5, "p  q")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.g for r in docs.select(
        "doc_id", token_bigrams("text").alias("g")
    ).collect()}
    assert out[1] == ["a b", "b c"]
    assert out[2] == [] and out[3] == []
    assert out[5] == ["p q"]  # empty tokens filtered before pairing
    assert out[4] == []
    plan = _optimized_plan(docs.select(token_bigrams("text").alias("g")))
    assert plan.count(TOKENIZER) == 1


def test_bpe_trainer_hand_computed_merges_and_exhaustion(spark, tmp_path):
    """The 3-round BPE trainer against a corpus small enough to verify by
    hand — ranks, tiebreaks, merge application, AND the exhaustion path
    (only two merges possible: the third round must emit nothing, not
    crash, mirroring the oracle's empty-m3 leg). Corpus 'ab ab abc':
    words {ab:2, abc:1}; round 1 pairs (a,b):3, (b,c):1 -> merge (a,b);
    round 2 pairs (ab,c):1 -> merge (ab,c); round 3: no pairs remain."""
    from crane_stream_processing_spark.inventory import (
        REGISTRY,
        release_query_caches,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab abc", "en", "src", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path / "bpe_tiny")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    try:
        rows = sorted(
            REGISTRY["text_bpe_train_merges"].fn(spark, sf_dir).collect(),
            key=lambda r: r.round,
        )
        assert [(r.round, r.sym_a, r.sym_b, r.merged, r.pair_freq)
                for r in rows] == [
            (1, "a", "b", "ab", 3),
            (2, "ab", "c", "abc", 1),
        ]
        comp = REGISTRY["text_bpe_compression_by_lang"].fn(
            spark, sf_dir
        ).collect()
        assert len(comp) == 1 and comp[0].lang == "en"
        # every word fully merged into one symbol: 3 words, 7 chars
        assert comp[0].n_words == 3
        assert comp[0].n_chars == 7
        assert comp[0].n_symbols == 3
        assert abs(comp[0].compression - 3 / 7) < 1e-12
    finally:
        release_query_caches(spark)
