"""Property tests for the round-7 curation operators:

- winnowed exact-substring dedup (Schleimer-Wilkerson-Aiken 2003 selection,
  Lee et al. 2022 motivation): the guarantee under test is the one a naive
  stride sampler does NOT have — a shared verbatim span >= width+window-1
  chars is detected at ANY alignment;
- Gopher duplicate-n-gram coverage (Rae et al. 2021): all-integer
  run-length fold equals the brute-force multiset computation;
- DSIR hashed-n-gram importance weights (Xie et al. 2023): target-slice
  documents must out-score out-of-target documents on average, and
  bigram-free documents weigh exactly 0.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from crane_stream_processing_spark.functions import tokens
from crane_stream_processing_spark.operators.dedup import (
    substring_window_pairs,
    token_shingles,
    winnow_fingerprints,
)
from crane_stream_processing_spark.operators.text import (
    dsir_logweights,
    dup_ngram_count,
)

# Two long, token-distinct filler streams and one shared span (>= 59 chars).
_SPAN = (
    "the quick brown fox jumps over the lazy dog while the band plays on"
)  # 68 chars
_JUNK_A = "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
_JUNK_B = "kilo lima mike november oscar papa quebec romeo sierra tango "
_JUNK_C = "uniform victor whiskey xray yankee zulu zero niner eight seven "


def _pairs(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        (r.id_a, r.id_b)
        for r in substring_window_pairs(docs, "doc_id", "text").collect()
    }


def test_winnow_detects_unaligned_shared_span(spark):
    # The span sits at offset 7 in doc 1 and offset 30 in doc 2 — neither
    # a multiple of the other, so any fixed-stride sampler with stride > 1
    # would be phase-misaligned; winnowing must still pair them.
    rows = [
        (1, _JUNK_A[:7] + _SPAN + _JUNK_A),
        (2, _JUNK_B[:30] + _SPAN + _JUNK_B),
        (3, _JUNK_C + _JUNK_C + _JUNK_C),  # no 40-char overlap with 1 or 2
    ]
    got = _pairs(spark, rows)
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_winnow_guarantee_holds_at_every_alignment(spark):
    # Sweep span offsets 0..14 in doc B against a fixed doc A: the
    # winnowing theorem says every one of them is detected. (Capped at
    # 16 docs so the shared-span fingerprints stay under the 20-doc
    # boilerplate guard — the cap itself is tested separately.)
    doc_a = _JUNK_A + _SPAN + _JUNK_A
    rows = [(100, doc_a)] + [
        (i, _JUNK_B[:i] + _SPAN + _JUNK_B) for i in range(15)
    ]
    got = _pairs(spark, rows)
    for i in range(15):
        assert (i, 100) in got, f"offset {i} missed"


def test_winnow_no_pair_below_width(spark):
    # A shared span shorter than the 40-char window can never produce a
    # shared fingerprint (each fingerprint hashes a full 40-char window).
    short = "zulu yankee xray whiskey victor"  # 31 chars
    rows = [
        (1, _JUNK_A + short + _JUNK_A),
        (2, _JUNK_B + short + _JUNK_B),
    ]
    assert _pairs(spark, rows) == set()


def test_winnow_hot_fingerprint_cap(spark):
    # 25 identical docs: every fingerprint appears in 25 > 20 documents,
    # so the boilerplate guard drops them all — no quadratic bucket.
    rows = [(i, _JUNK_A + _SPAN) for i in range(25)]
    assert _pairs(spark, rows) == set()
    # At 3 copies (under the cap) the same text pairs normally: 3 pairs.
    rows3 = [(i, _JUNK_A + _SPAN) for i in range(3)]
    assert _pairs(spark, rows3) == {(0, 1), (0, 2), (1, 2)}


def test_winnow_fingerprints_short_text_empty(spark):
    df = spark.createDataFrame(
        [("x" * 58,), ("y" * 59,), (None,)], "text string"
    ).select(F.size(winnow_fingerprints("text")).alias("n"))
    ns = [r.n for r in df.collect()]
    assert ns[0] == 0  # below width+window-1
    assert ns[1] >= 1  # exactly at the guarantee threshold
    assert ns[2] == 0  # NULL text -> empty (no crash)


def _dup_count_brute(text: str) -> tuple[int, int]:
    toks = text.split()
    grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
    c = Counter(grams)
    return sum(v for v in c.values() if v > 1), len(grams)


def test_dup_ngram_fold_matches_brute_force(spark):
    texts = [
        "a b c d",  # all-unique trigrams -> 0
        "x y z x y z x y z",  # fully self-repeating -> all 7 duplicated
        "one two three one two three four five six",
        "solo",  # < 3 tokens -> no shingles
        "p q p q p q p q p q p q",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    out = {
        r.i: (r.dup, r.n)
        for r in df.select(
            "i",
            dup_ngram_count(token_shingles(tokens("text"))).alias("dup"),
            F.size(token_shingles(tokens("text"))).alias("n"),
        ).collect()
    }
    for i, t in enumerate(texts):
        assert out[i] == _dup_count_brute(t), f"text {i}: {t!r}"


def test_dsir_zero_bigram_and_separation(spark, sf_dir):
    from crane_stream_processing_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    wt = dsir_logweights(docs, "doc_id", "text", F.col("lang") == "en")
    # Every input doc present exactly once.
    assert wt.count() == docs.count()
    # Defining property (Gibbs): per-bigram mean LLR of in-target docs
    # exceeds every out-of-target language's mean.
    per = (
        wt.filter(F.col("n_bigrams") > 0)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.avg(F.col("dsir_logweight") / F.col("n_bigrams")).alias("m")
        )
    )
    means = {r.lang: r.m for r in per.collect()}
    for lang, m in means.items():
        if lang != "en":
            assert means["en"] > m, f"en not above {lang}"
    # A one-token doc has no bigrams and must weigh exactly 0.0.
    tiny = spark.createDataFrame(
        [(1, "word", True), (2, "two tokens here", False)],
        "doc_id long, text string, tgt boolean",
    )
    row = {
        r.doc_id: (r.n_bigrams, r.dsir_logweight)
        for r in dsir_logweights(tiny, "doc_id", "text", F.col("tgt")).collect()
    }
    assert row[1] == (0, 0.0)
    assert row[2][0] == 2


def test_nb_confusion_learns_separable_classes(spark):
    # Two classes with disjoint vocabularies: the held-out docs must land
    # on the diagonal — proof the harness LEARNS when textual signal
    # exists (on the synthetic corpus it correctly collapses to the
    # majority class, which is the label-signal-audit reading).
    from crane_stream_processing_spark.operators.text import nb_confusion

    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, "apple banana cherry date elderberry fig", "fruit"))
        else:
            rows.append((i, "carrot potato onion leek turnip beet", "veg"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, label string")
    got = {
        (r.true_label, r.pred_label): r.n_docs
        for r in nb_confusion(docs, "doc_id", "text", "label").collect()
    }
    # held-out slice = doc_id % 10 == 0 -> ids 0,10,20,30 (all 'fruit'
    # by construction have even ids; 10,30 are even too) -> 4 fruit docs
    assert got == {("fruit", "fruit"): 4}


def test_nb_confusion_rows_partition_holdout(spark, sf_dir):
    from crane_stream_processing_spark.catalog import load_table
    from crane_stream_processing_spark.operators.text import nb_confusion

    docs = load_table(spark, sf_dir, "documents")
    cm = nb_confusion(docs, "doc_id", "text", "lang")
    n_holdout = docs.filter(F.col("doc_id") % 10 == 0).count()
    assert cm.agg(F.sum("n_docs")).collect()[0][0] == n_holdout


def test_stream_dsir_matches_batch_weights(spark, sf_dir):
    # The streaming scorer (text-order fold against the broadcast model
    # array) and the batch groupBy formulation (c_b * llr_b) reassociate
    # the same sum, so they agree to float-reassociation tolerance on
    # every doc — and exactly on n_bigrams.
    from crane_stream_processing_spark.catalog import load_table
    from crane_stream_processing_spark.inventory.streaming_queries import (
        stream_dsir_score,
    )
    from crane_stream_processing_spark.operators.text import dsir_logweights

    stream = {
        r.doc_id: (r.n_bigrams, r.dsir_logweight)
        for r in stream_dsir_score(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    batch = {
        r.doc_id: (r.n_bigrams, r.dsir_logweight)
        for r in dsir_logweights(
            docs, "doc_id", "text", F.col("lang") == "en"
        ).collect()
    }
    assert stream.keys() == batch.keys()
    for d, (nb, w) in batch.items():
        snb, sw = stream[d]
        assert snb == nb
        assert abs(sw - w) < 1e-6, f"doc {d}: {sw} vs {w}"


# ---------------------------------------------------------------------------
# Randomized winnowing parity vs a pure-Python reference implementation
# ---------------------------------------------------------------------------
import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _py_winnow(text: str, width: int = 40, window: int = 20) -> set[str]:
    if text is None or len(text) < width + window - 1:
        return set()
    hs = [
        hashlib.md5(text[i : i + width].encode()).hexdigest()
        for i in range(len(text) - width + 1)
    ]
    return {min(hs[j : j + window]) for j in range(len(hs) - window + 1)}


_alpha = st.text(
    alphabet="ab c",  # tiny alphabet -> dense repeats, min-ties exercised
    min_size=0,
    max_size=200,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=st.lists(_alpha, min_size=1, max_size=6))
def test_winnow_matches_python_reference(texts):
    from crane_stream_processing_spark.session import get_spark

    spark = get_spark("tests")
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r.i: set(r.fp)
        for r in df.select(
            "i", winnow_fingerprints("text").alias("fp")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_winnow(t), f"text {i}: {t!r}"


def test_stream_curate_pipeline_incremental_restart(spark, tmp_path):
    """The composed streaming curation pipeline is exactly-once across a
    checkpointed restart: (1) gate-failing docs never emit; (2) an
    in-batch duplicate emits once; (3) a duplicate arriving in a LATER
    generation — after a restart from checkpoint — is suppressed by the
    restored dedup state, and only genuinely new content emits."""
    import os

    from crane_stream_processing_spark.inventory.streaming_queries import (
        build_curate_stream,
    )
    from crane_stream_processing_spark.operators.text import dsir_model_array

    passing_a = " ".join(f"alpha{i:02d}" for i in range(30))
    passing_b = " ".join(f"beta{i:02d}" for i in range(30))
    failing = "too short to pass"

    model = dsir_model_array(
        spark.createDataFrame(
            [(passing_a, True), (passing_b, False)], "text string, tgt boolean"
        ),
        "text",
        F.col("tgt"),
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def write_gen(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(src, name))

    emitted = []

    def run_once():
        st = spark.readStream.schema("doc_id long, text string").parquet(
            os.path.join(src, "*")
        )
        out = build_curate_stream(st, model)
        q = (
            out.writeStream.outputMode("append")
            .foreachBatch(
                lambda df, _: emitted.extend(
                    (r.h, r.dsir_logweight) for r in df.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # gen0: one passer (A), one gate-fail, one in-batch duplicate of A
    write_gen("gen=0", [(1, passing_a), (2, failing), (3, passing_a)])
    run_once()
    assert len(emitted) == 1  # A once; the gate-fail and the dup are gone

    # gen1 after restart: A again (cross-restart dup) + genuinely new B
    write_gen("gen=1", [(10, passing_a), (11, passing_b)])
    run_once()
    hs = [h for h, _ in emitted]
    assert len(emitted) == 2 and len(set(hs)) == 2, (
        "restored dedup state must suppress the cross-generation dup; "
        "only new content emits"
    )
    # target-slice doc must out-score the non-target one (model signal)
    ws = dict(emitted)
    import hashlib

    ha = hashlib.md5(passing_a.encode()).hexdigest()
    hb = hashlib.md5(passing_b.encode()).hexdigest()
    assert ws[ha] > ws[hb]


def test_hybrid_rrf_fuses_both_lists(spark, sf_dir):
    from crane_stream_processing_spark.inventory.relevance import (
        text_hybrid_rrf_search,
    )

    rows = text_hybrid_rrf_search(spark, sf_dir).collect()
    assert len(rows) == 10
    # every fused row belongs to at least one list, and docs present in
    # BOTH lists outrank equal-single-list docs by construction
    assert all(r.rank_bm25 > 0 or r.rank_cos > 0 for r in rows)
    both = [r for r in rows if r.rank_bm25 > 0 and r.rank_cos > 0]
    single = [r for r in rows if (r.rank_bm25 > 0) != (r.rank_cos > 0)]
    if both and single:
        assert max(r.rrf for r in both) > min(r.rrf for r in single)
    # rrf equals the closed form from the emitted ranks
    for r in rows:
        want = (1.0 / (60 + r.rank_bm25) if r.rank_bm25 > 0 else 0.0) + (
            1.0 / (60 + r.rank_cos) if r.rank_cos > 0 else 0.0
        )
        assert abs(r.rrf - round(want, 6)) < 1e-9
