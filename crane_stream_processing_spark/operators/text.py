"""Text-analysis operators (north-star surface): language-ID, quality
scoring, token counting, document fingerprinting — the per-document feature
extractors of a training-data pipeline, all as built-in column expressions
(one projection per document, no shuffle, no UDF).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import let, tokens


def _shared_cache(df: DataFrame) -> DataFrame:
    """Cache an intermediate that several branches of ONE query's plan
    consume, registered for post-query release (inventory harnesses call
    release_query_caches after materializing). Spark performs no
    cross-branch common-subexpression reuse on DataFrame lineage, so an
    uncached shared stage — e.g. the bigram-explode bucket counts the
    DSIR model AND the per-doc scorer both fold — executes once per
    consumer (measured: 3 full tokenize+md5 passes in
    curate_dsir_importance's plan, guide §1.2 step 1)."""
    from ..inventory import register_query_cache

    return register_query_cache(df.cache())


def _argmax_label(scores: Column, labels: list[str]) -> Column:
    """argmax over a let-bound score array → label, ties toward earlier
    labels, 'und' when the best score is 0. The binding makes each score
    expression evaluate once even though the cascade reads it twice
    (condition + greatest)."""

    def pick(arr: Column) -> Column:
        best = F.greatest(*[F.get(arr, i) for i in range(len(labels))])
        out = F.lit("und")
        # Reverse order so earlier labels win ties (last when() wins in a
        # chained otherwise cascade built back-to-front).
        for i in reversed(range(len(labels))):
            out = F.when(F.get(arr, i) == best, F.lit(labels[i])).otherwise(out)
        return F.when(best == 0, F.lit("und")).otherwise(out)

    return let(scores, pick)

__all__ = [
    "LANG_MARKERS",
    "token_bigrams",
    "doc_stats_struct",
    "curation_struct",
    "fingerprint",
    "rolling_hash",
    "NGRAM_PROFILES",
    "ngram_count",
    "langid_ngram",
]

# Marker stopwords per language for the n-gram/stopword heuristic language
# detector. Deliberately tiny + deterministic; real corpora would train
# frequency profiles, but the operator shape (score per language → argmax)
# is identical.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "a"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
    "zh": ("de", "shi", "le", "bu"),
}


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    """Count of tokens that are marker words (multiset count)."""
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


_ALL_MARKERS = tuple(sorted({m for ms in LANG_MARKERS.values() for m in ms}))


def _punct_ratio(c: Column) -> Column:
    n_chars = F.length(c)
    return F.round(
        (n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))).cast("double")
        / F.greatest(n_chars, F.lit(1)),
        6,
    )


def _stopword_ratio(toks: Column) -> Column:
    return F.round(
        _marker_hits(toks, _ALL_MARKERS).cast("double")
        / F.greatest(F.size(toks), F.lit(1)),
        6,
    )


def _quality_from(c: Column, toks: Column) -> Column:
    """Composite quality score in [0,1] over an already-bound token array:
    rewards stopword presence and moderate length, penalizes punctuation
    soup — the standard shape of a heuristic quality filter. Shared so
    both struct builders below give bit-identical scores."""
    n_tok = F.size(toks).cast("bigint")
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), 0.4).otherwise(0.0)
    stop_ok = F.least(_stopword_ratio(toks) * 4, F.lit(0.4))
    punct_pen = F.greatest(F.lit(0.2) - _punct_ratio(c), F.lit(0.0))
    return F.round(len_ok + stop_ok + punct_pen, 6)


def doc_stats_struct(col: Column | str) -> Column:
    """Every per-document text-analysis signal in ONE let-bound struct —
    language, token counts, ratios, quality, fingerprint. Consume it via
    ``df.select(id, F.inline(F.array(doc_stats_struct("text"))))``: the
    Generate evaluates the struct once per row and emits the fields as
    real attributes, so a multi-signal projection tokenizes ONCE instead
    of once per output column (independent select() entries cannot share
    a let binding; a Generate is the barrier that can)."""
    c = F.col(col) if isinstance(col, str) else col
    langs = list(LANG_MARKERS)
    n_chars = F.length(c)

    def body(toks: Column) -> Column:
        return F.struct(
            _argmax_label(
                F.array(*[_marker_hits(toks, LANG_MARKERS[l]) for l in langs]),
                langs,
            ).alias("lang"),
            F.size(toks).cast("bigint").alias("ws_tokens"),
            F.size(F.regexp_extract_all(c, F.lit(r"\w+|[^\w\s]"), 0))
            .cast("bigint")
            .alias("bpe_ish_tokens"),
            _punct_ratio(c).alias("punct_ratio"),
            F.round(
                (n_chars - F.length(F.regexp_replace(c, r"[A-Z]", ""))).cast("double")
                / F.greatest(n_chars, F.lit(1)),
                6,
            ).alias("upper_ratio"),
            _stopword_ratio(toks).alias("stopword_ratio"),
            _quality_from(c, toks).alias("quality"),
            _fingerprint_from(toks).alias("fingerprint"),
        )

    return let(tokens(c), body)


def curation_struct(col: Column | str) -> Column:
    """The curation pipeline's per-doc signals (quality, token count,
    fingerprint) as one let-bound struct for F.inline — see
    doc_stats_struct for the evaluate-once rationale."""
    c = F.col(col) if isinstance(col, str) else col

    def body(toks: Column) -> Column:
        return F.struct(
            _quality_from(c, toks).alias("q"),
            F.size(toks).cast("bigint").alias("ws_tokens"),
            _fingerprint_from(toks).alias("fingerprint"),
        )

    return let(tokens(c), body)


def token_bigrams(col: Column | str, as_struct: bool = False) -> Column:
    """Adjacent token pairs of a text column — array<string> "w1 w2" rows
    (default) or array<struct<w1,w2>>. Let-bound: the naive staged-column
    form re-tokenizes per bigram once CollapseProject inlines the token
    array into the index lambda (measured 2× on the sf0.1 bigram scan).
    DuckDB twin: ``[tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]``
    (1-based)."""

    def body(tk: Column) -> Column:
        n = F.size(tk)
        if as_struct:
            empty = F.expr("CAST(array() AS array<struct<w1:string,w2:string>>)")
            mk = lambda i: F.struct(  # noqa: E731
                F.get(tk, i).alias("w1"), F.get(tk, i + 1).alias("w2")
            )
        else:
            empty = F.expr("CAST(array() AS array<string>)")
            mk = lambda i: F.concat(  # noqa: E731
                F.get(tk, i), F.lit(" "), F.get(tk, i + 1)
            )
        return F.when(
            n >= 2, F.transform(F.sequence(F.lit(0), n - 2), mk)
        ).otherwise(empty)

    return let(tokens(col), body)


def _fingerprint_from(toks: Column) -> Column:
    """Shared fingerprint expression over an already-bound token array —
    one definition so the struct builders stay bit-identical to
    :func:`fingerprint` (the cross-engine oracle hashes this exact
    string)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set — detects shuffled/reordered near-copies that exact hashing
    misses. DuckDB twin: md5(array_to_string(list_sort(list_distinct(...)),' '))."""
    return _fingerprint_from(tokens(col))


# Character-trigram profiles per language for the n-gram language
# detector (the classic Cavnar-Trenkle shape, reduced to a fixed tiny
# profile per language so scoring is a pure column expression).
NGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("th", "he", "ing", " a "),
    "es": ("de ", "la ", "os ", "ue"),
    "de": ("der", "ein", "ch", "sch"),
    "fr": ("le ", "es ", "ent", "ou"),
}


def ngram_count(col: Column | str, gram: str) -> Column:
    """Non-overlapping occurrence count of a literal n-gram via
    greedy replace: (len(x) − len(replace(x, g, ''))) / len(g). Both
    engines replace greedily left-to-right, so counts match exactly.
    DuckDB twin: ``(length(x) - length(replace(x, g, ''))) // len``."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(gram), F.lit(""))))
        / len(gram)
    ).cast("long")


def langid_ngram(col: Column | str) -> Column:
    """Language-ID, n-gram heuristic: score = total count of the
    language's signature character trigrams; argmax with ties toward
    profile order, 'und' when no gram matches. Complements the
    stopword-marker detector in :func:`doc_stats_struct`."""
    c = F.col(col) if isinstance(col, str) else col
    langs = list(NGRAM_PROFILES)
    # Let-bound score array: each trigram's replace()-based count appears
    # exactly once instead of twice (cascade condition + greatest).
    scores = F.array(
        *[
            sum((ngram_count(c, g) for g in NGRAM_PROFILES[l]), F.lit(0).cast("long"))
            for l in langs
        ]
    )
    return _argmax_label(scores, langs)


ROLLING_BASE = 1000003
ROLLING_MOD = 2147483647  # 2^31 - 1; base*mod < 2^63, no long overflow


def rolling_hash(col: Column | str) -> Column:
    """Order-SENSITIVE polynomial rolling hash (Rabin-Karp) over the
    document's character codes: h = fold((h·B + code(c)) mod M). One fold,
    no UDF. Complements :func:`fingerprint` (order-insensitive): equal
    rolling hashes ⇒ identical character stream. DuckDB twin:
    ``list_reduce(list_prepend(0, [unicode(c) FOR c IN
    string_split(text,'')]), (a,b) -> (a*B + b) % M)``."""
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * ROLLING_BASE + v) % ROLLING_MOD,
    )


def char_entropy_nats(col: Column | str) -> Column:
    """Shannon entropy (nats) of the document's character distribution —
    the low-entropy gate a pretraining corpus runs to drop keyboard-mash /
    padding / single-char spam that length and stopword ratios miss
    (H = ln(n) - (SUM_c cnt*ln(cnt))/n over per-character counts).

    Zero shuffle: characters are sorted per row and the count term is
    accumulated by a run-length fold over the sorted array (the
    text_repetition_topbigram trick), so the signal streams through the
    scan like any projection at 100 TB — no explode, no per-doc groupBy.
    DuckDB twin: unnest chars -> COUNT per char -> ln(n) - SUM(c*ln(c))/n
    (split parity holds per CODE POINT on both engines, non-BMP included —
    verified empirically; Spark's zero-width regex split does not break
    surrogate pairs). NULL text yields NULL (not 0.0 — a missing document
    is not a uniform one), which also matches how a relational oracle's
    unnest drops NULL rows.
    Cross-engine float safety: both sides sum doubles then round(6); the
    addition-order ulp drift (~1e-15) is 9 orders below the rounding
    step (the text_unigram_logprob precedent)."""
    from ..functions import let

    c = F.col(col) if isinstance(col, str) else col

    # let-bind the sorted char array: n and the fold both read it, and
    # without the binding CollapseProject re-inlines split()+array_sort()
    # per reference site (the functions.let / DESIGN.md tokenization rule,
    # enforced registry-wide by test_plan_quality).
    def _entropy(chars: Column) -> Column:
        n = F.size(chars)
        # fold state: (prev char, current run length, sum of run*ln(run)
        # over CLOSED runs); a run closes when the char changes, and the
        # finish lambda closes the final run. run == 0 -> no run open yet.
        folded = F.aggregate(
            chars,
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).cast("long").alias("run"),
                F.lit(0.0).alias("acc"),
            ),
            lambda s, x: F.struct(
                x.alias("prev"),
                F.when(x == s["prev"], s["run"] + 1)
                .otherwise(F.lit(1).cast("long"))
                .alias("run"),
                F.when((x == s["prev"]) | (s["run"] == 0), s["acc"])
                .otherwise(
                    s["acc"]
                    + s["run"].cast("double") * F.log(s["run"].cast("double"))
                )
                .alias("acc"),
            ),
            lambda s: s["acc"]
            + F.when(
                s["run"] > 0,
                s["run"].cast("double") * F.log(s["run"].cast("double")),
            ).otherwise(F.lit(0.0)),
        )
        return F.when(
            n > 0,
            F.round(F.log(n.cast("double")) - folded / n.cast("double"), 6),
        ).otherwise(F.lit(0.0))

    # NULL text propagates as NULL: split(NULL) is NULL, size(NULL) is
    # NULL, and the when() guard would otherwise silently coerce a
    # missing document to entropy 0.0 (the uniform-string value)
    return F.when(c.isNull(), F.lit(None).cast("double")).otherwise(
        let(F.array_sort(F.split(c, "")), _entropy)
    )


def dup_ngram_count(shingle_arr: Column) -> Column:
    """Count of n-gram INSTANCES whose n-gram occurs more than once in the
    same array (Gopher duplicate-n-gram mass, Rae et al. 2021 §A1.1) —
    computed row-locally by a run-length fold over the sorted array: a
    run reaching 2 retro-credits both instances (+2), each further
    repeat +1. All-integer, zero shuffle."""
    return F.aggregate(
        F.array_sort(shingle_arr),
        # NULL sentinel, not '': an actual empty-string shingle (possible
        # with a caller that splits raw text) must not match the initial
        # prev — x == NULL is NULL, which when() treats as no-match.
        F.expr("struct(CAST(NULL AS STRING) AS prev, 0 AS run, 0L AS dup)"),
        lambda s, x: F.struct(
            x.alias("prev"),
            F.when(x == s.prev, s.run + 1).otherwise(F.lit(1)).alias("run"),
            (
                s.dup
                + F.when((x == s.prev) & (s.run == 1), F.lit(2).cast("long"))
                .when(x == s.prev, F.lit(1).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("dup"),
        ),
    ).getField("dup")


def dsir_logweights(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    n_buckets_hex_chars: int = 2,
) -> DataFrame:
    """DSIR hashed-n-gram importance weights (Xie et al. 2023): per-doc
    log-likelihood ratio of a target hashed-bigram distribution against
    the raw corpus, over a fixed 16^n_buckets_hex_chars-bucket vocabulary
    (bucket = md5 hex prefix — engine-portable). Add-1 smoothed. The
    model is a bucket-count LLR relation small enough to broadcast; per-
    doc scoring is one map-side-combinable groupBy. Returns
    (doc_id, n_bigrams, dsir_logweight) for EVERY input doc (zero-bigram
    docs weigh 0.0)."""
    # Round-10 shape: train the broadcast LLR-array model once
    # (dsir_model_array — one 16^n-group aggregate with effective
    # map-side combine), then score each document ROW-LOCALLY with the
    # same fold `stream_dsir_score` serves with. The previous form
    # exploded every bigram into an O(docs x 16^n)-group aggregate and
    # joined it back per doc — at 100 TB that shuffles the whole bigram
    # multiset twice; the fold form shuffles nothing per doc (the model
    # rides a 1-row broadcast crossJoin). Values are identical under the
    # 6-dp round (verified row-for-row vs the previous form at
    # sf0.001/0.01/0.1): both engines already sum the same per-bucket
    # terms in engine-arbitrary order, which the ln-last-ulp + round
    # discipline absorbs.
    model = dsir_model_array(docs, text_col, is_target, n_buckets_hex_chars)
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), token_bigrams(text_col).alias("bg")
        )
        .crossJoin(F.broadcast(model))
        .select(
            "doc_id",
            F.size("bg").cast("bigint").alias("n_bigrams"),
            F.round(
                dsir_fold_score(F.col("bg"), F.col("llr"), n_buckets_hex_chars),
                6,
            ).alias("dsir_logweight"),
        )
    )


def nb_confusion(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets_hex_chars: int = 2,
    holdout_mod: int = 10,
) -> DataFrame:
    """Multinomial naive Bayes over a hashed-token vocabulary, trained
    in-engine on the id%holdout_mod!=0 slice and scored on the held-out
    id%holdout_mod==0 slice; returns the (true_label, pred_label,
    n_docs) confusion matrix. Training is counting: the model is a
    (|labels| × 16^n)-row log-likelihood relation + a |labels|-row
    prior relation, both aggregate-bounded broadcasts — no vocabulary
    shuffle, no iterative fit. Used both as a classifier harness and as
    a label-signal audit (a label NB cannot lift above the prior
    carries no textual signal). Log-likelihoods are rounded to 4
    decimals before the argmax (ln last-ulp discipline), label-asc
    tiebreak."""
    n_buckets = 16 ** n_buckets_hex_chars
    train = docs.filter(F.col(id_col) % holdout_mod != 0)
    test = docs.filter(F.col(id_col) % holdout_mod == 0)

    def bucketed(df: DataFrame, keep_id: bool) -> DataFrame:
        cols = ([F.col(id_col).alias("doc_id")] if keep_id else []) + [
            F.col(label_col).alias("label")
        ]
        return df.select(
            *cols, F.explode(tokens(text_col)).alias("tk")
        ).select(
            *(["doc_id"] if keep_id else []),
            "label",
            F.substring(F.md5("tk"), 1, n_buckets_hex_chars).alias("bkt"),
        )

    tb = bucketed(train, keep_id=False)
    cnt = tb.groupBy("label", "bkt").agg(F.count(F.lit(1)).alias("c"))
    tl = tb.groupBy("label").agg(F.count(F.lit(1)).alias("t_l"))
    nd = train.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = train.agg(F.count(F.lit(1)).alias("n"))
    cls = (
        nd.join(tl, "label")
        .crossJoin(F.broadcast(tot))
        .select(
            "label",
            F.log(F.col("n_docs").cast("double") / F.col("n")).alias(
                "prior_ll"
            ),
            "t_l",
        )
    )
    pc = (
        bucketed(test, keep_id=True)
        .withColumnRenamed("label", "true_label")
        .groupBy("doc_id", "true_label", "bkt")
        .agg(F.count(F.lit(1)).alias("cd"))
    )
    sc = (
        pc.crossJoin(F.broadcast(cls))
        .join(F.broadcast(cnt), ["label", "bkt"], "left")
        .groupBy("doc_id", "true_label", "label", "prior_ll")
        .agg(
            F.round(
                F.col("prior_ll")
                + F.sum(
                    F.col("cd")
                    * F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                        / (F.col("t_l") + F.lit(float(n_buckets)))
                    )
                ),
                4,
            ).alias("ll")
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("ll").desc(), F.col("label")
        )
    )
    return (
        sc.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .groupBy("true_label", F.col("label").alias("pred_label"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def dsir_model_array(
    docs: DataFrame,
    text_col: str,
    is_target: Column,
    n_buckets_hex_chars: int = 2,
) -> DataFrame:
    """The DSIR model as a ONE-ROW broadcastable relation: a
    16^n-element array<double> of per-bucket log-likelihood ratios,
    position-aligned to the integer bucket index (first n hex chars of
    md5(bigram), parsed base-16 — engine-portable). The bucket grid is
    densified (range join) so absent buckets still occupy their slot;
    the model then rides a broadcast crossJoin into any batch OR
    streaming plan (the centroid_matrix precedent) and scoring is a
    row-local fold — the offline-train / in-flight-score split a
    production importance-weighting deployment uses."""
    n_buckets = 16 ** n_buckets_hex_chars
    bkt = docs.select(
        is_target.alias("is_tgt"),
        F.explode(token_bigrams(text_col)).alias("b"),
    ).select(
        "is_tgt",
        F.conv(F.substring(F.md5("b"), 1, n_buckets_hex_chars), 16, 10)
        .cast("int")
        .alias("idx"),
    )
    # tot (corpus totals) and the model fold both derive from tbl;
    # uncached, the bigram explode beneath it runs once per consumer.
    # tbl is <= 16^n rows — trivially cacheable at any corpus size.
    tbl = _shared_cache(
        bkt.groupBy("idx").agg(
            F.count(F.lit(1)).alias("r_cnt"),
            F.coalesce(
                F.sum(F.when(F.col("is_tgt"), F.lit(1))), F.lit(0)
            ).alias("t_cnt"),
        )
    )
    grid = docs.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("idx")
    )
    full = (
        grid.join(tbl, "idx", "left")
        .select(
            "idx",
            F.coalesce("r_cnt", F.lit(0)).alias("r_cnt"),
            F.coalesce("t_cnt", F.lit(0)).alias("t_cnt"),
        )
    )
    tot = full.agg(F.sum("r_cnt").alias("rt"), F.sum("t_cnt").alias("tt"))
    nb = F.lit(float(n_buckets))
    w = F.log((F.col("t_cnt") + F.lit(1.0)) / (F.col("tt") + nb)) - F.log(
        (F.col("r_cnt") + F.lit(1.0)) / (F.col("rt") + nb)
    )
    return (
        full.crossJoin(F.broadcast(tot))
        .select("idx", w.alias("w"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "w"))),
                lambda s: s["w"],
            ).alias("llr")
        )
    )


def dsir_fold_score(
    bigrams_col: Column, llr_col: Column, n_buckets_hex_chars: int = 2
) -> Column:
    """Row-local DSIR score: left fold over the bigram array in TEXT
    ORDER, each bigram adding its bucket's LLR from the position-aligned
    model array — stateless, composes with Structured Streaming
    unchanged. The oracle twin is DuckDB's list_reduce over the same
    order, so the rounded sum grades bit-stable."""
    idx = lambda b: (  # noqa: E731
        F.conv(F.substring(F.md5(b), 1, n_buckets_hex_chars), 16, 10).cast(
            "int"
        )
        + 1
    )
    return F.aggregate(
        bigrams_col,
        F.lit(0.0),
        lambda acc, b: acc + F.element_at(llr_col, idx(b)),
    )
