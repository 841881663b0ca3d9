"""streaming.sampling bottom-k sampler — the contracts the bounded
graded query can't exercise: MULTI-batch folds, replay of a MIDDLE
batch (not just the offset-log tail — the algebra makes any redelivery
safe), restart on the same checkpoint, and generation retirement."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from crane_stream_processing_spark.inventory.streaming_queries import drain
from crane_stream_processing_spark.streaming.sampling import bottomk_sampler
from crane_stream_processing_spark.streaming.sinks import (
    list_versions,
    store_names,
)


def _ids(df):
    return {r.doc_id for r in df.collect()}


def _expected_bottomk(spark, ids, k):
    return _ids(
        spark.createDataFrame([(i,) for i in ids], "doc_id long")
        .select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("h"))
        .orderBy("h", "doc_id")
        .limit(k)
    )


def _write_ids(spark, feed_dir, idx, ids):
    import glob
    import shutil

    stage = os.path.join(feed_dir, f"..__stage{idx}")
    spark.createDataFrame([(i,) for i in ids], "doc_id long").coalesce(
        1
    ).write.mode("overwrite").parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    os.makedirs(feed_dir, exist_ok=True)
    dst = os.path.join(feed_dir, f"feed{idx}.parquet")
    shutil.move(part, dst)
    os.utime(dst, (1_700_000_000 + idx, 1_700_000_000 + idx))
    shutil.rmtree(stage, ignore_errors=True)


def test_multibatch_middle_replay_restart_and_retirement(spark, tmp_path):
    feed = str(tmp_path / "feed")
    state = str(tmp_path / "sample")
    ckpt = str(tmp_path / "ckpt")
    waves = [list(range(0, 40)), list(range(40, 80)), list(range(80, 120))]
    for i, ids in enumerate(waves):
        _write_ids(spark, feed, i, ids)

    def run():
        stream = (
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        fold, current = bottomk_sampler(spark, state, k=25)
        drain(stream, fold, checkpoint=ckpt)
        return fold, current

    fold, current = run()
    want = _expected_bottomk(spark, range(0, 120), 25)
    assert _ids(current()) == want

    # replay the MIDDLE batch — min-wise algebra absorbs it even though
    # it is not the offset-log tail
    fold(spark.createDataFrame([(i,) for i in waves[1]], "doc_id long"), 1)
    assert _ids(current()) == want

    # generation retirement: only the current and previous versions live
    versions = sorted(list_versions(str(tmp_path), "sample"))
    assert len(versions) == 2 and versions[-1] == versions[0] + 1
    # the sample is an ordinary store name, so `crane store` lists it
    assert store_names(str(tmp_path)) == ["sample"]

    # restart on the SAME checkpoint: only the new file folds in
    _write_ids(spark, feed, 3, list(range(120, 200)))
    fold, current = run()
    assert _ids(current()) == _expected_bottomk(spark, range(0, 200), 25)


def test_fold_on_empty_state_and_small_corpus(spark, tmp_path):
    """k larger than the corpus: the sample IS the corpus; folding the
    same rows again changes nothing; current() on untouched state is an
    empty typed frame."""
    state = str(tmp_path / "s")
    fold, current = bottomk_sampler(spark, state, k=50)
    assert current().count() == 0
    rows = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    fold(rows, 0)
    assert _ids(current()) == set(range(7))
    fold(rows, 0)
    assert _ids(current()) == set(range(7))


def test_es_keyed_matches_batch_operator(spark):
    """The streaming sampler's weighted key stage must derive the SAME
    (id, key) pairs as the batch weighted_topk_es operator — the
    one-definition contract behind stream_weighted_es_sample grading
    against the batch draw."""
    from crane_stream_processing_spark.operators.sampling import (
        weighted_topk_es,
    )
    from crane_stream_processing_spark.streaming.sampling import es_keyed

    df = spark.createDataFrame(
        [(i, 10 + (i * 7) % 90) for i in range(200)] + [(999, 0)],
        "doc_id long, w long",
    )
    batch = {
        (r.doc_id, r.es_key)
        for r in weighted_topk_es(df, 20, "w", "doc_id")
        .select("doc_id", "es_key")
        .collect()
    }
    stream_keys = (
        es_keyed("w")(df)
        .orderBy("h", "doc_id")
        .limit(20)
        .select("doc_id", F.col("h").alias("es_key"))
    )
    assert {(r.doc_id, r.es_key) for r in stream_keys.collect()} == batch
    # zero-weight rows are excluded by both
    assert 999 not in {d for d, _ in batch}


def test_weighted_sampler_multibatch_equals_batch_draw(spark, tmp_path):
    """The weighted (ES-keyed) sampler folded over three batches must
    equal the batch weighted_topk_es draw over the union — batch
    boundaries cannot leak into the sample."""
    from crane_stream_processing_spark.operators.sampling import (
        weighted_topk_es,
    )
    from crane_stream_processing_spark.streaming.sampling import (
        bottomk_sampler,
        es_keyed,
    )

    state = str(tmp_path / "ws")
    fold, current = bottomk_sampler(
        spark, state, k=15, keyed=es_keyed("w"), key_type="double"
    )
    all_rows = [(i, 5 + (i * 13) % 50) for i in range(120)]
    for b in range(3):
        fold(
            spark.createDataFrame(all_rows[b * 40 : (b + 1) * 40],
                                  "doc_id long, w long"),
            b,
        )
    got = {(r.doc_id, r.h) for r in current().collect()}
    want = {
        (r.doc_id, r.es_key)
        for r in weighted_topk_es(
            spark.createDataFrame(all_rows, "doc_id long, w long"),
            15, "w", "doc_id",
        ).select("doc_id", "es_key").collect()
    }
    assert got == want
