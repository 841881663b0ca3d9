"""Command-line surface mirroring the reference client
(reference ``client/client.go``): the commands a user of the reference
runs today, re-expressed over the Spark engine.

    grep <pattern> <path-glob>          — distributed regex scan (MP1)
    put <local-parquet-or-csv> <name>   — store as a new version (SDFS put)
    get <name> [--version N]            — read latest / pinned version
    get-versions <name> <n>             — N newest versions, tagged
    ls <name>                           — committed versions
    start <app> <source-dir> [...]      — run a streaming app
    apps                                — list registered apps
    sql <statement> [--sf-dir D]        — ad-hoc Spark SQL over catalog + store views

Usage: ``python -m crane_stream_processing_spark.cli <cmd> ...``
(store root defaults to ``./crane_store``, override with --store).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def _spark() -> SparkSession:
    from .session import get_spark

    return get_spark("crane-cli")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="crane", description=__doc__)
    p.add_argument("--store", default="./crane_store", help="versioned store root")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("grep", help="distributed regex scan with line numbers")
    g.add_argument("pattern")
    g.add_argument("path")
    g.add_argument(
        "--limit",
        type=int,
        default=None,
        help="stop printing after N matches (per-file counts still "
        "reflect only the printed prefix); guards the client against a "
        "pattern that matches everything",
    )

    pu = sub.add_parser("put", help="store a table as a new version")
    pu.add_argument("local")
    pu.add_argument("name")

    ge = sub.add_parser("get", help="read the latest (or pinned) version")
    ge.add_argument("name")
    ge.add_argument("--version", type=int, default=None)

    gv = sub.add_parser("get-versions", help="read the N newest versions")
    gv.add_argument("name")
    gv.add_argument("n", type=int)

    ls = sub.add_parser("ls", help="list committed versions")
    ls.add_argument("name")

    de = sub.add_parser("delete", help="delete every version of a name")
    de.add_argument("name")

    sub.add_parser("store", help="list names with committed versions")

    st = sub.add_parser("start", help="run a streaming app to completion of available data")
    st.add_argument("app")
    st.add_argument("source")
    st.add_argument("--period", default="10 seconds")

    sub.add_parser("apps", help="list registered apps")

    sq = sub.add_parser(
        "sql", help="run Spark SQL over the catalog tables (and store names)"
    )
    sq.add_argument("statement")
    sq.add_argument(
        "--sf-dir", default=None,
        help="table directory (default $SPARK_GRAFT_SF_DIR or sf0.1)",
    )
    sq.add_argument("--limit", type=int, default=50)

    a = p.parse_args(argv)

    if a.cmd == "apps":
        from .apps import APP_REGISTRY

        print("\n".join(sorted(APP_REGISTRY)))
        return 0

    if a.cmd == "ls":
        from .streaming.sinks import list_versions

        for v in list_versions(a.store, a.name):
            print(v)
        return 0

    if a.cmd == "delete":
        from .streaming.sinks import delete_name

        victims = delete_name(a.store, a.name)
        print(f"deleted {a.name}: {len(victims)} versions")
        return 0

    if a.cmd == "store":
        from .streaming.sinks import store_names

        for n in store_names(a.store):
            print(n)
        return 0

    # Stop the session on exit ONLY if this invocation created it: main()
    # is also called programmatically (tests, notebooks), where killing
    # the caller's active session would break everything after us.
    owns_session = SparkSession.getActiveSession() is None
    spark = _spark()
    try:
        if a.cmd == "grep":
            from .apps import grep, grep_counts

            from collections import Counter

            matches = grep(spark, a.path, a.pattern)
            if a.limit is not None:
                # Plan-level limit, not a driver-side break: CollectLimit
                # stops the scan after enough partitions produce rows, so
                # a pattern matching everything costs O(limit), not a
                # full-corpus scan streamed to the client.
                matches = matches.limit(a.limit)
            # One distributed scan, streamed to the driver a partition at
            # a time (toLocalIterator): printing means driver
            # materialization either way, but a 100 TB grep's match set
            # must not need to fit in driver memory at once. Per-file
            # counts are tallied in the same pass (grep_counts(df)
            # remains the distributed form for counts-only callers).
            counts = Counter()
            n_printed = 0
            for r in matches.toLocalIterator():
                print(f"{r.vm}:{r.line_no}: {r.value}")
                counts[r.vm] += 1
                n_printed += 1
            # Under --limit the tallies only cover the printed prefix —
            # mark them as truncated lower bounds so the summary can't be
            # misread as a per-file total (round-5 advice).
            truncated = a.limit is not None and n_printed >= a.limit
            for vm in sorted(counts):
                if truncated:
                    print(
                        f"# {vm}: >= {counts[vm]} matches (limit reached)",
                        file=sys.stderr,
                    )
                else:
                    print(f"# {vm}: {counts[vm]} matches", file=sys.stderr)
        elif a.cmd == "put":
            from .streaming.sinks import VersionedSink

            # Parquet is detected by CONTENT, not filename: a Spark
            # parquet output is a directory of part-*.parquet with no
            # suffix on the directory itself — suffix sniffing sent those
            # through the CSV reader, which happily parses the binary
            # footers into mojibake rows and commits a corrupt version.
            def _is_parquet(path: str) -> bool:
                import os

                if path.endswith(".parquet"):
                    return True
                if os.path.isdir(path):
                    return any(
                        f.endswith(".parquet") or f == "_SUCCESS"
                        for f in os.listdir(path)
                    )
                return False

            df = (
                spark.read.parquet(a.local)
                if _is_parquet(a.local)
                else spark.read.option("header", "true").csv(a.local)
            )
            v = VersionedSink(a.store, a.name).write_next(df)
            print(f"committed {a.name} v{v}")
        elif a.cmd == "get":
            from .streaming.sinks import read_latest, read_version

            df = (
                read_version(spark, a.store, a.name, a.version)
                if a.version is not None
                else read_latest(spark, a.store, a.name)
            )
            df.show(50, truncate=False)
        elif a.cmd == "get-versions":
            from .streaming.sinks import read_versions

            read_versions(spark, a.store, a.name, a.n).show(50, truncate=False)
        elif a.cmd == "sql":
            # The interactive query surface the reference never had: every
            # catalog table (plus each versioned-store name, as its latest
            # committed version) becomes a temp view; the statement runs
            # through the full Catalyst/AQE path like any engine query.
            from .catalog import TABLES, default_sf_dir, register_views
            from .streaming.sinks import read_latest, store_names

            import re

            sf_dir = a.sf_dir or default_sf_dir()
            register_views(spark, sf_dir)
            for name in store_names(a.store):
                # Store names are arbitrary user strings; only valid SQL
                # identifiers can become views. Skip (don't crash) the
                # rest so one oddly-named store can't brick the whole
                # sql surface.
                if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
                    print(
                        f"# skipping store {name!r}: not a SQL identifier",
                        file=sys.stderr,
                    )
                    continue
                # A store named after a catalog table (e.g. 'orders') must
                # not silently shadow the table view registered above —
                # queries would read store data while claiming table data.
                if name.lower() in TABLES:
                    print(
                        f"# skipping store {name!r}: collides with catalog "
                        f"table; query it via the store commands instead",
                        file=sys.stderr,
                    )
                    continue
                read_latest(spark, a.store, name).createOrReplaceTempView(name)
            spark.sql(a.statement).show(a.limit, truncate=False)
        elif a.cmd == "start":
            from .streaming.engine import start_app
            from .streaming.monitor import ProgressRecorder

            # The reference client prints per-node delivery counts after a
            # run (client/client.go:87-89); the analog here is the
            # listener's throughput ledger, printed at stop.
            rec = ProgressRecorder()
            spark.streams.addListener(rec)
            try:
                q = start_app(spark, a.app, a.source, a.store, period=a.period)
                q.processAllAvailable()
                q.stop()
                # listener events are delivered async — bounded wait for
                # the ledger before printing (same contract as the tests)
                import time as _time

                for _ in range(40):
                    # An empty source produces NO progress events (Spark
                    # emits onQueryIdle instead) — accept termination with
                    # either ledger populated, or with neither once the
                    # query is gone, instead of sleeping the full bound.
                    if rec.terminated and (rec.progress or rec.idle):
                        break
                    if rec.terminated and not spark.streams.active:
                        break
                    _time.sleep(0.25)
            finally:
                spark.streams.removeListener(rec)
            for qname, rate in sorted(rec.rates().items()):
                print(
                    f"# {qname}: {rec.total_input_rows(qname)} rows in, "
                    f"{rate:.0f} rows/s",
                    file=sys.stderr,
                )
            print(f"{a.app}: processed available data; results under "
                  f"{a.store}/{a.app.lower()}_result")
    finally:
        if owns_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
