"""Z-order layout: Morton bit math + quantified file-level clustering.

The point of operators/layout.py is file skipping at 100 TB: after
``write_zordered`` every parquet file should cover a small rectangle of
the (a, b) key space so min/max stats prune scans filtered on EITHER
dimension. A single-column sort (the naive alternative) clusters one
dimension perfectly and leaves the other spanning the full range in
every file — so no file is ever skipped for a predicate on the second
column. These tests measure both layouts' per-file span fractions with
pyarrow footer stats and assert the Z layout bounds both dimensions.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from crane_stream_processing_spark.catalog import load_table
from crane_stream_processing_spark.operators.layout import (
    morton_interleave,
    write_zordered,
)


def _interleave_py(a: int, b: int) -> int:
    """Bit-by-bit reference interleave (independent of the magic-number
    ladder under test)."""
    z = 0
    for i in range(16):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_morton_matches_bitwise_reference(spark):
    import random

    rng = random.Random(0xC1A9E)
    cases = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321),
             (70000, 3)]  # 70000 exercises the 16-bit mask
    cases += [(rng.randrange(1 << 20), rng.randrange(1 << 20))
              for _ in range(200)]  # seeded sweep, one Spark job
    df = spark.createDataFrame(cases, "a long, b long").select(
        "a", "b", morton_interleave(F.col("a"), F.col("b")).alias("z")
    )
    for row in df.collect():
        assert row.z == _interleave_py(row.a & 0xFFFF, row.b & 0xFFFF)


def _file_span_fracs(path: str, col_a: str, col_b: str):
    """Per-file (span_a, span_b) as fractions of the global span, from
    parquet footer min/max stats — exactly what a scan's file pruning
    consults."""
    stats = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        meta = pq.ParquetFile(f).metadata
        names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        mins = {c: None for c in (col_a, col_b)}
        maxs = {c: None for c in (col_a, col_b)}
        for rg in range(meta.num_row_groups):
            for c in (col_a, col_b):
                st = meta.row_group(rg).column(names[c]).statistics
                mins[c] = st.min if mins[c] is None else min(mins[c], st.min)
                maxs[c] = st.max if maxs[c] is None else max(maxs[c], st.max)
        stats.append((mins[col_a], maxs[col_a], mins[col_b], maxs[col_b]))
    glo_a = (min(s[0] for s in stats), max(s[1] for s in stats))
    glo_b = (min(s[2] for s in stats), max(s[3] for s in stats))

    def frac(lo, hi, glo):
        width = (glo[1] - glo[0]) or 1
        delta = hi - lo
        if hasattr(delta, "total_seconds"):
            delta, width = delta.total_seconds(), width.total_seconds() or 1
        return delta / width

    return [(frac(s[0], s[1], glo_a), frac(s[2], s[3], glo_b)) for s in stats]


@pytest.fixture(scope="module")
def orders_with_day(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").withColumn(
        "o_orderday",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long"),
    )


def test_zorder_bounds_both_dimensions(orders_with_day, tmp_path):
    zdir = str(tmp_path / "zlay")
    write_zordered(orders_with_day, zdir, "o_custkey", "o_orderday",
                   num_files=8)
    fracs = _file_span_fracs(zdir, "o_custkey", "o_orderday")
    assert len(fracs) >= 4  # the range exchange actually split the data
    mean_a = sum(f[0] for f in fracs) / len(fracs)
    mean_b = sum(f[1] for f in fracs) / len(fracs)
    # Every file covers a rectangle, so the average per-file span on BOTH
    # dims is well below the full range (a random or single-sorted layout
    # leaves at least one dim at ~1.0 in every file).
    assert mean_a < 0.7, fracs
    assert mean_b < 0.7, fracs


def test_single_sort_leaves_second_dimension_unpruned(orders_with_day, tmp_path):
    sdir = str(tmp_path / "slay")
    (
        orders_with_day.repartitionByRange(8, F.col("o_custkey"))
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(sdir)
    )
    fracs = _file_span_fracs(sdir, "o_custkey", "o_orderday")
    mean_b = sum(f[1] for f in fracs) / len(fracs)
    # The foil: sorting by custkey alone means each file spans ~the whole
    # date range — a date predicate can never skip files.
    assert mean_b > 0.9, fracs


def test_zorder_roundtrip_lossless(spark, orders_with_day, tmp_path):
    zdir = str(tmp_path / "zrt")
    write_zordered(orders_with_day, zdir, "o_custkey", "o_orderday",
                   num_files=4)
    back = spark.read.parquet(zdir)
    assert back.count() == orders_with_day.count()
    a = orders_with_day.agg(
        F.sum("o_orderkey").alias("k"),
        F.sum(F.crc32(F.col("o_orderstatus"))).alias("s"),
    ).collect()[0]
    b = back.agg(
        F.sum("o_orderkey").alias("k"),
        F.sum(F.crc32(F.col("o_orderstatus"))).alias("s"),
    ).collect()[0]
    assert (a.k, a.s) == (b.k, b.s)


def test_zorder_handles_subunit_float_ranges(spark, tmp_path):
    """Score-like float keys in [0, 1): min-max scaling must use the real
    span (flooring it at 1 collapses every code to ~0 and the layout
    degenerates to arrival order on both dims)."""
    df = spark.range(20000).select(
        (F.col("id") % 141 / 141.0).alias("a"),
        (F.hash("id") % 997 / 2000.0 + 0.5).alias("b"),
    )
    zdir = str(tmp_path / "zflt")
    write_zordered(df, zdir, "a", "b", num_files=8)
    fracs = _file_span_fracs(zdir, "a", "b")
    mean_a = sum(f[0] for f in fracs) / len(fracs)
    mean_b = sum(f[1] for f in fracs) / len(fracs)
    assert mean_a < 0.8 and mean_b < 0.85, fracs
