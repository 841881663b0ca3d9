"""The artifact registry (inventory.artifact): one build per (name, table
set, key), rebuilt when a catalog table changes or a directory vanishes,
and every build credited once under its own name."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from crane_stream_processing_spark.inventory import (
    REGISTRY,
    fixture_build_seconds,
    fixture_seconds,
    release_query_caches,
)

PQ_ARTIFACTS = ("crane_pq_codebooks", "crane_pq_codes")


@pytest.fixture
def sf_copy(tmp_path, sf_dir) -> str:
    """A writable private copy of the unit-scale tables."""
    d = tmp_path / "sf"
    shutil.copytree(sf_dir, d, copy_function=shutil.copyfile)
    os.chmod(d, 0o755)
    return str(d)


def _run(spark, name: str, sf: str) -> list:
    rows = REGISTRY[name].fn(spark, sf).collect()
    release_query_caches(spark)
    return rows


def _rewrite_embeddings(sf: str) -> None:
    """Replace embeddings.parquet with the same rows, every vector negated."""
    path = os.path.join(sf, "embeddings.parquet")
    table = pq.read_table(path)
    emb = table.column("embedding").combine_chunks()
    negated = pa.ListArray.from_arrays(
        emb.offsets, pc.negate(emb.flatten()), type=emb.type
    )
    table = table.set_column(
        table.schema.get_field_index("embedding"), "embedding", negated
    )
    pq.write_table(table, path + ".new")
    os.replace(path + ".new", path)


def test_rewritten_table_rebuilds_pq_artifacts(spark, sf_copy):
    """Rewriting embeddings.parquet rebuilds sim_pq_adc_topk's codebooks
    and codes; re-running on unchanged tables rebuilds nothing."""
    _run(spark, "sim_pq_adc_topk", sf_copy)
    built = fixture_build_seconds()
    _run(spark, "sim_pq_adc_topk", sf_copy)
    assert fixture_build_seconds() == built  # unchanged tables: no rebuild

    _rewrite_embeddings(sf_copy)
    rows = _run(spark, "sim_pq_adc_topk", sf_copy)
    # stale codebooks and codes would score the negated queries against
    # the old corpus, and the shortlist would miss the exact top-3
    assert rows[0]["recall_ok"]
    rebuilt = fixture_build_seconds()
    for name in PQ_ARTIFACTS:
        assert rebuilt[name] > built[name], f"{name} was not rebuilt"


def test_trailing_slash_shares_one_build(sf_copy):
    from crane_stream_processing_spark.inventory import artifact

    calls = []

    def build(d: str) -> None:
        calls.append(d)

    first = artifact("crane_test_slash", sf_copy, build)
    assert artifact("crane_test_slash", sf_copy + "/", build) == first
    assert calls == [first]


def test_artifact_revalidates_vanished_dir():
    """A tmp-reaper can delete a memoized artifact directory mid-process;
    the stale entry must be detected (isdir) and the artifact rebuilt,
    not returned as a vanished path."""
    from crane_stream_processing_spark.inventory import _ARTIFACTS, artifact

    builds = []

    def build(d: str) -> tuple[str, str]:
        builds.append(d)
        return (d, "schema-token")

    first = artifact("crane_test_vanish", None, build)
    assert first == artifact("crane_test_vanish", None, build)  # memoized
    assert len(builds) == 1
    assert first[0] in _ARTIFACTS.scratch  # registered for atexit reaping

    shutil.rmtree(first[0])  # simulate the tmp reaper
    second = artifact("crane_test_vanish", None, build)
    assert len(builds) == 2 and second[0] == builds[1]
    assert os.path.isdir(second[0])

    # a build returning None yields its directory, memoized the same way
    sbuilds = []

    def sbuild(d: str) -> None:
        if sbuilds:
            raise AssertionError("memoized artifact was rebuilt")
        sbuilds.append(d)

    sdir = artifact("crane_test_strdir", None, sbuild)
    assert sdir == sbuilds[0] and os.path.isdir(sdir)
    assert artifact("crane_test_strdir", None, sbuild) == sdir


def test_artifact_credits_named_builds():
    """Each build is credited under the artifact's own name, and reuse
    costs nothing."""
    from crane_stream_processing_spark.inventory import artifact

    def build(d: str) -> None:
        pass

    before_total = fixture_seconds()
    d = artifact("crane_r11test_fixture", None, build)
    assert os.path.isdir(d)
    builds = fixture_build_seconds()
    assert "crane_r11test_fixture" in builds
    first = builds["crane_r11test_fixture"]
    assert fixture_seconds() >= before_total
    # memoized reuse: no new credit
    d2 = artifact("crane_r11test_fixture", None, build)
    assert d2 == d
    assert fixture_build_seconds()["crane_r11test_fixture"] == first


def test_name_reused_by_second_site_raises():
    from crane_stream_processing_spark.inventory import artifact

    assert artifact("crane_test_dup", None, lambda: 1, directory=False) == 1
    with pytest.raises(ValueError, match="crane_test_dup"):
        artifact("crane_test_dup", None, lambda: 2, directory=False)


def test_rewritten_table_is_probed_again(spark, sf_dir, tmp_path):
    """t_cpu spreads a one-file table over the session's cores. Rewritten
    as at least that many files, the table scans as that many splits; the
    split probe is re-run (the table's fingerprint changed) and the scan
    is left as it is."""
    from crane_stream_processing_spark.catalog import load_table
    from crane_stream_processing_spark.inventory import t_cpu
    from crane_stream_processing_spark.session import cores

    sf = str(tmp_path / "sf")
    path = os.path.join(sf, "documents.parquet")
    os.makedirs(sf)
    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(table, path)

    n = cores(spark)
    df = t_cpu(spark, sf, "documents")
    assert "RoundRobinPartitioning" in df._jdf.queryExecution().executedPlan().toString()
    assert df.rdd.getNumPartitions() == n

    os.remove(path)
    os.makedirs(path)
    parts = 2 * n
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))
    scan = load_table(spark, sf, "documents").rdd.getNumPartitions()
    assert scan >= n
    df = t_cpu(spark, sf, "documents")
    assert "RoundRobinPartitioning" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.rdd.getNumPartitions() == scan
    assert df.count() == table.num_rows
