"""The benchmark's own arithmetic, on synthetic records (no Spark session).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import statistics
from collections import Counter

import pytest

import gen
import probes
from stats import (match_files, percentile, quartile_spread, slot_util, stage_totals,
                   supported)
from wl_registry import NAMED, STRIDE, subset
from wl_trickle import _backlog_growth


# -- file-to-batch matching ----------------------------------------------

def test_each_file_is_covered_by_the_first_batch_reaching_its_cumulative_rows():
    files = [(0.0, 100), (0.1, 100), (0.2, 100), (0.3, 100)]
    batches = [(0.5, 100), (1.0, 200), (1.6, 100)]
    assert match_files(files, batches) == pytest.approx([0.5, 0.9, 0.8, 1.3])


def test_a_batch_covering_several_files_gives_each_its_own_due_time():
    files = [(10.0, 50), (10.05, 50), (10.10, 50)]
    assert match_files(files, [(11.0, 150)]) == pytest.approx([1.0, 0.95, 0.9])


def test_files_beyond_the_consumed_rows_are_backlog():
    files = [(0.0, 100), (0.1, 100), (0.2, 100)]
    assert match_files(files, [(0.5, 150)]) == pytest.approx([0.5, None, None])


def test_empty_batches_cover_nothing():
    files = [(0.0, 10), (0.1, 10)]
    batches = [(0.2, 0), (0.4, 10), (0.6, 0), (0.9, 10)]
    assert match_files(files, batches) == pytest.approx([0.4, 0.8])


def test_backlog_growth_compares_the_last_third_of_the_window_with_the_first():
    files = [{"due": float(i), "landed": float(i), "rows": 1} for i in range(30)]
    steady = match_files([(f["due"], 1) for f in files], [(i + 1.0, 1) for i in range(30)])
    assert _backlog_growth(files, steady, [i + 1.0 for i in range(30)], 0.0, 29.5) == 0
    # a consumer that takes one file per two periods falls further behind
    slow = match_files([(f["due"], 1) for f in files], [(2.0 * (i + 1), 1) for i in range(15)])
    assert _backlog_growth(files, slow, [2.0 * (i + 1) for i in range(15)], 0.0, 30.5) > 3


# -- percentiles and their support ---------------------------------------

def test_a_percentile_needs_ten_samples_beyond_it():
    assert supported(200, 0.95) and not supported(199, 0.95)
    assert supported(100, 0.9) and not supported(99, 0.9)
    assert supported(20, 0.5) and not supported(19, 0.5)


def test_percentile_interpolates_like_the_usual_definition():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 0.5) == pytest.approx(statistics.median(xs))
    assert percentile(xs, 0.9) == pytest.approx(90.1)
    assert percentile([3.0], 0.95) == 3.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_quartile_spread_is_the_interquartile_distance_over_the_median():
    vals = [9.0, 10.0, 10.0, 11.0, 12.0, 10.0, 9.5, 10.5, 10.0, 11.0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / med)


# -- status-store arithmetic --------------------------------------------

def _stage(tasks, failed=0, run_ms=0, read=0, write=0, spill=0):
    return {"tasks": tasks, "failed_tasks": failed, "run_ms": run_ms,
            "shuffle_read_bytes": read, "shuffle_write_bytes": write, "spill_bytes": spill}


def test_stage_totals_sum_the_stages_a_unit_ran():
    got = stage_totals(2, [_stage(4, run_ms=1200, write=500),
                           _stage(4, run_ms=800, read=500, spill=64),
                           _stage(1, run_ms=50)])
    assert got == {"jobs": 2, "stages": 3, "tasks": 9, "failed_tasks": 0, "task_s": pytest.approx(2.05),
                   "shuffle_read_bytes": 500,
                   "shuffle_write_bytes": 500, "spill_bytes": 64}


def test_a_skipped_stage_is_not_a_stage_and_failed_tasks_are_tasks():
    got = stage_totals(1, [_stage(0), _stage(3, failed=1, run_ms=400)])
    assert (got["stages"], got["tasks"], got["failed_tasks"]) == (1, 4, 1)


def test_a_unit_with_no_jobs_sums_to_zero():
    assert stage_totals(0, []) == {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "task_s": 0.0,
                                   "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                                   "spill_bytes": 0}


def test_slot_util_is_task_time_over_wall_time_times_cores():
    assert slot_util(6.0, 2.0, 4) == pytest.approx(0.75)
    assert slot_util(1.0, 0.0, 4) == 0.0


def test_a_progress_recorder_entry_reads_as_a_batch_record():
    entry = {
        "query": "q", "batch_id": 3, "timestamp": "2026-01-01T00:00:00.000Z",
        "num_input_rows": 42, "processed_rows_per_sec": 1.0,
        "duration_ms": {"triggerExecution": 500, "addBatch": 300, "walCommit": 20},
        "state": [{"rows_total": 7, "rows_updated": 1, "memory_bytes": 1024},
                  {"rows_total": 3, "rows_updated": 0, "memory_bytes": 512}],
        "observed": {},
    }
    b = probes.batch_record(entry)
    assert b["rows"] == 42 and b["end"] - b["start"] == pytest.approx(0.5)
    assert b["phases"]["add_batch_ms"] == 300 and b["phases"]["commit_offsets_ms"] == 0
    assert (b["state_rows"], b["state_bytes"]) == (10, 1536)


# -- generated inputs -----------------------------------------------------

def test_app_inputs_are_a_function_of_the_seed():
    a, b, c = gen.app_lines(0.005, 7), gen.app_lines(0.005, 7), gen.app_lines(0.005, 8)
    assert a == b
    # the seed reorders the same lines
    assert a["wordCount"]["text"] != c["wordCount"]["text"]
    assert sorted(a["wordCount"]["text"].splitlines()) == sorted(c["wordCount"]["text"].splitlines())


def test_app_references_equal_a_direct_count_over_the_written_lines():
    inputs = gen.app_lines(0.005, 3)
    refs = {"wordCount": gen._wordcount_ref, "twitter": gen._top_users_ref,
            "hothttp": gen._hot_resources_ref}
    for app, ref in refs.items():
        lines = inputs[app]["text"].splitlines()
        assert len(lines) == inputs[app]["lines"]
        assert gen.top_k(ref(lines)) == inputs[app]["expected"]


def test_top_k_breaks_count_ties_by_key():
    assert gen.top_k(Counter({"b": 2, "a": 2, "c": 3, "d": 1}), 3) == [("c", 3), ("a", 2), ("b", 2)]


def test_tables_have_the_testdata_row_counts_at_sf001():
    t = gen.tables(0.01, 1)
    counts = {name: len(next(iter(cols.values()))) for name, cols in t.items()}
    assert counts == {"region": 5, "nation": 25, "customer": 1500, "supplier": 100,
                      "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
                      "documents": 500, "embeddings": 500}


def test_registry_subset_is_a_stride_plus_the_named_queries():
    names = [f"q{i:03d}" for i in range(100)] + list(NAMED)
    got = subset(names)
    assert set(NAMED) <= set(got)
    assert len(got) == len(set(sorted(names)[::STRIDE]) | set(NAMED))
