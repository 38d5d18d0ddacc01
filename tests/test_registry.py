"""Registry-consistency meta-checks: the driver contract's side lists
(bench headline, partition-invariance audit) must never drift from the
queries()/oracle_sql() registry — a name typo in a list silently
drops a query from its gate. Also the bench's per-entry counter sums."""

from __future__ import annotations

import bench
import __spark_entry__ as entry_mod
from tests import test_partition_invariance as tpi


def test_every_oracle_has_a_query():
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs), sorted(set(os_) - set(qs))


def test_bench_headline_names_resolve():
    stale = sorted(set(bench.EXCLUDED) - set(entry_mod.queries()))
    assert not stale, stale


def test_invariance_list_names_resolve():
    qs = entry_mod.queries()
    missing = [n for n in tpi.NEW_R5 if n not in qs]
    assert not missing, missing


def test_rows_only_queries_are_the_documented_two():
    # every query except the model-dependent pair must carry an oracle
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    rows_only = sorted(set(qs) - set(os_))
    assert rows_only == ["ann_ivf_trained", "forecast_sarimax"], rows_only


def test_bench_entry_counters_sum_one_group_per_entry():
    # read_event_log's job records, as bench.main() hands them over:
    # "a" has two jobs (one of them a construction job), "b" one; a
    # rerun group and an ungrouped job (warmup) belong to no entry
    def job(group, stages, tasks, read, write, spill, run_s, py_s):
        return {
            "group": group, "submitted": 0.0, "stages": float(stages),
            "tasks": float(tasks), "executor_run_s": run_s,
            "executor_cpu_s": run_s / 2, "shuffle_read_bytes": float(read),
            "shuffle_write_bytes": float(write), "spill_bytes": float(spill),
            "python_s": py_s,
        }

    jobs = [
        job("a", 1, 4, 0, 100, 0, 0.5, 0.0),
        job("a", 2, 6, 100, 20, 8, 0.25, 0.125),
        job("b", 1, 1, 7, 0, 0, 0.1, 0.0),
        job("a/rerun", 9, 9, 9, 9, 9, 9.0, 9.0),
        job(None, 5, 5, 5, 5, 5, 5.0, 5.0),
    ]
    builds = {
        "a": {"build_s": 0.3, "build_jobs": 1},
        "b": {"build_s": 0.1, "build_jobs": 0},
    }
    got = bench.entry_counters(jobs, builds)
    assert got == {
        "a": {
            "build_s": 0.3, "build_jobs": 1, "jobs": 2, "stages": 3,
            "tasks": 10, "executor_run_s": 0.75, "executor_cpu_s": 0.375,
            "shuffle_read_bytes": 100, "shuffle_write_bytes": 120,
            "spill_bytes": 8, "python_s": 0.125,
        },
        "b": {
            "build_s": 0.1, "build_jobs": 0, "jobs": 1, "stages": 1,
            "tasks": 1, "executor_run_s": 0.1, "executor_cpu_s": 0.05,
            "shuffle_read_bytes": 7, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "python_s": 0.0,
        },
    }
    for c in got.values():
        for k in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            assert type(c[k]) is int, (k, c[k])
