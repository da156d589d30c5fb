"""Self-tests of the benchmark's own code; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pandas as pd
import pytest

from perfbench.stats import (
    batch_of_files,
    file_latencies,
    percentile,
    quartile_spread,
    rewrite_oracle_sf,
    tree_cpu_s,
    untraced_pass,
)
from perfbench.tracing import exec_stats, read_event_log
from perfbench.workloads import frames_differ


# --------------------------------------------------------------------------
# percentile with sample count
# --------------------------------------------------------------------------

def test_percentile_interpolates_and_counts():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    p50 = percentile(xs, 0.5)
    assert (p50.value, p50.n, p50.beyond) == (3.0, 5, 2)
    p90 = percentile(xs, 0.9)
    assert p90.value == pytest.approx(4.6)
    assert p90.beyond == 1


def test_percentile_matches_inclusive_quantiles():
    xs = [0.3, 1.7, 2.2, 2.9, 4.4, 5.1, 7.8, 9.0, 9.5, 12.0, 13.3]
    qs = statistics.quantiles(xs, n=10, method="inclusive")
    assert percentile(xs, 0.5).value == pytest.approx(statistics.median(xs))
    assert percentile(xs, 0.9).value == pytest.approx(qs[8])


def test_percentile_single_sample_and_errors():
    p = percentile([2.5], 0.9)
    assert (p.value, p.n, p.beyond) == (2.5, 1, 0)
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile([1.0], 1.0)


def test_quartile_spread_is_iqr_over_median():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.4]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / med)


# --------------------------------------------------------------------------
# latency join: files -> batch -> commit, over a synthetic checkpoint
# --------------------------------------------------------------------------

def _checkpoint(tmp_path, batches: dict[int, list[str]], commits: dict[int, float],
                compact_at: int | None = None) -> str:
    ck = tmp_path / "ckpt"
    (ck / "sources" / "0").mkdir(parents=True)
    (ck / "commits").mkdir()
    seen: list[tuple[str, int]] = []
    for bid, files in sorted(batches.items()):
        seen += [(f, bid) for f in files]
        name = f"{bid}.compact" if bid == compact_at else str(bid)
        rows = seen if bid == compact_at else [(f, bid) for f in files]
        lines = ["v1"] + [
            json.dumps({"path": f"file:///in/{f}", "timestamp": 0, "batchId": b}) for f, b in rows
        ]
        (ck / "sources" / "0" / name).write_text("\n".join(lines) + "\n")
    for bid, t in commits.items():
        p = ck / "commits" / str(bid)
        p.write_text("v1\n{}\n")
        os.utime(p, ns=(int(t * 1e9), int(t * 1e9)))
    return str(ck)


def test_latency_join_over_checkpoint(tmp_path):
    ck = _checkpoint(
        tmp_path,
        {0: ["a.jsonl"], 1: ["b.jsonl", "c.jsonl"], 2: ["d.jsonl"]},
        {0: 101.0, 1: 103.5, 2: 106.0},
        compact_at=2,  # a compact file repeats every earlier entry
    )
    assert batch_of_files(ck) == {"a.jsonl": 0, "b.jsonl": 1, "c.jsonl": 1, "d.jsonl": 2}
    due = {"a.jsonl": 100.0, "b.jsonl": 101.5, "c.jsonl": 102.0, "d.jsonl": 105.0}
    lat, missing = file_latencies(ck, due)
    assert lat == pytest.approx([1.0, 2.0, 1.5, 1.0])
    assert missing == []


def test_latency_join_warmup_window_and_uncommitted(tmp_path):
    ck = _checkpoint(tmp_path, {0: ["a"], 1: ["b"], 2: ["c"]}, {0: 11.0, 1: 12.0})
    due = {"a": 10.0, "b": 11.0, "c": 11.5, "late": 11.9}
    lat, missing = file_latencies(ck, due, since=10.5)
    assert lat == pytest.approx([1.0])  # "a" is in the warm-up window
    assert missing == ["c", "late"]  # batch 2 never committed; "late" never read


# --------------------------------------------------------------------------
# oracle path rewrite
# --------------------------------------------------------------------------

def test_rewrite_points_every_fixture_path_at_the_workload_scale():
    fx = "/work/seeds/s7/.fixtures/pinterest"
    sql = (
        f"WITH pin_src AS (SELECT * FROM read_parquet('{fx}/sf0.01/pin_raw.parquet')), "
        f"geo AS (SELECT * FROM read_parquet('{fx}/sf0.01/geo_raw.parquet')) "
        "SELECT user_id FROM events WHERE ind > 0.01"
    )
    out = rewrite_oracle_sf(sql, "sf0.02")
    assert "/sf0.01/" not in out
    assert f"'{fx}/sf0.02/pin_raw.parquet'" in out
    assert f"'{fx}/sf0.02/geo_raw.parquet'" in out
    assert out.endswith("FROM events WHERE ind > 0.01")  # views and literals untouched


# --------------------------------------------------------------------------
# result compare and event-log summary
# --------------------------------------------------------------------------

def test_frames_differ_ignores_order_not_values():
    a = pd.DataFrame({"b": [2, 1], "a": ["x", "y"]})
    b = pd.DataFrame({"a": ["y", "x"], "b": [1, 2]})
    assert frames_differ(a, b) is None
    assert "rows" in frames_differ(a, b.head(1))
    assert frames_differ(a, b.assign(b=[1, 3])) is not None
    assert frames_differ(a.assign(b=[2.0, 1.0]), b.assign(b=[1.0, 2.0000001])) is not None


def test_exec_stats_joins_jobs_to_span_window(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5_000, "Stage IDs": [2]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1_000, "Completion Time": 2_000, "Number of Tasks": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 1_500, "Completion Time": 3_000, "Number of Tasks": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Submission Time": 5_000, "Completion Time": 6_000, "Number of Tasks": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 500_000_000, "Peak Execution Memory": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 250_000_000, "Peak Execution Memory": 30,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 100},
            "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor CPU Time": 1}},
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = read_event_log(str(path))
    st = exec_stats(log, 0.5, 4.0)  # the window holds job 0 only
    assert (st.jobs, st.stages, st.tasks) == (1, 2, 2)
    assert st.in_stage_s == pytest.approx(2.0)  # union of [1, 2] and [1.5, 3]
    assert st.executor_cpu_s == pytest.approx(0.75)
    assert (st.shuffle_read_bytes, st.shuffle_write_bytes) == (100, 100)
    assert st.spill_bytes == 10 and st.peak_exec_mem_bytes == 30


# --------------------------------------------------------------------------
# tracing overhead: the untraced run a traced run is set against
# --------------------------------------------------------------------------

def test_untraced_pass_takes_newest_correct_untraced_run_of_the_key(tmp_path):
    key = {"workload": "pin_etl", "sf": "sf0.02", "cpus": 4, "mode": "exact", "seed": 3}

    def save(name, pass_s, mtime, trace=0, failures=(), **key_changes):
        path = tmp_path / name
        path.write_text(json.dumps({
            "key": {**key, **key_changes}, "trace": trace, "failures": list(failures),
            "e2e": {"pass_s": pass_s, "pass_cpu_s": 2 * pass_s},
        }))
        os.utime(path, (mtime, mtime))

    assert untraced_pass(str(tmp_path / "absent"), key) is None
    save("old.json", 10.0, 100)
    save("new.json", 11.0, 200)
    save("traced.json", 12.0, 300, trace=1)
    save("other_seed.json", 13.0, 400, seed=4)
    save("failed.json", 14.0, 500, failures=["oracle pq1: rows 3 vs 4"])
    (tmp_path / "run.spans.jsonl").write_text("{}\n")
    assert untraced_pass(str(tmp_path), key) == ({"pass_s": 11.0, "pass_cpu_s": 22.0}, "new.json")


# --------------------------------------------------------------------------
# CPU time of the process tree
# --------------------------------------------------------------------------

def test_tree_cpu_counts_a_live_child_and_not_its_sleep():
    """A child that spins for 0.5 s of CPU and then sleeps is counted
    while it is still alive (not yet reaped), and its sleep is not."""
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\nprint(flush=True)\ntime.sleep(30)"
    before = tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", spin], stdout=subprocess.PIPE)
    try:
        child.stdout.readline()  # the child has spun
        used = tree_cpu_s(os.getpid()) - before
    finally:
        child.kill()
        child.wait()
    assert 0.45 <= used < 2.0
    assert tree_cpu_s(-1) == 0.0  # no such process: nothing counted
