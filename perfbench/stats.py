"""Pure-Python helpers of the benchmark: percentiles with their sample
count, the join of streamed files to the micro-batch that committed
them, the oracle path rewrite, the CPU time of a process tree and the
quartile spread used to judge whether a metric is steady. No Spark
import, so the self-tests run without a JVM."""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass


@dataclass(frozen=True)
class Pct:
    """A percentile with the number of samples it was taken from and
    how many samples lie strictly above it."""

    value: float
    n: int
    beyond: int


def percentile(values: list[float], q: float) -> Pct:
    """The ``q``-quantile (0 < q < 1) by linear interpolation between
    order statistics (numpy's default, also ``statistics.quantiles``
    with ``method='inclusive'``). Raises on an empty sample, because a
    percentile of nothing is a failed measurement, not zero."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must lie in (0, 1), got {q}")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return Pct(value, len(xs), sum(1 for x in xs if x > value))


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with ``statistics.quantiles(values, n=4)``'s default
    (exclusive) method: the steadiness test applied to ten runs."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and
    every live descendant, each with the children it has reaped: for
    the benchmark, the Python driver, the JVM it launched and the
    JVM's Python workers. Read from ``/proc``; a process that exits
    between two reads takes its time with it unless its parent has
    reaped it. Time the hypervisor gave to other guests (steal) is not
    counted, so this moves less than a wall does on a busy host."""
    stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # after the command: state ppid ...; utime stime cutime cstime
        # are fields 14-17 of proc(5), here 11-14
        stats[int(name)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def rewrite_oracle_sf(sql: str, sf_name: str) -> str:
    """Point a registered oracle at the workload's scale. Oracle strings
    are static and read the sf0.01 pinterest fixtures the correctness
    gate uses; the benchmark's fixtures of another scale sit in the
    sibling ``<sf_name>`` dir (the rewrite ``tests/conftest.py`` applies
    for its own scale). Testdata tables (``events``…) appear by view name
    only and are bound by the caller."""
    return sql.replace("/sf0.01/", f"/{sf_name}/")


def batch_of_files(checkpoint_dir: str) -> dict[str, int]:
    """{file name: batch id that consumed it} from a file-stream
    checkpoint's source log (``sources/0/<n>`` and the periodic
    ``<n>.compact`` files, which repeat every earlier entry). Each log
    file is a version line followed by one JSON object per input file."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            fh.readline()  # "v1"
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                rec = json.loads(line)
                base = os.path.basename(rec["path"])
                out[base] = min(rec["batchId"], out.get(base, rec["batchId"]))
    return out


def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """{batch id: commit time} from the mtimes of ``commits/<n>``; the
    commit file is written after the batch's sink output is durable, so
    it marks when the batch's rows became visible."""
    d = os.path.join(checkpoint_dir, "commits")
    out = {}
    for name in os.listdir(d):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


def file_latencies(
    checkpoint_dir: str, due: dict[str, float], since: float = float("-inf")
) -> tuple[list[float], list[str]]:
    """Latency of each streamed file: commit time of the batch that
    consumed it minus the file's due time. ``due`` maps file name to
    due time (wall clock, seconds); files due before ``since`` are a
    warm-up window and left out. Returns (latencies, names of due files
    no committed batch consumed)."""
    batch = batch_of_files(checkpoint_dir)
    commits = commit_times(checkpoint_dir)
    lat, missing = [], []
    for name, t_due in sorted(due.items(), key=lambda kv: kv[1]):
        if t_due < since:
            continue
        b = batch.get(name)
        if b is None or b not in commits:
            missing.append(name)
            continue
        lat.append(commits[b] - t_due)
    return lat, missing


def untraced_pass(results_dir: str, key: dict) -> tuple[dict, str] | None:
    """The end-to-end values (``pass_s``, ``pass_cpu_s``…) of the newest
    correct untraced run saved under ``results_dir`` with the same key,
    and its file name; None when there is none. A traced run subtracts
    them to state its overhead: both runs time the same pass at the
    same point of a fresh JVM's life."""
    best: tuple[float, dict, str] | None = None
    for name in os.listdir(results_dir) if os.path.isdir(results_dir) else ():
        if not name.endswith(".json"):
            continue
        path = os.path.join(results_dir, name)
        with open(path) as fh:
            res = json.load(fh)
        if (res.get("trace") != 0 or res.get("key") != key or res.get("failures")
                or "pass_s" not in res.get("e2e", {})):
            continue
        mtime = os.path.getmtime(path)
        if best is None or mtime > best[0]:
            best = (mtime, res["e2e"], name)
    return None if best is None else (best[1], best[2])
