"""Profile a named subset of registered entries.

Time each entry twice in isolation through the noop sink, on the exact
plans the oracle certifies, and print both walls (`wall_s: [run1,
run2]`); then write its `.explain('formatted')` to
<out_dir>/<name>_<tag>.txt. An entry backed by the disk cache
(`cache.py`) shows its build in run 1 when its generation is empty and
its warm read in run 2; with `SPARK_GRAFT_FRAME_CACHE=cold` both runs
time the uncached plan. Beside each wall it prints the classes
Spark's generated-code cache compiled during each of the two runs: the
first run compiles what no earlier entry generated, and a second run
that still compiles means the cache is thrashing
(`session.CODEGEN_CACHE_ENTRIES`). Two process counters follow, per run:

* `child_processes`: processes started during the run, the delta of the
  `processes` line of `/proc/stat`. It counts forks on the whole host,
  not only this JVM's, so run it on an otherwise idle host; on one, a
  streaming drain's count is mostly the `readlink` and `chmod` commands
  Hadoop forks when libhadoop is absent.
* `worker_cpu_s`: CPU seconds used by the JVM's live descendants (the
  Python worker daemon and its forked workers), from `/proc`. A worker
  that exits during the run takes its time with it.

Usage:
    python tools_profile.py <out_dir> <tag> <entry> [<entry> ...]
    SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 SPARK_GRAFT_CPUS=32 \
        python tools_profile.py plans/profile before q1_top_priority_per_nation ...

Not part of the entry-point contract or the bench.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.stats import tree_cpu_s  # noqa: E402
from pinterest_data_pipeline400_spark.generator import ensure_fixtures  # noqa: E402
from pinterest_data_pipeline400_spark.session import (  # noqa: E402
    build_session,
    codegen_compiles,
)


def forks_so_far() -> int:
    """Processes started on the host since boot (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    return 0


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's live descendants: its process tree less
    the JVM itself (and the short commands it forked and reaped)."""
    with open(f"/proc/{jvm_pid}/stat") as fh:
        ticks = sum(int(v) for v in fh.read().rsplit(")", 1)[1].split()[11:15])
    return tree_cpu_s(jvm_pid) - ticks / os.sysconf("SC_CLK_TCK")


def main() -> None:
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    if sf_name.startswith("sf"):
        ensure_fixtures(sf_name)
    spark = build_session(app_name=f"profile_{tag}")
    jvm_pid = spark.sparkContext._gateway.proc.pid

    import __spark_entry__ as entrymod

    qfns = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)

    def mat(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm-ups: JVM + python worker daemon (bench.py methodology)
    mat(qfns["q1_top_priority_per_nation"](spark, sf_dir))
    mat(spark.range(1).mapInPandas(lambda it: it, "id long"))

    out: dict[str, object] = {}
    for name in names:
        if name not in qfns:
            out[name] = "MISSING"
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        try:
            samples, compiles, forks, wcpu = [], [], [], []
            for _ in range(2):
                c0, f0, w0 = codegen_compiles(spark), forks_so_far(), worker_cpu_s(jvm_pid)
                t0 = time.perf_counter()
                mat(qfns[name](spark, sf_dir))
                samples.append(time.perf_counter() - t0)
                compiles.append(codegen_compiles(spark) - c0)
                forks.append(forks_so_far() - f0)
                wcpu.append(round(worker_cpu_s(jvm_pid) - w0, 2))
            df = qfns[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(plan)
            out[name] = {
                "wall_s": [round(t, 4) for t in samples],
                "codegen_compiles": compiles,
                "child_processes": forks,
                "worker_cpu_s": wcpu,
            }
        except Exception as exc:  # noqa: BLE001
            out[name] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            spark.sparkContext.setJobDescription(None)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
