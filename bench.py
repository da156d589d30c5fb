"""The engine's measurement harness: time registered entries and split
each wall into Spark's layers.

    python bench.py                                   # --lane sweep
    python bench.py --lane scale [sf0.1 sf1 | sf1 sf10]
    python bench.py --lane profile ENTRY [ENTRY ...] [--out-dir DIR]

Every lane times what the DuckDB oracle certifies: the exact plans (the
three ``*_MODE`` switches unset) with the disk frame cache bypassed, set
as ``perfbench/run.py:set_env`` sets them, so an entry backed by the
cache is timed building its frame, not reading a stored one. Every lane
runs one session on ``local[$SPARK_GRAFT_CPUS]`` with Spark's event log
on, pays the same untimed warm-ups, and times each entry through
:meth:`Bench.measure`: one call materialised through the ``noop`` sink
(the whole plan runs and nothing is shipped to the driver), its wall,
the CPU of the whole process tree (this process, the JVM and its Python
workers) and the classes the codegen cache compiled. Each call's jobs
carry the entry's name as their job group. When the session stops, each
call's span is joined to the event log (``perfbench.tracing``) for its
time inside stages, jobs, tasks, shuffle and spill bytes; the rest of
the wall is driver-only time (analysis, planning, scheduling, Python).

sweep    every registered entry at ``$SPARK_GRAFT_SF_DIR`` (default
         /root/testdata/sf0.1) except SWEEP_SKIP. An entry is timed
         twice and its faster run kept, because the second run can only
         add a neighbour's garbage-collection backlog; an entry whose
         name contains ``stream`` is timed three times and its median
         kept, because drain scheduling makes its wall bimodal. At
         sf >= 1 every entry runs once: there the sweep itself is the
         cost. ``value`` is the total of the nine HEADLINE queries. The
         artifact ``BENCH_FULL_sf<sf>_c<cpus>_<mode>.json`` is named by
         the run's key, and an entry is flagged when it ran more than
         1.5x and 0.3 s slower than in the previous artifact of the same
         key (sub-second entries swing 1.3-1.7x from garbage collection
         alone). The last line of stdout is a compact summary short
         enough for a caller that keeps only the output's last 2000
         characters.
scale    the two sfs of a decade, sf0.1 sf1 (default) or sf1 sf10, each
         SCALE_ENTRIES entry timed once per sf, and its growth
         t(large) / t(small); growth over GROWTH_CEILING for ten times
         the data is listed. sf1 and sf10 inputs are replicated from
         the scale below on first use (``scale_fixtures``).
profile  the named entries, each timed twice, printing every field of
         both runs plus ``child_processes`` (processes started on the
         whole host during the run, so use an otherwise idle host) and
         ``worker_cpu_s`` (CPU of the JVM's live descendants: the Python
         worker daemon and its workers). Each entry's formatted plan is
         written to ``<out-dir>/<entry>.txt``. A run that still compiles
         classes the second time means the codegen cache thrashes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from perfbench.run import APPROX_VARS, cpu_ticks, steal_pct  # noqa: E402
from perfbench.stats import tree_cpu_s  # noqa: E402
from perfbench.tracing import event_log_file, exec_stats, read_event_log  # noqa: E402

#: Plans a run times. Only exact runs are made; the committed 32-core
#: artifacts of the sketch plans keep ``approx`` in their names.
MODE = "exact"
DEFAULT_SF_DIR = "/root/testdata/sf0.1"

HEADLINE = [
    "q1_top_priority_per_nation",
    "q2_yearly_counts",
    "q3a_top_customer_per_nation",
    "q3b_top_nation_overall",
    "q4_top_segment_per_bucket",
    "q5_median_price_per_bucket",
    "q6_first_order_years",
    "q7_median_acctbal_by_year",
    "q8_median_acctbal_by_year_segment",
]

#: The two recall-1.0 posting-join baselines, registered for the oracle
#: but super-linear in the corpus (63-73 s at sf1 on 32 cores) and
#: superseded at scale by their signature twins. ``--lane profile``
#: still times them.
SWEEP_SKIP = ("docs_dup_containment", "docs_dup_ngram_pairs")

#: The entries each decade times, chosen to cover the spines whose
#: growth carries the design's scale claims: near-dup candidates and
#: clusters, ANN, fact-table rollups, windows, the composed corpus
#: pipeline, media decode and the streaming near-dup verdict.
SCALE_ENTRIES = {
    ("sf0.1", "sf1"): [
        "docs_dup_minhash_pairs",
        "docs_dup_clusters",
        "emb_knn_lsh",
        "emb_knn_bruteforce",
        "q_pricing_summary",
        "q1_top_priority_per_nation",
        "orders_rolling_90d_spend",
        "ev_sessionization",
        "docs_corpus_pipeline",
        "multimodal_decode_png",
        "multimodal_image_neardup",
        "multimodal_audio_neardup",
        "stream_neardup_dedup",
    ],
    # the sweep itself is the cost at sf10, so only the spines whose
    # growth exponents carry the 100 TB story
    ("sf1", "sf10"): [
        "docs_dup_containment_sig",
        "emb_neardup_pairs",
        "docs_dup_substring_spans",
        "stream_neardup_dedup",
        "q_pricing_summary",
    ],
}
#: Linear work plus constant overheads stays under this growth for ten
#: times the data.
GROWTH_CEILING = 12.0

#: A regression flag needs both bounds.
FLAG_RATIO = 1.5
FLAG_ABS_S = 0.3


def regressions(timings: dict, key: dict, baseline: dict) -> dict[str, list[float]]:
    """{entry: [baseline s, now s]} for each entry more than FLAG_RATIO
    times and FLAG_ABS_S slower than in ``baseline``. Walls of another
    sf, core count or plan mode are not comparable, so a baseline with
    another key flags nothing."""
    if baseline.get("key") != key:
        return {}
    prev = baseline.get("queries", {})
    out = {}
    for name, dt in timings.items():
        p = prev.get(name)
        if isinstance(p, (int, float)) and dt > FLAG_RATIO * p and dt - p > FLAG_ABS_S:
            out[name] = [p, dt]
    return out


def compact_line(out: dict) -> str:
    """The sweep's summary line, printed last: the headline total with
    its nine per-query seconds and the counts a caller checks."""
    return json.dumps({
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["key"]["sf"],
        "headline_complete": out["headline_complete"],
        "n_entries": len(out["queries"]),
        "n_errors": len(out["errors"]),
        "n_regressions": len(out["regressions"]),
        "per_query": {n: out["queries"].get(n) for n in HEADLINE},
        "cpus": out["key"]["cpus"],
        "mode": out["key"]["mode"],
    })


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


def sf_dir_for(sf_name: str) -> str:
    """The driver tables of ``sf_name`` with the engine's fixtures of the
    same scale in place, built once, outside every timer."""
    from pinterest_data_pipeline400_spark import scale_fixtures
    from pinterest_data_pipeline400_spark.generator import ensure_fixtures

    if sf_name == "sf1":
        ensure_fixtures("sf1")
        return scale_fixtures.ensure_sf1()
    if sf_name == "sf10":
        # replicated from sf1: generating sf10's media payloads would
        # dominate the lane
        scale_fixtures.ensure_sf10_fixtures()
        return scale_fixtures.ensure_sf10()
    ensure_fixtures(sf_name)
    return os.path.join(os.path.dirname(DEFAULT_SF_DIR), sf_name)


def env_sf_dir() -> tuple[str, str]:
    """``$SPARK_GRAFT_SF_DIR`` and its scale label (``0.1`` for
    ``.../sf0.1``), with its inputs prepared by :func:`sf_dir_for`."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    if sf_name.startswith("sf"):
        sf_dir_for(sf_name)
    return sf_dir, sf_dir.rstrip("/").rsplit("sf", 1)[-1]


def materialize(df) -> None:
    """Run the whole plan: the noop sink executes everything and ships
    nothing; ``count()`` would let Catalyst prune the final projection."""
    df.write.format("noop").mode("overwrite").save()


class Bench:
    """One session with the event log on, and every record it timed."""

    def __init__(self, app: str):
        for v in APPROX_VARS:
            os.environ.pop(v, None)
        os.environ["SPARK_GRAFT_FRAME_CACHE"] = "cold"
        from pinterest_data_pipeline400_spark.session import DEFAULT_CPUS, build_session

        self.cpus = DEFAULT_CPUS
        self.ticks0 = cpu_ticks()
        self.log_dir = tempfile.mkdtemp(prefix="bench_eventlog_")
        self.spark = build_session(app_name=app, extra_conf={
            # the standard library reads only a plain, single-file log
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.records: list[dict] = []

    def warm_up(self, sf_dir: str) -> None:
        """Pay, outside every timer, what the first entry of a session
        would otherwise absorb: JVM class loading, parquet footers and
        codegen; the Python worker daemon's spin-up; and the streaming
        machinery (micro-batch pools, state-store maintenance, the
        native RocksDB library), which cost whichever stateful entry ran
        first 1.5-3.7 s."""
        from pinterest_data_pipeline400_spark.streaming import ROCKSDB_PROVIDER

        spark = self.spark
        try:
            materialize(self.queries[HEADLINE[0]](spark, sf_dir))
        except Exception:  # noqa: BLE001 — the lane still times it
            pass
        materialize(spark.range(1).mapInPandas(lambda it: it, "id long"))
        ckpt = tempfile.mkdtemp(prefix="bench_stream_warmup_")
        conf = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(conf, None)
        spark.conf.set(conf, ROCKSDB_PROVIDER)
        q = None
        try:
            q = (
                spark.readStream.format("rate").option("rowsPerSecond", "1").load()
                .groupBy("value").count()
                .writeStream.format("noop").outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(60)
        finally:
            # a query left running would load every timed entry after it
            if q is not None and q.isActive:
                q.stop()
            if prev is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, prev)
            shutil.rmtree(ckpt, ignore_errors=True)

    def measure(self, name: str, sf_dir: str, procs: bool = False):
        """Time one call of entry ``name``; returns (record, frame). The
        record's layer fields are filled in by :meth:`close`. ``procs``
        adds the profile lane's process counters."""
        from pinterest_data_pipeline400_spark.session import codegen_compiles

        spark, sc, me = self.spark, self.spark.sparkContext, os.getpid()
        sc.setJobGroup(name, f"bench {name}")
        if procs:
            f0, w0 = forks_so_far(), worker_cpu_s(self.jvm_pid)
        c0, cpu0 = codegen_compiles(spark), tree_cpu_s(me)
        t0w, t0 = time.time(), time.perf_counter()
        try:
            df = self.queries[name](spark, sf_dir)
            materialize(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rec = {
            "wall_s": round(time.perf_counter() - t0, 4),
            "cpu_s": round(tree_cpu_s(me) - cpu0, 3),
            "codegen_compiles": codegen_compiles(spark) - c0,
            "span": (t0w, time.time()),
        }
        if procs:
            rec["child_processes"] = forks_so_far() - f0
            rec["worker_cpu_s"] = round(worker_cpu_s(self.jvm_pid) - w0, 3) or 0.0
        self.records.append(rec)
        return rec, df

    def close(self) -> dict:
        """Stop the session, which flushes the event log, and join every
        record's span to it. Returns the run's context."""
        self.spark.stop()
        log = read_event_log(event_log_file(self.log_dir))
        for rec in self.records:
            st = exec_stats(log, *rec.pop("span"))
            rec.update({
                "in_stage_s": round(st.in_stage_s, 4),
                "driver_only_s": round(rec["wall_s"] - st.in_stage_s, 4),
                "jobs": st.jobs,
                "tasks": st.tasks,
                "shuffle_bytes": st.shuffle_read_bytes + st.shuffle_write_bytes,
                "spill_bytes": st.spill_bytes,
            })
        shutil.rmtree(self.log_dir, ignore_errors=True)
        return {"nproc": os.cpu_count(), "steal_pct": steal_pct(self.ticks0),
                "frame_cache": "cold"}


def write_artifact(name: str, out: dict) -> None:
    path = os.path.join(ROOT, name)
    try:
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {path}", file=sys.stderr)
    except OSError:  # read-only checkout: stdout carries the artifact
        print(json.dumps(out))


def sweep(args) -> None:
    sf_dir, sf = env_sf_dir()
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    b = Bench("bench")
    b.warm_up(sf_dir)
    key = {"sf": sf_val, "cpus": b.cpus, "mode": MODE}
    one_run = isinstance(sf_val, float) and sf_val >= 1
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    entries: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in sorted(b.queries):
        if name in SWEEP_SKIP:
            continue
        n_runs = 1 if one_run else 3 if "stream" in name else 2
        try:
            runs = sorted((b.measure(name, sf_dir)[0] for _ in range(n_runs)),
                          key=lambda r: r["wall_s"])
        except Exception as exc:  # noqa: BLE001 — one broken entry must not end the sweep
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"{name} ERROR {errors[name][:120]}", file=sys.stderr)
            continue
        entries[name] = runs[len(runs) // 2] if n_runs >= 3 else runs[0]
        timings[name] = entries[name]["wall_s"]
        if n_runs > 1:
            spreads[name] = round(runs[-1]["wall_s"] - runs[0]["wall_s"], 4)
        print(f"{name} {timings[name]:.3f}s", file=sys.stderr)
    context = b.close()
    headline_complete = all(n in timings for n in HEADLINE)
    artifact = f"BENCH_FULL_sf{sf}_c{b.cpus}_{MODE}.json"
    try:
        with open(os.path.join(ROOT, artifact)) as fh:
            baseline = json.load(fh)
    except (OSError, ValueError):
        baseline = {}  # first run with this key
    out = {
        "metric": "headline_queries_total",
        # a partial headline sum would compare different query sets
        "value": round(sum(timings[n] for n in HEADLINE), 4) if headline_complete else None,
        "unit": "sec",
        "key": key,
        "headline_complete": headline_complete,
        "queries": timings,
        "spread": spreads,
        "entries": entries,
        "skipped": list(SWEEP_SKIP),
        "errors": errors,
        "regressions": regressions(timings, key, baseline),
        "context": context,
    }
    write_artifact(artifact, out)
    for name, (p, dt) in sorted(out["regressions"].items()):
        print(f"REGRESSION {name}: {p:.2f}s -> {dt:.2f}s ({dt / p:.2f}x)", file=sys.stderr)
    print(compact_line(out))


def scale(args) -> None:
    sfs = tuple(args.targets) or ("sf0.1", "sf1")
    if sfs not in SCALE_ENTRIES:
        sys.exit(f"--lane scale takes one of the decades {sorted(SCALE_ENTRIES)}")
    dirs = {sf: sf_dir_for(sf) for sf in sfs}
    b = Bench("bench_scale")
    b.warm_up(dirs[sfs[0]])
    recs: dict[str, dict[str, dict]] = {sf: {} for sf in sfs}
    errors: dict[str, str] = {}
    for sf in sfs:
        for name in SCALE_ENTRIES[sfs]:
            try:
                recs[sf][name] = b.measure(name, dirs[sf])[0]
            except Exception as exc:  # noqa: BLE001 — time the rest
                errors[f"{name}@{sf}"] = f"{type(exc).__name__}: {exc}"[:500]
                continue
            print(f"{name}@{sf} {recs[sf][name]['wall_s']:.3f}s", file=sys.stderr)
    context = b.close()
    small, large = sfs
    entries, growth = {}, {}
    for name in SCALE_ENTRIES[sfs]:
        entries[name] = {sf: recs[sf].get(name) for sf in sfs}
        if recs[small].get(name) and recs[large].get(name):
            growth[name] = round(recs[large][name]["wall_s"] / recs[small][name]["wall_s"], 2)
    out = {
        "metric": "family_growth",
        "key": {"sfs": list(sfs), "cpus": b.cpus, "mode": MODE},
        "growth_ceiling": GROWTH_CEILING,
        "growth": growth,
        "over_ceiling": sorted(n for n, g in growth.items() if g > GROWTH_CEILING),
        "entries": entries,
        "errors": errors,
        "context": context,
    }
    write_artifact(f"BENCH_SCALE_{small}_{large}_c{b.cpus}_{MODE}.json", out)
    print(json.dumps({k: out[k] for k in ("metric", "key", "growth", "over_ceiling")}
                     | {"n_errors": len(errors)}))


def profile(args) -> None:
    if not args.targets:
        sys.exit("--lane profile needs at least one entry name")
    sf_dir = env_sf_dir()[0]
    b = Bench("bench_profile")
    b.warm_up(sf_dir)
    os.makedirs(args.out_dir, exist_ok=True)
    out: dict[str, object] = {}
    for name in args.targets:
        if name not in b.queries:
            out[name] = "MISSING"
            continue
        try:
            out[name] = runs = []
            for _ in range(2):
                rec, df = b.measure(name, sf_dir, procs=True)
                runs.append(rec)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.out_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        except Exception as exc:  # noqa: BLE001 — profile the rest
            out[name] = f"{type(exc).__name__}: {exc}"[:300]
    b.close()
    print(json.dumps(out, indent=1))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--lane", choices=("sweep", "scale", "profile"), default="sweep")
    p.add_argument("targets", nargs="*",
                   help="scale: the decade's two sfs; profile: entry names")
    p.add_argument("--out-dir", default=os.path.join(ROOT, "plans", "profile"),
                   help="profile: where each entry's plan is written")
    args = p.parse_args(argv)
    if args.lane == "sweep" and args.targets:
        p.error("the sweep lane takes no positional arguments")
    {"sweep": sweep, "scale": scale, "profile": profile}[args.lane](args)


if __name__ == "__main__":
    main()
