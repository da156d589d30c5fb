"""The two workloads, driven through the engine's public calls only:
the registered callables of ``__spark_entry__.queries()``, the
cleaning operators, ``sources.sinks.write_table`` and the
``streaming`` helpers. Everything is timed from outside; no engine code
is changed or patched.

pin_etl        closed loop, one client. A pass = the three cleaning
               entries, every DataFrame ``pq*`` entry and a write of
               the three cleaned tables, on a fresh session so the
               clean-once memo starts empty.
stream_ingest  an open loop (a generator thread drops envelope files
               into a watched dir on a fixed schedule while a
               continuous query decodes, cleans and appends them), then
               a closed loop that drains three registered streaming
               entries.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

import pandas as pd

from perfbench.inputs import OpenLoopFeed, stream_lines
from perfbench.stats import (
    batch_of_files, commit_times, file_latencies, rewrite_oracle_sf, tree_cpu_s,
)
from perfbench.tracing import (
    ExecStats, Tracer, event_log_file, exec_stats, read_event_log,
)

#: Open-loop shape, the same whatever the run's length: one file of
#: ROWS_PER_FILE records every TICK_S seconds, an offered load of
#: ROWS_PER_FILE / TICK_S records/s; ``--seconds`` sets only how many
#: files are timed (one latency sample each). Files due in the first
#: WARMUP_S seconds are a warm-up window left out of the figures. The
#: open loop feeds for OPEN_LOOP_SHARE of ``--seconds`` after the
#: window (4 s, 16 files at 12 s); the drain pass after it takes about
#: the rest. The seed's 22,000 pin records last 22 s at this rate,
#: WARMUP_S + 19 s.
TICK_S = 0.25
ROWS_PER_FILE = 250
WARMUP_S = 3.0
OPEN_LOOP_SHARE = 1 / 3
WARM_FILES = 4  # files drained once through the pipeline before the open loop
WARM_EVENTS = 2_000  # events drained once through the stateful operator
#: pin_etl times at least this many passes, and more while the next
#: one (as long as the last) still ends inside ``--seconds``. A run
#: must stay near a minute (the warm-up pass alone takes ~20 s), so at
#: the benchmark's 12 s that is one pass.
MIN_PASSES = 1

DRAINS = ["stream_clean_pin", "stream_clean_user", "stream_stateful_user_counts"]
#: Each table pin_etl writes, and the clean entry whose oracle checks it.
WRITTEN_ORACLE = {"pin": "pin_clean", "geo": "geo_clean", "user": "user_clean"}


def pin_entries(queries: dict) -> list[str]:
    """The three cleaning entries and every DataFrame ``pq*`` query. The
    ``pq*_sql`` twins share their originals' plans and are left out to
    keep a run inside the benchmark's time budget."""
    return ["pin_clean", "geo_clean", "user_clean",
            *sorted(n for n in queries if n.startswith("pq") and not n.endswith("_sql"))]


@dataclass
class Bench:
    """What one run works with: paths, scale and the tracer."""

    work: str
    run_dir: str
    sf_dir: str
    fx: str
    cpus: int
    seconds: float
    tracer: Tracer
    event_log_dir: str | None = None
    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def fail(self, what: str, err: BaseException | str) -> None:
        msg = f"{what}: {str(err).strip().splitlines()[0] if str(err).strip() else type(err).__name__}"
        self.failures.append(msg)
        print(f"FAILED {msg}", file=sys.stderr, flush=True)


@dataclass
class PassResult:
    wall: float
    entries: dict[str, float]
    cpu: float = 0.0  # CPU seconds of the process tree over the pass
    entry_cpu: dict[str, float] = field(default_factory=dict)
    spans: dict[str, tuple[float, float]] = field(default_factory=dict)  # wall clock
    frames: dict = field(default_factory=dict)  # name -> fetched result (pandas)


def build_spark(b: Bench, traced: bool):
    from pinterest_data_pipeline400_spark.session import build_session

    # The serial collector keeps the JVM's peak RSS within ~5% between
    # runs of the same work (G1's pause-time-driven sizing varied it by
    # ~20%). Grown from the default initial size, its heap stayed near
    # 400 MB, and full collections of 0.2-0.3 s fell on whichever entry
    # was running. So the heap starts at its full size with a small
    # fixed young generation (young pauses of ~20 ms, spread evenly over
    # the entries) and a metaspace threshold that class loading does not
    # reach (each time it was reached, a full collection followed).
    # Only the client compiler (C1) runs: with the default tiered C2
    # the passes kept getting faster through the sixth (29.5, 11.3,
    # 11.0, 10.4, 10.4, 8.5 s; 4-vCPU host) while C2's threads took one
    # to two cores beside the work, so a short run timed the JIT's
    # progress and anything that slowed the compiler moved the figures.
    # With C1 the first pass is the only slow one (20.8, then 9.6-11.3
    # s) and the JVM uses ~12 CPU-s a pass instead of 19-31.
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(b.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(b.work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            "-XX:TieredStopAtLevel=1 "
            f"-XX:+UseSerialGC -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Xmn128m "
            "-XX:MetaspaceSize=512m "
            f"-Dderby.system.home={os.path.join(b.work, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(b.work, 'tmp')}"
        ),
    }
    if traced:
        b.event_log_dir = os.path.join(b.run_dir, "eventlog")
        os.makedirs(b.event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + b.event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(app_name="perfbench", cpus=b.cpus, extra_conf=conf)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_entries(b: Bench, spark, queries: dict, names: list[str], pass_id) -> PassResult:
    """One closed-loop pass over registered entries, each timed from
    the call until its result is in the client (``toPandas``, as a
    consumer of the registry fetches it). Each result is kept in
    ``frames`` for the correctness check, which then needs no second
    execution."""
    from pinterest_data_pipeline400_spark.session import ensure_runtime_confs

    tr = b.tracer
    sc = spark.sparkContext
    res = PassResult(0.0, {})
    me = os.getpid()
    t_pass, cpu_pass = time.perf_counter(), tree_cpu_s(me)
    for name in names:
        b.attempted += 1
        sc.setJobGroup(name, f"perfbench {name}")
        c0 = tree_cpu_s(me)
        t0w, t0 = time.time(), time.perf_counter()
        try:
            with tr.span("entry", name, **{"pass": pass_id}):
                if tr.enabled:
                    with tr.span("session", "ensure_runtime_confs", **{"pass": pass_id}):
                        ensure_runtime_confs(spark)
                with tr.span("registry", name, **{"pass": pass_id}):
                    df = queries[name](spark, b.sf_dir)
                with tr.span("exec", name, **{"pass": pass_id}):
                    result = df.toPandas()
            res.entries[name] = time.perf_counter() - t0
            res.spans[name] = (t0w, time.time())
            res.entry_cpu[name] = tree_cpu_s(me) - c0
            res.frames[name] = result
        except Exception as e:  # noqa: BLE001 — one failed entry must not end the run
            b.fail(name, e)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    res.wall = time.perf_counter() - t_pass
    res.cpu = tree_cpu_s(me) - cpu_pass
    return res


def write_cleaned(b: Bench, spark, out_dir: str) -> float:
    """The pass's write step: the three cleaned tables through the batch
    sink."""
    from pinterest_data_pipeline400_spark.plans.pinterest_queries import cleaned_tables
    from pinterest_data_pipeline400_spark.sources.sinks import write_table

    t0 = time.perf_counter()
    for name, df in cleaned_tables(spark, b.sf_dir).items():
        b.attempted += 1
        try:
            write_table(df, os.path.join(out_dir, name))
        except Exception as e:  # noqa: BLE001
            b.fail(f"write_table {name}", e)
    return time.perf_counter() - t0


def pin_pass(b: Bench, spark, queries: dict, pass_id) -> PassResult:
    s = spark.newSession()  # empty clean-once memo
    res = run_entries(b, s, queries, pin_entries(queries), pass_id)
    t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
    with b.tracer.span("pass_write", "write_cleaned", **{"pass": pass_id}):
        write_cleaned(b, s, os.path.join(b.run_dir, "cleaned"))
    res.wall += time.perf_counter() - t0
    res.cpu += tree_cpu_s(os.getpid()) - c0
    return res


def drain_pass(b: Bench, spark, queries: dict, pass_id) -> PassResult:
    return run_entries(b, spark, queries, DRAINS, pass_id)


def fetch_pin(b: Bench, spark, res: PassResult, fetch: dict) -> None:
    """A timed pass's results for the correctness check: each entry's
    fetched result, and each cleaned table as the batch sink wrote it,
    read back in its clean entry's shape (geo's coordinates array split
    into the two columns ``geo_clean`` returns)."""
    from pyspark.sql import functions as F

    fetch.update(res.frames)
    frames = {}
    for table in WRITTEN_ORACLE:
        df = spark.read.parquet(os.path.join(b.run_dir, "cleaned", table))
        if table == "geo":
            df = df.select("ind", "country", F.col("coordinates")[0].alias("coord_lat"),
                           F.col("coordinates")[1].alias("coord_lon"), "timestamp")
        frames[f"write_table {table}"] = df
    for name, df in frames.items():
        try:
            fetch[name] = df.toPandas()
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            b.fail(f"fetch {name}", e)


# --------------------------------------------------------------------------
# correctness
# --------------------------------------------------------------------------

def frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """The oracle-parity compare: columns sorted by name, rows sorted, exact
    values (floats compared as floats, no tolerance). Returns a reason
    or None."""
    def norm(df: pd.DataFrame) -> pd.DataFrame:
        df = df[sorted(df.columns)]
        if len(df):
            df = df.sort_values(by=list(df.columns), ignore_index=True)
        return df.reset_index(drop=True)

    a, c = norm(got), norm(want)
    if list(a.columns) != list(c.columns):
        return f"columns {list(a.columns)} vs {list(c.columns)}"
    if len(a) != len(c):
        return f"rows {len(a)} vs {len(c)}"
    for col in a.columns:
        x, y = a[col], c[col]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            x, y = x.astype(float), y.astype(float)
        try:
            pd.testing.assert_series_equal(x, y, check_names=False, check_dtype=False, check_exact=True)
        except AssertionError as e:
            return f"{col}: {str(e).splitlines()[0]}"
    return None


def duck(b: Bench):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(b.sf_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                f"SELECT * FROM read_parquet('{os.path.join(b.sf_dir, f)}')"
            )
    return con


def check_entries(b: Bench, results: dict, oracles: dict, sf_name: str) -> int:
    """Compare each fetched entry result with its registered DuckDB
    oracle at the workload's scale; returns how many were checked."""
    con = duck(b)
    checked = 0
    for name, got in results.items():
        table = name.removeprefix("write_table ")
        oracle = oracles.get(WRITTEN_ORACLE[table] if table != name else name)
        if oracle is None:
            continue
        checked += 1
        try:
            want = con.execute(rewrite_oracle_sf(oracle, sf_name)).fetchdf()
            why = frames_differ(got, want)
        except Exception as e:  # noqa: BLE001
            why = f"oracle error {e}"
        if why:
            b.fail(f"oracle {name}", why)
    con.close()
    return checked


# --------------------------------------------------------------------------
# open loop
# --------------------------------------------------------------------------

@dataclass
class OpenLoopResult:
    latencies: list[float]
    late: list[float]
    rows: int
    files: int
    backlog: list[int]
    progress: list[dict]
    in_dir: str


def _start_pin_stream(spark, in_dir: str, sink: str, ckpt: str, available_now: bool):
    """The open loop's pipeline: envelope file stream → decode → stream
    clean (constant imputation, stateful dedup) → checkpointed append."""
    from pinterest_data_pipeline400_spark.session import STREAM_STATE_PARTITIONS, scoped_shuffle_partitions
    from pinterest_data_pipeline400_spark.streaming import (
        RAW_SCHEMAS, clean_stream, decode_stream, read_envelope_stream, write_stream_append,
    )

    with scoped_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        cleaned = clean_stream(decode_stream(read_envelope_stream(spark, in_dir), RAW_SCHEMAS["pin"]), "pin")
        return write_stream_append(cleaned, sink, ckpt, available_now=available_now)


def _fresh(base: str, names: tuple[str, ...]) -> dict[str, str]:
    shutil.rmtree(base, ignore_errors=True)
    dirs = {k: os.path.join(base, k) for k in names}
    for d in dirs.values():
        os.makedirs(d)
    return dirs


def warm_streams(b: Bench, spark) -> float:
    """Untimed warm-up of the streaming paths, two availableNow queries
    run side by side: the open loop's pipeline over WARM_FILES files,
    and the stateful drain's operator (``applyInPandasWithState``:
    Python workers, Arrow, state store) over WARM_EVENTS events.
    Returns the wall of both."""
    from pinterest_data_pipeline400_spark.plans.events_queries import EVENTS_SCHEMA
    from pinterest_data_pipeline400_spark.session import (
        STREAM_DRAIN_TIMEOUT_SEC, STREAM_STATE_PARTITIONS, scoped_shuffle_partitions,
    )
    from pinterest_data_pipeline400_spark.streaming import stateful_running_counts

    pin = _fresh(os.path.join(b.run_dir, "warm_pin"), ("in", "sink", "ckpt"))
    lines = stream_lines(b.fx)
    for i in range(WARM_FILES):
        with open(os.path.join(pin["in"], f"part-{i:05d}.jsonl"), "w") as fh:
            fh.write("\n".join(lines[i * ROWS_PER_FILE:(i + 1) * ROWS_PER_FILE]) + "\n")
    ev = _fresh(os.path.join(b.run_dir, "warm_stateful"), ("in", "sink", "ckpt"))
    pd.read_parquet(os.path.join(b.sf_dir, "events.parquet")).head(WARM_EVENTS).to_parquet(
        os.path.join(ev["in"], "part-0000.parquet"), index=False)

    t0 = time.perf_counter()
    queries = [_start_pin_stream(spark, pin["in"], pin["sink"], pin["ckpt"], available_now=True)]
    with scoped_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        counts = stateful_running_counts(spark.readStream.schema(EVENTS_SCHEMA).parquet(ev["in"]))
        queries.append(
            counts.writeStream.format("parquet").outputMode("append")
            .option("checkpointLocation", ev["ckpt"]).option("path", ev["sink"])
            .trigger(availableNow=True).start()
        )
    try:
        for q in queries:
            if not q.awaitTermination(STREAM_DRAIN_TIMEOUT_SEC):
                raise TimeoutError("stream warm-up did not drain")
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
    return time.perf_counter() - t0


def open_loop(b: Bench, spark, listener=None) -> OpenLoopResult:
    """Run the continuous pin pipeline over a directory fed on schedule;
    latency of a file = its due time to the commit of the batch that
    consumed it. The sink is checked against the streaming oracle."""
    from pinterest_data_pipeline400_spark.plans.pin_oracle import ORACLE_FX

    dirs = _fresh(os.path.join(b.run_dir, "open_loop"), ("in", "stage", "sink", "ckpt", "oracle"))
    feed = OpenLoopFeed(stream_lines(b.fx), dirs["in"], dirs["stage"], ROWS_PER_FILE, TICK_S)
    feed_s = OPEN_LOOP_SHARE * b.seconds
    n_files = int(round((WARMUP_S + feed_s) / TICK_S))
    query = _start_pin_stream(spark, dirs["in"], dirs["sink"], dirs["ckpt"], available_now=False)
    t0 = time.time() + 0.5
    gen = threading.Thread(target=feed.run, args=(t0, n_files), name="open-loop-feed")
    try:
        with b.tracer.span("open_loop", "feed"):
            gen.start()
            gen.join(WARMUP_S + feed_s + 60)
            if gen.is_alive():
                raise TimeoutError("open-loop generator did not finish")
            if feed.error is not None:
                raise feed.error
            query.processAllAvailable()
    finally:
        query.stop()
        gen.join(5)
    b.attempted += n_files
    lat, missing = file_latencies(dirs["ckpt"], feed.due, since=t0 + WARMUP_S)
    for name in missing:
        b.fail("open loop", f"{name} never committed")

    # backlog at each commit: files due by then minus files consumed
    batch = batch_of_files(dirs["ckpt"])
    backlog = []
    for bid, t_commit in sorted(commit_times(dirs["ckpt"]).items()):
        due_by = sum(1 for t in feed.due.values() if t <= t_commit)
        done = sum(1 for v in batch.values() if v <= bid)
        backlog.append(max(0, due_by - done))

    # correctness: the sink against the streaming pin oracle over the
    # records actually sent
    b.attempted += 1
    pin = pd.read_parquet(os.path.join(b.fx, "pin_raw.parquet")).head(feed.rows_sent)
    pin.to_parquet(os.path.join(dirs["oracle"], "pin_raw.parquet"), index=False)
    for t in ("geo_raw", "user_raw"):
        os.symlink(os.path.join(b.fx, f"{t}.parquet"), os.path.join(dirs["oracle"], f"{t}.parquet"))
    from pinterest_data_pipeline400_spark.plans.streaming_queries import REGISTRY

    sql = REGISTRY.specs["stream_clean_pin"].oracle.replace(ORACLE_FX, dirs["oracle"])
    import duckdb

    con = duckdb.connect()
    try:
        why = frames_differ(spark.read.parquet(dirs["sink"]).toPandas(), con.execute(sql).fetchdf())
    except Exception as e:  # noqa: BLE001
        why = f"oracle error {e}"
    finally:
        con.close()
    if why:
        b.fail("open loop sink", why)
    progress = listener.reports.get(str(query.id), []) if listener else []
    return OpenLoopResult(lat, feed.late, feed.rows_sent, n_files, backlog, progress, dirs["in"])


def burst_capacity(b: Bench, spark, ol: OpenLoopResult) -> float:
    """The open loop's pipeline over all of the open loop's files at
    once, on a fresh checkpoint (one availableNow query, so one
    micro-batch): records per second of wall, query start included. A
    lower bound on the capacity at the open loop's file shape, to set
    against its offered rate."""
    from pinterest_data_pipeline400_spark.session import STREAM_DRAIN_TIMEOUT_SEC

    dirs = _fresh(os.path.join(b.run_dir, "burst"), ("sink", "ckpt"))
    t0 = time.perf_counter()
    query = _start_pin_stream(spark, ol.in_dir, dirs["sink"], dirs["ckpt"], available_now=True)
    try:
        if not query.awaitTermination(STREAM_DRAIN_TIMEOUT_SEC):
            raise TimeoutError("capacity burst did not drain")
    finally:
        if query.isActive:
            query.stop()
    return ol.rows / (time.perf_counter() - t0)


# --------------------------------------------------------------------------
# traced extras: layer probe and event-log join
# --------------------------------------------------------------------------

def layer_probe(b: Bench, spark, stream_form: bool) -> dict[str, float]:
    """Time the source, clean and sink layers on the seed's raw tables,
    each call into its module on its own: read and scan the raw
    parquet, clean each table (batch or stream form), write the cleaned
    tables. Row counts are taken outside the timers."""
    import pyarrow.parquet as pq

    from pinterest_data_pipeline400_spark.operators.clean import clean_geo, clean_pin, clean_user
    from pinterest_data_pipeline400_spark.sources.sinks import write_table

    out: dict[str, float] = {}
    raw = {}
    t0 = time.perf_counter()
    for t in ("pin", "geo", "user"):
        raw[t] = spark.read.parquet(os.path.join(b.fx, f"{t}_raw.parquet"))
        _noop(raw[t])
    out["sources.read_raw_s"] = time.perf_counter() - t0
    out["clean.rows_in"] = sum(
        pq.ParquetFile(os.path.join(b.fx, f"{t}_raw.parquet")).metadata.num_rows for t in raw
    )
    cleaners = {
        "pin": lambda df: clean_pin(df, impute="constant" if stream_form else "median"),
        "geo": lambda df: clean_geo(df, drop_nulls=stream_form),
        "user": lambda df: clean_user(df, drop_null_keys=stream_form),
    }
    cleaned = {}
    for t, fn in cleaners.items():
        t0 = time.perf_counter()
        cleaned[t] = fn(raw[t]).localCheckpoint()
        out[f"clean.{t}_s"] = time.perf_counter() - t0
    out["clean.rows_out"] = sum(df.count() for df in cleaned.values())
    dest = os.path.join(b.run_dir, "probe_sink")
    t0 = time.perf_counter()
    for t, df in cleaned.items():
        write_table(df, os.path.join(dest, t))
    out["sinks.write_s"] = time.perf_counter() - t0
    out["sinks.bytes_written"] = sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(dest) for f in fs
    )
    return out


def exec_by_entry(log, res: PassResult) -> dict[str, ExecStats]:
    return {name: exec_stats(log, s, e) for name, (s, e) in res.spans.items()}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def streaming_layers(ol: OpenLoopResult, stateful: list[dict]) -> dict[str, float]:
    """Micro-batch phases of the open loop from the listener, the
    backlog from the checkpoint, state size from the stateful drain's
    last report (falling back to the open loop's dedup state)."""
    ps = [p for p in ol.progress if p.get("numInputRows", 0) > 0]
    dur = lambda k: median([p["durationMs"].get(k, 0) / 1000.0 for p in ps])  # noqa: E731
    state_src = stateful[-1] if stateful else (ol.progress[-1] if ol.progress else {})
    ops = state_src.get("stateOperators", [])
    return {
        "streaming.batch_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.latest_offset_s": dur("latestOffset"),
        "streaming.batches": float(len(ps)),
        "streaming.rows_per_batch": median([float(p["numInputRows"]) for p in ps]),
        "streaming.backlog_files": float(max(ol.backlog, default=0)),
        "streaming.state_rows": float(sum(o.get("numRowsTotal", 0) for o in ops)),
        "streaming.state_mem_bytes": float(sum(o.get("memoryUsedBytes", 0) for o in ops)),
        "generator.late_s": max(ol.late, default=0.0),
    }


@dataclass
class Phase:
    """What the measured phase of one workload produced."""

    passes: list[PassResult]
    warmup_s: float
    open_loop: OpenLoopResult | None = None


def measure(b: Bench, spark, queries: dict, workload: str,
            fetch: dict | None = None, listener=None) -> Phase:
    """The measured phase of a workload on one session. Results for the
    correctness check land in ``fetch`` after the last timed pass,
    outside every timer.

    pin_etl: an untimed warm-up pass, then MIN_PASSES timed passes, and
    more while the next (taken as long as the last) ends inside
    ``seconds``. The last pass's results and the tables it wrote are
    fetched.
    stream_ingest: untimed availableNow warm-ups of the open loop's
    pipeline and of the stateful operator, side by side, the open loop,
    then one timed pass of the drains, whose results are checked."""
    if workload == "pin_etl":
        warm_s = pin_pass(b, spark, queries, "warmup").wall
        passes = []
        t_end = time.perf_counter() + b.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() + passes[-1].wall <= t_end:
            passes.append(pin_pass(b, spark, queries, len(passes)))
        if fetch is not None:
            fetch_pin(b, spark, passes[-1], fetch)
        return Phase(passes, warm_s)
    warm_s = warm_streams(b, spark)
    ol = open_loop(b, spark, listener)
    drains = drain_pass(b, spark, queries, 0)
    if fetch is not None:
        fetch.update(drains.frames)
    return Phase([drains], warm_s, ol)


def traced_layers(b: Bench, spark, phase: Phase, workload: str, listener=None) -> tuple[dict, list]:
    """Per-layer metrics of a traced run, taken after its phase and its
    correctness check: the layer probe and, on stream_ingest, the
    capacity burst; then the session is stopped, which flushes the
    event log, and the log is joined to the timed entries by their
    spans. Returns (per-layer metrics, per-entry rows for the table)."""
    tr = b.tracer
    stream_form = workload == "stream_ingest"
    with tr.span("probe", "layers"):
        probe = layer_probe(b, spark, stream_form)
    stateful = []
    if phase.open_loop is not None:
        probe["streaming.capacity_rows_per_s"] = burst_capacity(b, spark, phase.open_loop)
    if listener:
        stateful = [p for ps in listener.reports.values() for p in ps
                    if "stateful" in json.dumps(p.get("sink", {}))]
        spark.streams.removeListener(listener)
    spark.stop()  # flushes the event log
    log = read_event_log(event_log_file(b.event_log_dir))

    per_pass, rows = [], []
    for i, res in enumerate(phase.passes):
        by_entry = exec_by_entry(log, res)
        total = ExecStats()
        for st in by_entry.values():
            total.add(st)
        m = {
            "trace.pass_s": res.wall,
            "trace.pass_cpu_s": res.cpu,
            "session.ensure_runtime_confs_s": tr.total("session", i),
            "registry.call_s": tr.total("registry", i),
            "exec.wall_s": tr.total("exec", i),
            "exec.in_stage_s": total.in_stage_s,
            "exec.driver_only_s": sum(res.entries.values()) - total.in_stage_s,
            "exec.jobs": total.jobs,
            "exec.stages": total.stages,
            "exec.tasks": total.tasks,
            "exec.executor_cpu_s": total.executor_cpu_s,
            "exec.shuffle_read_bytes": total.shuffle_read_bytes,
            "exec.shuffle_write_bytes": total.shuffle_write_bytes,
            "exec.spill_bytes": total.spill_bytes,
            "exec.peak_exec_mem_bytes": total.peak_exec_mem_bytes,
        }
        per_pass.append(m)
        if i == 0:
            for name, st in by_entry.items():
                rows.append((name, res.entries[name], st))
    layers = {k: median([float(m[k]) for m in per_pass]) for k in per_pass[0]}
    layers.update(probe)
    if phase.open_loop is not None:
        layers.update(streaming_layers(phase.open_loop, stateful))
    return layers, rows
