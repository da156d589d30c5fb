"""Seeded inputs of the benchmark, built inside the checkout.

Every run works in a *seed root*: a directory holding links to the
engine package and ``__spark_entry__.py`` next to a ``.fixtures`` tree
and a ``testdata`` dir of its own. The engine finds its fixtures
relative to the package's import path, so importing the package through
the seed root makes it read this seed's inputs and nothing else, with
no change to engine code:

* ``.fixtures/pinterest/sf0.02``: the raw pin/geo/user tables from
  ``generator.build_tables(22_000, seed)`` plus their Kinesis-envelope
  JSONL streams, marked complete for the generator's current fixture
  version;
* ``.fixtures/pinterest/sf0.01``: a link to the fixed-seed fixtures the
  registered oracles are written against (the engine builds them at
  import time; one copy serves every seed);
* ``testdata/sf0.02/events.parquet``: seeded events in the ``events``
  table's schema (20,000 rows), the input of the stateful streaming
  entry;

Seed roots are kept for reuse and pruned to the newest few.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd

SF_NAME = "sf0.02"
PACKAGE = "pinterest_data_pipeline400_spark"
ENTRY = "__spark_entry__.py"
KEEP_ROOTS = 6
EVENT_USERS = 1_500
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
STREAM_FILES = 4  # per topic, as the engine's own fixture writer splits them


def envelope_lines(df: pd.DataFrame, topic: str) -> list[str]:
    """One Kinesis-envelope JSON line per record, the shape the engine's
    stream reader decodes (``Data`` holds the record as a JSON string)."""
    out = []
    for rec in df.to_dict(orient="records"):
        key = rec.get("ind", rec.get("index", 0))
        out.append(
            json.dumps(
                {
                    "StreamName": f"streaming-{topic}",
                    "PartitionKey": str(int(key) % 8),
                    "Data": json.dumps(rec, default=str),
                }
            )
        )
    return out


def events_table(seed: int, n: int) -> pd.DataFrame:
    """Events in the ``events`` table's schema: ascending ids over one
    month of microsecond timestamps, a user key space of 1,500."""
    rng = np.random.default_rng(seed + 11)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, EVENT_USERS, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n).astype(object),
            "value": np.round(rng.gamma(2.0, 25.0, n), 2),
            "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object),
        }
    )


def _link(src: str, dst: str) -> None:
    if not os.path.lexists(dst):
        os.symlink(src, dst)


def seed_root(checkout: str, work: str, seed: int) -> str:
    """Create (or reuse) the seed root and its links to the engine.
    Imports nothing from the engine."""
    root = os.path.join(work, "seeds", f"s{seed}")
    os.makedirs(root, exist_ok=True)
    _link(os.path.join(checkout, PACKAGE), os.path.join(root, PACKAGE))
    _link(os.path.join(checkout, ENTRY), os.path.join(root, ENTRY))
    os.utime(root)
    return root


def _write_pinterest(gen, out_dir: str, seed: int) -> None:
    tables = gen.build_tables(gen.sf_rows(SF_NAME), seed)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    for name in ("pin_raw", "user_raw"):
        topic = name.removesuffix("_raw")
        lines = envelope_lines(tables[name], topic)
        d = os.path.join(out_dir, "stream", topic)
        os.makedirs(d)
        per = -(-len(lines) // STREAM_FILES)
        for f in range(STREAM_FILES):
            with open(os.path.join(d, f"part-{f:04d}.jsonl"), "w") as fh:
                fh.write("\n".join(lines[f * per:(f + 1) * per]) + "\n")
    with open(os.path.join(out_dir, "_DONE"), "w") as fh:
        fh.write(gen.FIXTURE_VERSION + "\n")


def ensure_inputs(root: str, work: str, seed: int) -> tuple[str, str]:
    """Build this seed's inputs if missing; return (sf_dir handed to the
    registered entries, pinterest fixture dir they resolve it to). The
    engine package must already be importable from ``root``."""
    from pinterest_data_pipeline400_spark import generator as gen

    shared = os.path.join(work, "shared", "pinterest")
    oracle_fx = gen.ensure_fixtures("sf0.01", root=shared)
    fx_root = os.path.join(root, ".fixtures", "pinterest")
    os.makedirs(fx_root, exist_ok=True)
    _link(oracle_fx, os.path.join(fx_root, "sf0.01"))

    fx = os.path.join(fx_root, SF_NAME)
    marker = os.path.join(fx, "_DONE")
    current = os.path.exists(marker) and open(marker).read().strip() == gen.FIXTURE_VERSION
    if not current:
        stage = f"{fx}.tmp.{os.getpid()}"
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        _write_pinterest(gen, stage, seed)
        shutil.rmtree(fx, ignore_errors=True)
        os.rename(stage, fx)

    sf_dir = os.path.join(root, "testdata", SF_NAME)
    events = os.path.join(sf_dir, "events.parquet")
    if not os.path.exists(events):
        os.makedirs(sf_dir, exist_ok=True)
        tmp = f"{events}.tmp.{os.getpid()}"
        events_table(seed, int(1_000_000 * float(SF_NAME[2:]))).to_parquet(tmp, index=False)
        os.rename(tmp, events)
    return sf_dir, fx


def prune_roots(work: str, keep: str) -> None:
    """Delete all but the newest ``KEEP_ROOTS`` seed roots (never
    ``keep``). Each holds ~100 MB of inputs."""
    base = os.path.join(work, "seeds")
    roots = sorted(
        (os.path.join(base, d) for d in os.listdir(base)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in roots[KEEP_ROOTS:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


class OpenLoopFeed:
    """The open-loop generator: envelope files of ``rows_per_file``
    records, file ``i`` due at ``t0 + i * tick``, each written whole
    into a staging dir and renamed into the watched dir, on a schedule
    that does not wait for the engine. Records come from the seed's
    pin stream, in order."""

    def __init__(self, lines: list[str], watch_dir: str, stage_dir: str,
                 rows_per_file: int, tick: float):
        self.lines = lines
        self.watch_dir = watch_dir
        self.stage_dir = stage_dir
        self.rows_per_file = rows_per_file
        self.tick = tick
        self.due: dict[str, float] = {}
        self.late: list[float] = []
        self.rows_sent = 0
        self.error: BaseException | None = None

    def run(self, t0: float, n_files: int) -> None:
        """Thread body; an exception is kept in ``error`` for the caller."""
        try:
            self._run(t0, n_files)
        except BaseException as e:  # noqa: BLE001 — re-raised by the joining thread
            self.error = e

    def _run(self, t0: float, n_files: int) -> None:
        if n_files * self.rows_per_file > len(self.lines):
            raise ValueError("open loop would run out of records")
        for i in range(n_files):
            due = t0 + i * self.tick
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            name = f"part-{i:05d}.jsonl"
            chunk = self.lines[i * self.rows_per_file:(i + 1) * self.rows_per_file]
            staged = os.path.join(self.stage_dir, name)
            with open(staged, "w") as fh:
                fh.write("\n".join(chunk) + "\n")
            os.rename(staged, os.path.join(self.watch_dir, name))
            self.late.append(max(0.0, time.time() - due))
            self.due[name] = due
            self.rows_sent += len(chunk)


def stream_lines(fx: str, topic: str = "pin") -> list[str]:
    """The seed's envelope lines of one topic, in record order."""
    d = os.path.join(fx, "stream", topic)
    out: list[str] = []
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name)) as fh:
            out.extend(line for line in fh.read().split("\n") if line)
    return out
