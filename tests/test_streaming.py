"""Streaming guarantees beyond the oracle parity run (SURVEY.md §5
item 4): batch ≡ stream equivalence on identical input, and
checkpointed exactly-once across a stop/restart (kill after the first
drain, add data, resume from the same checkpoint — no dupes, no loss)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline400_spark.generator import ensure_fixtures
from pinterest_data_pipeline400_spark.operators.clean import clean_pin
from pinterest_data_pipeline400_spark.streaming import (
    RAW_SCHEMAS,
    clean_stream,
    decode_stream,
    read_envelope_stream,
    stateful_running_counts,
    write_stream_append,
)
from tests.conftest import TEST_SF_NAME


@pytest.fixture(scope="module")
def fx_dir():
    return ensure_fixtures(TEST_SF_NAME)


def _drain(spark, stream_dir, sink, ckpt, table="pin", timeout=300):
    raw = read_envelope_stream(spark, stream_dir)
    cleaned = clean_stream(decode_stream(raw, RAW_SCHEMAS[table]), table)
    q = write_stream_append(cleaned, sink, ckpt)
    try:
        assert q.awaitTermination(timeout), "stream did not drain"
    finally:
        if q.isActive:
            q.stop()
    return spark.read.parquet(sink)


def _norm(pdf):
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def test_batch_stream_equivalence(spark, fx_dir, tmp_path):
    """Same records through the streaming path (envelope decode + clean
    with constant imputation) ≡ the batch clean of the raw parquet with
    the same imputation mode (quirk 1 held constant on both sides)."""
    stream_out = _drain(
        spark, os.path.join(fx_dir, "stream", "pin"),
        str(tmp_path / "sink"), str(tmp_path / "ckpt"),
    ).toPandas()
    batch_out = clean_pin(
        spark.read.parquet(os.path.join(fx_dir, "pin_raw.parquet")),
        impute="constant",
    ).toPandas()
    a, b = _norm(stream_out), _norm(batch_out)
    assert a.equals(b), (len(a), len(b))


def test_checkpoint_restart_no_dupes_no_loss(spark, fx_dir, tmp_path):
    """T4/T5: drain half the files, 'crash', add the rest, resume from
    the SAME checkpoint into the SAME sink — the committed result must
    equal one clean pass over everything (exactly-once)."""
    src = os.path.join(fx_dir, "stream", "user")
    files = sorted(os.listdir(src))
    assert len(files) >= 2
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    for f in files[: len(files) // 2]:
        shutil.copy(os.path.join(src, f), staged)
    first = _drain(spark, staged, sink, ckpt, table="user").toPandas()
    assert 0 < len(first)

    for f in files[len(files) // 2 :]:
        shutil.copy(os.path.join(src, f), staged)
    resumed = _drain(spark, staged, sink, ckpt, table="user").toPandas()

    full_in_one = _drain(
        spark, src, str(tmp_path / "sink2"), str(tmp_path / "ckpt2"), table="user"
    ).toPandas()
    assert _norm(resumed).equals(_norm(full_in_one))
    # no duplicated keys across the restart boundary
    assert resumed.ind.is_unique


def test_stream_decode_matches_schema(spark, fx_dir):
    """T2 decode lands exactly the declared raw schema (explicit, never
    inferred — SURVEY.md §1.3)."""
    raw = read_envelope_stream(spark, os.path.join(fx_dir, "stream", "geo"))
    decoded = decode_stream(raw, RAW_SCHEMAS["geo"])
    assert decoded.schema == RAW_SCHEMAS["geo"]
    assert decoded.isStreaming


def test_stateful_counts_on_rocksdb_statestore(spark, tmp_path):
    """State-backend portability: the stateful counter on the RocksDB
    provider produces the same totals as the HDFS-default provider, and
    the checkpoint actually contains RocksDB state files (the conf
    engaged — not silently ignored)."""
    import glob
    import json as _json

    import pandas as pd

    from pinterest_data_pipeline400_spark.streaming import ROCKSDB_PROVIDER

    in_dir, sink, ckpt = (str(tmp_path / d) for d in ("in", "sink", "ckpt"))
    os.makedirs(in_dir)
    pd.DataFrame({"user_id": [1, 1, 2, 2, 2, 3]}).to_parquet(
        os.path.join(in_dir, "p0.parquet")
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        stream = spark.readStream.schema("user_id long").parquet(in_dir)
        q = (
            stateful_running_counts(stream)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(60)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    out = {r.user_id: r.n_events_so_far for r in spark.read.parquet(sink).collect()}
    assert out == {1: 2, 2: 3, 3: 1}
    # the RocksDB provider writes .zip/.sst snapshot artifacts under state/
    arts = glob.glob(os.path.join(ckpt, "state", "**", "*.zip"), recursive=True) + \
        glob.glob(os.path.join(ckpt, "state", "**", "*.sst"), recursive=True) + \
        glob.glob(os.path.join(ckpt, "state", "**", "*.changelog"), recursive=True)
    assert arts, "no RocksDB state artifacts found — provider conf did not engage"


def test_foreach_batch_sink_idempotent_partitions(spark, tmp_path):
    """foreachBatch contract: each micro-batch lands as batch-id-keyed
    partitioned output (idempotent under micro-batch retry), and a
    restart over the same checkpoint reprocesses nothing."""
    import pandas as pd

    from pinterest_data_pipeline400_spark.sources.sinks import (
        write_stream_foreach_batch,
    )

    in_dir, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)
    os.makedirs(out)

    def write_batch(batch_df, batch_id: int) -> None:
        # overwrite-by-batch-id = idempotent re-run of the same batch
        batch_df.write.mode("overwrite").parquet(os.path.join(out, f"b{batch_id}"))

    def drain():
        stream = spark.readStream.schema("id long").parquet(in_dir)
        q = write_stream_foreach_batch(stream, write_batch, ckpt)
        assert q.awaitTermination(60)

    pd.DataFrame({"id": range(10)}).to_parquet(os.path.join(in_dir, "p0.parquet"))
    drain()
    batches_after_first = set(os.listdir(out))
    pd.DataFrame({"id": range(10, 15)}).to_parquet(os.path.join(in_dir, "p1.parquet"))
    drain()  # restart on same checkpoint: only the new file arrives
    all_rows = spark.read.parquet(os.path.join(out, "*")).count()
    assert all_rows == 15
    assert len(set(os.listdir(out)) - batches_after_first) == 1  # one new batch dir


def test_stateful_counts_string_key_col(spark, tmp_path):
    """key_col works for non-default, non-bigint keys: the output
    schema derives from the key's ACTUAL dtype (a hardcoded 'user_id
    long' struct used to make any other key fail at Arrow conversion —
    this guards the fix)."""
    import pandas as pd

    in_dir, sink, ckpt = (str(tmp_path / d) for d in ("in", "sink", "ckpt"))
    os.makedirs(in_dir)
    pd.DataFrame({"country": ["US", "US", "DE", "FR", "DE", "US"]}).to_parquet(
        os.path.join(in_dir, "p0.parquet")
    )
    stream = spark.readStream.schema("country string").parquet(in_dir)
    q = (
        stateful_running_counts(stream, key_col="country")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(60)
    out = {r.country: r.n_events_so_far for r in spark.read.parquet(sink).collect()}
    assert out == {"US": 3, "DE": 2, "FR": 1}


@pytest.mark.parametrize(
    "schema,key_col",
    [
        ("event_id long, ts timestamp, user_id long, event_type string, "
         "value double, props string", "user_id"),
        ("ind long, country string, latitude double, longitude double", "country"),
    ],
)
def test_stateful_counts_operator_reads_only_its_key(spark, tmp_path, schema, key_col):
    """The counter's Python function is fed the key column alone,
    whatever else the stream carries: each input column is converted
    Arrow→pandas per group, and ``update`` only counts rows."""
    stream = spark.readStream.schema(schema).parquet(str(tmp_path))
    node = stateful_running_counts(stream, key_col=key_col)._jdf.queryExecution().analyzed()
    assert node.nodeName() == "FlatMapGroupsInPandasWithState"
    args = node.functionExpr().children()
    assert [args.apply(i).name() for i in range(args.size())] == [key_col]


def _offset_log_partitions(ckpt: str) -> list[int]:
    """``spark.sql.shuffle.partitions`` as each offset-log entry of a
    checkpoint recorded it (an entry's second line is its metadata)."""
    offsets = os.path.join(ckpt, "offsets")
    out = []
    for f in sorted((f for f in os.listdir(offsets) if f.isdigit()), key=int):
        with open(os.path.join(offsets, f)) as fh:
            meta = json.loads(fh.read().splitlines()[1])
        out.append(int(meta["conf"]["spark.sql.shuffle.partitions"]))
    return out


@pytest.mark.parametrize(
    "session_kind,cap_side",
    [("engine", "above"), ("hostile", "above"), ("engine", "below")],
)
def test_state_partitions_follow_cores_and_survive_restart(
    spark, duck, monkeypatch, session_kind, cap_side
):
    """The stateful two-phase harness checkpoints min(cap, cores)
    state partitions, with the cap set above or below the session's
    cores. Phase 2 starts under a different shuffle-partition value and
    must keep phase 1's count (Spark restores it from the offset log),
    with the oracle still matching. The hostile session arrives with
    200 shuffle partitions and a non-UTC zone, as a caller-built
    session may."""
    import __spark_entry__ as entrymod
    from pinterest_data_pipeline400_spark import session as session_mod
    from pinterest_data_pipeline400_spark.plans import streaming_queries as sq
    from tests.conftest import TEST_SF_DIR, assert_frames_match, rewrite_oracle_sf

    cores = spark.sparkContext.defaultParallelism
    cap = cores + 4 if cap_side == "above" else max(1, cores // 2)
    monkeypatch.setattr(session_mod, "STREAM_STATE_PARTITIONS", cap)
    n = min(cap, cores)
    s = spark
    if session_kind == "hostile":
        s = spark.newSession()
        s.conf.set("spark.sql.session.timeZone", "America/New_York")
        s.conf.set("spark.sql.shuffle.partitions", "200")
    phase_two = 1 if n > 1 else 2
    seen = []

    def op(stream):
        seen.append(int(s.conf.get("spark.sql.shuffle.partitions")))
        if len(seen) == 2:
            s.conf.set("spark.sql.shuffle.partitions", str(phase_two))
        return stateful_running_counts(stream)

    name = f"state_partitions_{session_kind}_{cap_side}"
    out = sq._run_two_phase_stateful(s, TEST_SF_DIR, name, op).toPandas()
    assert seen == [n, n]
    ckpt = os.path.join(sq._WORK_ROOT, f"{name}_{os.path.basename(TEST_SF_DIR)}", "ckpt")
    logged = _offset_log_partitions(ckpt)
    assert len(logged) >= 2 and set(logged) == {n}, logged
    want = duck.execute(
        rewrite_oracle_sf(entrymod.oracle_sql()["stream_stateful_user_counts"])
    ).fetchdf()
    assert_frames_match(out, want, name)


def _checkpoint_manager(s, path: str) -> str:
    """Class of the manager Spark builds for a checkpoint at ``path``."""
    jvm = s._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    conf = s._jsparkSession.sessionState().newHadoopConf()
    return mgr.create(jvm.org.apache.hadoop.fs.Path(path), conf).getClass().getName()


def test_engine_checkpoints_rename_through_filesystem(spark, tmp_path):
    """Spark's FileContext-based default forks a ``readlink`` per
    checkpoint rename on a local filesystem without libhadoop; the
    engine session uses the FileSystem-based manager instead."""
    got = _checkpoint_manager(spark, str(tmp_path))
    assert got.endswith(".FileSystemBasedCheckpointFileManager"), got


@pytest.mark.parametrize(
    "name,work", [
        ("stream_stateful_user_counts", "stateful_counts"),
        ("stream_stateful_counts_rocksdb", "stateful_counts_rocksdb"),
    ],
)
def test_two_phase_restart_on_sibling_session(spark, duck, name, work):
    """A sibling session with 200 shuffle partitions and a non-UTC zone
    inherits that manager, and under it still resumes both state stores
    across the two-phase restart, with the oracle matching."""
    import __spark_entry__ as entrymod
    from pinterest_data_pipeline400_spark.plans import streaming_queries as sq
    from tests.conftest import TEST_SF_DIR, assert_frames_match, rewrite_oracle_sf

    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.shuffle.partitions", "200")
    out = entrymod.queries()[name](s, TEST_SF_DIR).toPandas()
    ckpt = os.path.join(sq._WORK_ROOT, f"{work}_{os.path.basename(TEST_SF_DIR)}", "ckpt")
    got = _checkpoint_manager(s, ckpt)
    assert got.endswith(".FileSystemBasedCheckpointFileManager"), got
    assert len([f for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()]) >= 2
    want = duck.execute(rewrite_oracle_sf(entrymod.oracle_sql()[name])).fetchdf()
    assert_frames_match(out, want, name)


def test_e2e_pq1_survives_pin_restart(spark, fx_dir, tmp_path):
    """The end-to-end architecture round trip (stream_e2e_pq1) with a
    crash in the middle: the pin stream drains HALF its files, the
    query 'dies', the rest arrives, and a new query resumes from the
    SAME checkpoint into the SAME sink. pq1 over the restarted pin
    sink (joined with one-pass geo/user sinks) must equal pq1 over a
    one-pass pin sink — exactly-once composes through the analytics
    layer, not just per-sink row counts."""
    from pinterest_data_pipeline400_spark.operators.analytics import top_per_group

    def pq1_over(pin_df, geo_df, user_df):
        counted = (
            pin_df.join(geo_df, on="ind", how="inner")
            .join(user_df, on="ind", how="inner")
            .groupBy("country", "category")
            .agg(F.count("category").alias("category_count"))
        )
        return _norm(
            top_per_group(
                counted,
                ["country"],
                [F.col("category_count").desc(), F.col("category").asc()],
            )
            .select("country", "category", "category_count")
            .toPandas()
        )

    geo = _drain(
        spark, os.path.join(fx_dir, "stream", "geo"),
        str(tmp_path / "geo_sink"), str(tmp_path / "geo_ckpt"), table="geo",
    )
    user = _drain(
        spark, os.path.join(fx_dir, "stream", "user"),
        str(tmp_path / "user_sink"), str(tmp_path / "user_ckpt"), table="user",
    )

    src = os.path.join(fx_dir, "stream", "pin")
    files = sorted(os.listdir(src))
    assert len(files) >= 2
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    sink, ckpt = str(tmp_path / "pin_sink"), str(tmp_path / "pin_ckpt")
    for f in files[: len(files) // 2]:
        shutil.copy(os.path.join(src, f), staged)
    _drain(spark, staged, sink, ckpt)
    for f in files[len(files) // 2 :]:
        shutil.copy(os.path.join(src, f), staged)
    pin_restarted = _drain(spark, staged, sink, ckpt)

    pin_one_pass = _drain(
        spark, src, str(tmp_path / "pin_sink2"), str(tmp_path / "pin_ckpt2")
    )
    got = pq1_over(pin_restarted, geo, user)
    want = pq1_over(pin_one_pass, geo, user)
    assert got.equals(want), (len(got), len(want))


def test_stream_neardup_dedup_matches_batch_and_recovers_state(spark):
    """Restart + equivalence contract for the streaming band-owner
    dedup: (a) the two-phase checkpointed run's verdicts equal an
    independent BATCH recompute of the band-owner rule over the same
    corpus (band group min-id), and (b) phase 2 rows really resolved
    against phase-1 state — at least one planted near-dup pair
    straddles the phase cut, and the later doc's verdict is 'dup'
    with an owner learned before the restart."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pinterest_data_pipeline400_spark.generator import fixture_dir_for
    from pinterest_data_pipeline400_spark.plans import streaming_queries as sq
    from pinterest_data_pipeline400_spark.streaming import band_rows_stream
    from tests.conftest import TEST_SF_DIR

    out = sq.stream_neardup_dedup(spark, TEST_SF_DIR).toPandas()

    fx = fixture_dir_for(TEST_SF_DIR)
    docs = spark.read.parquet(os.path.join(fx, "docs_dup.parquet")).select(
        "doc_id", "text"
    )
    # batch recompute of the same rule through the SAME row-local
    # band projection (batch DF, not a stream)
    bands = band_rows_stream(docs)
    owners = bands.groupBy("band_key").agg(F.min("doc_id").alias("owner"))
    exp = (
        bands.join(owners, on="band_key")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bands"),
            F.sum(F.when(F.col("owner") < F.col("doc_id"), 1).otherwise(0)).alias(
                "n_dup_bands"
            ),
            F.when(F.min("owner") < F.col("doc_id"), "dup")
            .otherwise("keep")
            .alias("verdict"),
        )
        .toPandas()
    )
    m = out.merge(exp, on="doc_id", suffixes=("", "_exp"))
    assert len(m) == len(out) == len(exp)
    assert (m.n_bands == m.n_bands_exp).all()
    assert (m.n_dup_bands == m.n_dup_bands_exp).all()
    assert (m.verdict == m.verdict_exp).all()

    # cross-phase recovery: a planted near-dup whose source sits in
    # phase 1 (id < split) and whose copy streams in phase 2
    pdf = pd.read_parquet(os.path.join(fx, "docs_dup.parquet"))
    split = (pdf.doc_id.max() + 1) // 2
    planted = pdf[pdf.provenance.str.contains("_of_", na=False)].copy()
    planted["src"] = (
        planted.provenance.str.rsplit("_", n=1).str[-1].astype("int64")
    )
    straddle = planted[(planted.src < split) & (planted.doc_id >= split)]
    assert len(straddle) > 0, "fixture has no cross-phase planted pair"
    verdicts = out.set_index("doc_id").verdict
    # near-dups share bands with their source with high probability at
    # jaccard 0.6-0.9; require that the band index caught most of them
    caught = sum(verdicts.get(d, "keep") == "dup" for d in straddle.doc_id)
    assert caught / len(straddle) >= 0.7, (caught, len(straddle))
