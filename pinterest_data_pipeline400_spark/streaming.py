"""Structured Streaming path (SURVEY.md §2.8, T1-T5).

The reference consumes three Kinesis streams in Databricks
(kinesis.py:34-68), decodes ``CAST(data AS STRING)`` → ``from_json`` →
``select("data.*")`` (kinesis.py:83-85), applies the same cleaning as
batch (with the constant-1000 imputation, kinesis.py:184-187, because
``approxQuantile`` is an action), and appends to Delta tables with
checkpoints (kinesis.py:232-236).

This engine swaps the Kinesis source (a Databricks-only connector) for a
file stream over the generator's Kinesis-envelope JSONL — an infra swap,
not a semantics change (SURVEY.md §7): the envelope carries the record
as a JSON string in ``Data`` exactly like a Kinesis record's data blob,
and ``startingOffsets=earliest`` ≙ reading the directory from the start.

Scale notes:
  * ``dropDuplicates`` on a stream is STATEFUL dedup; the reference runs
    it unwatermarked (kinesis.py:213) ⇒ state grows forever. That
    compat-exact mode exists here, plus the correct form:
    ``withWatermark(event_time, delay).dropDuplicates(keys)`` — state
    bounded by the watermark horizon (T3 design note in SURVEY §2.8).
  * The append sink + checkpoint gives exactly-once into the sink dir
    (offsets + state committed per micro-batch; T4).
  * ``Trigger.AvailableNow`` drains everything pending then stops —
    deterministic for tests and the driver, micro-batched like
    production.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.clean import clean_geo, clean_pin, clean_user
from .schemas import GEO_RAW, PIN_RAW, USER_RAW

#: Kinesis-envelope wire schema (stream_emul.py:116-133 analog).
ENVELOPE = T.StructType(
    [
        T.StructField("StreamName", T.StringType(), True),
        T.StructField("PartitionKey", T.StringType(), True),
        T.StructField("Data", T.StringType(), True),
    ]
)

RAW_SCHEMAS = {"pin": PIN_RAW, "geo": GEO_RAW, "user": USER_RAW}


def read_envelope_stream(
    spark: SparkSession, stream_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """T1: file-stream source over envelope JSONL, from the beginning
    (the reference's ``initialPosition: earliest``, kinesis.py:38)."""
    reader = spark.readStream.schema(ENVELOPE)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(stream_dir)


def decode_stream(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """T2 decode, exactly the reference's three steps (kinesis.py:83-85):
    selectExpr CAST → from_json against the fixed StructType → struct
    flatten. (P2, F7, P3.)"""
    return (
        raw.selectExpr("CAST(Data AS STRING) AS data")
        .withColumn("data", F.from_json(F.col("data"), schema))
        .select(F.col("data.*"))
    )


def dedup_stream(
    df: DataFrame,
    keys: list[str] | None = None,
    watermark_col: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """T3: stateful streaming dedup. Default = the reference's
    compat-exact unbounded ``dropDuplicates()`` (kinesis.py:213); pass
    ``watermark_col`` for the bounded-state production form
    (``dropDuplicatesWithinWatermark``: per-key state evicted once the
    watermark passes — re-deliveries land within the delay in any
    at-least-once system, so semantics match unbounded dedup there)."""
    if watermark_col is None:
        return df.dropDuplicates(keys)
    return df.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(keys)


def clean_stream(decoded: DataFrame, table: str) -> DataFrame:
    """The shared cleaning ops applied on the stream (kinesis.py:147-288):
    pin uses the constant-1000 imputation (no actions on a stream); geo
    adds the stream-only dropna() (kinesis.py:255); user drops rows with
    null keys (kinesis.py:285)."""
    if table == "pin":
        return clean_pin(decoded, impute="constant")
    if table == "geo":
        # stream-only dropna() at its reference position (kinesis.py:255);
        # the discarded dropna(how='all') of kinesis.py:281 is a reference
        # no-op bug we do NOT reproduce (SURVEY §2.10 quirk 6)
        return clean_geo(decoded, drop_nulls=True)
    if table == "user":
        return clean_user(decoded, drop_null_keys=True)
    raise ValueError(f"unknown table {table!r}")


def write_stream_append(
    df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    available_now: bool = True,
):
    """T4: append-mode sink with checkpointed exactly-once delivery
    (kinesis.py:232-236; parquet stands in for the Delta table — same
    sink API, `.format("delta")` works unchanged where Delta ships)."""
    writer = (
        df.writeStream.format(fmt)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .option("path", sink_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_running_counts(stream: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (the
    escape hatch for semantics built-in streaming aggregates can't
    express — SURVEY.md §1.4): a per-key running event counter that
    emits the updated total once per micro-batch the key appears in.

    Arrow-batched per group; state is one bigint per key, persisted in
    the checkpoint state store — so totals survive query restarts (the
    entry drives two separate runs over one checkpoint to prove it).
    At scale, state is partitioned by key across executors and each
    micro-batch touches only the keys present in it.

    Only ``key_col`` is fed to the operator: ``update`` reads nothing
    but each batch's length, and every input column is converted
    Arrow→pandas per group, so the full event row made the Python side
    of a drain several times dearer for the same counts.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # output schema derives from the key's ACTUAL dtype: grouping by a
    # string key (event_type, country) must work like the bigint default
    key_dtype = stream.schema[key_col].dataType.simpleString()

    def update(key: tuple, batches, state: GroupState):
        total = state.get[0] if state.exists else 0
        n = 0
        for pdf in batches:
            n += len(pdf)
        total += n
        state.update((total,))
        yield pd.DataFrame({key_col: [key[0]], "n_events_so_far": [total]})

    return stream.select(key_col).groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} {key_dtype}, n_events_so_far long",
        stateStructType="total long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: RocksDB state store provider — the production state backend for
#: large keyspaces (off-heap, spill-to-disk, changelog checkpointing).
#: The HDFS-backed default keeps every key on-heap, which caps state at
#: executor memory.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def fresh_dirs(base: str) -> tuple[str, str]:
    """(sink, checkpoint) under ``base``, wiped — T5 checkpoint reset
    (the reference's dbutils.fs.rm, kinesis.py:138)."""
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    for d in (sink, ckpt):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
    return sink, ckpt


def band_rows_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, band_key) rows from a streaming docs frame — the
    MinHash LSH front half (norm → word shingles → 12 seeded-md5
    minima → 6 band keys) as PURE ROW-LOCAL column expressions, so it
    runs unchanged on a stream: no shuffle, no state, just a
    projection + explode per micro-batch."""
    from .operators.dedup import band_keys, minhash_signature, word_shingles
    from .plans.training_data import norm_text

    # the seeded-md5 signature lambdas are INTERPRETED (HOFs never
    # whole-stage-codegen): spread them across cores first — a
    # single-file micro-batch otherwise serializes ~3M md5 calls onto
    # one task (measured 12-17 s per drain at sf0.1)
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    normed = docs.select(
        "doc_id",
        norm_text(F.col("text")).alias("__norm"),
        F.split(norm_text(F.col("text")), " ").alias("__tokens"),
    )
    shingled = normed.select(
        "doc_id",
        word_shingles(F.col("__tokens"), F.col("__norm")).alias("sh"),
    )
    return shingled.select(
        "doc_id", F.explode(band_keys(minhash_signature(F.col("sh")))).alias("band_key")
    )


def band_owner_stream(stream: DataFrame) -> DataFrame:
    """Streaming NEAR-DUP dedup state as a BUILT-IN stateful
    aggregation: ``groupBy(band_key).agg(min(doc_id))`` in update mode
    — the state store IS the incremental band index (one bigint owner
    per band key), maintained entirely JVM-side.

    This was first built on ``applyInPandasWithState`` (the custom-op
    API stream_stateful_user_counts showcases), which was semantically
    identical but 10x slower here: the LSH keyspace is ~6 tiny groups
    per document (75k groups at sf0.1), and the per-group Python/Arrow
    round-trip costs dominate (measured 30 s vs ~3 s). UDFs are the
    slow path — a built-in min aggregate keeps the whole state update
    inside whole-stage codegen and the state store, which is exactly
    the production shape for a high-cardinality key space.

    DETERMINISM: delivery follows doc_id order (the harness feeds
    ascending-id phases), so first-arrival == min-id and the LATEST
    emitted owner per band equals the band group's overall minimum —
    an order-free value both a batch recompute and the DuckDB oracle
    reproduce exactly. State is one long per band key; a production
    deployment bounds it with watermark/TTL eviction exactly like the
    exact-key ``dropDuplicatesWithinWatermark`` path."""
    return stream.groupBy(F.col("band_key")).agg(
        F.min("doc_id").cast("long").alias("owner")
    )
