"""Structured Streaming variants of the engine's event operators.

The reference is a daily batch CronJob (k8s/base/cronjob.yaml:6) — no
streaming exists there (SURVEY.md §2.10). These operators extend the same
event-log semantics to a live stream:

- ``windowed_event_counts``: tumbling-window counts with a watermark for
  late data — the standard streaming aggregation shape.
- ``streaming_state_intervals``: the E2 state machine as a STATEFUL
  streaming operator via applyInPandasWithState — per instance, the open
  interval lives in state and closes when the next trigger event arrives.
  Batch-equivalence is pinned by tests/test_streaming.py (same intervals
  as operators/sessionize.build_state_intervals on the same data).
- ``run_epoch_stream``: the one foreachBatch driver behind every
  epoch-log stream in this package (sketch, dedup, pack and incremental
  runtime); its docstring holds their shared exactly-once contract.

Local tests drive streams from the static parquet dirs (one file = one
micro-batch) with a memory sink and processAllAvailable() — the public
pattern for deterministic streaming tests.

Scale notes: state is partitioned by instance id across executors; with
RocksDB state store and watermark-based state eviction this is the
standard unbounded-stream sessionization deployment. Event-time ordering
within a micro-batch is handled by sorting the batch; events older than
an already-closed interval are late data — a real deployment sets
``withWatermark`` and accepts the same drop semantics the watermark
defines.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator, Tuple

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Checkpoint I/O tuning for EPHEMERAL local checkpoints (what every
# streaming surface in this engine uses: per-run temp dirs driven to
# completion with processAllAvailable). Two independent costs, both
# measured dominating the stateful queries' wall time on local[32]
# (q75: every 32-task join stage spent ~3.5s parked with ~0.05s CPU):
#
# - The default FileContextBasedCheckpointFileManager shells out
#   (hadoop.util.Shell.execCommand — a process fork) for renames on
#   local filesystems; a stream-stream join commits 4 state stores per
#   partition per micro-batch, so one batch forks hundreds of
#   processes. FileSystemBasedCheckpointFileManager (the manager Spark
#   itself selects for object stores) renames via the Java File API.
#   Its weaker rename-atomicity guarantee only matters with concurrent
#   drivers sharing a checkpoint — impossible for a per-run local dir.
# - Spark 4.1's checkpoint file checksums double the checkpoint file
#   count and add an awaited async write per close; integrity
#   verification of a throwaway local checkpoint buys nothing.
#
# Production deployments with durable shared checkpoints (HDFS/S3) keep
# the defaults: set SPARK_GRAFT_DURABLE_CHECKPOINTS=1.
_EPHEMERAL_CHECKPOINT_CONF = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}


@contextmanager
def fast_local_checkpoints(spark: SparkSession):
    """Apply :data:`_EPHEMERAL_CHECKPOINT_CONF` for the duration of one
    streaming run, then RESTORE prior values (the session is shared — a
    lingering override would silently change later runs). No-op when
    ``SPARK_GRAFT_DURABLE_CHECKPOINTS`` is set."""
    if os.environ.get("SPARK_GRAFT_DURABLE_CHECKPOINTS"):
        yield
        return
    priors: dict[str, str | None] = {}
    for k, v in _EPHEMERAL_CHECKPOINT_CONF.items():
        priors[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, p in priors.items():
            if p is not None:
                spark.conf.set(k, p)
            else:
                spark.conf.unset(k)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet-directory stream of the events table (schema must be
    declared for readStream). The declared schema is taken from a batch
    scan of the same file, so whichever timestamp flavor the data ships
    in (TIMESTAMP(NANOS)-as-long, naive micros/NTZ, or instant) streams
    through the same canonicalization as the batch source."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # window alignment and collected timestamps are session-TZ dependent
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from openstack_billing_from_db_spark.sources.tables import (
        NANO_TS_COLUMNS,
        canonical_timestamps,
    )

    file_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file-stream source requires a directory basePath; select just the
    # events table out of the sf dir with a glob filter
    raw = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return canonical_timestamps(raw, NANO_TS_COLUMNS.get("events", ()))


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window counts per event_type with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


_INTERVAL_SCHEMA = "instance_uuid long, state string, start_us long, end_us long"
_STATE_SCHEMA = "last_ts_us long, last_state string"


def _sessionize_group(
    key: Tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Close one interval per arriving trigger event; the open interval is
    carried in state across micro-batches."""
    instance_uuid = key[0]
    batch = pd.concat(list(pdfs)).sort_values("ts_us")
    if state.exists:
        last_ts, last_state = state.get
    else:
        last_ts, last_state = None, None

    out = []
    for ts_us, st in zip(batch["ts_us"], batch["state"]):
        if last_state is not None:
            out.append((instance_uuid, last_state, last_ts, int(ts_us)))
        last_ts, last_state = int(ts_us), st
    state.update((last_ts, last_state))
    yield pd.DataFrame(out, columns=["instance_uuid", "state", "start_us", "end_us"])


def streaming_state_intervals(
    events: DataFrame,
    trigger_states: dict[str, str],
) -> DataFrame:
    """E2 sessionization as a stateful stream: map event_type→state, then
    applyInPandasWithState keyed by instance. Emits each CLOSED interval
    exactly once; the open tail interval remains in state (a batch close
    at window end is the caller's final step, as in the batch plan)."""
    mapping = F.create_map(*[F.lit(x) for kv in trigger_states.items() for x in kv])
    states = (
        events.select(
            F.col("user_id").alias("instance_uuid"),
            F.unix_micros("ts").alias("ts_us"),
            mapping[F.col("event_type")].alias("state"),
        )
        .filter(F.col("state").isNotNull())
    )
    return states.groupBy("instance_uuid").applyInPandasWithState(
        _sessionize_group,
        outputStructType=_INTERVAL_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Run stats of the most recent run_stream_to_memory call, for bench
# attribution (micro-batch and state-store commit counts explain wall-
# clock deltas that plan shapes can't — VERDICT r3 Next #5).
LAST_STREAM_STATS: dict = {}


@contextmanager
def pinned_state_partitions(spark: SparkSession):
    """Pin spark.sql.shuffle.partitions to actual parallelism for the
    duration of a streaming run, then RESTORE the prior value.

    Stateful operators allocate one state-store instance PER shuffle
    partition, fixed at stream start (no AQE coalescing in streaming) — a
    bare session's default 200 means 200 store setups/commits per
    micro-batch. The session is shared, so a lingering override would
    silently change every later batch query's shuffle width (ADVICE r3);
    restoring makes the pin a per-run effect. On a real cluster this conf
    is sized to executor count by the deployment, not left at default.
    """
    prior = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        yield
    finally:
        if prior is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prior)
        else:
            spark.conf.unset("spark.sql.shuffle.partitions")


# the read errors that mean "no epoch written yet" (the first epoch):
# a missing directory, or one holding no parquet files
_NO_EPOCH_YET = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def read_epoch_log(spark: SparkSession, log_dir: str) -> DataFrame | None:
    """Every epoch written under ``log_dir`` (with its ``epoch``
    partition column), or None before the first epoch has written. Any
    other read failure — a corrupt part file, an unreadable directory —
    raises: a stream that read its own state as absent would restart
    from empty and write results no batch run produces."""
    try:
        return spark.read.parquet(log_dir)
    except AnalysisException as e:
        if e.getCondition() in _NO_EPOCH_YET:
            return None
        raise


def file_stream(spark: SparkSession, stream_dir: str, schema: str) -> DataFrame:
    """Parquet-file stream of ``stream_dir`` with one file per
    micro-batch, so each file dropped into the directory is one epoch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )


def _epoch_snapshot(spark: SparkSession, df: DataFrame):
    """Lineage-truncating snapshot of an epoch result, with a
    deterministic release handle.

    ``localCheckpoint(eager=True)`` is the snapshot-integrity half: a
    lost cached partition FAILS the (idempotent) epoch instead of
    silently recomputing against the post-write mixed index. Its
    MEMORY_AND_DISK blocks, however, are otherwise only released when
    the JVM garbage-collects the RDD reference — in a long-running
    stream that lets storage grow with epoch count. The checkpointed
    RDD id is diffed from the public
    ``JavaSparkContext.getPersistentRDDs`` map and then filtered to
    ids whose RDD ``isLocallyCheckpointed()`` — the eager checkpoint
    job can itself lazily materialize ``tracked_persist`` caches
    (InMemoryRelation cached RDDs register at first materialization),
    and unpersisting those behind the CacheManager's back would
    silently send plans believed cached cold. ``release()`` unpersists
    exactly the checkpoint's own ids once the epoch's writes are
    committed."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    cp = df.localCheckpoint(eager=True)
    after = jsc.getPersistentRDDs()
    new_ids = [
        i
        for i in after.keySet().toArray()
        if i not in before and after.get(i).rdd().isLocallyCheckpointed()
    ]

    def release() -> None:
        try:
            live = jsc.getPersistentRDDs()
            for i in new_ids:
                jrdd = live.get(i)
                if jrdd is not None:
                    jrdd.unpersist(False)
        except Exception:
            pass  # cleanup is best-effort; the epoch already committed

    return cp, release


def run_epoch_stream(stream: DataFrame, step, checkpoint_dir: str) -> None:
    """Drive ``stream`` through ``step`` one micro-batch at a time until
    the available input is consumed (processAllAvailable), then stop;
    re-running resumes from ``checkpoint_dir``.

    ``step(batch_df, epoch_id, snapshot)`` returns an ordered
    ``{dir: DataFrame}``. Each DataFrame is written, in that order, to
    ``f"{dir}/epoch={epoch_id}"``.

    The exactly-once contract every foreachBatch stream in this package
    shares, without a transactional table format:

    - **Overwrite per epoch.** Each epoch owns its ``epoch=<id>``
      partitions and writes them with overwrite, so a micro-batch
      replayed after a failure (same id, same input) replaces its own
      output instead of duplicating it. Readers merge the epoch log.
    - **Snapshot before any write when a sink reads its own output
      directory.** A step whose DataFrame reads a directory this epoch
      writes into (the dedup index, the pack state) passes it through
      ``snapshot(df)`` first: :func:`_epoch_snapshot` materializes it
      against the pre-epoch log, so the write cannot change what it
      reads.
    - **Release after commit.** Every snapshot taken during the epoch
      is released in one ``finally`` once its writes are done.

    State partitions are pinned to the local parallelism for the run
    and the ephemeral-checkpoint I/O conf applied (see
    :func:`pinned_state_partitions`, :func:`fast_local_checkpoints`);
    both are restored afterwards."""
    spark = stream.sparkSession

    def run_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        releases = []

        def snapshot(df: DataFrame) -> DataFrame:
            cp, release = _epoch_snapshot(spark, df)
            releases.append(release)
            return cp

        try:
            for out_dir, df in step(batch_df, epoch_id, snapshot).items():
                df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")
        finally:
            for release in releases:
                release()

    with pinned_state_partitions(spark), fast_local_checkpoints(spark):
        q = (
            stream.writeStream.foreachBatch(run_epoch)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def run_stream_to_memory(
    df: DataFrame, name: str, *, output_mode: str = "append"
) -> None:
    """Drive a streaming DataFrame to completion into a memory-sink table
    (deterministic: processAllAvailable then stop). State partitions are
    pinned to parallelism for the run and restored after (see
    ``pinned_state_partitions``); run stats land in LAST_STREAM_STATS."""
    spark = df.sparkSession
    with pinned_state_partitions(spark), fast_local_checkpoints(spark):
        n_state_partitions = spark.conf.get("spark.sql.shuffle.partitions")
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            LAST_STREAM_STATS.clear()
            last = q.lastProgress or {}
            state = last.get("stateOperators") or []
            # total source rows ingested across ALL micro-batches — lets
            # bench derive a rows/s throughput that splits fixed per-batch
            # overhead from plan cost. recentProgress is a RING BUFFER
            # (spark.sql.streaming.numRecentProgressUpdates, default 100)
            # that also holds no-data updates (which REPEAT a batchId), so
            # neither its length nor last.batchId alone proves
            # completeness: require every real batchId 0..last to still be
            # present, else omit (0) rather than silently undercount.
            # Summing all retained entries is then safe — repeated
            # batchIds are idle updates carrying numInputRows = 0.
            progress = q.recentProgress or []
            seen_ids = {int(p.get("batchId", -1)) for p in progress}
            n_batches = int(last.get("batchId", -1)) + 1
            complete = set(range(n_batches)) <= seen_ids
            LAST_STREAM_STATS.update(
                {
                    "name": name,
                    # batchId counts from 0; the last progress is the final batch
                    "micro_batches": n_batches,
                    "state_rows_total": sum(
                        int(s.get("numRowsTotal", 0)) for s in state
                    ),
                    "state_commit_partitions": int(n_state_partitions),
                    "input_rows_total": (
                        sum(int(p.get("numInputRows", 0)) for p in progress)
                        if complete
                        else 0
                    ),
                }
            )
        finally:
            q.stop()


def stream_stream_attribution(
    purchases: DataFrame,
    clicks: DataFrame,
    *,
    attribution_window: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INNER JOIN with event-time bounds — the attribution
    shape (every click within ``attribution_window`` BEFORE a same-user
    purchase). Both sides carry watermarks and the join has a two-sided
    time-range condition, so Spark can evict join state once the
    watermark passes — the condition that makes an unbounded stream-
    stream join runnable forever (state is O(window), not O(stream)).

    Output columns are all BIGINT (ids + gap micros): deterministic and
    value-hashable against the equivalent batch SQL once both streams
    are fully processed."""
    p = (
        purchases.select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    c = (
        clicks.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    )
    return joined.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
