"""Streaming greedy sequence packing: documents arrive as files (in
doc_id order — the stream contract that makes incremental packing
equivalent to one batch run), each micro-batch continues the per-shard
open-bin state with operators/curation.greedy_pack_continue, and the
epoch's assignments plus the MERGED state snapshot are one epoch of two
epoch logs, kept exactly-once by
:func:`streaming.sessions.run_epoch_stream`. A replayed micro-batch
re-reads the PRE-epoch state because the latest-state lookup is bounded
to epochs strictly before its own id.

State is shards-sized ((shard, open_bin, open_acc) — bytes per shard),
so every epoch snapshot is trivially cheap; assignments are the
per-epoch output artifact. At 100 TB the same contract as q148: the
packing state lives per shard, parallelism = tune_pack_shards(corpus),
and only narrow (shard, id, weight) rows enter the Arrow stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.functions.hashing import seeded_hash64
from openstack_billing_from_db_spark.operators.curation import (
    greedy_pack_continue,
    merge_pack_state,
    pack_state,
)
from openstack_billing_from_db_spark.operators.text import words
from openstack_billing_from_db_spark.streaming.sessions import (
    file_stream,
    read_epoch_log,
    run_epoch_stream,
)


def _check_pack_config(spark: SparkSession, state_dir: str, **config) -> None:
    """Pin the packing layout constants to the persisted state: write
    them on first run, assert equality on resume. Greedy packing is
    only ≡ one batch run when every epoch shares the same hash sharding
    (shards, seed) and overflow rule (budget). Goes through the Hadoop
    FileSystem API so the pin holds for ANY state_dir the Spark readers
    in this module support (hdfs://, s3a://, file:, bare local paths) —
    a local-only pathlib check would silently no-op on remote URIs,
    which is exactly the resume this guard exists to refuse."""
    import json

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(state_dir, "_pack_config.json")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        stream = fs.open(hpath)
        try:
            stored = json.loads(
                jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            )
        finally:
            stream.close()
        if stored != config:
            raise ValueError(
                "persisted pack state was written with a different "
                f"configuration: stored={stored}, requested={config}; "
                "continuing would produce assignments equal to no "
                "batch run"
            )
        return
    out = fs.create(hpath, True)
    try:
        out.write(json.dumps(config, sort_keys=True).encode("utf-8"))
    finally:
        out.close()


def _latest_state(
    spark: SparkSession, state_dir: str, before_epoch: int
) -> DataFrame | None:
    """State snapshot of the newest epoch strictly before
    ``before_epoch`` (replay-safe: a re-run epoch must not read its own
    previous output), or None when no prior epoch exists. An
    unreadable state log raises (:func:`read_epoch_log`)."""
    all_epochs = read_epoch_log(spark, state_dir)
    if all_epochs is None:
        return None
    prior = all_epochs.filter(F.col("epoch") < before_epoch)
    row = prior.agg(F.max("epoch").alias("m")).collect()[0]
    if row.m is None:
        return None
    return prior.filter(F.col("epoch") == row.m).drop("epoch")


def run_streaming_greedy_pack(
    spark: SparkSession,
    docs_stream_dir: str,
    assignments_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    budget: int,
    shards: int = 8,
    seed: str = "gpack",
) -> None:
    """Document-file stream → per-epoch greedy packing assignments +
    merged open-bin state snapshots. Runs to completion on the
    available files (processAllAvailable) and stops; re-running picks
    up new files from the checkpoint and continues the packing from the
    persisted state — the multi-run union of assignment epochs is
    pinned equal to one greedy_pack_bins batch over all documents.

    (shards, budget, seed) are recorded in a ``_pack_config.json``
    sidecar next to the state snapshots on the first run (the leading
    underscore hides it from Spark's file index); a later invocation
    with different values would silently continue with mismatched hash
    sharding — assignments equal to no batch run — so resume asserts
    the sidecar matches before processing any batch."""
    _check_pack_config(spark, state_dir, shards=shards, budget=budget, seed=seed)
    run_epoch_stream(
        file_stream(spark, docs_stream_dir, "doc_id long, text string"),
        _pack_step(spark, assignments_dir, state_dir, budget, shards, seed),
        checkpoint_dir,
    )


def _pack_step(
    spark: SparkSession,
    assignments_dir: str,
    state_dir: str,
    budget: int,
    shards: int,
    seed: str,
):
    """The packing epoch: continue each shard's open bin from the
    pre-epoch state, then write the assignments and the merged state."""

    def step(batch_df: DataFrame, epoch_id: int, snapshot) -> dict:
        toks = batch_df.select(
            "doc_id",
            (seeded_hash64(F.col("doc_id").cast("string"), seed) % shards).alias(
                "shard"
            ),
            F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
        )
        prev = _latest_state(spark, state_dir, epoch_id)
        # prev reads state_dir, which this epoch writes into: snapshot
        # the assignments first and merge the state from that snapshot,
        # so the Arrow packing stage runs once per epoch
        assigns = snapshot(greedy_pack_continue(toks, prev, budget=budget))
        return {
            assignments_dir: assigns,
            state_dir: snapshot(merge_pack_state(prev, pack_state(assigns))),
        }

    return step


def read_assignments(spark: SparkSession, assignments_dir: str) -> DataFrame:
    """Union of all epoch assignment partitions (each doc appears in
    exactly one epoch)."""
    return spark.read.parquet(assignments_dir).drop("epoch")
