"""Streaming incremental cardinality: count distinct values per group
over an unbounded file stream with O(k) state per group — the KMV sketch
(operators/sketch.py) as a foreachBatch accumulator.

Raw values are never retained beyond each group's current k minima
(~k × 16 bytes per group — for k=16, a quarter-kilobyte per group
regardless of whether the group has seen a thousand or a trillion
distinct values). That bounded state is what `dropDuplicates`-then-count
can NOT give a stream: exact streaming distinct-count state grows with
the true cardinality and eventually evicts (watermark) or OOMs.

Each micro-batch's per-group k-minima are one epoch of an epoch log,
kept exactly-once by :func:`streaming.sessions.run_epoch_stream`; the
live sketch is the union of all epochs re-truncated to k per group
(:func:`operators.sketch.kmv_merge` — merge-and-truncate is exactly the
KMV union law, so the streamed estimate equals the batch estimate over
the same data, pinned by test_kmv_stream). The count-min, histogram,
HLL, bootstrap and priority-sample streams below follow the same
partial / merge / finalize shape.

At 100 TB/day: per micro-batch work is one DISTINCT-reduce of the batch
plus a k-min window over the batch's vocabulary; state directory growth
is ≤ k·groups rows per epoch — compact with
sources/maintenance.compact_parquet like any epoch log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.operators.quantiles import (
    DEFAULT_P_MICRO,
    histogram_cells,
    quantiles_from_cells,
)
from openstack_billing_from_db_spark.operators.sampling import (
    bootstrap_finalize,
    bootstrap_partial,
    priority_sample,
)
from openstack_billing_from_db_spark.operators.sketch import (
    countmin_build,
    hll_estimate,
    hll_merge,
    hll_registers,
    kmv_finalize,
    kmv_merge,
    kmv_partial,
)
from openstack_billing_from_db_spark.streaming.sessions import (
    file_stream,
    run_epoch_stream,
)


def run_streaming_kmv(
    spark: SparkSession,
    stream_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    group_col: str,
    value_col: str,
    k: int = 16,
) -> None:
    """Stream files → per-epoch KMV state partitions. Runs to completion
    on the available files (processAllAvailable) and stops; re-running
    picks up new files from the checkpoint."""
    run_epoch_stream(
        file_stream(spark, stream_dir, schema),
        lambda batch_df, epoch_id, snapshot: {
            state_dir: kmv_partial(
                batch_df, group_col=group_col, value_col=value_col, k=k
            )
        },
        checkpoint_dir,
    )


def read_kmv_estimate(
    spark: SparkSession,
    state_dir: str,
    *,
    group_col: str,
    k: int = 16,
) -> DataFrame:
    """The live estimate: merge every epoch's state and finalize.
    Output: (group, k_used, kth_hash, est_distinct)."""
    state = spark.read.parquet(state_dir).select(group_col, "v", "h")
    return kmv_finalize(
        kmv_merge(state, group_col=group_col, k=k), group_col=group_col, k=k
    )


# --- count-min: streaming frequency state ------------------------------------
#
# The count-min table merges by ADDITION, so the epoch pattern is even
# simpler than KMV's merge-and-truncate: each micro-batch writes its own
# d×w cell counts under epoch=<id> (idempotent overwrite), and the live
# sketch is one groupBy-sum over all epochs — at most d·w rows per epoch
# on disk, a fixed-size frequency state no matter how much volume the
# stream has carried.


def run_streaming_countmin(
    spark: SparkSession,
    stream_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    value_col: str,
) -> None:
    """Stream files → per-epoch count-min cell partitions
    (processAllAvailable, then stop; the checkpoint resumes new files)."""
    run_epoch_stream(
        file_stream(spark, stream_dir, schema),
        lambda batch_df, epoch_id, snapshot: {
            state_dir: countmin_build(batch_df, value_col=value_col)
        },
        checkpoint_dir,
    )


def read_countmin_sketch(spark: SparkSession, state_dir: str) -> DataFrame:
    """The live sketch: every epoch's cells summed — equals the batch
    sketch over the union of all streamed data (merge-by-addition law,
    pinned by test_kmv_stream). Probe with operators.sketch.countmin_probe."""
    state = spark.read.parquet(state_dir).select("cm_row", "cm_bucket", "cnt")
    return state.groupBy("cm_row", "cm_bucket").agg(F.sum("cnt").alias("cnt"))


# --- histogram quantiles: streaming percentile state -------------------------


def run_streaming_histogram(
    spark: SparkSession,
    stream_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    group_col: str,
    value_col: str,
    bin_width: int,
) -> None:
    """Stream files → per-epoch histogram cell partitions. State per
    epoch is bounded by groups × occupied bins, independent of row
    volume — live percentiles over an unbounded stream without keeping
    a single raw value."""
    run_epoch_stream(
        file_stream(spark, stream_dir, schema),
        lambda batch_df, epoch_id, snapshot: {
            state_dir: histogram_cells(
                batch_df, group_col=group_col, value_col=value_col, bin_width=bin_width
            )
        },
        checkpoint_dir,
    )


def read_histogram_quantiles(
    spark: SparkSession,
    state_dir: str,
    *,
    group_col: str,
    bin_width: int,
    p_micro=None,
) -> DataFrame:
    """The live per-group quantile estimates: all epoch cells summed
    (merge-by-addition) then finalized — equals the batch sketch over
    the union of the streamed data."""
    state = spark.read.parquet(state_dir).select(group_col, "bin", "cnt")
    return quantiles_from_cells(
        state,
        group_col=group_col,
        bin_width=bin_width,
        p_micro=p_micro or DEFAULT_P_MICRO,
    )


# --- HyperLogLog: streaming cardinality state --------------------------------
#
# HLL registers merge by per-register MAX, so the epoch pattern writes at
# most m rows per (group, epoch) — a CONSTANT-size cardinality state per
# micro-batch (vs KMV's k values): the natural choice when groups are
# many and the union law must stay cheap. The live estimate is one
# groupBy-max over all epochs, then the closed-form finalize.


def run_streaming_hll(
    spark: SparkSession,
    stream_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    group_col: str,
    value_col: str,
) -> None:
    """Stream files → per-epoch HLL register partitions
    (processAllAvailable, then stop; the checkpoint resumes new files).
    Idempotent per epoch (overwrite), mergeable forever (max)."""
    run_epoch_stream(
        file_stream(spark, stream_dir, schema),
        lambda batch_df, epoch_id, snapshot: {
            state_dir: hll_registers(
                batch_df, group_col=group_col, value_col=value_col
            )
        },
        checkpoint_dir,
    )


def read_hll_estimate(
    spark: SparkSession,
    state_dir: str,
    *,
    group_col: str,
) -> DataFrame:
    """The live estimate: per-register max over every epoch, finalized —
    equals the batch estimate over the union of the streamed data
    (register-max union law, pinned by test_kmv_stream).
    Output: (group, n_registers_used, est_milli)."""
    state = spark.read.parquet(state_dir).select(group_col, "reg", "rho")
    return hll_estimate(
        hll_merge(state, group_col=group_col), group_col=group_col
    )


# --- Poisson-bootstrap CI: streaming uncertainty state ------------------------


def run_streaming_bootstrap(
    spark: SparkSession,
    stream_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str,
    value_col: str,
    n_replicas: int = 40,
    seed: str = "boot",
) -> None:
    """Stream files → per-epoch bootstrap sum partitions: the corpus
    quality CI (operators/sampling.poisson_bootstrap_mean_ci) kept live
    over an unbounded stream with (B+1)-row state per epoch. Replica
    weights are a pure function of (row id, replica) — seeded-hash
    inverse-CDF draws — so a replayed micro-batch recomputes the exact
    same sums and the epoch-partition overwrite stays idempotent
    (:func:`streaming.sessions.run_epoch_stream`). Because every state
    component is a SUM, the live CI over all epochs equals the batch CI
    over the union of the streamed data (merge-by-addition law, pinned
    by test_kmv_stream)."""
    run_epoch_stream(
        file_stream(spark, stream_dir, schema),
        lambda batch_df, epoch_id, snapshot: {
            state_dir: bootstrap_partial(
                batch_df,
                id_col=id_col,
                value_col=value_col,
                n_replicas=n_replicas,
                seed=seed,
            )
        },
        checkpoint_dir,
    )


def read_bootstrap_ci(
    spark: SparkSession, state_dir: str, *, n_replicas: int = 40
) -> DataFrame:
    """The live CI: every epoch's sums merged by addition, then the
    batch finalizer — identical output to running the batch operator
    over all streamed rows."""
    state = spark.read.parquet(state_dir).select("b", "s", "n")
    return bootstrap_finalize(state, n_replicas=n_replicas)


# --- priority sample: streaming bounded weighted reservoir --------------------
#
# Duffield-Lund-Thorup priorities are deterministic per key, so the
# k-best rows of a union are the k-best of the per-batch k-bests —
# exactly KMV's merge-and-truncate law, applied to a weighted sample.
# Each epoch persists AT MOST k candidate rows whatever the batch
# volume (TakeOrderedAndProject inside priority_sample); the live
# sample re-ranks the union of epoch candidates. A heavy row arriving
# in a later epoch displaces earlier members at read time — the
# streaming form of without-replacement weighted sampling with bounded
# state (k rows/epoch on disk, k² rows scanned per read worst-case
# before compaction).


def run_streaming_priority_sample(
    spark: SparkSession,
    stream_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    key_col: str,
    weight_col: str,
    k: int = 16,
    seed: str = "pri",
) -> None:
    """Stream files → per-epoch priority-sample candidate partitions
    (≤ k rows each, idempotent overwrite). Runs to completion on the
    available files and stops; re-running picks up new files from the
    checkpoint."""
    run_epoch_stream(
        file_stream(spark, stream_dir, schema),
        lambda batch_df, epoch_id, snapshot: {
            state_dir: priority_sample(
                batch_df, key_col=key_col, weight_col=weight_col, k=k, seed=seed
            ).drop("rnk")
        },
        checkpoint_dir,
    )


def read_priority_sample(
    spark: SparkSession, state_dir: str, *, k: int = 16
) -> DataFrame:
    """The live sample: merge every epoch's candidates and re-rank to
    the global k best (merge-and-truncate). Output matches
    ``sampling.priority_sample``: (key, weight, priority, rnk)."""
    state = spark.read.parquet(state_dir).select("key", "weight", "priority")
    top = state.orderBy("priority", "key").limit(k)
    w = Window.orderBy("priority", "key")
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))
