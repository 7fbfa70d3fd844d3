"""The flagship plan: event log → per-project SU-hour invoice.

Reference pipeline (billing.py:116-224 + model.py:90-156) re-expressed as
one declarative DAG:

    events → trigger state (CASE)
      → window lead() sessionization                (1 shuffle: hash by id)
      → join instance dim: deleted_at, project,     (broadcast; the dim's
        SU type, SU count                            one read)
      → end the interval holding deleted_at there   (projection)
      → clamped overlap vs [start,end) and outages  (projection, no join)
      → per-instance sum, dim columns carried       (reuses the id
                                                     partitioning)
      → ceil hours per instance                     (reference ceil-before-sum,
                                                     billing.py:147, §2.11 #1)
      → groupBy(project, su_type) sum               (1 shuffle)
      → rate from a literal map of the rate card    (no join)
      → decimal cost, HALF_UP round

Scale: the two shuffles are both on high-cardinality keys (instance id,
then project) — no driver-side loops over data and no Python UDFs. The
rate card, like the outages, is a handful of driver-side values: it is
collected (a local relation, so no job) and folded into the projection
instead of joined.
"""

from __future__ import annotations

from datetime import datetime
from typing import Iterable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.functions.money import round_money
from openstack_billing_from_db_spark.functions.su import service_unit_columns
from openstack_billing_from_db_spark.operators.intervals import ceil_hours
from openstack_billing_from_db_spark.operators.sessionize import (
    DEFAULT_TRIGGER_STATES,
    build_state_intervals,
    end_at_deletion,
    map_event_states,
    state_micros_in_window,
)
from openstack_billing_from_db_spark.sources.rates import rates_df


def _runtime(
    actions: DataFrame,
    window_start: datetime,
    window_end: datetime,
    instances: DataFrame | None,
    how: str,
    outages: Iterable[tuple[datetime, datetime]],
    trigger_states: Mapping[str, str],
    message_col: str | None,
) -> DataFrame:
    """``instance_runtime`` with the dimension join type as a parameter."""
    intervals = build_state_intervals(
        map_event_states(actions, trigger_states=trigger_states, message_col=message_col)
    )
    keys = ["instance_uuid"]
    if instances is not None:
        carried = [c for c in instances.columns if c not in ("uuid", "deleted_at")]
        dim = instances.select(
            F.col("uuid").alias("instance_uuid"),
            F.unix_micros(F.col("deleted_at").cast("timestamp")).alias("deleted_us"),
            *carried,
        )
        # broadcast: the intervals keep their id partitioning into the
        # per-instance aggregate (an inner join could otherwise build on them)
        intervals = end_at_deletion(intervals.join(F.broadcast(dim), "instance_uuid", how))
        keys += carried
    return state_micros_in_window(
        intervals, window_start, window_end, outages=outages, keys=keys
    )


def instance_runtime(
    actions: DataFrame,
    window_start: datetime,
    window_end: datetime,
    *,
    instances: DataFrame | None = None,
    outages: Iterable[tuple[datetime, datetime]] = (),
    trigger_states: Mapping[str, str] = DEFAULT_TRIGGER_STATES,
    message_col: str | None = "message",
) -> DataFrame:
    """(instance_uuid, running_us, stopped_us) within the window.

    ``instances`` (keyed by ``uuid``) ends each instance's runtime at its
    ``deleted_at``; its other columns are carried through the
    per-instance aggregation, after ``instance_uuid``. It is left-joined:
    an instance missing from it keeps its runtime, with nulls there.
    """
    return _runtime(
        actions,
        window_start,
        window_end,
        instances,
        "left",
        outages,
        trigger_states,
        message_col,
    )


def _card_lookup(rates: DataFrame, value: str) -> Column:
    """The rate card's ``value`` column keyed by ``su_type``, as a literal
    map: the card is collected on the driver (``rates_df`` is a local
    relation, so this runs no job) and folded into the projection instead
    of joined. Values keep the card's type, so a decimal rate prices
    exactly as a joined one (the literals are the values' exact strings,
    cast once). Null for an ``su_type`` the card lacks; a duplicate
    ``service_unit_type`` fails the plan (duplicate map key)."""
    dtype = rates.schema[value].dataType.simpleString()
    card = rates.select("service_unit_type", value).collect()
    if not card:
        raise ValueError("empty rate card: no service unit could be priced")
    literals = F.create_map(*[F.lit(str(x)) for row in card for x in row])
    return literals.cast(f"map<string,{dtype}>")[F.col("su_type")]


def nova_invoice(
    actions: DataFrame,
    instance_dim: DataFrame,
    rates: DataFrame,
    window_start: datetime,
    window_end: datetime,
    *,
    outages: Iterable[tuple[datetime, datetime]] = (),
    include_stopped_runtime: bool = True,
    trigger_states: Mapping[str, str] = DEFAULT_TRIGGER_STATES,
    message_col: str | None = "message",
) -> DataFrame:
    """Long-format invoice: (project_id, su_type, su_hours, rate, cost).

    ``instance_dim`` columns: uuid, project_id, su_type, service_units,
    deleted_at (see ``su_instance_dim``); instances missing from it are
    not billed, nor are SU types missing from ``rates``. The reference's
    six ``*_su_hours`` accumulator attributes (billing.py:105-113) become
    a single ``su_type`` value column — grouped sum instead of attribute
    dispatch.
    """
    runtime = _runtime(
        actions,
        window_start,
        window_end,
        instance_dim.select("uuid", "deleted_at", "project_id", "su_type", "service_units"),
        "inner",
        outages,
        trigger_states,
        message_col,
    )
    billed_us = F.col("running_us") + (
        F.col("stopped_us") if include_stopped_runtime else F.lit(0)
    )
    # ceil per instance BEFORE the grouped sum (billing.py:147-153) —
    # non-associative, so ordering is part of the semantics (§2.11 #1)
    per_instance = (
        runtime.select(
            "project_id",
            "su_type",
            "service_units",
            ceil_hours(billed_us).alias("runtime_hours"),
        )
        .filter(F.col("runtime_hours") > 0)
        .select(
            "project_id",
            "su_type",
            (F.col("runtime_hours") * F.col("service_units")).cast("long").alias("su_hours"),
        )
    )

    grouped = (
        per_instance.groupBy("project_id", "su_type")
        .agg(F.sum("su_hours").alias("su_hours"))
        .filter(F.col("su_hours") > 0)  # emit-only-positive (billing.py:204)
    )
    rate = _card_lookup(rates, "rate")
    return grouped.filter(rate.isNotNull()).select(
        "project_id",
        "su_type",
        "su_hours",
        rate.cast("double").alias("rate"),
        round_money(rate * F.col("su_hours")).cast("double").alias("cost"),
    )


def invoice_csv_rows(
    invoice: DataFrame,
    rates: DataFrame,
    *,
    invoice_month: str,
    window_start: datetime,
    window_end: datetime,
    generated_at: str,
    cluster_name: str = "stack",
) -> DataFrame:
    """The 16-column CSV projection (reference billing.py:167-224):
    constants + UTC-stamped window bounds + per-(project, SU) facts."""
    from datetime import timezone

    start_iso = window_start.replace(tzinfo=timezone.utc).isoformat()
    end_iso = window_end.replace(tzinfo=timezone.utc).isoformat()
    su_name = _card_lookup(rates, "su_name")
    return invoice.filter(su_name.isNotNull()).select(
        F.lit(invoice_month).alias("Invoice Month"),
        F.lit(start_iso).alias("Report Start Time"),
        F.lit(end_iso).alias("Report End Time"),
        F.col("project_id").alias("Project - Allocation"),
        F.col("project_id").alias("Project - Allocation ID"),
        F.lit("").alias("Manager (PI)"),
        F.lit(cluster_name).alias("Cluster Name"),
        F.lit("").alias("Invoice Email"),
        F.lit("").alias("Invoice Address"),
        F.lit("").alias("Institution"),
        F.lit("N/A").alias("Institution - Specific Code"),
        F.col("su_hours").alias("SU Hours (GBhr or SUhr)"),
        su_name.alias("SU Type"),
        F.col("rate").alias("Rate"),
        F.col("cost").alias("Cost"),
        F.lit(generated_at).alias("Generated At"),
    )


def su_instance_dim(instances: DataFrame) -> DataFrame:
    """The 7-column SU dimension (uuid, project_id, su_type, gpu_count,
    service_units, quarantine, deleted_at) from instance rows carrying
    uuid, project_id, pci_requests, vcpus, memory_mb and deleted_at."""
    su_type, gpu_count, service_units, quarantine = service_unit_columns(
        "pci_requests", "vcpus", "memory_mb"
    )
    return instances.select(
        "uuid",
        "project_id",
        su_type.alias("su_type"),
        gpu_count.alias("gpu_count"),
        service_units.alias("service_units"),
        quarantine.alias("quarantine"),
        "deleted_at",
    )


def nova_instance_dim(
    instances: DataFrame,
    instance_extra: DataFrame | None,
    window_start: datetime,
    *,
    fail_on_quarantine: bool = False,
) -> DataFrame:
    """Ingest parity for real Nova-shaped tables (reference model.py:224-293):

    - liveness filter ``deleted_at > start OR deleted = 0`` (model.py:240-244,
      P2) on proper timestamps instead of SQLite ISO-string comparison;
    - ``instances ⟕ instance_extra`` left equi-join (model.py:238-239, J1);
    - pci_requests JSON parse + SU-type derivation (F1-F7), with the
      reference's raise-paths (multi-entry pci, unsupported alias incl. the
      'a2' quirk, SURVEY.md §2.11 #2) surfaced as a ``quarantine`` column —
      a bad row must not kill a 100 TB job unless the caller asks it to.
    """
    live = instances.filter(
        (F.col("deleted_at") > F.lit(window_start)) | (F.col("deleted") == 0)
    )
    if instance_extra is not None:
        joined = live.join(
            instance_extra,
            live.uuid == instance_extra.instance_uuid,
            "left",
        ).drop("instance_uuid")
    else:
        joined = live.withColumn("pci_requests", F.lit(None).cast("string"))
    dim = su_instance_dim(joined)
    if fail_on_quarantine:
        bad = dim.filter(F.col("quarantine").isNotNull())
        first = bad.select("uuid", "quarantine").take(1)
        if first:
            raise ValueError(
                f"quarantined instance {first[0].uuid}: {first[0].quarantine}"
            )
    return dim


# --- driver-testdata adapter ------------------------------------------------

# FIXTURES.md §1.6 mapping of /root/testdata events.parquet onto the Nova
# model: user_id → instance, ts → created_at, event_type → state trigger.
TESTDATA_TRIGGERS: Mapping[str, str] = {
    "signup": "Running",
    "click": "Running",
    "purchase": "Stopped",
    "view": "Shelved",
    "error": "Error",
}
TESTDATA_WINDOW = (datetime(2024, 1, 1), datetime(2024, 2, 1))
GPU_ALIAS_CYCLE = ("V100", "A100", "A100-SXM4", "K80")


def testdata_billing_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(actions, instance_dim) derived deterministically from events.parquet.

    The synthetic flavor/pci attributes are pure functions of user_id so
    the DuckDB oracle can mirror them exactly; pci_requests is a real JSON
    string round-tripped through from_json to exercise F1-F6.
    """
    from openstack_billing_from_db_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    actions = ev.select(
        F.col("user_id").alias("instance_uuid"),
        F.col("ts").alias("created_at"),
        F.col("event_type").alias("action"),
    )
    uid = F.col("user_id")
    is_gpu = uid % 7 == 0
    alias_idx = (F.expr("user_id div 7") % 4).cast("int")
    pci_json = F.concat(
        F.lit('[{"count": "'),
        ((uid % 3) + 1).cast("string"),
        F.lit('", "alias_name": "'),
        F.element_at(F.array(*[F.lit(a) for a in GPU_ALIAS_CYCLE]), alias_idx + 1),
        F.lit('"}]'),
    )
    base = ev.select("user_id").distinct().select(
        uid.alias("uuid"),
        F.concat(F.lit("proj_"), (uid % 5).cast("string")).alias("project_id"),
        ((uid % 8) + 1).cast("int").alias("vcpus"),
        (4096 * ((uid % 4) + 1)).cast("int").alias("memory_mb"),
        F.when(is_gpu, pci_json).otherwise(F.lit(None).cast("string")).alias("pci_requests"),
        F.lit(None).cast("timestamp").alias("deleted_at"),
    )
    return actions, su_instance_dim(base)


def testdata_invoice(
    spark: SparkSession,
    sf_dir: str,
    *,
    outages: Iterable[tuple[datetime, datetime]] = (),
    include_stopped_runtime: bool = True,
) -> DataFrame:
    actions, dim = testdata_billing_tables(spark, sf_dir)
    return nova_invoice(
        actions,
        dim,
        rates_df(spark),
        *TESTDATA_WINDOW,
        outages=outages,
        include_stopped_runtime=include_stopped_runtime,
        trigger_states=TESTDATA_TRIGGERS,
        message_col=None,
    )
