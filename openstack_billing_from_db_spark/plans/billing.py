"""The flagship plan: event log → per-project SU-hour invoice.

Reference pipeline (billing.py:116-224 + model.py:90-156) re-expressed as
one declarative DAG:

    events ∪ synthetic-deletes
      → window lag/lead sessionization              (1 shuffle: hash by id)
      → clamped overlap vs [start,end) and outages  (projection, no join)
      → ceil hours per instance                     (reference ceil-before-sum,
                                                     billing.py:147, §2.11 #1)
      → join instance dim (project, flavor, SU)     (co-keyed on id)
      → groupBy(project, su_type) sum               (1 shuffle)
      → broadcast join 6-row rates dim              (no shuffle)
      → decimal cost, HALF_UP round

Scale: the two shuffles are both on high-cardinality keys (instance id,
then project) — no driver-side loops, no collect, no Python UDFs. The
rates join is an explicit broadcast. At 100 TB the events scan partitions
by file; everything downstream is pipelined per AQE.
"""

from __future__ import annotations

from datetime import datetime
from typing import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.functions.money import round_money
from openstack_billing_from_db_spark.functions.su import service_unit_columns
from openstack_billing_from_db_spark.operators.intervals import ceil_hours
from openstack_billing_from_db_spark.operators.sessionize import (
    DEFAULT_TRIGGER_STATES,
    build_state_intervals,
    map_event_states,
    state_micros_in_window,
    with_synthetic_deletes,
)
from openstack_billing_from_db_spark.sources.rates import rates_df


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
    """(instance_uuid, running_us, stopped_us) within the window."""
    states = map_event_states(
        actions, trigger_states=trigger_states, message_col=message_col
    )
    if instances is not None:
        states = with_synthetic_deletes(states, instances)
    return state_micros_in_window(
        build_state_intervals(states), window_start, window_end, outages=outages
    )


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
    deleted_at (see ``su_instance_dim``). The reference's six
    ``*_su_hours`` accumulator attributes (billing.py:105-113) become a
    single ``su_type`` value column — grouped sum instead of attribute
    dispatch.
    """
    runtime = instance_runtime(
        actions,
        window_start,
        window_end,
        instances=instance_dim,
        outages=outages,
        trigger_states=trigger_states,
        message_col=message_col,
    )
    billed_us = F.col("running_us") + (
        F.col("stopped_us") if include_stopped_runtime else F.lit(0)
    )
    # ceil per instance BEFORE the grouped sum (billing.py:147-153) —
    # non-associative, so ordering is part of the semantics (§2.11 #1)
    hours = runtime.select(
        "instance_uuid", ceil_hours(billed_us).alias("runtime_hours")
    ).filter(F.col("runtime_hours") > 0)

    per_instance = hours.join(
        instance_dim.select(
            F.col("uuid").alias("instance_uuid"), "project_id", "su_type", "service_units"
        ),
        "instance_uuid",
    ).select(
        "project_id",
        "su_type",
        (F.col("runtime_hours") * F.col("service_units")).cast("long").alias("su_hours"),
    )

    grouped = (
        per_instance.groupBy("project_id", "su_type")
        .agg(F.sum("su_hours").alias("su_hours"))
        .filter(F.col("su_hours") > 0)  # emit-only-positive (billing.py:204)
    )
    return (
        grouped.join(
            F.broadcast(rates), grouped.su_type == rates.service_unit_type, "inner"
        )
        .select(
            "project_id",
            "su_type",
            "su_hours",
            F.col("rate").cast("double").alias("rate"),
            round_money(F.col("rate") * F.col("su_hours")).cast("double").alias("cost"),
        )
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
    return invoice.join(
        F.broadcast(rates.select("service_unit_type", "su_name")),
        invoice.su_type == F.col("service_unit_type"),
    ).select(
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
        F.col("su_name").alias("SU Type"),
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
