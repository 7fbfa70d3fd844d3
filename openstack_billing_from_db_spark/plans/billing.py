"""The flagship plan: event log → per-project SU-hour invoice.

Reference pipeline (billing.py:116-224 + model.py:90-156) re-expressed as
one declarative DAG:

    events → drop events at or after the latest     (pushed into the scan;
        end of the window and the outages            invoice only, exact)
      → trigger state (CASE)
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

The invoice reads only the history it can see: no billed term ends after
the latest end ``hi`` of the window and the outages, so events at or
after ``hi`` are dropped before the shuffle and the window sort, and on a
TIMESTAMP parquet column the predicate prunes row groups at the scan.
``instance_runtime`` keeps every event: it emits zero-runtime rows,
which the pruning would delete.

Every expression is SQL text, defined once by the helpers in
``operators/`` and ``functions/`` and applied with ``selectExpr`` /
``where``. Building the plan is then a few py4j round trips per
DataFrame step instead of several per ``F.*`` call: an invoice plan
(dimension, invoice, CSV rows) costs about 200 round trips, not 2,500.
The steps stay separate DataFrame calls on purpose — ``spark.sql`` over
the inputs would register a temporary view per input and analyse the
whole text again, for no saving.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.functions.money import round_money
from openstack_billing_from_db_spark.functions.sql import sql_string
from openstack_billing_from_db_spark.functions.su import service_unit_columns
from openstack_billing_from_db_spark.operators.intervals import ceil_hours, timestamp_sql, to_micros
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
    carried: Sequence[str],
    how: str,
    outages: Iterable[tuple[datetime, datetime]],
    trigger_states: Mapping[str, str],
    message_col: str | None,
) -> DataFrame:
    """``instance_runtime`` with the carried dimension columns and the
    dimension join type as parameters."""
    intervals = build_state_intervals(
        map_event_states(actions, trigger_states=trigger_states, message_col=message_col)
    )
    keys = ["instance_uuid"]
    if instances is not None:
        dim = instances.selectExpr(
            "uuid AS instance_uuid",
            "unix_micros(CAST(deleted_at AS TIMESTAMP)) AS deleted_us",
            *[f"`{c}`" for c in carried],
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
    carried = [] if instances is None else [
        c for c in instances.columns if c not in ("uuid", "deleted_at")
    ]
    return _runtime(
        actions,
        window_start,
        window_end,
        instances,
        carried,
        "left",
        outages,
        trigger_states,
        message_col,
    )


def _card_lookup(rates: DataFrame, value: str) -> str:
    """The rate card's ``value`` column keyed by ``su_type``, as a literal
    map: the card is collected on the driver (``rates_df`` is a local
    relation, so this runs no job) and folded into the projection instead
    of joined. Values keep the card's type, so a decimal rate prices
    exactly as a joined one (the literals are the values' exact strings,
    cast once). Null for an ``su_type`` the card lacks; a duplicate
    ``service_unit_type`` fails the plan (duplicate map key)."""
    dtype = rates.schema[value].dataType.simpleString()
    card = rates.collect()
    if not card:
        raise ValueError("empty rate card: no service unit could be priced")
    entries = ", ".join(
        f"{sql_string(str(row.service_unit_type))}, {sql_string(str(row[value]))}" for row in card
    )
    return f"CAST(map({entries}) AS map<string,{dtype}>)[su_type]"


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

    Events at or after ``hi``, the latest end of the window and of every
    outage, are dropped before the sessionizing shuffle (and pushed into
    the scan). That is exact: every billed term ends at or before ``hi``,
    so an interval starting there overlaps none; the interval straddling
    ``hi`` is clamped there either way, and so is a ``deleted_at`` at or
    after it. An instance left without events has zero hours, which
    billing drops anyway. A null ``created_at`` is kept (it is billed
    from the window start).
    """
    outages = tuple(outages)
    hi = max(to_micros(t) for t in (window_end, *(end for _, end in outages)))
    actions = actions.where(
        f"created_at IS NULL OR CAST(created_at AS TIMESTAMP) < timestamp_micros({hi}L)"
    )
    runtime = _runtime(
        actions,
        window_start,
        window_end,
        instance_dim,
        ["project_id", "su_type", "service_units"],
        "inner",
        outages,
        trigger_states,
        message_col,
    )
    # ceil per instance BEFORE the grouped sum (billing.py:147-153) —
    # non-associative, so ordering is part of the semantics (§2.11 #1)
    hours = ceil_hours("running_us + stopped_us" if include_stopped_runtime else "running_us")
    billed = runtime.where(f"{hours} > 0")
    rate = _card_lookup(rates, "rate")
    return (
        # resolved columns: one py4j call each, where a name costs three
        billed.groupBy(billed["project_id"], billed["su_type"])
        .agg(F.expr(f"sum(CAST({hours} * service_units AS BIGINT)) AS su_hours"))
        # emit-only-positive (billing.py:204)
        .where(f"su_hours > 0 AND {rate} IS NOT NULL")
        .selectExpr(
            "project_id",
            "su_type",
            "su_hours",
            f"CAST({rate} AS DOUBLE) AS rate",
            f"CAST({round_money(f'{rate} * su_hours')} AS DOUBLE) AS cost",
        )
    )


def _utc_iso(t: datetime) -> str:
    """``t`` in UTC as ISO text; naive means UTC, as in ``to_micros``."""
    utc = t.replace(tzinfo=timezone.utc) if t.tzinfo is None else t.astimezone(timezone.utc)
    return utc.isoformat()


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
    su_name = _card_lookup(rates, "su_name")
    columns = [
        (sql_string(invoice_month), "Invoice Month"),
        (sql_string(_utc_iso(window_start)), "Report Start Time"),
        (sql_string(_utc_iso(window_end)), "Report End Time"),
        ("project_id", "Project - Allocation"),
        ("project_id", "Project - Allocation ID"),
        ("''", "Manager (PI)"),
        (sql_string(cluster_name), "Cluster Name"),
        ("''", "Invoice Email"),
        ("''", "Invoice Address"),
        ("''", "Institution"),
        ("'N/A'", "Institution - Specific Code"),
        ("su_hours", "SU Hours (GBhr or SUhr)"),
        (su_name, "SU Type"),
        ("rate", "Rate"),
        ("cost", "Cost"),
        (sql_string(generated_at), "Generated At"),
    ]
    return invoice.where(f"{su_name} IS NOT NULL").selectExpr(
        *[f"{expr} AS `{name}`" for expr, name in columns]
    )


def su_instance_dim(instances: DataFrame) -> DataFrame:
    """The 7-column SU dimension (uuid, project_id, su_type, gpu_count,
    service_units, quarantine, deleted_at) from instance rows carrying
    uuid, project_id, pci_requests, vcpus, memory_mb and deleted_at."""
    su_type, gpu_count, service_units, quarantine = service_unit_columns(
        "pci_requests", "vcpus", "memory_mb"
    )
    return instances.selectExpr(
        "uuid",
        "project_id",
        f"{su_type} AS su_type",
        f"{gpu_count} AS gpu_count",
        f"{service_units} AS service_units",
        f"{quarantine} AS quarantine",
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
      P2) on proper timestamps instead of SQLite ISO-string comparison,
      with a naive ``window_start`` meaning UTC;
    - ``instances ⟕ instance_extra`` left equi-join (model.py:238-239, J1);
    - pci_requests JSON parse + SU-type derivation (F1-F7), with the
      reference's raise-paths (multi-entry pci, unsupported alias incl. the
      'a2' quirk, SURVEY.md §2.11 #2) surfaced as a ``quarantine`` column —
      a bad row must not kill a 100 TB job unless the caller asks it to.
    """
    live = instances.where(f"deleted_at > {timestamp_sql(window_start)} OR deleted = 0")
    if instance_extra is not None:
        joined = live.join(
            instance_extra.selectExpr("instance_uuid AS uuid", "pci_requests"), "uuid", "left"
        )
    else:
        joined = live.selectExpr("*", "CAST(NULL AS STRING) AS pci_requests")
    dim = su_instance_dim(joined)
    if fail_on_quarantine:
        first = dim.where("quarantine IS NOT NULL").select("uuid", "quarantine").take(1)
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
    actions = ev.selectExpr(
        "user_id AS instance_uuid", "ts AS created_at", "event_type AS action"
    )
    aliases = ", ".join(sql_string(a) for a in GPU_ALIAS_CYCLE)
    pci_json = f"""concat('[{{"count": "', CAST(user_id % 3 + 1 AS STRING), '", "alias_name": "',
        element_at(array({aliases}), CAST((user_id div 7) % 4 AS INT) + 1), '"}}]')"""
    base = ev.select("user_id").distinct().selectExpr(
        "user_id AS uuid",
        "concat('proj_', CAST(user_id % 5 AS STRING)) AS project_id",
        "CAST(user_id % 8 + 1 AS INT) AS vcpus",
        "CAST(4096 * (user_id % 4 + 1) AS INT) AS memory_mb",
        f"CASE WHEN user_id % 7 = 0 THEN {pci_json} END AS pci_requests",
        "CAST(NULL AS TIMESTAMP) AS deleted_at",
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
