"""Billing-domain registry entries (SURVEY.md §2.3-2.5, §2.8-2.9).

Oracle SQL strings are f-string-generated from the same constants the
Spark plans use — one source of truth for windows, rates, and mappings.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from openstack_billing_from_db_spark.operators.intervals import TS_MAX_US, to_micros
from openstack_billing_from_db_spark.plans.billing import (
    TESTDATA_TRIGGERS,
    TESTDATA_WINDOW,
    instance_runtime,
    testdata_billing_tables,
    testdata_invoice,
)
from openstack_billing_from_db_spark.registry import register
from openstack_billing_from_db_spark.sources.rates import DEFAULT_RATE_CARD

W0 = to_micros(TESTDATA_WINDOW[0])
W1 = to_micros(TESTDATA_WINDOW[1])
HOUR_US = 3_600_000_000

TESTDATA_OUTAGES = [
    (datetime(2024, 1, 5, 6), datetime(2024, 1, 5, 18)),
    (datetime(2024, 1, 10), datetime(2024, 1, 12)),
]

_STATE_CASE = "CASE event_type " + " ".join(
    f"WHEN '{k}' THEN '{v}'" for k, v in TESTDATA_TRIGGERS.items()
) + " END"

# dim derivation (plans/billing.py testdata_billing_tables) in SQL
_DIM_SQL = """
  SELECT uuid,
         'proj_' || CAST(uuid % 5 AS VARCHAR) AS project_id,
         CASE WHEN uuid % 7 = 0 THEN
            CASE CAST((uuid // 7) % 4 AS INTEGER)
              WHEN 0 THEN 'gpu_v100' WHEN 1 THEN 'gpu_a100'
              WHEN 2 THEN 'gpu_a100sxm4' ELSE 'gpu_k80' END
          ELSE 'cpu' END AS su_type,
         CAST(CASE WHEN uuid % 7 = 0 THEN (uuid % 3) + 1
              ELSE greatest((uuid % 8) + 1, (uuid % 4) + 1) END AS INTEGER)
           AS service_units
  FROM (SELECT DISTINCT user_id AS uuid FROM events)
"""

_RATES_SQL = "(VALUES " + ", ".join(
    f"('{t}', CAST({r} AS DECIMAL(10,4)))" for t, _, r in DEFAULT_RATE_CARD
) + ")"


def _iv_sql() -> str:
    """Interval CTE: trigger events → state intervals (lead over id,ts)."""
    return f"""
  SELECT instance_uuid, state, epoch_us(ts) AS start_us,
         coalesce(lead(epoch_us(ts)) OVER (PARTITION BY instance_uuid ORDER BY ts),
                  {TS_MAX_US}) AS end_us
  FROM (
    SELECT user_id AS instance_uuid, ts, {_STATE_CASE} AS state FROM events
  ) WHERE state IS NOT NULL
"""


def _rt_sql(outages: list[tuple[datetime, datetime]] = ()) -> str:
    """Runtime CTE: Σ clamped overlaps (− outage overlaps) per state."""
    net = f"greatest(0, least(end_us, {W1}) - greatest(start_us, {W0}))"
    for o_start, o_end in outages:
        o0, o1 = to_micros(o_start), to_micros(o_end)
        net += f" - greatest(0, least(end_us, {o1}) - greatest(start_us, {o0}))"
    return f"""
  SELECT instance_uuid,
         CAST(sum(CASE WHEN state = 'Running' THEN {net} ELSE 0 END) AS BIGINT) AS running_us,
         CAST(sum(CASE WHEN state = 'Stopped' THEN {net} ELSE 0 END) AS BIGINT) AS stopped_us
  FROM iv GROUP BY instance_uuid
"""


@register(
    "q01_billing_invoice",
    oracle=f"""
WITH iv AS ({_iv_sql()}),
rt AS ({_rt_sql()}),
hrs AS (
  SELECT instance_uuid,
         (running_us + stopped_us + {HOUR_US - 1}) // {HOUR_US} AS runtime_hours
  FROM rt
),
dim AS ({_DIM_SQL}),
grouped AS (
  SELECT d.project_id, d.su_type,
         CAST(sum(h.runtime_hours * d.service_units) AS BIGINT) AS su_hours
  FROM hrs h JOIN dim d ON h.instance_uuid = d.uuid
  WHERE h.runtime_hours > 0
  GROUP BY d.project_id, d.su_type
  HAVING sum(h.runtime_hours * d.service_units) > 0
)
SELECT g.project_id, g.su_type, g.su_hours,
       CAST(r.rate AS DOUBLE) AS rate,
       CAST(round(r.rate * g.su_hours, 2) AS DOUBLE) AS cost
FROM grouped g JOIN {_RATES_SQL} AS r(service_unit_type, rate)
  ON g.su_type = r.service_unit_type
""",
)
def q01_billing_invoice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: events → sessionize → ceil SU-hours → priced invoice.
    Exercises S1, E1-E6, A2-A3, F7, F11-F13, J4, P4 in one DAG."""
    return testdata_invoice(spark, sf_dir)


@register(
    "q02_instance_runtime",
    oracle=f"WITH iv AS ({_iv_sql()}) SELECT * FROM ({_rt_sql()})",
)
def q02_instance_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-instance Running/Stopped time in the window (E1-E6, A3)."""
    actions, _ = testdata_billing_tables(spark, sf_dir)
    return instance_runtime(
        actions,
        *TESTDATA_WINDOW,
        trigger_states=TESTDATA_TRIGGERS,
        message_col=None,
    )


@register(
    "q03_runtime_outage_excluded",
    oracle=f"WITH iv AS ({_iv_sql()}) SELECT * FROM ({_rt_sql(TESTDATA_OUTAGES)})",
)
def q03_runtime_outage_excluded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime minus two outage intervals (J5, A4) — interval-overlap
    subtraction as inline column math, no join."""
    actions, _ = testdata_billing_tables(spark, sf_dir)
    return instance_runtime(
        actions,
        *TESTDATA_WINDOW,
        outages=TESTDATA_OUTAGES,
        trigger_states=TESTDATA_TRIGGERS,
        message_col=None,
    )


@register("q04_state_intervals", oracle=f"SELECT * FROM ({_iv_sql()})")
def q04_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-independent state intervals themselves (E1-E4) —
    computed once, reusable for any billing window."""
    from openstack_billing_from_db_spark.operators.sessionize import (
        build_state_intervals,
        map_event_states,
    )

    actions, _ = testdata_billing_tables(spark, sf_dir)
    states = map_event_states(
        actions, trigger_states=TESTDATA_TRIGGERS, message_col=None
    )
    return build_state_intervals(states)


@register("q04b_state_intervals_bucketed", oracle=f"SELECT * FROM ({_iv_sql()})")
def q04b_state_intervals_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-resistant two-pass sessionizer (bounded per-partition
    sorts + boundary stitching) — verified against the SAME oracle as the
    single-pass q04: identical intervals by construction."""
    from openstack_billing_from_db_spark.operators.sessionize import (
        build_state_intervals_bucketed,
        map_event_states,
    )

    actions, _ = testdata_billing_tables(spark, sf_dir)
    states = map_event_states(
        actions, trigger_states=TESTDATA_TRIGGERS, message_col=None
    )
    return build_state_intervals_bucketed(states)


@register("q05_su_catalog", oracle=f"SELECT * FROM ({_DIM_SQL})")
def q05_su_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instance dimension: distinct ids (A1), JSON pci parse (F1-F6),
    SU formula (F7)."""
    _, dim = testdata_billing_tables(spark, sf_dir)
    return dim.select("uuid", "project_id", "su_type", "service_units")


# --- q06: synthetic deleted_at (E3) + liveness filter (P2) ------------------

# deterministic deleted_at assignment mirroring the Nova deleted lifecycle:
# every 13th instance was deleted before the window (liveness-filtered
# out), every 11th mid-window (synthetic Deleted transition, E3)
_DELETED_MID = datetime(2024, 1, 20)
_DELETED_BEFORE = datetime(2023, 12, 15)


@register(
    "q06_runtime_with_deletes",
    oracle=f"""
WITH live AS (
  -- liveness predicate (reference model.py:240-244): deleted_at > window
  -- start OR not deleted
  SELECT uuid, deleted_at FROM (
    SELECT uuid,
           CASE WHEN uuid % 13 = 0 THEN TIMESTAMP '{_DELETED_BEFORE}'
                WHEN uuid % 11 = 0 THEN TIMESTAMP '{_DELETED_MID}' END AS deleted_at
    FROM (SELECT DISTINCT user_id AS uuid FROM events)
  ) WHERE deleted_at > TIMESTAMP '{TESTDATA_WINDOW[0]}' OR deleted_at IS NULL
),
ev AS (
  SELECT e.user_id AS instance_uuid, e.ts, {_STATE_CASE} AS state, 0 AS ord
  FROM events e JOIN live l ON e.user_id = l.uuid
),
aug AS (
  SELECT * FROM ev WHERE state IS NOT NULL
  UNION ALL
  SELECT uuid, deleted_at, 'Deleted', 1 FROM live WHERE deleted_at IS NOT NULL
),
iv AS (
  SELECT instance_uuid, state, epoch_us(ts) AS start_us,
         coalesce(lead(epoch_us(ts)) OVER (PARTITION BY instance_uuid ORDER BY ts, ord),
                  {TS_MAX_US}) AS end_us
  FROM aug
)
SELECT * FROM ({_rt_sql()})
""",
)
def q06_runtime_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic-deleted_at path (E3) + liveness filter (P2): every 11th
    instance is deleted mid-window; its post-delete time is not billed."""
    from pyspark.sql import functions as F

    actions, dim = testdata_billing_tables(spark, sf_dir)
    instances = dim.withColumn(
        "deleted_at",
        F.when(F.col("uuid") % 13 == 0, F.lit(_DELETED_BEFORE))
        .when(F.col("uuid") % 11 == 0, F.lit(_DELETED_MID))
        .otherwise(F.lit(None).cast("timestamp")),
    )
    live = instances.filter(
        (F.col("deleted_at") > F.lit(TESTDATA_WINDOW[0]))
        | F.col("deleted_at").isNull()
    ).select("uuid", "deleted_at")
    live_actions = actions.join(
        live.select(F.col("uuid").alias("instance_uuid")), "instance_uuid"
    )
    return instance_runtime(
        live_actions,
        *TESTDATA_WINDOW,
        instances=live,
        trigger_states=TESTDATA_TRIGGERS,
        message_col=None,
    )


@register(
    "q07_invoice_running_only",
    oracle=f"""
WITH iv AS ({_iv_sql()}),
rt AS ({_rt_sql()}),
hrs AS (
  SELECT instance_uuid, (running_us + {HOUR_US - 1}) // {HOUR_US} AS runtime_hours
  FROM rt
),
dim AS ({_DIM_SQL})
SELECT d.project_id, d.su_type,
       CAST(sum(h.runtime_hours * d.service_units) AS BIGINT) AS su_hours
FROM hrs h JOIN dim d ON h.instance_uuid = d.uuid
WHERE h.runtime_hours > 0
GROUP BY d.project_id, d.su_type
HAVING sum(h.runtime_hours * d.service_units) > 0
""",
)
def q07_invoice_running_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 conditional accumulation: include_stopped_runtime=False — only
    Running time is billed (reference billing.py:143-144)."""
    from pyspark.sql import functions as F

    inv = testdata_invoice(spark, sf_dir, include_stopped_runtime=False)
    return inv.select("project_id", "su_type", "su_hours")


@register(
    "q42_pci_quarantine",
    oracle="""
SELECT uuid,
       CASE
         WHEN uuid % 21 = 0 THEN 'multiple pci_requests entries'
         WHEN uuid % 7 = 0 AND CAST((uuid // 7) % 5 AS INTEGER) = 4
           THEN 'unsupported gpu alias: a2'
       END AS quarantine,
       CASE WHEN uuid % 21 = 0 OR (uuid % 7 = 0 AND CAST((uuid // 7) % 5 AS INTEGER) = 4)
              OR uuid % 7 != 0
            THEN 'cpu'
            ELSE 'gpu_' || replace(lower(
              CASE CAST((uuid // 7) % 5 AS INTEGER)
                WHEN 0 THEN 'V100' WHEN 1 THEN 'A100'
                WHEN 2 THEN 'A100-SXM4' WHEN 3 THEN 'K80' ELSE 'A2' END), '-', '')
       END AS su_type
FROM (SELECT DISTINCT user_id AS uuid FROM events)
""",
)
def q42_pci_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's pci raise-paths as data (SURVEY.md §2.11 #2):
    every 5th GPU alias in the cycle is 'A2' — priced by the rate card but
    rejected by the parser (model.py:203-204) — and every 3rd GPU user has
    a multi-entry pci list (model.py:199-202). Both quarantine instead of
    crashing; quarantined instances bill as CPU."""
    from pyspark.sql import functions as F

    from openstack_billing_from_db_spark.functions.su import service_unit_columns
    from openstack_billing_from_db_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id")
    alias = F.element_at(
        F.array(*[F.lit(a) for a in ("V100", "A100", "A100-SXM4", "K80", "A2")]),
        (F.expr("user_id div 7") % 5).cast("int") + 1,
    )
    single = F.concat(F.lit('[{"count": "1", "alias_name": "'), alias, F.lit('"}]'))
    multi = F.lit(
        '[{"count": "1", "alias_name": "V100"}, {"count": "1", "alias_name": "K80"}]'
    )
    base = ev.select("user_id").distinct().select(
        uid.alias("uuid"),
        F.when(uid % 21 == 0, multi)
        .when(uid % 7 == 0, single)
        .otherwise(F.lit(None).cast("string"))
        .alias("pci_requests"),
        F.lit(1).alias("vcpus"),
        F.lit(4096).alias("memory_mb"),
    )
    su_type, _gpu, _su, quarantine = service_unit_columns(
        "pci_requests", "vcpus", "memory_mb"
    )
    return base.selectExpr("uuid", f"{quarantine} AS quarantine", f"{su_type} AS su_type")


_SU_TYPES = [t for t, _, _ in DEFAULT_RATE_CARD]


@register(
    "q09_invoice_wide",
    oracle=f"""
WITH iv AS ({_iv_sql()}),
rt AS ({_rt_sql()}),
hrs AS (
  SELECT instance_uuid,
         (running_us + stopped_us + {HOUR_US - 1}) // {HOUR_US} AS runtime_hours
  FROM rt
),
dim AS ({_DIM_SQL}),
grouped AS (
  SELECT d.project_id, d.su_type,
         CAST(sum(h.runtime_hours * d.service_units) AS BIGINT) AS su_hours
  FROM hrs h JOIN dim d ON h.instance_uuid = d.uuid
  WHERE h.runtime_hours > 0
  GROUP BY d.project_id, d.su_type
)
SELECT project_id,
{",".join(f"       coalesce(CAST(sum(CASE WHEN su_type = '{t}' THEN su_hours END) AS BIGINT), 0) AS {t}_su_hours"
          for t in _SU_TYPES)}
FROM grouped GROUP BY project_id
""",
)
def q09_invoice_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's wide invoice shape — six ``*_su_hours`` accumulator
    columns per project (billing.py:67-80) — produced by pivoting the
    long-format invoice (U1 inverse; the engine is long-format internally
    and widens only at this edge)."""
    from pyspark.sql import functions as F

    inv = testdata_invoice(spark, sf_dir)
    wide = (
        inv.groupBy("project_id")
        .pivot("su_type", _SU_TYPES)
        .sum("su_hours")
    )
    for t in _SU_TYPES:
        wide = wide.withColumn(
            f"{t}_su_hours", F.coalesce(F.col(t).cast("long"), F.lit(0).cast("long"))
        ).drop(t)
    return wide


@register(
    "q08_runtime_sanity_violations",
    oracle=f"""
WITH iv AS ({_iv_sql()}), rt AS ({_rt_sql()})
SELECT instance_uuid, running_us, stopped_us FROM rt
WHERE running_us + stopped_us > {W1 - W0}
""",
)
def q08_runtime_sanity_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 sanity predicate as a data-quality query (reference
    billing.py:146 asserts runtime ≤ window length): returns violating
    rows — empty on healthy data, and the job fails on non-empty."""
    from pyspark.sql import functions as F

    actions, _ = testdata_billing_tables(spark, sf_dir)
    rt = instance_runtime(
        actions, *TESTDATA_WINDOW, trigger_states=TESTDATA_TRIGGERS, message_col=None
    )
    window_us = W1 - W0
    return rt.filter(F.col("running_us") + F.col("stopped_us") > window_us)
