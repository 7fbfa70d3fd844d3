"""Rates dimension (reference billing.py:19-35, main.py:174-202).

The reference models rates as six Decimal attributes on a dataclass and
"joins" them via dynamic attribute lookup (billing.py:198-201). Here the
rate card is a 6-row long-format dimension DataFrame keyed by
``service_unit_type`` — the type is a value, not six columns. It is a
local relation, so the invoice plan reads it back on the driver without
a job and folds it into literal lookups (plans/billing.py).

Example production rates from reference tools/pod.yaml:24-29.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from openstack_billing_from_db_spark.functions.sql import sql_string
from openstack_billing_from_db_spark.schemas import RATES

# (service_unit_type, display name, $/SU-hr) — display names from
# reference billing.py:30-35; example rates from tools/pod.yaml:24-29.
DEFAULT_RATE_CARD: list[tuple[str, str, str]] = [
    ("cpu", "OpenStack CPU", "0.013"),
    ("gpu_a100sxm4", "OpenStack GPUA100SXM4", "2.078"),
    ("gpu_a100", "OpenStack GPUA100", "1.803"),
    ("gpu_v100", "OpenStack GPUV100", "1.214"),
    ("gpu_k80", "OpenStack GPUK80", "0.463"),
    ("gpu_a2", "OpenStack GPUA2", "0.463"),
]


def default_rates() -> list[tuple[str, str, Decimal]]:
    return [(t, n, Decimal(r)) for t, n, r in DEFAULT_RATE_CARD]


def rates_df(spark: SparkSession, card: list[tuple[str, str, Decimal]] | None = None) -> DataFrame:
    """The card (default: ``DEFAULT_RATE_CARD``) as a ``VALUES`` relation
    with the ``RATES`` schema. A local relation, unlike
    ``createDataFrame(list)``: collecting it runs no job, and no Python
    worker is forked to serialize its rows. An empty card is refused."""
    if card is None:
        card = default_rates()
    elif not card:
        raise ValueError("empty rate card: no service unit could be priced")
    rate_type = RATES["rate"].dataType.simpleString()
    rows = ", ".join(
        f"({sql_string(su_type)}, {sql_string(su_name)},"
        f" CAST({Decimal(rate):f}BD AS {rate_type}))"
        for su_type, su_name, rate in card
    )
    names = ", ".join(f.name for f in RATES.fields)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS rates({names})")


# the reference's rate names (main.py:178-189) keyed by our su_type values
RATE_NAME_BY_SU_TYPE: list[tuple[str, str, str]] = [
    ("cpu", "OpenStack CPU", "CPU SU Rate"),
    ("gpu_a100sxm4", "OpenStack GPUA100SXM4", "GPUA100SXM4 SU Rate"),
    ("gpu_a100", "OpenStack GPUA100", "GPUA100 SU Rate"),
    ("gpu_v100", "OpenStack GPUV100", "GPUV100 SU Rate"),
    ("gpu_k80", "OpenStack GPUK80", "GPUK80 SU Rate"),
    ("gpu_a2", "OpenStack GPUA2", "GPUA2 SU Rate"),
]

# public rate-card repo the reference's nerc-rates dependency reads
DEFAULT_RATES_URL = (
    "https://raw.githubusercontent.com/nerc-project/nerc-rates/main/rates.yaml"
)


def parse_rate_card(yaml_text: str) -> dict[str, list[dict]]:
    """nerc-rates rates.yaml: a list of ``{name, history: [{value, from,
    until?}]}`` entries; returns name → history list."""
    import yaml

    doc = yaml.safe_load(yaml_text)
    # the repo wraps the list in a top-level `rates:` key; accept both
    entries = doc["rates"] if isinstance(doc, dict) else doc
    return {e["name"]: e["history"] for e in entries}

def rate_value_at(card: dict[str, list[dict]], name: str, invoice_month: str) -> str:
    """The value whose [from, until] month range contains invoice_month
    (YYYY-MM strings compare lexicographically)."""
    for h in card.get(name, ()):
        lo = str(h.get("from", "0000-00"))
        hi = str(h.get("until", "9999-99"))
        if lo <= invoice_month <= hi:
            return str(h["value"])
    raise KeyError(f"no rate {name!r} effective in {invoice_month}")


def fetch_rate_card(
    invoice_month: str,
    *,
    url: str = DEFAULT_RATES_URL,
    fetcher=None,
) -> tuple[list[tuple[str, str, Decimal]], bool]:
    """(rate card, include_stopped_runtime) for the invoice month —
    the reference's nerc-rates path (main.py:174-192). ``fetcher(url) ->
    str`` is injectable; the default uses urllib (driver-side, one tiny
    document)."""
    if fetcher is None:
        def fetcher(u: str) -> str:
            from urllib.request import urlopen

            with urlopen(u, timeout=30) as resp:  # noqa: S310 - https rate card
                return resp.read().decode("utf-8")

    card = parse_rate_card(fetcher(url))
    rates = [
        (su_type, display, Decimal(rate_value_at(card, rate_name, invoice_month)))
        for su_type, display, rate_name in RATE_NAME_BY_SU_TYPE
    ]
    stopped_raw = rate_value_at(card, "Charge for Stopped Instances", invoice_month)
    include_stopped = str(stopped_raw).strip().lower() in ("true", "1", "yes")
    return rates, include_stopped

