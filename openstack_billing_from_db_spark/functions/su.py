"""Service-unit derivation (reference model.py:28-46, 197-283).

The reference parses the ``pci_requests`` JSON string per row with
``json.loads`` (model.py:247-254) and derives the flavor's SU type/count
imperatively. Here both are native SQL expressions — ``from_json`` plus
CASE arithmetic, returned as SQL text over column names — so they stay
inside whole-stage codegen.
"""

from __future__ import annotations

from openstack_billing_from_db_spark.schemas import PCI_REQUESTS

# reference model.py:203-204 — note "a2" is priced (billing.py:195) but
# rejected by the parser; reproduced as-is (SURVEY.md §2.11 #2).
ACCEPTED_GPU_ALIASES = ("a100", "a100-sxm4", "v100", "k80")


def parse_pci_requests(pci_col: str) -> str:
    """JSON string → array<struct<count,alias_name>>; malformed input
    parses to null, matching the reference's TypeError→warn+None path
    (model.py:247-254)."""
    return f"from_json({pci_col}, '{PCI_REQUESTS.simpleString()}')"


def service_unit_columns(pci_col: str, vcpus: str, memory_mb: str) -> tuple[str, str, str, str]:
    """Returns (su_type, gpu_count, service_units, quarantine) expressions.

    - su_type: ``gpu_{alias with '-' removed}`` (model.py:207) or ``cpu``.
    - gpu_count: ``int(pci[0]['count'])`` (model.py:206), 0 for CPU.
    - service_units: ``gpu_count or int(max(vcpus, memory/4096))``
      (model.py:41-46 — "1 CPU SU = 0 GPU, 1 CPU, 4 GB RAM").
    - quarantine: non-null error string where the reference raises —
      multiple pci entries (model.py:199-202) or an unaccepted alias
      (model.py:203-204). At scale a bad row must not kill the job;
      callers fail or divert on ``quarantine IS NOT NULL``.

    The first entry is read with ``get`` (null when the array is empty):
    under ANSI mode ``pci[0]`` raises on an empty array wherever the
    optimizer evaluates it ahead of its guard.
    """
    pci = parse_pci_requests(pci_col)
    alias = f"lower(get({pci}, 0).alias_name)"
    has_gpu = f"{pci} IS NOT NULL AND size({pci}) >= 1"
    accepted = ", ".join(f"'{a}'" for a in ACCEPTED_GPU_ALIASES)
    quarantine = (
        f"CASE WHEN {pci} IS NOT NULL AND size({pci}) > 1 THEN 'multiple pci_requests entries'"
        f" WHEN {has_gpu} AND {alias} NOT IN ({accepted})"
        f" THEN concat('unsupported gpu alias: ', {alias}) END"
    )
    billed_gpu = f"{has_gpu} AND ({quarantine}) IS NULL"
    su_type = f"CASE WHEN {billed_gpu} THEN concat('gpu_', replace({alias}, '-', '')) ELSE 'cpu' END"
    gpu_count = f"CASE WHEN {billed_gpu} THEN CAST(get({pci}, 0).`count` AS INT) ELSE 0 END"
    service_units = service_units_expr(gpu_count, vcpus, memory_mb)
    return su_type, gpu_count, service_units, quarantine


def service_units_expr(gpu_count: str, vcpus: str, memory_mb: str) -> str:
    """``gpu_count or int(max(vcpus, memory/4096))`` (model.py:41-46).
    Python ``int()`` truncates toward zero; values are non-negative so
    floor matches."""
    cpu_su = f"CAST(floor(greatest(CAST({vcpus} AS DOUBLE), CAST({memory_mb} AS DOUBLE) / 4096D)) AS INT)"
    return f"CASE WHEN {gpu_count} > 0 THEN {gpu_count} ELSE {cpu_su} END"
