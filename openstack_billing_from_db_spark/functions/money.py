"""Decimal money arithmetic (reference billing.py:5, 19-29, 202).

Rates are ``DecimalType(10,4)``; costs are computed in decimal and
rounded to cents with HALF_UP — Spark's ``round`` on DecimalType is
HALF_UP, matching the reference's ``Decimal.quantize(".01", ROUND_HALF_UP)``.
Money never transits a double.
"""

from __future__ import annotations


def round_money(col: str, scale: int = 2) -> str:
    """HALF_UP rounding to cents (reference billing.py:202), as SQL text
    over the decimal expression ``col``."""
    return f"round({col}, {scale})"
