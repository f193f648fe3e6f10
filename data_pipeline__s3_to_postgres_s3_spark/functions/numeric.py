"""Numeric helpers with cross-engine-deterministic semantics.

Why not ``F.round``: Spark rounds the shortest decimal representation of a
double HALF_UP (BigDecimal.valueOf), while DuckDB/ClickHouse round the binary
double numerically — for values like 1.005 (stored as 1.00499999…) the two
disagree. ``portable_round`` computes floor(x·10^s + 0.5)/10^s, which is a
pure IEEE expression: identical inputs ⇒ identical outputs on every engine.
The oracle SQL uses the same formula (oracles/*.py).

``cents``: exact integer accumulation for sums of fixed-decimal doubles.
Distributed double summation is order-dependent (partial aggregates combine
in task-completion order), so two runs — or Spark vs an oracle — can differ
in the last ulps. Scaling to integer cents before SUM makes the aggregate
exact and order-independent; divide once at the end. This is also the right
call at 100 TB: long/bigint sums are cheaper than compensated summation and
never lose precision (overflow headroom: 9.2e18).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_round(col: Column, scale: int = 2) -> Column:
    """Engine-portable round-half-up.

    floor(x·10^s + 0.5)/10^s is well-defined for ANY sign and mirrored
    token-identically in the oracle SQL — but note the semantics for
    negative inputs: halves round toward +inf (-0.005 → -0.0), i.e.
    half-UP, not half-away-from-zero. Signed consumers (cosines in
    similarity_sq_topk, KL/PMI terms) rely on the mirroring, not on
    half-away semantics."""
    factor = 10**scale
    return F.floor(col * factor + F.lit(0.5)) / factor


def cents(col: Column, decimals: int = 2) -> Column:
    """Exact integer representation of a fixed-decimal double column."""
    factor = 10**decimals
    return F.round(col * factor, 0).cast("long")


def portable_round_sql(expr: str, scale: int = 2) -> str:
    factor = 10**scale
    return f"FLOOR(({expr}) * {factor} + 0.5) / {factor}"
