"""Deterministic fixed-point aggregation helpers.

Cross-engine hash-determinism rules (learned from the r4 driver
hash-FAILs on q7/q9/q_merge_upsert/q_mv_rollup):

- Per-row double expressions are bit-identical across engines (IEEE
  754 ops on identical operands), but SUM over doubles is
  partition-order-dependent, so ``round(sum(x), 2)`` can flip its
  last cent between Spark and an oracle engine run on the same data.
- ``round(x, k)`` for k >= 1 is ALSO engine-dependent on ties: Spark
  rounds the shortest decimal repr (BigDecimal HALF_UP: 2.675 ->
  2.68) while numeric engines round the scaled binary value
  (2.675*100 = 267.4999... -> 2.67). Only scale-0 ``round(x)``
  agrees everywhere: X.5 is exactly representable, and both engines
  round it away from zero.

Hence: round each row to an integer count of 10^-scale units
(scale-0 round, safe), sum as BIGINT (exact and order-independent),
divide once at the end. The matching oracle-SQL shape is::

    sum(CAST(round(x * 100) AS BIGINT)) / 100.0            -- fixed_sum
    CAST(round(sum(CAST(round(x * 100) AS BIGINT)) * 1e0
               / count(*)) AS BIGINT) / 100.0              -- fixed_avg
    CAST(round(x * 100) AS BIGINT) / 100.0                 -- fixed_point
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F


def _units(scale: int) -> float:
    return float(10**scale)


def fixed_sum(col: Column, scale: int = 2) -> Column:
    """Order-independent ``round(sum(col), scale)`` replacement:
    per-row scale-0 round to 10^-scale units, exact BIGINT sum,
    single final division."""
    m = _units(scale)
    return F.sum(F.round(col * m).cast("long")) / m


def fixed_avg(col: Column, scale: int = 2) -> Column:
    """Order-independent ``round(avg(col), scale)`` replacement:
    integer-unit sum, then one deterministic scale-0 round of the
    (deterministic) mean in units. Divides by ``count(col)`` (non-null
    rows) to match ``avg`` semantics — mirror that in the oracle SQL
    (``count(*)`` only when the column is known non-null)."""
    m = _units(scale)
    return F.round(F.sum(F.round(col * m).cast("long")) / F.count(col)).cast("long") / m


def fixed_avg_int(col: Column, scale: int = 2) -> Column:
    """Deterministic ``round(avg(col), scale)`` for an INTEGER-VALUED
    column: the sum is already exact and order-free, so no per-row
    rounding is needed — but ``round(avg(...), k)`` itself is NOT safe
    (107/40 = 2.675 exactly: Spark rounds the shortest repr up,
    numeric engines round 267.4999… down). One scale-0 round of the
    scaled mean sidesteps the tie class. Oracle shape::

        CAST(round(sum(x) * 1e2 / count(x)) AS BIGINT) / 1e2
    """
    m = _units(scale)
    return F.round(F.sum(col) * m / F.count(col)).cast("long") / m


def fixed_point(col: Column, scale: int = 2) -> Column:
    """Deterministic ``round(col, scale)`` replacement for an
    already-deterministic double (a ratio of exact sums, a window
    value): scale-0 round in units, so engine tie-handling at
    scale>=1 can never diverge."""
    m = _units(scale)
    return F.round(col * m).cast("long") / m


def json_literal_sql(value, sql_type: str) -> str:
    """A literal array (of any nesting) rendered as
    ``from_json('<json>', '<type>', map('mode', 'FAILFAST'))`` SQL text.

    Catalyst constant-folds the call into ONE typed Literal at
    optimization time. The ``array(1.0D, …)`` spelling also folds in
    the end, but it enters the pipeline as a CreateArray tree of
    1,000+ scalar-literal nodes that the parser, analyzer, optimizer
    (and AQE's re-optimizations) each walk on EVERY per-round plan —
    measured interleaved A/B on the det-epoch gate at sf0.1: 0.56 vs
    0.43 s/round for identical results. from_json keeps a matrix ONE
    node at any size.

    Exactness: doubles render via ``json.dumps`` (repr — shortest
    round-trip decimal; Jackson's parseDouble is correctly rounded,
    so the JVM sees the identical bits as the ``1.0D`` spelling);
    ints are parsed as exact int64, never through a double. Nothing
    reads as NULL by accident: JSON cannot carry NaN/Inf, so a
    non-finite value raises ``ValueError`` here, at plan-build time,
    and FAILFAST makes a value that does not fit ``sql_type`` (an
    int64 overflow, a ragged nesting) raise when the literal folds
    instead of PERMISSIVE mode's silent NULL."""
    body = json.dumps(value, separators=(",", ":"), allow_nan=False)
    esc = body.replace("\\", "\\\\").replace("'", "\\'")
    return f"from_json('{esc}', '{sql_type}', map('mode', 'FAILFAST'))"
