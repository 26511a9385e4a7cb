"""Oracle-parity conventions, centralized (SURVEY.md §7 step 2, FIXTURES.md).

The driver hash-compares Spark results against DuckDB exactly
(order-insensitive, columns sorted by name), so every driver-checked query
follows these rules — on BOTH sides:

1. UTC session timezone (session.ensure_runtime_conf) and timestamps
   **leave query outputs as strings** (``ts_str``/``DUCK_TS``) or epoch
   BIGINT — sidesteps Spark-µs vs DuckDB-ns representation entirely.
2. Alias every computed column identically in Spark and SQL.
3. Aggregates of decimal-exact quantities run in EXACT INTEGER UNITS
   (usum/usum_long + duck_usum): quantize to cents / 1e-4 / 1e-6
   units, sum exactly (order-free), ONE final deterministic
   cast+division — bit-identical doubles with no round() at all.
   Each money expression is ONE SQL text shared by both sides: usum /
   usum_long take the same string as duck_usum. r6: the final cast is
   the limb-split kernel, spelled once per engine as SQL text
   (spark_det_double / duck_det_double), so bit-identity survives past
   2^63 where the engines' native big-integer casts round differently.
   r5 superseded the old round-at-the-exact-scale rule, which breaks
   two ways at scale: (a) once |sum| * 2^-52 approaches the round grid
   (a 2.8e9 sum has ulp 4.8e-7, above half of 1e-6), engines summing
   floats in different orders round to different values — and Spark's
   partial-agg order varies run-to-run with scheduling; (b) integer
   ratios tie EXACTLY at the grid when the denominator has a 2^7
   factor (333/640 = .5203125) and Spark's HALF_UP disagrees with
   DuckDB's scaled-multiply round. Corollaries: deterministic
   arithmetic on bit-identical inputs (division, subtraction, IEEE
   sqrt, greatest/least) is emitted RAW — rounding it only adds risk;
   thresholds on ratios are pure-integer predicates (10*i >= 9*u, not
   round(i/u, 6) >= 0.9); only engine-divergent transcendentals
   (ln, pow) keep a parity round.
4. Division: Spark ``/`` is always double; DuckDB 1.0 ``/`` likewise, but
   integer-result intent must use explicit casts on both sides.
5. Any LIMIT/top-k carries a deterministic total ORDER BY (key tiebreaks).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Spark: timestamp -> 'yyyy-MM-dd HH:mm:ss' string (UTC session tz).
def ts_str(col: Column | str) -> Column:
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


def duck_ts(expr: str) -> str:
    """DuckDB: same formatting for a timestamp expression (ns-safe)."""
    return f"strftime(CAST(({expr}) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')"


def rsum(col: Column, scale: int = 2) -> Column:
    """round(sum(x), 2) — parity rule #3 (LEGACY — see usum).

    r5 finding: rounding a FLOAT sum is order-sensitive once
    |sum| * 2^-52 approaches the round grid — Spark's partial-agg
    accumulation order varies with task scheduling, so a near-tie key
    can flake run-to-run. Kept only for callers whose group sums are
    provably far from the grid (small groups of decimal-exact values);
    new money aggregates use usum/usum_long.
    """
    return F.round(F.sum(col), scale)


def _units(expr: str, m: str) -> str:
    """SQL text of ``expr`` in integer units: ``expr * m`` rounded to a
    BIGINT, where ``m`` is 10^scale spelled in the engine's dialect
    (Spark ``10000.0D``, a DOUBLE; DuckDB ``10000``). The one unit
    expression behind usum, usum_long and duck_usum."""
    return f"CAST(round(({expr}) * {m}, 0) AS BIGINT)"


def usum(expr: str, scale: int) -> Column:
    """ORDER-FREE exact sum of a decimal-exact SQL expression (r5).

    ``expr`` is the SAME SQL text duck_usum takes (e.g. ``"l_extendedprice
    * (1 - l_discount)"``), and its true value must be decimal-exact at
    ``scale`` (a 2-dec price at 2; price*(1-disc) at 4; *(1+tax) at 6).
    Rounding expr*10^scale to integer units is unambiguous (float noise
    ~1e-9 ulp vs a 0.5 margin), the unit sum in decimal(38,0) is exact in
    ANY accumulation order (no long wraparound at 1e-6-unit 100 TB sums;
    DuckDB's BIGINT sum auto-promotes to HUGEINT), and the single final
    conversion + division is deterministic in both engines — bit-identical
    doubles with no round() tie to break. The conversion is
    spark_det_double (r6), so the bit-identity holds even once the unit
    sum passes 2^63; below 2^53 it equals the exact conversion.

    Built as one ``F.expr`` parse rather than a Column tree: the limb
    kernel is ~140 py4j round-trips as Columns, milliseconds as text.
    """
    m = f"{10**scale}.0D"
    s = f"sum(CAST({_units(expr, m)} AS DECIMAL(38,0)))"
    return F.expr(f"({spark_det_double(s)} / {m})")


def usum_long(expr: str, scale: int) -> Column:
    """usum variant ACCUMULATING in BIGINT instead of decimal(38,0) —
    ~10% cheaper per Spark row (A/B-measured on TPC-H Q3 at sf0.1).
    ONLY for groups whose row count is schema-bounded and does not grow
    with data volume (e.g. lineitems per order <= 7, orders per customer
    ~constant), so the unit sum stays far from the 9.2e18 long limit at
    ANY scale factor (ANSI mode makes a violated bound fail loud, not
    wrap). Unbounded groups (per-nation, per-supplier, global) must use
    usum. The DuckDB twin is the same duck_usum — DuckDB always sums
    BIGINT into HUGEINT.

    The sum is cast to decimal(38,0) after the aggregate and converted
    by spark_det_double like usum's (r7), so parity with duck_usum holds
    over the FULL long range; the conversion runs on one row per group,
    so the per-row BIGINT accumulation is unchanged."""
    m = f"{10**scale}.0D"
    s = f"CAST(sum({_units(expr, m)}) AS DECIMAL(38,0))"
    return F.expr(f"({spark_det_double(s)} / {m})")


def duck_usum(expr: str, scale: int) -> str:
    """DuckDB twin of usum and usum_long — the same unit expression
    (_units) and one final division; the conversion goes through
    duck_det_double (r6), matching spark_det_double bit-for-bit at any
    magnitude."""
    m = 10**scale
    s = f"sum({_units(expr, str(m))})"
    return f"({duck_det_double(s)} / {m}.0)"


#: |x| <= 2^53 is exactly representable in an IEEE double, so BOTH
#: engines' native integer->double casts equal the mathematically exact
#: conversion below it — the shared fast-path predicate of
#: spark_det_double and duck_det_double (r10: one constant interpolated
#: into both kernels so the branch predicates can never drift apart).
DOUBLE_EXACT_MAX = 2**53


def spark_det_double(expr: str) -> str:
    """Deterministic exact-integer -> DOUBLE conversion as Spark SQL
    text, bit-identical to duck_det_double over the FULL
    decimal(38,0)/HUGEINT range (r6). Wrap the result in ``F.expr`` or
    use it inside ``selectExpr``; it is the only Spark spelling of the
    kernel.

    Why: beyond 2^63 the engines' native big-integer->double casts round
    differently — DuckDB converts HUGEINT as (double)lower +
    (double)upper*2^64 (double rounding), Spark's decimal(38,0)->double
    is correctly rounded — so near a rounding boundary they can differ
    by 1 ulp. That is exactly the rare-systematic divergence class the
    r5 integer-unit doctrine eliminates, reintroduced at the very last
    cast. (The squared price moments in agg_stats_suite reach 1e23–1e24
    at sf0.1; 1e-6-unit money sums pass 2^63 around the 100 TB mark.)

    How: split |x| into four base-1e9 limbs (11+9+9+9 = 38 digits; every
    limb < 2^53 so each limb->double cast is EXACT in any engine), then
    recombine with the identical IEEE-754 multiply/add sequence
    ``((l3*1e9 + l2)*1e9 + l1)*1e9 + l0`` — correctly-rounded primitives
    on bit-identical inputs, hence bit-identical results. Beyond 2^53
    the result may differ from the correctly-rounded conversion by ~1
    ulp but is the SAME double in both engines — determinism is the
    parity requirement, not last-ulp accuracy.

    Spark extracts the limbs by lpad/substring over the decimal's digit
    string (decimal(38,0) renders as plain digits); this runs
    post-aggregation, one row per group. The absolute value is taken by
    stripping the '-' from the digit string, NOT abs(): Spark's decimal
    negate/abs round through a 34-digit DECIMAL128 MathContext, which
    mangles (or ANSI-errors on) wider values — string abs keeps the
    kernel exact over the full range.

    r9: values with |x| <= DOUBLE_EXACT_MAX take the native
    decimal->double cast instead of the limb kernel. Below 2^53 both
    the native cast and the limb combine equal the exact conversion, so
    the branch cannot change any result; duck_det_double branches on the
    identical predicate. Per-group money sums at test scale factors sit
    far below 2^53, so the hot path is a single native cast (pinned on
    q3's plan by tests/test_plans.py).

    Pinned bit-identical to duck_det_double and a pure-Python reference
    by tests/test_properties.py::test_det_double_bit_identical_across_engines.
    """
    xd = f"CAST(({expr}) AS DECIMAL(38,0))"
    digits = f"lpad(regexp_replace(CAST({xd} AS STRING), '^-', ''), 38, '0')"
    l3 = f"CAST(CAST(substring({digits}, 1, 11) AS BIGINT) AS DOUBLE)"
    l2 = f"CAST(CAST(substring({digits}, 12, 9) AS BIGINT) AS DOUBLE)"
    l1 = f"CAST(CAST(substring({digits}, 21, 9) AS BIGINT) AS DOUBLE)"
    l0 = f"CAST(CAST(substring({digits}, 30, 9) AS BIGINT) AS DOUBLE)"
    mag = f"((({l3} * 1.0E9 + {l2}) * 1.0E9 + {l1}) * 1.0E9 + {l0})"
    limb = f"(CASE WHEN ({expr}) < 0 THEN -{mag} ELSE {mag} END)"
    return (
        f"(CASE WHEN {xd} BETWEEN -{DOUBLE_EXACT_MAX}L AND {DOUBLE_EXACT_MAX}L "
        f"THEN CAST({xd} AS DOUBLE) ELSE {limb} END)"
    )


def duck_det_double(expr: str) -> str:
    """DuckDB twin of spark_det_double — same limbs via HUGEINT ``//``/``%``,
    same IEEE combine sequence. Valid over the full HUGEINT range.

    r9: branches on the identical |x| <= 2^53 predicate as spark_det_double's
    fast path; DuckDB's HUGEINT->DOUBLE cast is exact below 2^53, so
    both twins' fast branches equal the exact conversion and parity is
    preserved by construction."""
    a = f"abs(CAST(({expr}) AS HUGEINT))"
    l3 = f"CAST(({a} // 1000000000000000000000000000) AS DOUBLE)"
    l2 = f"CAST((({a} % 1000000000000000000000000000) // 1000000000000000000) AS DOUBLE)"
    l1 = f"CAST((({a} % 1000000000000000000) // 1000000000) AS DOUBLE)"
    l0 = f"CAST(({a} % 1000000000) AS DOUBLE)"
    mag = f"((({l3} * 1e9 + {l2}) * 1e9 + {l1}) * 1e9 + {l0})"
    limb = f"(CASE WHEN ({expr}) < 0 THEN -{mag} ELSE {mag} END)"
    return (
        f"(CASE WHEN {a} <= {DOUBLE_EXACT_MAX} "
        f"THEN CAST(CAST(({expr}) AS HUGEINT) AS DOUBLE) ELSE {limb} END)"
    )


def norm_cell(v):
    """Canonicalize one result cell for exact cross-engine comparison —
    the single definition shared by the local mirror
    (tests/test_driver_parity.py) and the driver-gate rehearsal
    (scripts/preflight_driver.py), so a parity-rule change can never
    land in one and not the other.

    Floats use ``repr`` (exact bits — the parity rules above must make
    them identical, not merely close); -0.0 folds into 0.0; NaN is its
    own token; temporals use ISO format; lists/bytes get stable
    serializations.
    """
    import datetime
    import math

    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if v == 0.0:
            return repr(0.0)  # -0.0 == 0.0
        return repr(v)
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)
