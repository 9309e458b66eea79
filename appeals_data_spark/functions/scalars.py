"""Scalar/aggregate expression helpers (SURVEY.md §2.9 F1-F11).

Everything here returns Column expressions built from JVM-side
``pyspark.sql.functions`` so plans stay inside whole-stage codegen.

Cross-engine determinism: double summation is order-dependent, and a
distributed Spark sum will not bit-match a single-threaded DuckDB sum.
The ``dec``/``dsum``/``davg`` helpers therefore route money-style
aggregations through exact DECIMAL arithmetic (associative, engine
independent) and cast the final result back to DOUBLE — identical bits
in both engines regardless of partitioning. This is also the right
call at 100 TB: decimal partial aggregates are exact under any AQE
re-partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# -- exact-decimal aggregation ------------------------------------------------

# All money/rate doubles in the synthetic data carry exactly 2 decimals,
# so scale-2 casts are lossless and products stay at scale <= 6 — the
# range where decimal->double casts are correctly rounded in BOTH
# engines (DuckDB's int128->double is exact below 2^53).
PRICE_DEC = "decimal(18,2)"
RATE_DEC = "decimal(4,2)"


def dec(col: str | Column, typ: str = PRICE_DEC) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def dsum(col: str | Column, typ: str = PRICE_DEC) -> Column:
    """Exact sum of a double column via decimal; result DOUBLE."""
    return F.sum(dec(col, typ)).cast("double")


def davg(col: str | Column, typ: str = PRICE_DEC) -> Column:
    """Deterministic mean: exact decimal sum / count, divided as DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c, typ)).cast("double") / F.count(c)


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal product."""
    return dec("l_extendedprice") * (F.lit(1).cast(RATE_DEC) - dec("l_discount", RATE_DEC))


def charge() -> Column:
    """l_extendedprice * (1-l_discount) * (1+l_tax), exact decimal."""
    return disc_price() * (F.lit(1).cast(RATE_DEC) + dec("l_tax", RATE_DEC))


# SQL fragments for the DuckDB oracle mirroring the helpers above.
SQL_DSUM = "CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"
SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)
SQL_CHARGE = SQL_DISC_PRICE + " * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))"


# -- R-compatible conditionals ------------------------------------------------

# R ``ifelse`` semantics: NULL condition -> NULL result. Spark's
# ``CASE WHEN cond THEN yes ELSE no END`` (and ``when().otherwise()``)
# sends a NULL condition to the else branch; R's ``ifelse`` propagates
# NA. The reference relies on that NA propagation when deriving event
# labels from nullable columns (e.g. ``ifelse(HEARING_DISP == "H", ...)``
# with NULL dispositions, events.R:540-549) — labels for unknown
# dispositions must stay unknown, not default to the else-label. Two
# WHEN arms and no ELSE, so the NULL case falls through to NULL.
SQL_R_IFELSE = "CASE WHEN {cond} THEN {yes} WHEN NOT ({cond}) THEN {no} END"


# -- date helpers -------------------------------------------------------------


def fiscal_year(col: str | Column) -> Column:
    """US-federal fiscal year (Oct 1 start), reference `findInterval`
    bucketing (effect-on-outcomes.Rmd:163): FY = year(date + 3 months)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.year(F.add_months(c, 3))


def month_trunc(col: str | Column) -> Column:
    """Month truncation to DATE (reference `substr(date,1,7)` idiom, F2).

    DATE (not timestamp) on both engines so collected values compare
    identically against the DuckDB oracle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc("month", c).cast("date")


# -- cross-engine deterministic rounding --------------------------------------
#
# Two portable "pin" recipes, motivated by the round-8 driver flips on
# x4_markov_stationary / pipe_dsir_importance (CORRECTNESS_r08: hash
# mismatch, rows+schema green). ROUND(double, s) is NOT portable:
# Spark rounds the double's exact binary expansion (BigDecimal
# HALF_UP) while DuckDB rounds a scaled double (std::round(x*10^s) /
# 10^s) — measured 4/200k disagreements at s=12 on integer-ratio
# inputs, and ratios n/d with d = 2^a·5^b·k hit EXACT .5 ties at
# 12 dp where the two strategies systematically diverge. The fixes:
#
# * integer ratios  -> ``ratio_dec``: no doubles at all. half-up of
#   n·10^s/d == floor((2n·10^s + d) / (2d)) for n >= 0 (the mod-
#   subtract/intdiv implementations truncate, so the identity — and
#   the helper's contract — holds on NON-NEGATIVE numerators only),
#   computed with exact
#   decimal arithmetic (mod-subtract makes the division exact at any
#   magnitude, immune to Spark's scale-6 quotient rounding).
# * transcendentals -> ``pin_dec``: floor(x·10^s + 0.5) — multiply,
#   add, and floor are all exactly-rounded IEEE ops, so BOTH engines
#   compute identical bits given the same x; the only residual
#   cross-engine window is a 1-ulp libm difference landing within
#   1 ulp of an integer (~1e-10/value, vs ~1e-5 for ROUND at s=12).
#   Note floor(x+0.5) is round-half-toward-+inf for negatives — fine,
#   because both engines use the SAME formula.

from decimal import Decimal as _Dec


def ratio_dec(n: Column, d: Column, scale: int = 12, int_digits: int = 2) -> Column:
    """Exact half-up n/d as DECIMAL(scale+int_digits, scale).

    Domain: n >= 0, d > 0, n/d < 10^int_digits — count ratios. For
    NEGATIVE numerators both engines truncate (toward zero) instead of
    flooring, which is no longer half-up; a signed caller (e.g. a
    difference of counts) must split sign out first. Engine-portable
    digit for digit on the declared domain (adversarial + fuzz gates
    in tests/test_portable_rounding.py).

    OUT of the declared domain (n/d >= 10^int_digits) both engines
    yield NULL: the narrowing casts are try_cast on the Spark side
    (the engine's sessions run ANSI mode, where a plain decimal cast
    THROWS on overflow) and TRY_CAST in the DuckDB twin — one uniform,
    detectable failure mode instead of a NULL-vs-exception asymmetry
    (round-10 review fix: the first attempt made only the oracle
    lenient)."""
    s_pow = 10**scale
    prec = scale + int_digits
    num = (
        n.cast("decimal(20,0)") * F.lit(2 * s_pow).cast(f"decimal({scale + 1},0)")
        + d.cast("decimal(20,0)")
    )
    den = d.cast("decimal(20,0)") * F.lit(2).cast("decimal(1,0)")
    q = (num - num % den) / den  # exactly divisible -> exact at scale 6
    return (
        q.try_cast(f"decimal({prec},0)") * F.lit(_Dec(1).scaleb(-scale))
    ).try_cast(f"decimal({prec},{scale})")


def sql_ratio_dec(n: str, d: str, scale: int = 12, int_digits: int = 2) -> str:
    """DuckDB twin of ``ratio_dec``: HUGEINT floor-division (exact).

    TRY_CAST (not CAST) on the narrowing steps so a domain breach
    (quotient >= 10^int_digits) yields NULL exactly like Spark's
    silent-NULL decimal overflow, instead of raising."""
    s_pow = 10**scale
    prec = scale + int_digits
    one = "0." + "0" * (scale - 1) + "1"
    return (
        f"TRY_CAST(TRY_CAST((2::HUGEINT * ({n}) * {s_pow} + ({d})) // "
        f"(2::HUGEINT * ({d})) AS DECIMAL({prec},0)) "
        f"* CAST('{one}' AS DECIMAL({scale + 1},{scale})) "
        f"AS DECIMAL({prec},{scale}))"
    )


def pin_dec(x: Column, scale: int = 6, prec: int = 18) -> Column:
    """Bit-portable double->DECIMAL pin: floor(x·10^scale + 0.5).
    Narrowing via try_cast — NULL (both engines) on domain breach, see
    ratio_dec."""
    pinned = F.floor(x * F.lit(float(10**scale)) + F.lit(0.5))
    return (
        pinned.try_cast(f"decimal({prec},0)") * F.lit(_Dec(1).scaleb(-scale))
    ).try_cast(f"decimal({prec},{scale})")


def sql_pin_dec(expr: str, scale: int = 6, prec: int = 18) -> str:
    """DuckDB twin of ``pin_dec`` — the identical IEEE expression.
    TRY_CAST mirrors Spark's silent-NULL overflow (see sql_ratio_dec)."""
    one = "0." + "0" * (scale - 1) + "1"
    return (
        f"TRY_CAST(TRY_CAST(FLOOR(({expr}) * {float(10**scale)} + 0.5) "
        f"AS DECIMAL({prec},0)) * CAST('{one}' AS DECIMAL({scale + 1},{scale})) "
        f"AS DECIMAL({prec},{scale}))"
    )


# -- double-typed FINAL projections of the pins --------------------------------
#
# The external driver's typed hasher diverges on high-scale DECIMAL
# output columns even when the decimal VALUES are byte-identical in
# both engines (round 8+9 evidence: every scale>=6 decimal final
# column failed the driver hash 0-for-8 while rows+schema matched and
# the raw Decimal reprs compared equal; every double/int/string/date
# final column passed). The portable-pin arithmetic above stays — it
# is what makes the values engine-identical — but the FINAL projection
# of any registered query must leave decimals behind. These wrappers
# do exactly that: the pinned decimal is cast to DOUBLE as the last
# step. Decimal->double is correctly rounded in both engines and the
# pinned unscaled values stay far below 2^53, so the cast is exact and
# the two engines hand the driver the identical IEEE-754 bits.
# tools/check.py enforces this class: a registered query whose final
# schema carries a decimal with scale >= 2 fails the lint.


def ratio_dbl(n: Column, d: Column, scale: int = 12, int_digits: int = 2) -> Column:
    """``ratio_dec`` pinned, then cast DOUBLE for the final schema."""
    return ratio_dec(n, d, scale, int_digits).cast("double")


def sql_ratio_dbl(n: str, d: str, scale: int = 12, int_digits: int = 2) -> str:
    return f"CAST({sql_ratio_dec(n, d, scale, int_digits)} AS DOUBLE)"


def pin_dbl(x: Column, scale: int = 6, prec: int = 18) -> Column:
    """``pin_dec`` pinned, then cast DOUBLE for the final schema."""
    return pin_dec(x, scale, prec).cast("double")


def sql_pin_dbl(expr: str, scale: int = 6, prec: int = 18) -> str:
    return f"CAST({sql_pin_dec(expr, scale, prec)} AS DOUBLE)"
