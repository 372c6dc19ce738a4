package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.{call_function, lit, shiftright}

/** The engine's one owner of exact integer column arithmetic. The
  * exact-moment family (linreg, weighted, corr_pairs, skewkurt, ttest,
  * gini, bootstrap_ci, spearman, effectsize, anova, ts_acf) turns its
  * inputs into integers (units, cents, doubled ranks) so every moment is
  * an exact integer and the closed form is one IEEE tree shared with the
  * DuckDB twin. Each range below is argued once, here, and checked by
  * PropertySpec's BigInt replay at its edges; HarnessSpec fails on a
  * `decimal(38` literal on any other code line of `src/main`.
  *
  * Range target: a 100 TB lineitem holds ≥1.5·10¹¹ rows per return flag
  * (about 2³⁸), under [[sum]]'s 2⁴² rows per group. */
object Exact {
  private val Dec = "decimal(38,0)"
  private val Limb = lit((1L << 21) - 1)

  /** Exact sum of a LONG column as decimal(38,0): the same value, type
    * and NULL behaviour as `sum(cast(c AS decimal(38,0)))`, but carried
    * in three long partial sums instead of a per-row decimal buffer.
    *
    * c = hi·2⁴² + mid·2²¹ + lo with hi = c >> 42 (arithmetic shift, so
    * the identity holds for negatives in two's complement), mid =
    * (c >> 21) & (2²¹−1) and lo = c & (2²¹−1). Every limb lies in
    * [−2²¹, 2²¹), so no long limb sum overflows up to 2⁴² rows per group,
    * for every long value, `Long.MinValue` and `Long.MaxValue` included;
    * past 2⁴² rows ANSI mode throws rather than wraps. The limbs combine
    * once per group in decimal(38,0), whose 38 digits hold any sum of
    * 2⁴² longs (< 2¹⁰⁵). A NULL row drops out of all three sums, so an
    * empty or all-NULL group sums to NULL. */
  def sum(c: Column): Column =
    functions.sum(shiftright(c, 42)).cast(Dec) * lit(1L << 42) +
      functions.sum(shiftright(c, 21).bitwiseAND(Limb)).cast(Dec) *
        lit(1L << 21) +
      functions.sum(c.bitwiseAND(Limb)).cast(Dec)

  /** `c` as decimal(38,0): the one wide integer type, for products that
    * must not ride a LONG (rank sums, position·cents, n·Σ, ECDF
    * cross-products). Exact while every intermediate stays below 10³⁸;
    * past that ANSI mode throws. HUGEINT is the DuckDB twin's match. */
  def wide(c: Column): Column = c.cast(Dec)

  /** `a div b` as a Catalyst `IntegralDivide` over longs: exact integer
    * division truncating toward zero (a Column-API `/` would detour
    * through IEEE doubles). Callers pass non-negative operands and round
    * signs themselves; b = 0 throws under ANSI. */
  private[operators] def idiv(a: Column, b: Column): Column =
    call_function("div", a.cast("long"), b.cast("long"))
}
