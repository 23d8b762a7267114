package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine float determinism helpers.
  *
  * Two failure modes make naive `round(x, n)` non-portable between Spark
  * and DuckDB:
  *  1. exact rounding-boundary values (e.g. avg of 2-decimal data landing
  *     on x.xxxx5): Spark rounds via BigDecimal HALF_UP, DuckDB via
  *     multiply→std::round→divide, and the two can disagree on ties;
  *  2. large sums of decimal data: summation order differs across engines
  *     (partial aggregation, segment trees), so the raw doubles differ by
  *     ulps and can straddle a boundary.
  *
  * Fixes, applied identically in the Spark plan and the oracle SQL:
  *  - [[r]]: nudge by 1e-9 (far above FP noise, far below data resolution)
  *    before rounding — both engines then see the same side of every
  *    boundary;
  *  - [[centsSum]]/[[cents4Sum]]: sum 2-/4-decimal data as exact BIGINT
  *    cents, which is order-independent and bit-identical across engines.
  */
object Num {
  /** Deterministic round for computed floats of magnitude ≲ 1e6. */
  def r(c: Column, n: Int): Column = round(c + lit(1e-9), n)

  /** [[r]] for a double already on the driver, bit-for-bit: the same
    * nudge, then Spark's own double `round` (HALF_UP on the shortest
    * decimal repr; NaN and ±Infinity pass through). */
  def rHost(x: Double, n: Int): Double = {
    val y = x + 1e-9
    if (y.isNaN || y.isInfinite) y
    else BigDecimal(y).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Deterministic round with a wider nudge for exp/log-amplified values
    * (libm implementations differ by ulps between JVM and C). */
  def rExp(c: Column, n: Int): Column = round(c + lit(1e-8), n)

  /** Exact order-independent sum of 2-decimal data (money). */
  def centsSum(c: Column): Column =
    sum(round(c * 100).cast("long")) / 100.0

  /** Exact order-independent sum of 4-decimal data (price × discount). */
  def cents4Sum(c: Column): Column =
    sum(round(c * 10000).cast("long")) / 10000.0

  /** DuckDB fragments mirroring the above bit-for-bit. */
  def sqlR(x: String, n: Int): String = s"round(($x) + 1e-9, $n)"
  def sqlRExp(x: String, n: Int): String = s"round(($x) + 1e-8, $n)"
  def sqlCentsSum(x: String): String =
    s"CAST(sum(CAST(round(($x)*100) AS BIGINT)) AS DOUBLE)/100.0"
  def sqlCents4Sum(x: String): String =
    s"CAST(sum(CAST(round(($x)*10000) AS BIGINT)) AS DOUBLE)/10000.0"
}
