package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Exact first-order linear recurrences per key — the family pandas users
  * assume "doesn't distribute" (`Series.ewm(adjust=False).mean()`, Wilder
  * smoothing, MACD lines, RiskMetrics volatility, Holt's trend):
  *
  *   y_1 = x_1;   y_n = f·x_n + (1−α)·y_{n−1}
  *
  * Every series is one per-key ordered fold: a private [[Aggregator]]
  * whose `reduce` is the step function below, evaluated over
  * `Window.partitionBy(key).orderBy(order)` with a ROWS frame from the
  * first row to the current one. Spark's growing-frame window feeds each
  * row to `reduce` once and reads the running state after it, so the fold
  * is O(n) per key; `merge` is never called on a growing frame. The step
  * functions are also what [[graft.streaming.StreamingPipeline]]'s
  * `ewmaState`/`holtState` run, so batch and stream compute one
  * definition.
  *
  * Cost at any scale: one hash shuffle of the input by key plus one sort
  * by (key, order) — the same exchange and sort a `row_number` over the
  * key would run. Every column of one call, and every call that reuses
  * the same key and order downstream (MACD's signal line), shares them;
  * nothing is joined, collected or driver-side.
  *
  * Hot keys: the window buffers one key's rows at a time (spilling past
  * `spark.sql.windowExec.buffer.spill.threshold`), the same bound as that
  * key's `row_number` window. A single key's series runs in one task.
  *
  * Numerics: each step is the literal expression `f * x + (1.0 - α) * y'`
  * in series order — the same operations in the same order as the DuckDB
  * recursive-CTE oracle and the streaming operators, so batch and stream
  * agree bit for bit and no exponent ever grows with series length.
  */
object LinearRecurrence {

  /** One EWMA step: y = f·x + (1−α)·y'. f = α is `ewm(adjust=False)`;
    * f = 1 is the unnormalized `adjust=True` sum. Seed: y₁ = x₁. */
  def ewmaStep(alpha: Double, f: Double, prev: Double, x: Double): Double =
    f * x + (1.0 - alpha) * prev

  /** One Holt step from (l', t'): l = α·x + (1−α)(l' + t'),
    * t = β(l − l') + (1−β)t'. Seed: (l₁, t₁) = (x₁, 0). */
  def holtStep(alpha: Double, beta: Double, l: Double, t: Double,
               x: Double): (Double, Double) = {
    val ln = alpha * x + (1.0 - alpha) * (l + t)
    (ln, beta * (ln - l) + (1.0 - beta) * t)
  }

  /** Append one exact EWMA column per (outName → α) to `df`.
    *
    * @param df     input rows
    * @param key    series key column name
    * @param order  total order within a key (must be unique per row)
    * @param x      value column expression the recursion reads; must be
    *               non-null on every row (filter or coalesce upstream)
    * @param alphas output column name → smoothing factor α = 2/(span+1)
    */
  def ewma(df: DataFrame, key: String, order: Seq[Column], x: Column,
           alphas: Seq[(String, Double)]): DataFrame =
    ewmaCols(df, key, order,
      alphas.map { case (name, al) => (name, x, al) })

  /** General form: each output column smooths ITS OWN input expression
    * (e.g. Wilder's RSI smooths gains and losses side by side). All
    * columns are folds over the one window. */
  def ewmaCols(df: DataFrame, key: String, order: Seq[Column],
               specs: Seq[(String, Column, Double)]): DataFrame =
    fold(df, key, order, specs.map { case (name, x, al) => (name, x, al, al) })

  /** pandas `ewm(adjust=True)` building block: the UNNORMALIZED weighted
    * sum Sₙ = xₙ + (1−α)·Sₙ₋₁ (step factor 1 — the same recurrence,
    * a different forcing term). adjust=True's debiased mean is
    * S(x)/S(1) and its biased variance S(x²)/S(1) − (S(x)/S(1))² — all
    * plain ratios of these sums, each an extra column on the one window. */
  def ewSumCols(df: DataFrame, key: String, order: Seq[Column],
                specs: Seq[(String, Column, Double)]): DataFrame =
    fold(df, key, order, specs.map { case (name, x, al) => (name, x, al, 1.0) })

  /** Holt's linear-trend double exponential smoothing — the COUPLED
    * 2-state recurrence [[holtStep]], folded per key as one struct-valued
    * (level, trend) state over the same window as [[ewma]]. */
  def holt(df: DataFrame, key: String, order: Seq[Column], x: Column,
           alpha: Double, beta: Double,
           outLevel: String, outTrend: String): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0 && beta > 0.0 && beta < 1.0,
      "Holt smoothing needs alpha, beta in (0, 1)")
    val lt = udaf(new HoltFold(alpha, beta), Encoders.scalaDouble)(
      x.cast("double")).over(series(key, order))
    df.withColumn("_lt", lt)
      .withColumns(ListMap(outLevel -> col("_lt._1"), outTrend -> col("_lt._2")))
      .drop("_lt")
  }

  /** The per-key growing frame every recurrence folds over. */
  private def series(key: String, order: Seq[Column]): WindowSpec =
    Window.partitionBy(key).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Each (name, x, α, f) becomes yₙ = f·xₙ + (1−α)·yₙ₋₁, y₁ = x₁ — all
    * in one projection, hence one `Window` node. */
  private def fold(df: DataFrame, key: String, order: Seq[Column],
                   specs: Seq[(String, Column, Double, Double)]): DataFrame = {
    require(specs.nonEmpty && specs.forall { case (_, _, al, _) =>
      al > 0.0 && al <= 1.0 }, "α must lie in (0, 1]")
    val w = series(key, order)
    df.withColumns(ListMap(specs.map { case (name, x, al, f) =>
      name -> udaf(new EwmaFold(al, f), Encoders.scalaDouble)(
        x.cast("double")).over(w)
    }: _*))
  }

  /** Running EWMA state: (seen a row, y). */
  private final class EwmaFold(alpha: Double, f: Double)
      extends Aggregator[Double, (Boolean, Double), Double] {
    def zero: (Boolean, Double) = (false, 0.0)
    def reduce(b: (Boolean, Double), x: Double): (Boolean, Double) =
      (true, if (b._1) ewmaStep(alpha, f, b._2, x) else x)
    def merge(b1: (Boolean, Double), b2: (Boolean, Double)): (Boolean, Double) =
      unordered()
    def finish(b: (Boolean, Double)): Double = b._2
    def bufferEncoder: Encoder[(Boolean, Double)] =
      Encoders.tuple(Encoders.scalaBoolean, Encoders.scalaDouble)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Running Holt state: (seen a row, level, trend). */
  private final class HoltFold(alpha: Double, beta: Double)
      extends Aggregator[Double, (Boolean, Double, Double), (Double, Double)] {
    def zero: (Boolean, Double, Double) = (false, 0.0, 0.0)
    def reduce(b: (Boolean, Double, Double), x: Double): (Boolean, Double, Double) =
      if (!b._1) (true, x, 0.0)
      else {
        val (l, t) = holtStep(alpha, beta, b._2, b._3, x)
        (true, l, t)
      }
    def merge(b1: (Boolean, Double, Double),
              b2: (Boolean, Double, Double)): (Boolean, Double, Double) =
      unordered()
    def finish(b: (Boolean, Double, Double)): (Double, Double) = (b._2, b._3)
    def bufferEncoder: Encoder[(Boolean, Double, Double)] =
      Encoders.tuple(Encoders.scalaBoolean, Encoders.scalaDouble,
        Encoders.scalaDouble)
    def outputEncoder: Encoder[(Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
  }

  private def unordered(): Nothing = throw new UnsupportedOperationException(
    "a recurrence folds rows in order; partial states cannot be merged")
}
