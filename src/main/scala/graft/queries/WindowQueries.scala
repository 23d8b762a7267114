package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Per-key ordered analytics — the reference's signature computations
  * (SURVEY.md §2.E, §2.D): trailing moving averages with min_periods=1
  * (data_warehouse.py:18-19), lag-based daily returns and cumulative
  * compounded returns (generate_dashboard.py:31-32), keep-last dedup
  * (data_warehouse.py:74), latest-row-per-group (dashboard.py:109),
  * argmax rankings (dashboard.py:143,158,169), share-of-total
  * (dashboard.py:147-153), pivot + correlation matrix
  * (generate_dashboard.py:52-53).
  *
  * `events(user_id, ts, value)` stands in for the reference's
  * (symbol, date, close) time series.
  *
  * Scale notes: every window partitions by `user_id` — at 100 TB that is a
  * single hash shuffle on the key followed by in-partition sorts; no
  * global sort, no driver-side collection. Skewed keys would be handled by
  * AQE; the key domain here is uniform.
  */
object WindowQueries {

  private def byUser = Window.partitionBy("user_id")
    .orderBy(col("ts"), col("event_id"))

  /** D2: whole latest row per key — df.loc[groupby('symbol')['date'].idxmax()].
    * Delegates to the operator module so keep-last semantics live once. */
  private def latestPerKey(spark: SparkSession, dir: String): DataFrame =
    graft.operators.B3Pipeline.latestPerKey(
        Tables(spark, dir, "events"), "user_id", col("ts"), col("event_id"))
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id")

  /** D1: keep-last dedup on a composite key (symbol,date → user,event_type). */
  private def dedupKeepLast(spark: SparkSession, dir: String): DataFrame =
    graft.operators.B3Pipeline.dedupKeepLast(
        Tables(spark, dir, "events"), Seq("user_id", "event_type"),
        Seq(col("ts"), col("event_id")))
      .select("user_id", "event_type", "event_id", "ts", "value")
      .orderBy("user_id", "event_type")

  /** E1/E2: trailing 5- and 20-row moving averages, min_periods=1. Spark's
    * rowsBetween frame always includes the current row, matching pandas
    * rolling(min_periods=1) exactly from the first row. */
  private def sma(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        Num.r(avg("value").over(byUser.rowsBetween(-4, 0)), 4).as("sma_5"),
        Num.r(avg("value").over(byUser.rowsBetween(-19, 0)), 4).as("sma_20"))
      .orderBy("event_id")

  /** E3: pandas pct_change — null on each key's first row. Returns are
    * only defined over positive prices: a zero on either side yields null
    * (keeps the cumprod log-rewrite total and engines agreeing on the
    * inf/NaN-free domain). */
  private def lagReturn(spark: SparkSession, dir: String): DataFrame = {
    val prev = lag("value", 1).over(byUser)
    Tables(spark, dir, "events")
      .select(
        col("event_id"), col("user_id"), col("value"),
        Num.r(when(prev > 0.0 && col("value") > 0.0,
          col("value") / prev - 1.0), 6).as("daily_return"))
      .orderBy("event_id")
  }

  /** E4: cumulative compounded return, cumprod(1+r)-1 with skipna semantics:
    * the first row per key stays null (no return yet), later rows compound
    * every non-null return. Rewritten shuffle-free-ly as exp∘sum∘log1p —
    * value > 0 guarantees r > -1 so the log is defined. */
  private def cumReturn(spark: SparkSession, dir: String): DataFrame = {
    val prev = lag("value", 1).over(byUser)
    val r = when(prev > 0.0 && col("value") > 0.0,
      col("value") / prev - 1.0)
    val cum = exp(sum(log1p(col("r")))
      .over(byUser.rowsBetween(Window.unboundedPreceding, 0))) - 1.0
    Tables(spark, dir, "events")
      .withColumn("r", r)
      .select(
        col("event_id"), col("user_id"),
        Num.r(col("r"), 6).as("daily_return"),
        when(col("r").isNull, lit(null)).otherwise(Num.rExp(cum, 6))
          .as("cumulative_return"))
      .orderBy("event_id")
  }

  /** D3: per-group argmax — the user with the highest total value per
    * event_type, deterministic via rounded key + id tie-break. */
  private def argmax(spark: SparkSession, dir: String): DataFrame = {
    val totals = Tables(spark, dir, "events")
      .groupBy("event_type", "user_id")
      .agg(round(sum("value"), 2).as("total_value"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("total_value").desc, col("user_id"))
    totals.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("event_type", "user_id", "total_value")
      .orderBy("event_type")
  }

  /** D5: share-of-total (market-cap pie slice, dashboard.py:147-153). */
  private def shareOfTotal(spark: SparkSession, dir: String): DataFrame = {
    val perType = Tables(spark, dir, "events")
      .groupBy("event_type").agg(sum("value").as("total"))
    perType
      .select(
        col("event_type"),
        round(col("total"), 2).as("total_value"),
        Num.r(col("total") / sum("total").over(Window.partitionBy()), 6)
          .as("share"))
      .orderBy("event_type")
  }

  /** Unpivot (melt): per-type daily totals back to long form — the
    * inverse of C3, via stack(). */
  private def unpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables(spark, dir, "events")
      .groupBy(col("ts").cast("date").as("day"))
      .pivot("event_type", Seq("click", "purchase", "view"))
      .agg(round(sum("value"), 2))
    wide.selectExpr("day",
        """stack(3, 'click', click, 'purchase', purchase, 'view', view)
           AS (event_type, total)""")
      .filter(col("total").isNotNull)
      .orderBy("day", "event_type")
  }

  /** C3: long→wide pivot (pd.pivot on symbol → per-symbol columns). */
  private def pivotAvg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(Num.r(avg("value"), 4))
      .orderBy("user_id")

  /** D6: pairwise Pearson correlation matrix of per-day totals across
    * event types (pivot(...).corr() in the reference). Sample correlation
    * in both engines; emitted as a long-form (a, b, corr) table. */
  private def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(col("ts").cast("date").as("day"), col("event_type"))
      .agg(sum("value").as("total"))
    val a = daily.select(col("day"), col("event_type").as("type_a"),
      col("total").as("ta"))
    val b = daily.select(col("day"), col("event_type").as("type_b"),
      col("total").as("tb"))
    a.join(b, Seq("day"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(Num.r(corr("ta", "tb"), 4).as("pearson"))
      .orderBy("type_a", "type_b")
  }

  /** B9 falsy-zero guarded arithmetic over a lag pair: change = close-open
    * only when both are non-null AND non-zero, else 0 (data_processing.py:66). */
  private def guardedChange(spark: SparkSession, dir: String): DataFrame = {
    val open = lag("value", 1).over(byUser)
    val close = col("value")
    Tables(spark, dir, "events")
      .select(
        col("event_id"), col("user_id"), round(close, 2).as("close"),
        round(when(open.isNotNull && open =!= 0.0 &&
            close.isNotNull && close =!= 0.0, close - open)
          .otherwise(0.0), 2).as("change_day"))
      .orderBy("event_id")
  }

  /** E4 exact path: running compounded product via the custom
    * [[graft.functions.ProductAgg]] window UDAF — IEEE-sequential multiply
    * in frame order, matching DuckDB's product() bit-for-bit. The factor
    * value/(value+1) ∈ [0,1) keeps the running product bounded. */
  private def cumProduct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .withColumn("f", col("value") / (col("value") + 1.0))
      .selectExpr("event_id", "user_id",
        """round(product_agg(f) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 6)
           AS running_product""")
      .orderBy("event_id")

  /** Time-based sliding window (rangeBetween over event time): per user,
    * mean of the trailing hour — the range-frame complement of the
    * row-frame SMAs. */
  private def rangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").cast("long"))
      .rangeBetween(-3600L, 0L)
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        Num.r(avg("value").over(w), 4).as("avg_1h"),
        count(lit(1)).over(w).as("n_1h"))
      .orderBy("event_id")
  }

  /** Rolling EXACT quantiles (median / p90) over a sliding 20-event
    * frame per user — the robust (outlier-immune) sibling of q_sma's
    * rolling mean. `percentile` is exact interpolated (matches DuckDB's
    * `quantile_cont` definition: index p·(n-1), linear interpolation),
    * not `approx_percentile`, so the oracle hash-matches. Cost shape:
    * a holistic aggregate can't stream the frame, so each row pays
    * O(frame) — fine for a bounded ROWS frame; the partition key
    * (user_id, high cardinality) keeps parallelism at n_users, and the
    * ROWS bound keeps per-row state at 20 values regardless of history
    * length. */
  private def rollingQuantile(spark: SparkSession, dir: String): DataFrame = {
    val frame = "PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW"
    Tables(spark, dir, "events").selectExpr(
      "event_id", "user_id", "ts", "value",
      s"round(percentile(value, 0.5) OVER ($frame) + 1e-9, 4) AS med_20",
      s"round(percentile(value, 0.9) OVER ($frame) + 1e-9, 4) AS p90_20")
      .orderBy("event_id")
  }

  /** B13/B14/B20: presentation tier — UTC→America/Sao_Paulo conversion,
    * HH:mm axis labels, currency/percent rendering. (The oracle uses a
    * fixed -3h offset: São Paulo has no DST since 2019 and the events
    * table is 2024.) */
  private def renderDisplay(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(
        col("event_id"),
        date_format(from_utc_timestamp(col("ts"), "America/Sao_Paulo"),
          "HH:mm").as("label_sp"),
        concat(lit("R$ "), format_string("%.2f", col("value") + lit(1e-9)))
          .as("price_brl"),
        format_string("%.1f%%", col("value") + lit(1e-9)).as("pct"),
        element_at(split(col("event_type"), "_"), 1).as("display_name"))
      .orderBy("event_id")

  /** Rolling z-score anomaly flags: each observation against its key's
    * trailing 20-row mean/stddev; emit only the |z| ≥ 2.5 outliers. Same
    * single-shuffle-plus-in-partition-sort shape as the SMA family — the
    * two window aggregates and the z arithmetic all ride one window pass.
    * The filter compares the ROUNDED z on both engines so an ulp of
    * accumulation-order difference can't flip a row across the
    * threshold. */
  private def anomaly(spark: SparkSession, dir: String): DataFrame = {
    val w = byUser.rowsBetween(-19, 0)
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        avg("value").over(w).as("mu"),
        stddev_samp("value").over(w).as("sigma"))
      .withColumn("z",
        Num.r(when(col("sigma") > 0, (col("value") - col("mu")) / col("sigma")), 4))
      .filter(abs(col("z")) >= 2.5)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        Num.r(col("mu"), 4).as("mu"), col("z"))
      .orderBy("event_id")
  }

  /** Drawdown: running peak and percent distance below it per key — the
    * standard risk series over any price path. One window pass over the
    * same (user_id)-partitioned sort every other series metric reuses;
    * `value` is strictly positive in this domain so the peak never needs
    * a zero guard. */
  private def drawdown(spark: SparkSession, dir: String): DataFrame = {
    val w = byUser.rowsBetween(Window.unboundedPreceding, 0)
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        max("value").over(w).as("peak"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("peak"),
        Num.r((col("value") - col("peak")) / col("peak"), 6).as("drawdown"))
      .orderBy("event_id")
  }

  /** Bollinger bands: 20-row SMA ± 2 rolling sample stddevs, with a band
    * position flag. Bands are defined only on FULL 20-row windows (count
    * guard): Spark yields NaN and DuckDB NULL for a 1-row sample stddev,
    * so partial windows are nulled identically on both engines. */
  private def bollinger(spark: SparkSession, dir: String): DataFrame = {
    val w = byUser.rowsBetween(-19, 0)
    val full = count(lit(1)).over(w) === 20
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        when(full, avg("value").over(w)).as("mid"),
        when(full, stddev_samp("value").over(w)).as("sd"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        Num.r(col("mid"), 4).as("mid"),
        Num.r(col("mid") + lit(2) * col("sd"), 4).as("upper"),
        Num.r(col("mid") - lit(2) * col("sd"), 4).as("lower"),
        when(col("sd").isNull, lit(null).cast("string"))
          .when(col("value") > col("mid") + lit(2) * col("sd"), "above")
          .when(col("value") < col("mid") - lit(2) * col("sd"), "below")
          .otherwise("inside").as("band"))
      .orderBy("event_id")
  }

  /** 14-period RSI (simple-average Cutler form — the recursive Wilder
    * smoothing is order-dependent and engine-hostile). Gains/losses are
    * summed as exact integer CENTS so the avg_loss = 0 branch is an
    * EXACT zero test on both engines, not a float comparison against
    * accumulated noise; the final 100·g/(g+l) is one double division.
    * Defined from the 15th row per key (14 full deltas). */
  private def rsi(spark: SparkSession, dir: String): DataFrame = {
    val dCents = (round(col("value") * 100) -
      round(lag("value", 1).over(byUser) * 100)).cast("long")
    val w = byUser.rowsBetween(-13, 0)
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        dCents.as("d"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        sum(when(col("d") > 0, col("d")).otherwise(0L)).over(w).as("g"),
        sum(when(col("d") < 0, -col("d")).otherwise(0L)).over(w).as("l"),
        count(col("d")).over(w).as("n"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        Num.r(when(col("n") < 14, lit(null))
          .when(col("g") + col("l") === 0, lit(null))
          .otherwise(lit(100.0) * col("g") / (col("g") + col("l"))), 4)
          .as("rsi_14"))
      .orderBy("event_id")
  }

  /** Min-max feature scaling per key — (x − min)/(max − min) over the
    * whole partition, the normalization step of any per-entity feature
    * pipeline. Constant series scale to null (exact compare on raw,
    * unrounded data values). */
  private def minmaxScale(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        min("value").over(w).as("lo"), max("value").over(w).as("hi"))
      .select(col("event_id"), col("user_id"), col("value"),
        Num.r(when(col("hi") > col("lo"),
          (col("value") - col("lo")) / (col("hi") - col("lo"))), 6)
          .as("scaled"))
      .orderBy("event_id")
  }

  /** Weight-averaged price per (user, day) with the weight parsed out of
    * the JSON `props` column (B19 surface in a batch query). The weighted
    * sum runs in exact integer cents·k (order-independent across
    * engines); the single closing division is deterministic. */
  private def vwap(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("user_id", "day")
      .agg(
        sum("k").as("total_k"),
        Num.r(sum(round(col("value") * 100).cast("long") * col("k")) /
          lit(100.0) / sum("k"), 4).as("vwap"))
      .filter(col("total_k") > 0)
      .orderBy("user_id", "day")

  /** Lag-1 autocorrelation per key — the mean-reversion/momentum
    * diagnostic of a series. One window pass to form (x, lag x) pairs
    * on the shared user_id shuffle, then a plain corr aggregate. */
  private def autocorr(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("user_id"), col("value"),
        lag("value", 1).over(byUser).as("prev"))
      .groupBy("user_id")
      .agg(count(col("prev")).as("n_pairs"),
        Num.r(corr("value", "prev"), 4).as("autocorr_1"))
      .orderBy("user_id")

  /** Per-entity beta against the cross-sectional market: daily per-user
    * means joined to the all-users daily mean (the "index"), then
    * covar_samp/var_samp per user. The market series is one tiny
    * per-day aggregate — broadcast back onto the per-user dailies, so
    * the plan is two aggregates and a broadcast join, no self-join of
    * the fact. */
  private def beta(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("day"), col("value"))
    val daily = ev.groupBy("user_id", "day").agg(avg("value").as("uval"))
    val market = ev.groupBy("day").agg(avg("value").as("mval"))
    daily.join(broadcast(market), Seq("day"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_days"),
        Num.r(covar_samp("uval", "mval") / var_samp("mval"), 4).as("beta"))
      .orderBy("user_id")
  }

  /** Time-weighted average price per (user, day): each observation
    * weighted by microseconds until the next one (the TWAP convention;
    * the day's last observation carries no weight). The weighted sum
    * runs in exact integer cents·µs — bounded by max_cents × 86400e6
    * per group, overflow-free — and the two closing divisions are the
    * only float ops. */
  private def twap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "day")
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("day"),
        col("ts"), col("event_id"), col("value"))
      .withColumn("dur_us",
        lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
      .filter(col("dur_us").isNotNull && col("dur_us") > 0)
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_obs"),
        Num.r(sum(round(col("value") * 100).cast("long") * col("dur_us"))
          / lit(100.0) / sum("dur_us"), 4).as("twap"))
      .orderBy("user_id", "day")
  }

  /** The remaining rank-family windows in one pass: percent_rank,
    * cume_dist and nth_value(3) per key, all sharing the single
    * (user_id)-partitioned sort every other series metric reuses.
    * Completes the §2.E window-function surface. */
  private def rankStats(spark: SparkSession, dir: String): DataFrame = {
    val w = byUser
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        Num.r(percent_rank().over(w), 6).as("pct_rank"),
        Num.r(cume_dist().over(w), 6).as("cume"),
        nth_value(col("value"), 3).over(
          w.rowsBetween(Window.unboundedPreceding, 0)).as("third_value"))
      .orderBy("event_id")
  }

  /** Exact EWMA, pandas `ewm(span=9, adjust=False).mean()` — the
    * recurrence y₁ = x₁, yₙ = α·xₙ + (1−α)·yₙ₋₁ as the per-key ordered
    * fold in [[graft.operators.LinearRecurrence]] (one user_id shuffle,
    * one sort, one window). The oracle's recursive CTE runs the same
    * step expression row by row. */
  private def ewma(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LinearRecurrence.ewma(
        Tables(spark, dir, "events"), "user_id",
        Seq(col("ts"), col("event_id")), col("value"),
        Seq("y" -> 0.2))
      .select(col("event_id"), col("user_id"), col("value"),
        Num.rExp(col("y"), 6).as("ewma_9"))
      .orderBy("event_id")

  /** MACD(12, 26, 9) — three coupled EWMA recursions (fast, slow, and the
    * signal line over their difference). The fast and slow lines are two
    * folds in ONE window node; the signal line is a second window on the
    * same key and order, so it adds no exchange and no sort. 100 TB cost
    * ≈ the single-EWMA plan. */
  private def macd(spark: SparkSession, dir: String): DataFrame = {
    val lines = graft.operators.LinearRecurrence.ewma(
        Tables(spark, dir, "events"), "user_id",
        Seq(col("ts"), col("event_id")), col("value"),
        Seq("ema_f" -> 2.0 / 13.0, "ema_s" -> 2.0 / 27.0))
      .withColumn("macd", col("ema_f") - col("ema_s"))
    graft.operators.LinearRecurrence.ewma(
        lines, "user_id", Seq(col("ts"), col("event_id")), col("macd"),
        Seq("sig" -> 0.2))
      .select(col("event_id"), col("user_id"), col("value"),
        Num.rExp(col("macd"), 6).as("macd"),
        Num.rExp(col("sig"), 6).as("signal"),
        Num.rExp(col("macd") - col("sig"), 6).as("histogram"))
      .orderBy("event_id")
  }

  /** Wilder-smoothed RSI — the [[rsi]] indicator's classic recursive
    * form: avg_gain/avg_loss are EWMAs (α = 1/14) of the up/down moves,
    * not box-window sums, so one bad tick decays geometrically instead
    * of falling off a 14-row cliff. Both series are folds in ONE window
    * ([[graft.operators.LinearRecurrence.ewmaCols]] — per-column inputs),
    * which rides the lag window's user_id shuffle and sort. Seeding
    * follows ewm(adjust=False) (first move seeds the average); Wilder's
    * original 14-SMA seed differs only during warmup, the steady state is
    * identical. RSI = 100·g/(g+l); an all-zero-loss prefix gives exactly
    * g+l = 0 (no cancellation — all terms non-negative), so the NULL
    * branch agrees across engines. */
  private def rsiWilder(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "events")
      .withColumn("_delta", col("value") - lag("value", 1).over(byUser))
      .filter(col("_delta").isNotNull)
    graft.operators.LinearRecurrence.ewmaCols(
        base, "user_id", Seq(col("ts"), col("event_id")),
        Seq(("avg_gain", greatest(col("_delta"), lit(0.0)), 1.0 / 14.0),
          ("avg_loss", greatest(-col("_delta"), lit(0.0)), 1.0 / 14.0)))
      .select(col("event_id"), col("user_id"),
        Num.rExp(col("avg_gain"), 6).as("avg_gain"),
        Num.rExp(col("avg_loss"), 6).as("avg_loss"),
        when(col("avg_gain") + col("avg_loss") === 0.0, lit(null))
          .otherwise(Num.rExp(
            lit(100.0) * col("avg_gain")
              / (col("avg_gain") + col("avg_loss")), 4)).as("rsi_w"))
      .orderBy("event_id")
  }

  /** pandas-DEFAULT EWMA — `ewm(span=9).mean()` with adjust=True: the
    * debiased finite-window form Σ(1−α)ⁱ·xₙ₋ᵢ / Σ(1−α)ⁱ. Both the
    * weighted sum and the weight total are first-order linear
    * recurrences with step factor 1 ([[graft.operators.LinearRecurrence
    * .ewSumCols]]), so the pair is two folds in ONE window and the mean
    * is a per-row ratio. Complements [[ewma]] (adjust=False): together they
    * cover both pandas ewm modes exactly. */
  private def ewmaAdjusted(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LinearRecurrence.ewSumCols(
        Tables(spark, dir, "events"), "user_id",
        Seq(col("ts"), col("event_id")),
        Seq(("sx", col("value"), 0.2), ("sw", lit(1.0), 0.2)))
      .select(col("event_id"), col("user_id"), col("value"),
        Num.rExp(col("sx") / col("sw"), 6).as("ewma_adj_9"))
      .orderBy("event_id")

  /** RiskMetrics EW volatility (J.P. Morgan TD4e, λ = 0.94): the
    * exponentially-weighted mean and BIASED variance as ratios of three
    * linear recurrences — S(1), S(x), S(x²), all with decay λ and step
    * factor 1 — as three folds in ONE window: var = S(x²)/S(1) − mean²,
    * vol = √max(var, 0). The one-pass streaming-friendly volatility
    * estimator, exact at any series length (no window truncation). At
    * n = 1 the variance is exactly 0 in both engines (identical products
    * cancel bit-for-bit); beyond that the guard only clips float dust. */
  private def ewmVolatility(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LinearRecurrence.ewSumCols(
        Tables(spark, dir, "events"), "user_id",
        Seq(col("ts"), col("event_id")),
        Seq(("sx", col("value"), 0.06),
          ("sx2", col("value") * col("value"), 0.06),
          ("sw", lit(1.0), 0.06)))
      .select(col("event_id"), col("user_id"), col("value"),
        Num.rExp(col("sx") / col("sw"), 4).as("ewm_mean"),
        // mean² as an explicit product: pow(x, 2) is libm territory where
        // engines may differ by an ulp; x*x is a single IEEE multiply
        Num.rExp(sqrt(greatest(
          col("sx2") / col("sw")
            - (col("sx") / col("sw")) * (col("sx") / col("sw")),
          lit(0.0))), 4).as("ewm_vol"))
      .orderBy("event_id")

  /** Holt double exponential smoothing (α = 0.2, β = 0.1): level, trend
    * and the one-step forecast l + t per key — the trend-aware cousin of
    * [[ewma]], running on [[graft.operators.LinearRecurrence.holt]]'s
    * per-key fold of one (level, trend) state over the same single
    * window plan. The oracle's recursive CTE runs the same step
    * expressions row by row. Forecast sums the ROUNDED level and trend
    * (identical addends on both engines). */
  private def holt(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LinearRecurrence.holt(
        Tables(spark, dir, "events")
          .select("event_id", "user_id", "ts", "value"),
        "user_id", Seq(col("ts"), col("event_id")), col("value"),
        0.2, 0.1, "_hl", "_ht")
      // + 0.0 folds IEEE −0.0 to +0.0: a trend hovering at −1e-8 rounds
      // to −0 in DuckDB (std::round) but 0 in Spark (BigDecimal), and
      // the driver stringifies them differently
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        (Num.rExp(col("_hl"), 6) + lit(0.0)).as("level"),
        (Num.rExp(col("_ht"), 6) + lit(0.0)).as("trend"))
      .withColumn("forecast", Num.r(col("level") + col("trend"), 6) + lit(0.0))
      .orderBy("event_id")

  /** Stochastic oscillator: %K = 100·(close − low₁₄)/(high₁₄ − low₁₄)
    * over a 14-row trailing window, %D = 3-row SMA of %K. Both are
    * defined only on FULL windows (count guards), and %K is ROUNDED
    * before %D averages it so both engines smooth identical inputs. A
    * flat 14-row window (high = low) yields null %K — the 0/0 case.
    * Scale shape: two stacked window passes over the same per-key sort —
    * one shuffle on user_id, no re-sort between passes. */
  private def stochastic(spark: SparkSession, dir: String): DataFrame = {
    val w14 = byUser.rowsBetween(-13, 0)
    val full = count(lit(1)).over(w14) === 14
    val w3 = byUser.rowsBetween(-2, 0)
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        when(full, min("value").over(w14)).as("lo"),
        when(full, max("value").over(w14)).as("hi"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        Num.r(when(col("hi") > col("lo"),
          lit(100.0) * (col("value") - col("lo")) / (col("hi") - col("lo"))), 4)
          .as("pct_k"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("pct_k"),
        Num.r(when(count(col("pct_k")).over(w3) === 3,
          avg(col("pct_k")).over(w3)), 4).as("pct_d"))
      .orderBy("event_id")
  }

  /** On-balance volume: running sum of sign(Δprice)·volume per key, the
    * classic volume-flow confirmation indicator. The price delta is
    * compared as exact integer CENTS (like [[rsi]]) so the three-way
    * sign branch is engine-exact, and volume (the `k` prop, an integer)
    * accumulates as BIGINT — the whole query is exact integer math with
    * zero float rounding. First row per key contributes 0 (no delta). */
  private def obv(spark: SparkSession, dir: String): DataFrame = {
    val wCum = byUser.rowsBetween(Window.unboundedPreceding, 0)
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        (round(col("value") * 100).cast("long") -
          round(lag("value", 1).over(byUser) * 100).cast("long")).as("d"))
      .select(col("event_id"), col("user_id"), col("ts"),
        sum(when(col("d") > 0, col("k"))
          .when(col("d") < 0, -col("k")).otherwise(lit(0L))).over(wCum)
          .as("obv"))
      .orderBy("event_id")
  }

  /** Historical (empirical) 95% VaR and CVaR per key over 1-step simple
    * returns. Deliberately DISCRETE, not interpolated: the tail is the
    * ⌈n/20⌉ smallest returns under a (return, event_id) total order, VaR
    * is the tail's max (the k-th order statistic) and CVaR its mean —
    * exact set selection on both engines, no percentile-interpolation
    * convention to disagree on (Spark `percentile` and DuckDB
    * `quantile_cont` interpolate; rank selection sidesteps both).
    * Returns are rounded to 6 dp BEFORE ranking so the order key is
    * engine-identical. ⌈n/20⌉ is integer math — (n+19) div 20 — never a
    * float ceil (0.05·280 in binary is 14.000000000000002). */
  private def varCvar(spark: SparkSession, dir: String): DataFrame = {
    val prev = lag("value", 1).over(byUser)
    val wRank = Window.partitionBy("user_id")
      .orderBy(col("ret").asc, col("event_id").asc)
    val wAll = Window.partitionBy("user_id")
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        Num.r(when(col("value") > 0 && prev > 0, col("value") / prev - 1), 6)
          .as("ret"))
      .filter(col("ret").isNotNull)
      .select(col("user_id"), col("ret"), col("event_id"),
        row_number().over(wRank).as("rk"),
        count(lit(1)).over(wAll).as("n"))
      .filter(col("rk") <= greatest(lit(1L), floor((col("n") + 19L) / 20L)))
      .groupBy("user_id")
      .agg(max(col("n")).as("n_returns"),
        max(col("ret")).as("var_95"),
        Num.r(avg(col("ret")), 6).as("cvar_95"))
      .orderBy("user_id")
  }

  /** Annualized Sharpe and Sortino ratios per key over daily close-to-
    * close returns (rf = 0). The daily close is a `max_by` on
    * (ts, event_id) — one hash aggregate, no per-event sort. Ratios are
    * computed FROM the 6-dp-rounded mean/deviation columns (identical
    * numerators and denominators on both engines, one division each);
    * √252 is IEEE-exact on both. Sortino's downside deviation is the
    * full-sample √E[min(ret,0)²] convention; zero-downside keys yield
    * null. */
  private def sharpe(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .withColumn("day", to_date(col("ts")))
      .groupBy("user_id", "day")
      .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"))
    val wDay = Window.partitionBy("user_id").orderBy("day")
    val prev = lag("close", 1).over(wDay)
    val ann = math.sqrt(252.0)
    daily
      .select(col("user_id"),
        Num.r(when(col("close") > 0 && prev > 0, col("close") / prev - 1), 6)
          .as("ret"))
      .filter(col("ret").isNotNull)
      .groupBy("user_id")
      // count guard: Spark's 1-sample stddev_samp is NaN, DuckDB's NULL —
      // null both engines identically (same convention as [[bollinger]])
      .agg(count(lit(1)).as("n_days"),
        Num.r(avg("ret"), 6).as("mean_ret"),
        Num.r(when(count(lit(1)) >= 2, stddev_samp("ret")), 6).as("sd_ret"),
        Num.rExp(sqrt(avg(when(col("ret") < 0, col("ret") * col("ret"))
          .otherwise(lit(0.0)))), 6).as("dd_ret"))
      .select(col("user_id"), col("n_days"), col("mean_ret"), col("sd_ret"),
        col("dd_ret"),
        Num.r(when(col("sd_ret") > 0, lit(ann) * col("mean_ret") / col("sd_ret")), 4)
          .as("sharpe"),
        Num.r(when(col("dd_ret") > 0, lit(ann) * col("mean_ret") / col("dd_ret")), 4)
          .as("sortino"))
      .orderBy("user_id")
  }

  private val wUser = "PARTITION BY user_id ORDER BY ts, event_id"
  private val E = OracleSources.events

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_latest_per_key", latestPerKey, Some(s"""
      SELECT user_id, event_id, ts, event_type, value
      FROM $E
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) = 1
      ORDER BY user_id""")),
    QueryDef("q_dedup_keeplast", dedupKeepLast, Some(s"""
      SELECT user_id, event_type, event_id, ts, value
      FROM $E
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts DESC, event_id DESC) = 1
      ORDER BY user_id, event_type""")),
    QueryDef("q_sma", sma, Some(s"""
      SELECT event_id, user_id, ts, value,
             round(avg(value) OVER ($wUser
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) + 1e-9, 4) AS sma_5,
             round(avg(value) OVER ($wUser
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) + 1e-9, 4) AS sma_20
      FROM $E
      ORDER BY event_id""")),
    QueryDef("q_lag_return", lagReturn, Some(s"""
      WITH lagged AS (
        SELECT event_id, user_id, value,
               lag(value, 1) OVER ($wUser) AS prev
        FROM $E)
      SELECT event_id, user_id, value,
             round(CASE WHEN prev > 0.0 AND value > 0.0
                        THEN value / prev - 1.0 END + 1e-9, 6) AS daily_return
      FROM lagged
      ORDER BY event_id""")),
    QueryDef("q_cum_return", cumReturn, Some(s"""
      WITH lagged AS (
        SELECT event_id, user_id, value, ts,
               lag(value, 1) OVER ($wUser) AS prev
        FROM $E),
      r AS (
        SELECT event_id, user_id,
               CASE WHEN prev > 0.0 AND value > 0.0
                    THEN value / prev - 1.0 END AS r,
               ts
        FROM lagged)
      SELECT event_id, user_id, round(r + 1e-9, 6) AS daily_return,
             CASE WHEN r IS NULL THEN NULL
                  ELSE round(exp(sum(ln(1.0 + r)) OVER ($wUser
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                    - 1.0 + 1e-8, 6) END AS cumulative_return
      FROM r
      ORDER BY event_id""")),
    QueryDef("q_argmax", argmax, Some("""
      WITH totals AS (
        SELECT event_type, user_id, round(sum(value), 2) AS total_value
        FROM events GROUP BY event_type, user_id)
      SELECT event_type, user_id, total_value
      FROM totals
      QUALIFY row_number() OVER (PARTITION BY event_type
                                 ORDER BY total_value DESC, user_id) = 1
      ORDER BY event_type""")),
    QueryDef("q_share_of_total", shareOfTotal, Some("""
      WITH per_type AS (
        SELECT event_type, sum(value) AS total FROM events GROUP BY 1)
      SELECT event_type, round(total, 2) AS total_value,
             round(total / sum(total) OVER () + 1e-9, 6) AS share
      FROM per_type
      ORDER BY event_type""")),
    QueryDef("q_unpivot", unpivot, Some("""
      WITH wide AS (
        SELECT CAST(ts AS DATE) AS day,
               round(sum(value) FILTER (event_type = 'click'), 2) AS click,
               round(sum(value) FILTER (event_type = 'purchase'), 2) AS purchase,
               round(sum(value) FILTER (event_type = 'view'), 2) AS view
        FROM events GROUP BY 1)
      SELECT day, event_type, total
      FROM wide
      UNPIVOT (total FOR event_type IN (click, purchase, view))
      ORDER BY day, event_type""")),
    QueryDef("q_pivot_avg", pivotAvg, Some("""
      SELECT user_id,
             round(avg(value) FILTER (event_type = 'click') + 1e-9, 4) AS click,
             round(avg(value) FILTER (event_type = 'error') + 1e-9, 4) AS error,
             round(avg(value) FILTER (event_type = 'purchase') + 1e-9, 4) AS purchase,
             round(avg(value) FILTER (event_type = 'signup') + 1e-9, 4) AS signup,
             round(avg(value) FILTER (event_type = 'view') + 1e-9, 4) AS view
      FROM events
      GROUP BY user_id
      ORDER BY user_id""")),
    QueryDef("q_corr_matrix", corrMatrix, Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, sum(value) AS total
        FROM events GROUP BY 1, 2)
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             round(corr(a.total, b.total) + 1e-9, 4) AS pearson
      FROM daily a JOIN daily b ON a.day = b.day
      WHERE a.event_type < b.event_type
      GROUP BY 1, 2
      ORDER BY type_a, type_b""")),
    QueryDef("q_range_window", rangeWindow, Some(s"""
      SELECT event_id, user_id, ts,
             round(avg(value) OVER (PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
               + 1e-9, 4) AS avg_1h,
             count(*) OVER (PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
               AS n_1h
      FROM $E
      ORDER BY event_id""")),
    QueryDef("q_rolling_quantile", rollingQuantile, Some(s"""
      SELECT event_id, user_id, ts, value,
             round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) + 1e-9, 4) AS med_20,
             round(quantile_cont(value, 0.9) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) + 1e-9, 4) AS p90_20
      FROM $E
      ORDER BY event_id""")),
    QueryDef("q_cum_product", cumProduct, Some(s"""
      SELECT event_id, user_id,
             round(product_agg(f) OVER ($wUser
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 6)
               AS running_product
      FROM (SELECT event_id, user_id, ts, value / (value + 1.0) AS f FROM $E)
      ORDER BY event_id""".replace("product_agg", "product"))),
    QueryDef("q_render_display", renderDisplay, Some(s"""
      SELECT event_id,
             strftime(ts - INTERVAL 3 HOUR, '%H:%M') AS label_sp,
             'R$$ ' || printf('%.2f', value + 1e-9) AS price_brl,
             printf('%.1f%%', value + 1e-9) AS pct,
             string_split(event_type, '_')[1] AS display_name
      FROM $E
      ORDER BY event_id""")),
    QueryDef("q_guarded_change", guardedChange, Some(s"""
      WITH lagged AS (
        SELECT event_id, user_id, value AS close,
               lag(value, 1) OVER ($wUser) AS open
        FROM $E)
      SELECT event_id, user_id, round(close, 2) AS close,
             round(CASE WHEN open IS NOT NULL AND open <> 0.0
                         AND close IS NOT NULL AND close <> 0.0
                        THEN close - open ELSE 0.0 END, 2) AS change_day
      FROM lagged
      ORDER BY event_id""")),
    QueryDef("q_anomaly", anomaly, Some(s"""
      WITH s AS (
        SELECT event_id, user_id, ts, value,
               avg(value) OVER w AS mu,
               stddev_samp(value) OVER w AS sigma
        FROM $E
        WINDOW w AS ($wUser ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
      z AS (
        SELECT event_id, user_id, ts, value,
               round(mu + 1e-9, 4) AS mu,
               round(CASE WHEN sigma > 0 THEN (value - mu) / sigma END + 1e-9, 4) AS z
        FROM s)
      SELECT event_id, user_id, ts, value, mu, z
      FROM z WHERE abs(z) >= 2.5
      ORDER BY event_id""")),
    QueryDef("q_drawdown", drawdown, Some(s"""
      WITH peaks AS (
        SELECT event_id, user_id, ts, value,
               max(value) OVER ($wUser
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        FROM $E)
      SELECT event_id, user_id, ts, value, peak,
             round((value - peak) / peak + 1e-9, 6) AS drawdown
      FROM peaks
      ORDER BY event_id""")),
    QueryDef("q_bollinger", bollinger, Some(s"""
      WITH s AS (
        SELECT event_id, user_id, ts, value,
               CASE WHEN count(*) OVER w = 20
                    THEN avg(value) OVER w END AS mid,
               CASE WHEN count(*) OVER w = 20
                    THEN stddev_samp(value) OVER w END AS sd
        FROM $E
        WINDOW w AS ($wUser ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      SELECT event_id, user_id, ts, value,
             round(mid + 1e-9, 4) AS mid,
             round(mid + 2 * sd + 1e-9, 4) AS upper,
             round(mid - 2 * sd + 1e-9, 4) AS lower,
             CASE WHEN sd IS NULL THEN NULL
                  WHEN value > mid + 2 * sd THEN 'above'
                  WHEN value < mid - 2 * sd THEN 'below'
                  ELSE 'inside' END AS band
      FROM s
      ORDER BY event_id""")),
    QueryDef("q_rsi", rsi, Some(s"""
      WITH d AS (
        SELECT event_id, user_id, ts, value,
               CAST(round(value * 100) -
                    round(lag(value, 1) OVER ($wUser) * 100) AS BIGINT) AS d
        FROM $E),
      gl AS (
        SELECT event_id, user_id, ts, value,
               CAST(sum(CASE WHEN d > 0 THEN d ELSE 0 END) OVER w AS BIGINT) AS g,
               CAST(sum(CASE WHEN d < 0 THEN -d ELSE 0 END) OVER w AS BIGINT) AS l,
               count(d) OVER w AS n
        FROM d
        WINDOW w AS ($wUser ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      SELECT event_id, user_id, ts, value,
             round(CASE WHEN n < 14 THEN NULL
                        WHEN g + l = 0 THEN NULL
                        ELSE 100.0 * g / (g + l) END + 1e-9, 4) AS rsi_14
      FROM gl
      ORDER BY event_id""")),
    QueryDef("q_minmax_scale", minmaxScale, Some(s"""
      WITH ext AS (
        SELECT event_id, user_id, value,
               min(value) OVER (PARTITION BY user_id) AS lo,
               max(value) OVER (PARTITION BY user_id) AS hi
        FROM $E)
      SELECT event_id, user_id, value,
             round(CASE WHEN hi > lo THEN (value - lo) / (hi - lo) END
                   + 1e-9, 6) AS scaled
      FROM ext
      ORDER BY event_id""")),
    QueryDef("q_vwap", vwap, Some(s"""
      WITH src AS (
        SELECT user_id, CAST(ts AS DATE) AS day, value,
               CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
        FROM $E)
      SELECT user_id, day,
             CAST(sum(k) AS BIGINT) AS total_k,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT) * k) AS DOUBLE)
                   / 100.0 / sum(k) + 1e-9, 4) AS vwap
      FROM src
      GROUP BY user_id, day
      HAVING sum(k) > 0
      ORDER BY user_id, day""")),
    QueryDef("q_autocorr", autocorr, Some(s"""
      WITH lagged AS (
        SELECT user_id, value,
               lag(value, 1) OVER ($wUser) AS prev
        FROM $E)
      SELECT user_id, count(prev) AS n_pairs,
             round(corr(value, prev) + 1e-9, 4) AS autocorr_1
      FROM lagged
      GROUP BY user_id
      ORDER BY user_id""")),
    QueryDef("q_beta", beta, Some(s"""
      WITH src AS (
        SELECT user_id, CAST(ts AS DATE) AS day, value FROM $E),
      daily AS (
        SELECT user_id, day, avg(value) AS uval
        FROM src GROUP BY user_id, day),
      market AS (
        SELECT day, avg(value) AS mval FROM src GROUP BY day)
      SELECT d.user_id, count(*) AS n_days,
             round(covar_samp(d.uval, m.mval) / var_samp(m.mval) + 1e-9, 4)
               AS beta
      FROM daily d JOIN market m USING (day)
      GROUP BY d.user_id
      ORDER BY d.user_id""")),
    QueryDef("q_twap", twap, Some(s"""
      WITH src AS (
        SELECT user_id, CAST(ts AS DATE) AS day, value,
               lead(epoch_us(ts)) OVER (
                 PARTITION BY user_id, CAST(ts AS DATE)
                 ORDER BY ts, event_id) - epoch_us(ts) AS dur_us
        FROM $E)
      SELECT user_id, day, count(*) AS n_obs,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT) * dur_us)
                     AS DOUBLE) / 100.0 / sum(dur_us) + 1e-9, 4) AS twap
      FROM src
      WHERE dur_us IS NOT NULL AND dur_us > 0
      GROUP BY user_id, day
      ORDER BY user_id, day""")),
    QueryDef("q_ewma", ewma, Some(s"""
      WITH RECURSIVE e AS (
        SELECT event_id, user_id, value,
               row_number() OVER ($wUser) AS rn
        FROM $E),
      r AS (
        SELECT event_id, user_id, value, rn, CAST(value AS DOUBLE) AS y
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.event_id, e.user_id, e.value, e.rn,
               0.2 * e.value + (1.0 - 0.2) * r.y
        FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      SELECT event_id, user_id, value, round(y + 1e-8, 6) AS ewma_9
      FROM r
      ORDER BY event_id""")),
    QueryDef("q_macd", macd, Some(s"""
      WITH RECURSIVE e AS (
        SELECT event_id, user_id, value,
               row_number() OVER ($wUser) AS rn
        FROM $E),
      r AS (
        SELECT event_id, user_id, value, rn,
               CAST(value AS DOUBLE) AS yf, CAST(value AS DOUBLE) AS ys,
               CAST(0.0 AS DOUBLE) AS ysig
        FROM e WHERE rn = 1
        UNION ALL
        -- e-notation keeps the constants DOUBLE in BOTH dialects: Spark
        -- SQL parses 2.0/13.0 as DECIMAL division (scale-truncated ≈1e-6,
        -- which compounds through the recursion), DuckDB as double
        SELECT e.event_id, e.user_id, e.value, e.rn,
               (2e0 / 13e0) * e.value + (1e0 - 2e0 / 13e0) * r.yf,
               (2e0 / 27e0) * e.value + (1e0 - 2e0 / 27e0) * r.ys,
               0.2 * ((2e0 / 13e0) * e.value + (1e0 - 2e0 / 13e0) * r.yf
                      - ((2e0 / 27e0) * e.value + (1e0 - 2e0 / 27e0) * r.ys))
                 + (1.0 - 0.2) * r.ysig
        FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      SELECT event_id, user_id, value,
             round(yf - ys + 1e-8, 6) AS macd,
             round(ysig + 1e-8, 6) AS signal,
             round(yf - ys - ysig + 1e-8, 6) AS histogram
      FROM r
      ORDER BY event_id""")),
    QueryDef("q_ewma_adjusted", ewmaAdjusted, Some(s"""
      WITH RECURSIVE e AS (
        SELECT event_id, user_id, value,
               row_number() OVER ($wUser) AS rn
        FROM $E),
      r AS (
        SELECT event_id, user_id, value, rn,
               CAST(value AS DOUBLE) AS sx, CAST(1.0 AS DOUBLE) AS sw
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.event_id, e.user_id, e.value, e.rn,
               e.value + (1e0 - 2e-1) * r.sx,
               1e0 + (1e0 - 2e-1) * r.sw
        FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      SELECT event_id, user_id, value,
             round(sx / sw + 1e-8, 6) AS ewma_adj_9
      FROM r
      ORDER BY event_id""")),
    QueryDef("q_ewm_volatility", ewmVolatility, Some(s"""
      WITH RECURSIVE e AS (
        SELECT event_id, user_id, value,
               row_number() OVER ($wUser) AS rn
        FROM $E),
      r AS (
        SELECT event_id, user_id, value, rn,
               CAST(value AS DOUBLE) AS sx,
               CAST(value * value AS DOUBLE) AS sx2,
               CAST(1.0 AS DOUBLE) AS sw
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.event_id, e.user_id, e.value, e.rn,
               e.value + (1e0 - 6e-2) * r.sx,
               e.value * e.value + (1e0 - 6e-2) * r.sx2,
               1e0 + (1e0 - 6e-2) * r.sw
        FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      SELECT event_id, user_id, value,
             round(sx / sw + 1e-8, 4) AS ewm_mean,
             round(sqrt(greatest(
               sx2 / sw - (sx / sw) * (sx / sw), 0)) + 1e-8, 4) AS ewm_vol
      FROM r
      ORDER BY event_id""")),
    QueryDef("q_rsi_wilder", rsiWilder, Some(s"""
      WITH RECURSIVE e AS (
        SELECT event_id, user_id, value,
               value - lag(value, 1) OVER ($wUser) AS delta,
               row_number() OVER ($wUser) AS rn
        FROM $E),
      f AS (
        SELECT event_id, user_id,
               CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS g,
               CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS l,
               row_number() OVER (PARTITION BY user_id ORDER BY rn) AS rn2
        FROM e WHERE delta IS NOT NULL),
      r AS (
        SELECT event_id, user_id, rn2, g AS ag, l AS al
        FROM f WHERE rn2 = 1
        UNION ALL
        -- e-notation: DOUBLE division in both dialects (Spark SQL would
        -- read 1.0/14.0 as scale-truncated DECIMAL division)
        SELECT f.event_id, f.user_id, f.rn2,
               (1e0 / 14e0) * f.g + (1e0 - 1e0 / 14e0) * r.ag,
               (1e0 / 14e0) * f.l + (1e0 - 1e0 / 14e0) * r.al
        FROM f JOIN r ON f.user_id = r.user_id AND f.rn2 = r.rn2 + 1)
      SELECT event_id, user_id,
             round(ag + 1e-8, 6) AS avg_gain,
             round(al + 1e-8, 6) AS avg_loss,
             CASE WHEN ag + al = 0 THEN NULL
                  ELSE round(100.0 * ag / (ag + al) + 1e-8, 4) END AS rsi_w
      FROM r
      ORDER BY event_id""")),
    QueryDef("q_rank_stats", rankStats, Some(s"""
      SELECT event_id, user_id, ts, value,
             round(percent_rank() OVER ($wUser) + 1e-9, 6) AS pct_rank,
             round(cume_dist() OVER ($wUser) + 1e-9, 6) AS cume,
             nth_value(value, 3) OVER ($wUser
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS third_value
      FROM $E
      ORDER BY event_id""")),
    QueryDef("q_holt", holt, Some(s"""
      WITH RECURSIVE e AS (
        SELECT event_id, user_id, ts, value,
               row_number() OVER ($wUser) AS rn
        FROM $E),
      r AS (
        SELECT event_id, user_id, ts, value, rn,
               CAST(value AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS t
        FROM e WHERE rn = 1
        UNION ALL
        -- e-notation keeps every constant DOUBLE in both dialects; the
        -- trend line re-states the new level inline (recursive terms
        -- can't name intermediates)
        SELECT e.event_id, e.user_id, e.ts, e.value, e.rn,
               2e-1 * e.value + (1e0 - 2e-1) * (r.l + r.t),
               1e-1 * ((2e-1 * e.value + (1e0 - 2e-1) * (r.l + r.t)) - r.l)
                 + (1e0 - 1e-1) * r.t
        FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1),
      o AS (
        -- + 0e0 folds −0.0 to +0.0 (see the Spark side)
        SELECT event_id, user_id, ts, value,
               round(l + 1e-8, 6) + 0e0 AS level,
               round(t + 1e-8, 6) + 0e0 AS trend
        FROM r)
      SELECT event_id, user_id, ts, value, level, trend,
             round(level + trend + 1e-9, 6) + 0e0 AS forecast
      FROM o
      ORDER BY event_id""")),
    QueryDef("q_stochastic", stochastic, Some(s"""
      WITH s AS (
        SELECT event_id, user_id, ts, value,
               CASE WHEN count(*) OVER w = 14 THEN min(value) OVER w END AS lo,
               CASE WHEN count(*) OVER w = 14 THEN max(value) OVER w END AS hi
        FROM $E
        WINDOW w AS ($wUser ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
      k AS (
        SELECT event_id, user_id, ts, value,
               round(CASE WHEN hi > lo
                     THEN 100.0 * (value - lo) / (hi - lo) END + 1e-9, 4) AS pct_k
        FROM s)
      SELECT event_id, user_id, ts, value, pct_k,
             round(CASE WHEN count(pct_k) OVER w3 = 3
                   THEN avg(pct_k) OVER w3 END + 1e-9, 4) AS pct_d
      FROM k
      WINDOW w3 AS ($wUser ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""")),
    QueryDef("q_obv", obv, Some(s"""
      WITH d AS (
        SELECT event_id, user_id, ts,
               CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
               CAST(round(value * 100) AS BIGINT) -
               CAST(round(lag(value, 1) OVER ($wUser) * 100) AS BIGINT) AS d
        FROM $E)
      SELECT event_id, user_id, ts,
             CAST(sum(CASE WHEN d > 0 THEN k WHEN d < 0 THEN -k ELSE 0 END)
                  OVER ($wUser ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS obv
      FROM d
      ORDER BY event_id""")),
    QueryDef("q_var_cvar", varCvar, Some(s"""
      WITH r AS (
        SELECT event_id, user_id,
               round(CASE WHEN value > 0 AND lag(value, 1) OVER ($wUser) > 0
                     THEN value / lag(value, 1) OVER ($wUser) - 1 END
                     + 1e-9, 6) AS ret
        FROM $E),
      ranked AS (
        SELECT user_id, ret, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ret, event_id) AS rk,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM r WHERE ret IS NOT NULL)
      SELECT user_id, CAST(max(n) AS BIGINT) AS n_returns,
             max(ret) AS var_95,
             round(avg(ret) + 1e-9, 6) AS cvar_95
      FROM ranked
      WHERE rk <= greatest(1, (n + 19) // 20)
      GROUP BY user_id
      ORDER BY user_id""")),
    QueryDef("q_sharpe", sharpe, Some(s"""
      WITH daily AS (
        SELECT user_id, day, max(CASE WHEN rl = 1 THEN value END) AS close
        FROM (
          SELECT user_id, CAST(ts AS DATE) AS day, value,
                 row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                    ORDER BY ts DESC, event_id DESC) AS rl
          FROM $E)
        GROUP BY user_id, day),
      r AS (
        SELECT user_id,
               round(CASE WHEN close > 0 AND lag(close, 1) OVER wd > 0
                     THEN close / lag(close, 1) OVER wd - 1 END
                     + 1e-9, 6) AS ret
        FROM daily
        WINDOW wd AS (PARTITION BY user_id ORDER BY day)),
      agg AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
               round(avg(ret) + 1e-9, 6) AS mean_ret,
               round(CASE WHEN count(*) >= 2 THEN stddev_samp(ret) END
                     + 1e-9, 6) AS sd_ret,
               round(sqrt(avg(CASE WHEN ret < 0 THEN ret * ret ELSE 0e0 END))
                     + 1e-8, 6) AS dd_ret
        FROM r WHERE ret IS NOT NULL
        GROUP BY user_id)
      SELECT user_id, n_days, mean_ret, sd_ret, dd_ret,
             round(CASE WHEN sd_ret > 0
                   THEN sqrt(252e0) * mean_ret / sd_ret END + 1e-9, 4) AS sharpe,
             round(CASE WHEN dd_ret > 0
                   THEN sqrt(252e0) * mean_ret / dd_ret END + 1e-9, 4) AS sortino
      FROM agg
      ORDER BY user_id""")),
  )
}
