package graft

import org.apache.spark.sql.functions._
import graft.operators.B3Pipeline

/** Unit coverage for the pandas-semantics corners called out in
  * SURVEY.md §7.3 — each on a tiny literal frame with a hand-computed
  * expectation. */
class B3PipelineSpec extends SparkSpec with TempLakes {
  import org.apache.spark.sql.Row

  private def ev(rows: Seq[(String, Int, Double, Long)]) = {
    import spark.implicits._
    rows.toDF("sym", "t", "close", "volume")
  }

  test("dedupKeepLast: newest row wins per key, priority breaks ties") {
    import spark.implicits._
    val df = Seq(
      ("A", 1, 10.0, 1L), ("A", 1, 11.0, 2L), // same (key, t): higher prio wins
      ("A", 2, 12.0, 1L)
    ).toDF("sym", "t", "close", "prio")
    val out = B3Pipeline.dedupKeepLast(df, Seq("sym", "t"),
      Seq(col("prio")))
      .orderBy("t").select("close").as[Double].collect()
    assert(out.toSeq == Seq(11.0, 12.0))
  }

  test("calculateMetrics: SMA min_periods=1 from the first row") {
    val out = B3Pipeline.calculateMetrics(
      ev(Seq(("A", 1, 10.0, 100L), ("A", 2, 20.0, 100L), ("A", 3, 30.0, 100L))),
      "sym", "t", "volume", "close", "volume")
      .orderBy("t").select("sma_5").collect().map(_.getDouble(0))
    // pandas rolling(5, min_periods=1).mean(): 10, 15, 20
    assert(out.toSeq == Seq(10.0, 15.0, 20.0))
  }

  test("calculateMetrics: first-row daily_return null → filled semantics") {
    val out = B3Pipeline.calculateMetrics(
      ev(Seq(("A", 1, 10.0, 1L), ("A", 2, 15.0, 1L))),
      "sym", "t", "volume", "close", "volume")
      .orderBy("t").select("daily_return", "cumulative_return").collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1)) // pct_change row 1 = NaN
    assert(math.abs(out(1).getDouble(0) - 0.5) < 1e-12)
    assert(math.abs(out(1).getDouble(1) - 0.5) < 1e-12) // cumprod(1.5)-1
  }

  test("calculateMetrics: cumulative return compounds across rows") {
    val out = B3Pipeline.calculateMetrics(
      ev(Seq(("A", 1, 100.0, 1L), ("A", 2, 110.0, 1L), ("A", 3, 99.0, 1L))),
      "sym", "t", "volume", "close", "volume")
      .orderBy("t").select("cumulative_return").collect()
    // (1+0.1)(1-0.1) - 1 = -0.01
    assert(math.abs(out(2).getDouble(0) - -0.01) < 1e-12)
  }

  test("calculateMetrics: per-key isolation (windows never cross symbols)") {
    val out = B3Pipeline.calculateMetrics(
      ev(Seq(("A", 1, 10.0, 1L), ("B", 2, 999.0, 1L), ("A", 3, 20.0, 1L))),
      "sym", "t", "volume", "close", "volume")
      .filter(col("sym") === "A").orderBy("t")
      .select("sma_5", "daily_return").collect()
    assert(out(1).getDouble(0) == 15.0) // avg(10,20), B's 999 not included
    assert(math.abs(out(1).getDouble(1) - 1.0) < 1e-12)
  }

  test("changeDay: falsy-zero guard (0 and null both yield 0, not null)") {
    import spark.implicits._
    val df = Seq(
      (Some(10.0), Some(12.0), 2.0), // normal: close - open
      (Some(0.0), Some(12.0), 0.0), // open == 0 → 0 (python falsy)
      (None: Option[Double], Some(12.0), 0.0), // open null → 0
      (Some(10.0), Some(0.0), 0.0) // close == 0 → 0
    ).toDF("open", "close", "expected")
    val bad = df.withColumn("got",
        B3Pipeline.changeDay(col("open"), col("close")))
      .filter(col("got") =!= col("expected")).count()
    assert(bad == 0)
  }

  test("normalizeSymbol strips only a trailing .SA") {
    import spark.implicits._
    val out = Seq("PETR4.SA", "PETR4", "X.SAY", "A.SA.SA")
      .toDF("s").select(B3Pipeline.normalizeSymbol(col("s")))
      .as[String].collect()
    assert(out.toSeq == Seq("PETR4", "PETR4", "X.SAY", "A.SA"))
  }

  test("historicalLoad: CSV -> filter/coerce/dropna/parse -> partitioned parquet") {
    val dir = tempLake("graft_hist")
    // COTAHIST-shaped rows: one lot-padrao (CODBDI=2), one odd-lot (=96),
    // one with a garbage price (coerce -> null -> dropped)
    val header = graft.Schemas.cotahistBar.fieldNames.mkString(",")
    def row(codbdi: Int, preult: String, date: String) =
      s"1,$date,$codbdi,PETR4,10,PETROBRAS,ON,10.0,12.0,9.5,10.8,$preult,100,1000,108000,BRPETRACNOR9"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/cotahist.csv"),
      Seq(header, row(2, "11.0", "2020-01-02"), row(96, "11.0", "2020-01-02"),
        row(2, "oops", "2020-01-03"), row(2, "12.5", "2020-01-03"))
        .mkString("\n"))
    val out = graft.operators.B3Pipeline.historicalLoad(
      spark, s"$dir/cotahist.csv", s"$dir/zone")
    assert(out.count() == 2) // odd-lot filtered, garbage price dropped
    assert(new java.io.File(s"$dir/zone/trade_date=2020-01-02").exists())
    val back = spark.read.parquet(s"$dir/zone")
    assert(back.count() == 2)
    assert(back.filter(col("CODNEG") === "PETR4").count() == 2)
  }

  test("calculateMetrics: turnover_ratio null-safe fill") {
    val out = B3Pipeline.calculateMetrics(
      ev(Seq(("A", 1, 10.0, 0L), ("A", 2, 20.0, 0L))), // mcap = 0
      "sym", "t", "volume", "close", "volume")
      .select("turnover_ratio").collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(0.0, 0.0)) // division guarded, filled with 0
  }
}
