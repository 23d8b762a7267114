package graft

import org.apache.spark.sql.functions._
import graft.operators.LinearRecurrence

/** The per-key ordered fold must equal literal row-by-row recursion
  * exactly (==, not a tolerance: it runs the same step expressions in
  * the same order) — on short keys, on one 5 000-row key, and for several
  * decay constants sharing one pass. The oracle here is an in-test
  * sequential fold, independent of both Spark and DuckDB. */
class LinearRecurrenceSpec extends SparkSpec {

  /** Literal recursion y₁ = x₁, yₙ = α·xₙ + (1−α)·yₙ₋₁. */
  private def foldEwma(xs: Seq[Double], alpha: Double): Seq[Double] =
    xs.tail.scanLeft(xs.head)((y, x) => alpha * x + (1.0 - alpha) * y)

  /** Keys of 1, 2, 7 and 200 rows plus one 5 000-row key. At α = 0.9 a
    * closed form through (1−α)^{−n} overflows a double by row 309, so
    * only a step-by-step fold passes; α = 0.02 decays slowly, so each
    * row's state carries across hundreds of rows. */
  private def series(seed: Int): Map[String, Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq(1, 2, 7, 200, 5000)
      .zipWithIndex
      .map { case (n, i) =>
        s"k$i" -> Seq.fill(n)(math.rint(rnd.nextDouble() * 50000) / 100.0)
      }.toMap
  }

  test("ordered fold equals literal recursion, including a 5 000-row key") {
    import spark.implicits._
    val data = series(42)
    val df = data.toSeq.flatMap { case (k, xs) =>
      xs.zipWithIndex.map { case (x, i) => (k, i.toLong, x) }
    }.toDF("k", "o", "x")
    Seq(0.9, 0.02).foreach { al =>
      val got = LinearRecurrence
        .ewma(df, "k", Seq(col("o")), col("x"), Seq("y" -> al))
        .select("k", "o", "y").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      data.foreach { case (k, xs) =>
        val want = foldEwma(xs, al)
        want.zipWithIndex.foreach { case (w, i) =>
          val g = got((k, i.toLong))
          assert(g == w, s"α=$al key=$k row=$i: operator=$g fold=$w")
        }
      }
    }
  }

  test("several decay constants in one pass equal separate passes") {
    import spark.implicits._
    val df = series(7).toSeq.flatMap { case (k, xs) =>
      xs.zipWithIndex.map { case (x, i) => (k, i.toLong, x) }
    }.toDF("k", "o", "x")
    val alphas = Seq("fast" -> 2.0 / 13.0, "slow" -> 2.0 / 27.0)
    val fused = LinearRecurrence
      .ewma(df, "k", Seq(col("o")), col("x"), alphas)
      .select("k", "o", "fast", "slow").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    alphas.foreach { case (name, al) =>
      LinearRecurrence.ewma(df, "k", Seq(col("o")), col("x"),
          Seq(name -> al))
        .select(col("k"), col("o"), col(name)).collect()
        .foreach { r =>
          val (f, s) = fused((r.getString(0), r.getLong(1)))
          val single = r.getDouble(2)
          val expected = if (name == "fast") f else s
          // identical expressions over identical windows → bit-equal
          assert(single == expected,
            s"$name diverged between fused and single-α passes")
        }
    }
  }

  test("ewSumCols: unnormalized sums equal literal recursion; the ratio is pandas adjust=True") {
    import spark.implicits._
    val data = series(11)
    val df = data.toSeq.flatMap { case (k, xs) =>
      xs.zipWithIndex.map { case (x, i) => (k, i.toLong, x) }
    }.toDF("k", "o", "x")
    val al = 0.2
    val got = LinearRecurrence.ewSumCols(df, "k", Seq(col("o")),
        Seq(("sx", col("x"), al), ("sw", lit(1.0), al)))
      .select("k", "o", "sx", "sw").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    data.foreach { case (k, xs) =>
      // literal adjust=True: Sₙ = xₙ + (1−α)·Sₙ₋₁; mean = S(x)/S(1)
      val sx = xs.tail.scanLeft(xs.head)((s, x) => x + (1.0 - al) * s)
      val sw = xs.tail.scanLeft(1.0)((s, _) => 1.0 + (1.0 - al) * s)
      xs.indices.foreach { i =>
        val (gx, gw) = got((k, i.toLong))
        assert(gx == sx(i), s"key=$k row=$i: S(x) operator=$gx fold=${sx(i)}")
        assert(gw == sw(i), s"key=$k row=$i: S(1) operator=$gw fold=${sw(i)}")
        // the ratio reproduces the closed-form weighted mean (a different
        // association, hence the tolerance)
        val want = xs.take(i + 1).reverse.zipWithIndex
          .map { case (x, j) => x * math.pow(1.0 - al, j) }.sum / sw(i)
        assert(math.abs(gx / gw - want) <= 1e-9 * math.max(1.0, math.abs(want)))
      }
    }
  }

  test("holt: ordered 2-state fold equals literal coupled recursion") {
    import spark.implicits._
    val data = series(13)
    val df = data.toSeq.flatMap { case (k, xs) =>
      xs.zipWithIndex.map { case (x, i) => (k, i.toLong, x) }
    }.toDF("k", "o", "x")
    // literal Holt: l₁=x₁, t₁=0; lₙ=αx+(1−α)(l+t); tₙ=β(lₙ−l)+(1−β)t
    def foldHolt(xs: Seq[Double], al: Double, be: Double): Seq[(Double, Double)] =
      xs.tail.scanLeft((xs.head, 0.0)) { case ((l, t), x) =>
        val ln = al * x + (1 - al) * (l + t)
        (ln, be * (ln - l) + (1 - be) * t)
      }
    Seq((0.2, 0.1), (0.5, 0.3), (0.9, 0.9)).foreach { case (al, be) =>
      val got = LinearRecurrence
        .holt(df, "k", Seq(col("o")), col("x"), al, be, "l", "t")
        .select("k", "o", "l", "t").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getDouble(2), r.getDouble(3))).toMap
      data.foreach { case (k, xs) =>
        foldHolt(xs, al, be).zipWithIndex.foreach { case ((wl, wt), i) =>
          val (gl, gt) = got((k, i.toLong))
          assert(gl == wl, s"α=$al β=$be key=$k row=$i level: operator=$gl fold=$wl")
          assert(gt == wt, s"α=$al β=$be key=$k row=$i trend: operator=$gt fold=$wt")
        }
      }
    }
  }

  test("α outside (0, 1] or NaN is rejected; 0.95 and 1.0 fold") {
    import spark.implicits._
    val df = Seq(("k", 0L, 1.0), ("k", 1L, 3.0)).toDF("k", "o", "x")
    Seq(0.0, -0.1, 1.0001, Double.NaN).foreach { al =>
      intercept[IllegalArgumentException] {
        LinearRecurrence.ewma(df, "k", Seq(col("o")), col("x"),
          Seq("y" -> al))
      }
    }
    Seq(0.95, 1.0).foreach { al =>
      val got = LinearRecurrence.ewma(df, "k", Seq(col("o")), col("x"),
          Seq("y" -> al))
        .orderBy("o").select("y").as[Double].collect().toSeq
      assert(got == foldEwma(Seq(1.0, 3.0), al), s"α=$al")
    }
  }
}
