package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.{Num, SimilarityQueries => SQ}

/** The IVF and PQ trainers' one-exchange Lloyd step against the
  * window-based step it replaced, plus its tie-break and drop-out rules
  * on hand-made frames. */
class QuantizerSpec extends SparkSpec {

  private def embeddings(dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")

  /** The reference IVF loop: every vector joined to every centroid, the
    * nearest picked by a row_number window over all N·K scored rows,
    * the means renormalized in SQL. Parameters are the v2 model's:
    * first-16 init, 3 iterations. */
  private def windowIvf(e: DataFrame): Seq[(Long, Seq[Double])] = {
    import spark.implicits._
    var cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])].collect().toSeq
    for (_ <- 1 to 3) {
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(col("sim").desc, col("c_id"))
      cents = e.join(broadcast(cents.toDF("c_id", "cv")))
        .select(col("vec_id"), col("v"), col("c_id"),
          Num.r(expr("dot_product(v, cv)"), 6).as("sim"))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("c_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("c_id", "pos").agg(avg("x").as("m"))
        .groupBy("c_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("c_id"), expr("transform(pm, s -> s.m)").as("cv0"))
        .select(col("c_id"), col("cv0"),
          expr("sqrt(aggregate(cv0, 0D, (a, y) -> a + y * y))").as("nrm"))
        .select(col("c_id"),
          expr("transform(cv0, x -> round(x / nrm + 1e-9, 6))").as("cv"))
        .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    }
    cents
  }

  /** The reference PQ loop (v1 model: first-16 init per subspace, 3
    * iterations), window-based like [[windowIvf]]. */
  private def windowPq(sub: DataFrame): Seq[(Int, Int, Seq[Double])] = {
    import spark.implicits._
    var cents = sub.filter(col("vec_id") < 16)
      .select(col("m"), col("vec_id").cast("int").as("code"), col("subv"))
      .as[(Int, Int, Seq[Double])].collect().toSeq
    for (_ <- 1 to 3) {
      val wAssign = Window.partitionBy("vec_id", "m")
        .orderBy(col("d"), col("code"))
      cents = sub.join(broadcast(cents.toDF("m", "code", "cv")), "m")
        .select(col("vec_id"), col("m"), col("subv"), col("code"),
          Num.r(expr("dot_product(cv, cv) - 2 * dot_product(subv, cv)"), 6)
            .as("d"))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("m"), col("code"), posexplode(col("subv")).as(Seq("pos", "x")))
        .groupBy("m", "code", "pos").agg(avg("x").as("mu"))
        .groupBy("m", "code")
        .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("pm"))
        .select(col("m"), col("code"),
          expr("transform(pm, s -> round(s.mu + 1e-9, 6))").as("cv"))
        .as[(Int, Int, Seq[Double])].collect().toSeq
        .sortBy(t => (t._1, t._2))
    }
    cents
  }

  private def bits(cv: Seq[Double]): Seq[Long] =
    cv.map(java.lang.Double.doubleToRawLongBits)

  Seq("sf0.001", "sf0.01").foreach { sf =>
    test(s"one-exchange Lloyd step is bit-identical to the window loop: $sf") {
      val e = embeddings(s"/root/testdata/$sf") // TESTDATA.md's lakes
      val ivf = SQ.ivfCentroidsOf(e)
      val ivfRef = windowIvf(e)
      assert(ivf.map(_._1) == ivfRef.map(_._1), "IVF centroid ids differ")
      assert(ivf.map(c => bits(c._2)) == ivfRef.map(c => bits(c._2)),
        "IVF centroids differ in their bits")
      val sub = SQ.subvectorsOf(e)
      val pq = SQ.pqCodebooksOf(sub)
      val pqRef = windowPq(sub)
      assert(pq.map(c => (c._1, c._2)) == pqRef.map(c => (c._1, c._2)),
        "PQ code ids differ")
      assert(pq.map(c => bits(c._3)) == pqRef.map(c => bits(c._3)),
        "PQ codebooks differ in their bits")
    }
  }

  test("IVF step: a cosine tie goes to the smaller id; a memberless centroid drops out") {
    import spark.implicits._
    val s = math.sqrt(0.5)
    // t = (s, s) scores exactly s against both c2 and c4
    val e = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(s, s)))
      .toDF("vec_id", "v")
    val cents = Seq((4L, Seq(1.0, 0.0)), (9L, Seq(-1.0, 0.0)), (2L, Seq(0.0, 1.0)))
    val assigned = e.crossJoin(SQ.centersRow(spark, cents))
      .select(col("vec_id"), SQ.ivfNearest(col("v"), col("cs")).as("c_id"))
      .as[(Long, Long)].collect().toMap
    assert(assigned == Map(0L -> 4L, 1L -> 2L, 2L -> 2L))
    val next = SQ.ivfLloydStep(e, cents)
    assert(next.map(_._1) == Seq(2L, 4L), "c9 has no members and must drop out")
    assert(next(1)._2 == Seq(1.0, 0.0))
    val (mx, my) = (s / 2, (1 + s) / 2)
    val n = math.sqrt(mx * mx + my * my)
    assert(next(0)._2.zip(Seq(mx / n, my / n)).forall { case (a, b) =>
      math.abs(a - b) < 1e-6 })
  }

  test("PQ step: an L2 tie goes to the smaller code per subspace; a memberless code drops out") {
    import spark.implicits._
    // m = 0: (1, 0) is exactly as far from code 3 = (0, 0) as from
    // code 1 = (2, 0); m = 1: code 2 has no members
    val sub = Seq(
      (0L, 0, Seq(0.0, 0.0)), (1L, 0, Seq(2.0, 0.0)), (2L, 0, Seq(1.0, 0.0)),
      (0L, 1, Seq(5.0, 5.0)), (1L, 1, Seq(4.0, 6.0)))
      .toDF("vec_id", "m", "subv")
    val cents = Seq(
      (0, 3, Seq(0.0, 0.0)), (0, 1, Seq(2.0, 0.0)), (0, 8, Seq(10.0, 10.0)),
      (1, 2, Seq(0.0, 0.0)), (1, 0, Seq(5.0, 5.0)))
    assert(SQ.pqLloydStep(sub, cents) == Seq(
      (0, 1, Seq(1.5, 0.0)), (0, 3, Seq(0.0, 0.0)), (1, 0, Seq(4.5, 5.5))))
  }
}
