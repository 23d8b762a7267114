package graft

import graft.queries.SimilarityQueries
import graft.queries.SimilarityQueries.AnnRouteStats

/** Offline ANN quality report: recall@1 / recall@10 / visited fraction
  * against brute-force ground truth, per SF dir, as two markdown tables
  * — the LSH layout grid (planes per table × multiprobe Hamming radius,
  * the measurement behind the production LSH_PLANES / LSH_RADIUS
  * constants) and the four production routes (lsh, ivf, pq, ivfpq) —
  * the rows pasted into README's recall tables.
  *
  * Usage: `sbt "runMain graft.AnnQuality <sf dir> [<sf dir> …]"`
  */
object AnnQuality {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AnnQuality <sf dir> [<sf dir> …]")
    val dirs = args.toSeq
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val layouts = Seq((4, 0), (4, 1), (7, 1), (8, 1), (8, 2), (10, 1),
      (10, 2), (11, 2), (12, 2), (12, 3))
    val results = dirs.map(dir => new java.io.File(dir).getName ->
      SimilarityQueries.annRecall(spark, dir, layouts,
        SimilarityQueries.AnnRoutes))
    // the layout grid rows come first in each result, then the routes
    Seq[Seq[AnnRouteStats] => Seq[AnnRouteStats]](
      _.take(layouts.size), _.drop(layouts.size)).foreach { part =>
      println("| sf dir | route | recall@1 | recall@10 | visited |")
      println("|---|---|---|---|---|")
      results.foreach { case (name, r) => part(r).foreach { s =>
        println(f"| $name | ${s.route} | ${s.recallAt1}%.2f " +
          f"| ${s.recallAt10}%.2f | ${s.visitedFraction * 100}%.1f%% |")
      } }
      println()
    }
    spark.stop()
  }
}
