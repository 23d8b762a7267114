package graft

import org.apache.spark.sql.SparkSession
import graft.queries.Registry

/** Prints the final (post-AQE) physical plan of the named queries —
  * regenerates the excerpts in PLANS.md.
  * Usage: `sbt "runMain graft.PlanDump q_pipeline_e2e q_skew_salted"` */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_scan_filter", "q_join_snowflake", "q_b3_metrics")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    graft.sources.Artifacts.ensureAll(spark, sfDir)
    names.foreach { n =>
      val df = Registry.byName(n).fn(spark, sfDir)
      // collect() executes THIS DataFrame's own queryExecution (count()
      // would build a separate aggregated plan and leave this one
      // un-finalized: isFinalPlan=false, no query stages, no visible
      // stage reuse)
      df.collect()
      println(s"===== $n =====")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
