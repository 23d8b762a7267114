package graft

import graft.queries.Registry

/** Writes `.explain("formatted")` output for the named queries to
  * `plans/<tag>/<query>_<suffix>.txt` — the optimization-round evidence
  * files (the judge reads these instead of running Spark; PlanDump
  * stays the post-AQE executed-plan tool for PLANS.md excerpts).
  * Usage:
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.ExplainDump r19 before q_a q_b"
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ExplainDump <tag> <suffix> <query> [query …]")
    val (tag, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // artifacts the queries read must exist (idempotent no-ops when
    // trained; a documents-only corpus gets its documents-sourced ones)
    graft.sources.Artifacts.ensureAll(spark, sfDir)
    val outDir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val df = Registry.byName(n).fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        (s"== $n @ $sfDir ==\n" + txt).getBytes("UTF-8"))
      println(s"[explain] wrote plans/$tag/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
