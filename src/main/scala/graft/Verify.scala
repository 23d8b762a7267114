package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Builder-side iteration aid: GRAFT_ONLY=q_a,q_b dumps (and lists in
    // oracle_sql.json) just those queries. The driver sets no such env,
    // so its runs always cover the full registry.
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // Setup, not query work: q_ann_ivf / q_ann_pq are pure reads that
    // fail fast without their trained models, so train (idempotent) first.
    try graft.sources.Artifacts.ensureAll(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] offline model training failed: ${e.getMessage}")
    }
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The IVF oracle reads the trained centroid model (a parquet written
    // by trainIvfCentroids during the query run above); its path depends
    // on the sf dir, so the static SQL carries a token resolved here.
    val json = SparkEntry.oracleSql
      .filter(kv => wanted(kv._1))
      .map { case (k, v) =>
        s"${q(k)}: ${q(graft.sources.Artifacts.resolveTokens(v, sfDir))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
