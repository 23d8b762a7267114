package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.SliceLadder

/** Shared ladder definition for the CROSS-PROCESS concurrency test: a
  * pure-arithmetic derivation (id, 2·id) over a capped id space, built
  * identically by the parent suite (CrossProcessSpec) and the child
  * JVM ([[XpChild]]) over the same on-disk base — the whole point is
  * that the two processes share NOTHING but the filesystem. */
object XpLadder {
  val MaxId = 64L

  def make(base: String): SliceLadder =
    new SliceLadder(base, "xp artifact",
      idCol = "id",
      readSchema = "id BIGINT, v BIGINT",
      deriveRange = (spark, lo, hi) =>
        spark.range(lo, math.min(hi, MaxId))
          .select(col("id"), (col("id") * 2).as("v")),
      deriveBatch = (_, batch) =>
        batch.select(col("id"), (col("id") * 2).as("v")),
      writeSliceFiles = (df, path) =>
        df.write.mode("overwrite").parquet(path))
}

/** The second JVM of the cross-process test: appends the given bounds
  * to one artifact while the parent process compacts and GCs the SAME
  * artifact concurrently. `args = kind, target, bound...` — kind "xp"
  * appends to the synthetic [[XpLadder]] at base `target`; the five
  * real artifact kinds ("shingle", "ivf", "image", "audio", "video")
  * append to that modality's index over the lake dir `target` via the
  * SAME public append entry points production ingest uses. Run only by
  * CrossProcessSpec — exits non-zero on any failure so the parent's
  * waitFor sees it. */
object XpChild {
  def main(args: Array[String]): Unit = {
    val kind = args(0)
    val target = args(1)
    val bounds = args.drop(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("xp-child")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      import graft.queries.{DedupQueries, MultimodalQueries,
        SimilarityQueries}
      val append: Long => Unit = kind match {
        case "xp" => XpLadder.make(target).append(spark, _)
        case "shingle" =>
          b => DedupQueries.appendShingleIndex(spark, target, b.toInt)
        case "ivf" =>
          SimilarityQueries.appendIvfAssignments(spark, target, _)
        case "image" => MultimodalQueries.Image.index(target).append(spark, _)
        case "audio" => MultimodalQueries.Audio.index(target).append(spark, _)
        case "video" => MultimodalQueries.Video.index(target).append(spark, _)
        case other => throw new IllegalArgumentException(other)
      }
      bounds.foreach { b =>
        append(b)
        // give the parent's maintenance loop windows to interleave
        Thread.sleep(200)
      }
    } finally spark.stop()
  }
}
