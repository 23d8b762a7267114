package graft.sources

import org.apache.spark.sql.SparkSession

/** The ONE maintenance entry point a lake operator schedules: runs the
  * bounded-write-amplification tiered merge and then the time-graced
  * trash GC over EVERY append-maintained artifact the engine owns for
  * a lake dir — the ladder rows of [[Artifacts]]: the text shingle
  * index, the IVF inverted file and the image/audio/video signature
  * indexes. Each leg is named by its row's first word ("shingle",
  * "ivf", "image", "audio", "video").
  *
  * Safety is inherited wholesale from [[SliceLadder]]: merges run
  * UNLOCKED (live streaming ingest keeps committing mid-merge), commits
  * re-validate liveness + rebuild epoch, subsumed data is deleted one
  * grace period later, and gc never touches an artifact that does not
  * exist (each step is a no-op on an untrained modality — a text-only
  * lake runs only the shingle leg). Artifacts are processed
  * independently: one modality's failure (e.g. a concurrent rebuild
  * racing a merge commit) must not block the others' maintenance, so
  * per-artifact errors are collected and rethrown ONCE at the end,
  * after every artifact had its turn.
  *
  * `graceMs` is the gc grace window and is deliberately REQUIRED (no
  * default): the scheduled entry point defaulting to 0 — the
  * quiesced-only setting — was a footgun where an operator scheduling
  * `runAll(spark, dir)` verbatim on a LIVE lake would have gc delete
  * trashed slices (and in-flight .tmp watermark dirs) under
  * cross-process readers/writers that the in-JVM locks cannot see.
  * Pick it above the longest in-flight read AND the longest stall
  * between a live writer's file-visible updates (orphan age is the
  * newest mtime under the candidate, so a progressing write protects
  * itself; one that surfaces nothing until close is covered only by
  * the grace — lakehouse orphan-cleanup defaults are hours-days for
  * this reason); pass 0 explicitly only for provably quiesced lakes. `minRun` is [[SliceLadder.compactTiered]]'s
  * tier-run threshold. Returns the total number of tier merges
  * performed across all artifacts. */
object Maintenance {
  def runAll(spark: SparkSession, dir: String, graceMs: Long,
      minRun: Int = 4): Int = {
    val legs = Artifacts.all.flatMap(a =>
      a.ladder.map(mk => (a.name.takeWhile(_ != '_'), mk)))
    Artifacts.runIsolated("maintenance leg", legs)(_._1) {
      case (_, mk) =>
        val ladder = mk(dir)
        val n =
          if (ladder.bound(spark).isDefined) ladder.compactTiered(spark, minRun)
          else 0
        ladder.gc(spark, graceMs); n
    }(merges => s"${merges.sum} merges completed on the others").sum
  }
}
