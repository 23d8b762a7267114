package graft

import graft.queries.{DedupQueries, MultimodalQueries, SimilarityQueries}
import graft.sources.{Maintenance, SliceLadder}

/** The unified maintenance entry point: one call merges and GCs every
  * artifact the lake dir owns, skips the modalities it doesn't, and
  * never changes what a reader sees. */
class MaintenanceSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("Maintenance.runAll merges every trained ladder, collects trash, and leaves reads unchanged") {
    // rebuild the two artifacts this test measures as 4-slice ladders
    // (other modalities may or may not exist from earlier suites in the
    // shared JVM — runAll must handle both without this test caring)
    DedupQueries.dropShingleIndex(spark, dir)
    MultimodalQueries.Image.index(dir).drop(spark)
    DedupQueries.trainShingleIndex(spark, dir, 3)
    DedupQueries.appendShingleIndex(spark, dir, 5)
    DedupQueries.appendShingleIndex(spark, dir, 7)
    DedupQueries.appendShingleIndex(spark, dir, Int.MaxValue)
    MultimodalQueries.Image.index(dir).train(spark, 300)
    MultimodalQueries.Image.index(dir).append(spark, 600)
    MultimodalQueries.Image.index(dir).append(spark, 800)
    MultimodalQueries.Image.index(dir).append(spark, Long.MaxValue)
    assert(DedupQueries.shingleIndexLadder(spark, dir).size == 4)
    val shingleBefore = DedupQueries.shingleHashesFromIndex(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mediaBefore = MultimodalQueries.Image.index(dir).read(spark)
      .collect().map(_.toString).sorted.toSeq
    // ONE maintenance call over the whole lake dir
    val merges = Maintenance.runAll(spark, dir, graceMs = 0L, minRun = 2)
    assert(merges >= 2,
      s"expected tier merges on both rebuilt ladders, got $merges")
    assert(DedupQueries.shingleIndexLadder(spark, dir).size < 4,
      "shingle ladder must have collapsed")
    // reads are row-for-row what they were before maintenance
    assert(DedupQueries.shingleHashesFromIndex(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == shingleBefore)
    assert(MultimodalQueries.Image.index(dir).read(spark)
      .collect().map(_.toString).sorted.toSeq == mediaBefore)
    // each leg compacts THEN gcs, and gc(grace 0) on the now-quiesced
    // artifact collects what that same call's compaction trashed — no
    // trash entries survive the call
    def trashCount(base: String): Int = {
      val d = new java.io.File(base, "trash")
      Option(d.list()).map(_.length).getOrElse(0)
    }
    assert(trashCount(DedupQueries.shingleIndexBase(dir)) == 0,
      "runAll's gc leg must collect the trash its compaction produced")
    // a second call finds nothing left to merge on ANY artifact and is
    // still safe end-to-end
    assert(Maintenance.runAll(spark, dir, graceMs = 0L, minRun = 2) == 0)
    DedupQueries.dropShingleIndex(spark, dir)
    MultimodalQueries.Image.index(dir).drop(spark)
  }

  test("crash fuzz: a random merge-path crash in any leg corrupts no artifact, blocks no other leg, stalls no ingest, and a clean re-run completes the maintenance") {
    // SliceLadderSpec proves the single-ladder crash properties over a
    // fake derivation; this lifts them one level to the COMPOSITE entry
    // point over the five REAL artifacts: a seeded generator picks a
    // victim leg and a crash point inside its tier merge, the crash
    // fires during Maintenance.runAll, and the invariants are checked
    // with real reads. Crash points (SliceLadder.failpoint): scratch
    // written / containing marker committed — the two windows a process
    // death leaves non-trivial disk state.
    val legs = Seq("shingle index", "IVF inverted file", "image signature",
      "audio fingerprint", "video signature")
    val points = Seq("merge-staged", "merge-committed")
    def rebuildAll(): Unit = {
      DedupQueries.dropShingleIndex(spark, dir)
      SimilarityQueries.dropIvfAssignments(spark, dir)
      MultimodalQueries.Image.index(dir).drop(spark)
      MultimodalQueries.Audio.index(dir).drop(spark)
      MultimodalQueries.Video.index(dir).drop(spark)
      DedupQueries.trainShingleIndex(spark, dir, 3)
      DedupQueries.appendShingleIndex(spark, dir, 5)
      DedupQueries.appendShingleIndex(spark, dir, 7)
      SimilarityQueries.trainIvfCentroids(spark, dir)
      SimilarityQueries.trainIvfAssignments(spark, dir, 150)
      SimilarityQueries.appendIvfAssignments(spark, dir, 300)
      SimilarityQueries.appendIvfAssignments(spark, dir, 400)
      MultimodalQueries.Image.index(dir).train(spark, 150)
      MultimodalQueries.Image.index(dir).append(spark, 300)
      MultimodalQueries.Image.index(dir).append(spark, 400)
      MultimodalQueries.Audio.index(dir).train(spark, 150)
      MultimodalQueries.Audio.index(dir).append(spark, 300)
      MultimodalQueries.Audio.index(dir).append(spark, 400)
      MultimodalQueries.Video.index(dir).train(spark, 150)
      MultimodalQueries.Video.index(dir).append(spark, 300)
      MultimodalQueries.Video.index(dir).append(spark, 400)
    }
    def readAll(): Map[String, Seq[String]] = Map(
      "shingle index" -> DedupQueries.shingleHashesFromIndex(spark, dir)
        .collect().map(_.toString).sorted.toSeq,
      "IVF inverted file" -> SimilarityQueries
        .assignmentsFromIndex(spark, dir)
        .collect().map(_.toString).sorted.toSeq,
      "image signature" -> MultimodalQueries.Image.index(dir).read(spark)
        .collect().map(_.toString).sorted.toSeq,
      "audio fingerprint" -> MultimodalQueries.Audio.index(dir).read(spark)
        .collect().map(_.toString).sorted.toSeq,
      "video signature" -> MultimodalQueries.Video.index(dir).read(spark)
        .collect().map(_.toString).sorted.toSeq)
    try {
      // every leg gets crashed exactly once (a free-running victim pick
      // left shingle/IVF/image uncovered at 3 seeds); the crash POINT
      // stays seeded-random per leg
      for (seed <- legs.indices) {
        val rnd = new scala.util.Random(1700 + seed)
        val victim = legs(seed)
        val point = points(rnd.nextInt(points.size))
        rebuildAll()
        val ref = readAll()
        assert(ref.values.forall(_.nonEmpty), s"seed $seed: empty rebuild")
        // arm: fire ONCE, on the victim leg, at the chosen point
        var fired = false
        SliceLadder.failpoint = (w, p) =>
          if (w == victim && p == point && !fired) {
            fired = true
            throw new RuntimeException(s"injected crash: $w @ $p")
          }
        val ex = intercept[RuntimeException] {
          Maintenance.runAll(spark, dir, graceMs = 0L, minRun = 2)
        }
        SliceLadder.failpoint = (_, _) => ()
        assert(fired, s"seed $seed: failpoint never reached for $victim")
        assert(ex.getMessage.contains("maintenance leg"),
          s"seed $seed: crash escaped the per-leg isolation: $ex")
        assert(ex.getSuppressed.length == 1,
          s"seed $seed: exactly the victim leg must fail")
        // invariant 1: committed reads are untouched — the victim's
        // (crash at either point never orphans committed state) and
        // every other leg's (isolation)
        assert(readAll() == ref,
          s"seed $seed: a $point crash in '$victim' changed committed reads")
        // invariant 2: the crash blocked no other leg's maintenance —
        // the shingle ladder (the one with an exposed ladder accessor)
        // collapsed from its 3 rebuilt slices whenever it wasn't the
        // victim
        if (victim != "shingle index")
          assert(DedupQueries.shingleIndexLadder(spark, dir).size < 3,
            s"seed $seed: crash in '$victim' stalled the shingle leg")
        // invariant 3: ingest proceeds over the crash leftovers — every
        // artifact advances to full coverage
        DedupQueries.appendShingleIndex(spark, dir, Int.MaxValue)
        SimilarityQueries.appendIvfAssignments(spark, dir, Long.MaxValue)
        MultimodalQueries.Image.index(dir).append(spark, Long.MaxValue)
        MultimodalQueries.Audio.index(dir).append(spark, Long.MaxValue)
        MultimodalQueries.Video.index(dir).append(spark, Long.MaxValue)
        val full = readAll()
        assert(full.forall { case (k, v) => v.size >= ref(k).size },
          s"seed $seed: ingest after the crash lost rows")
        // invariant 4: a clean re-run completes the interrupted
        // maintenance end-to-end (victim's pending runs + the fresh
        // tails) without changing any read, and leaves nothing to merge
        assert(Maintenance.runAll(spark, dir, graceMs = 0L, minRun = 2) >= 1,
          s"seed $seed: re-run found nothing to complete")
        assert(readAll() == full,
          s"seed $seed: the completing re-run changed committed reads")
        assert(Maintenance.runAll(spark, dir, graceMs = 0L, minRun = 2) == 0,
          s"seed $seed: maintenance did not converge")
      }
    } finally {
      SliceLadder.failpoint = (_, _) => ()
      DedupQueries.dropShingleIndex(spark, dir)
      SimilarityQueries.dropIvfAssignments(spark, dir)
      MultimodalQueries.Image.index(dir).drop(spark)
      MultimodalQueries.Audio.index(dir).drop(spark)
      MultimodalQueries.Video.index(dir).drop(spark)
    }
  }
}
