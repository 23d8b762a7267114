package graft

import scala.jdk.CollectionConverters._

import graft.queries.{DedupQueries, MultimodalQueries, SimilarityQueries}
import graft.sources.Maintenance

/** The one concurrency claim the in-JVM suites cannot test:
  * SliceLadder's commit discipline (marker-last temp+rename appends,
  * liveness-revalidated merge commits, trash-deferred deletes, graced
  * gc) is what protects CROSS-PROCESS writers — the per-base locks
  * only serialize threads of one JVM. This suite forks a REAL second
  * JVM ([[XpChild]], same classpath and --add-opens as the forked
  * test JVM) that appends slices to an artifact while THIS process
  * runs tier merges + graced gc against it in a loop, then proves the
  * final state is exact. Two tests: the synthetic [[XpLadder]] with
  * tight ladder/trash assertions, and a sweep that races EVERY real
  * artifact kind (shingle / IVF / image / audio / video) through the
  * production `Maintenance.runAll` — the shingle kind also races the
  * census/watermark side-artifact gc, the path where the round-17
  * in-flight-write bug had a second copy. */
class CrossProcessSpec extends SparkSpec with TempLakes {

  /** Fork `graft.XpChild args…` as a real second JVM: same java, same
    * classpath, and the module opens Spark needs on JDK 17+ (copied
    * from this forked JVM's own arguments — "--add-opens" and its
    * value arrive as separate list entries). */
  private def forkChild(args: Seq[String]): Process = {
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala
    val opens = jvmArgs.zipWithIndex.collect {
      case (a, i) if a == "--add-opens" || a == "--add-exports" =>
        Seq(a, jvmArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") ||
          a.startsWith("--add-exports=") => Seq(a)
    }.flatten
    val cmd = Seq(
      System.getProperty("java.home") + "/bin/java") ++ opens ++ Seq(
      "-Xmx1500m", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.XpChild") ++ args
    new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true)
      .redirectOutput(java.io.File.createTempFile("xp_child", ".log"))
      .start()
  }

  test("a second JVM appends while this one compacts and GCs: nothing lost, nothing leaked") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_xp").toString + "/artifact"
    val lad = XpLadder.make(base)
    lad.train(spark, 8L)
    lad.append(spark, 12L)
    lad.append(spark, 16L)

    val child = forkChild(Seq("xp", base,
      "18", "20", "22", "24", "26", "28", "30", "32"))

    // maintenance loop against the SAME artifact while the child
    // appends: tier merges plus a GRACED gc. The first run of this
    // suite caught a real bug here: gc aged orphans by the TOP dir's
    // mtime, which goes stale while a write job works inside
    // _temporary, so the child's cold-JVM first append lost its slice
    // mid-write — gc now ages by the newest mtime anywhere under the
    // candidate (SliceLadder.newestMtime), and the grace only has to
    // cover the writer's longest stall between file-visible updates
    var loops = 0
    var seenBound = 16L
    var mergesAfterChildCommits = 0
    while (child.isAlive && loops < 600) {
      val m = lad.compactTiered(spark, minRun = 2)
      lad.gc(spark, graceMs = 3000L)
      // read the bound AFTER the merge before crediting it: a slow
      // iteration can span several child appends, and a merge that
      // consumed those slices must count even though the PREVIOUS
      // iteration's bound read predates them (crediting against the
      // stale bound left mergesAfterChildCommits at 0 with nothing
      // for the post-exit retry to merge — a spurious failure)
      seenBound = math.max(seenBound, lad.bound(spark).getOrElse(0L))
      if (seenBound > 16L) mergesAfterChildCommits += m
      Thread.sleep(250)
      loops += 1
    }
    assert(child.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
      "child JVM did not finish")
    assert(child.exitValue() == 0,
      s"child JVM failed (exit ${child.exitValue()}) — check its log")
    // the maintenance loop must merge the child's commits — usually it
    // already happened INTERLEAVED (the child holds multi-second windows
    // open between appends), but on a starved host the parent's last
    // live iteration can land before any mergeable run exists, so give
    // the loop a bounded post-exit window rather than fail on timing
    // (the concurrency itself was exercised either way: every live-loop
    // merge+gc ran against a committing writer)
    // record the LIVE-interleaved count before the post-exit window: the
    // bounded retry below means a starved host can pass with zero live
    // merges, and that weaker outcome must be VISIBLE in the test report
    // (info line), not indistinguishable from the interleaved case
    val liveMerges = mergesAfterChildCommits
    var extra = 0
    while (mergesAfterChildCommits == 0 && extra < 20) {
      mergesAfterChildCommits += lad.compactTiered(spark, minRun = 2)
      extra += 1
    }
    info(s"live-interleaved merges: $liveMerges over $loops loops" +
      (if (liveMerges == 0)
        s" — NO merge raced the live child on this host; " +
          s"$mergesAfterChildCommits landed in the post-exit window"
      else " (maintenance raced the committing writer)"))
    assert(mergesAfterChildCommits >= 1,
      s"maintenance never merged the child's appends " +
        s"($loops live loops, $extra retries, bound reached $seenBound)")

    // every child commit is present and the artifact is exact
    assert(lad.bound(spark) == Some(32L),
      "a child append was lost under concurrent maintenance")
    val ladder = lad.ladder(spark)
    assert(ladder.head._1 == 0L && ladder.last._2 == 32L &&
      ladder.sliding(2).forall {
        case Seq((_, a), (b, _)) => a == b
        case _ => true
      }, s"ladder not contiguous: $ladder")
    val got = lad.read(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements((0L until 32L).map(i => (i, i * 2))),
      "read diverged from the derivation after cross-process maintenance")

    // quiesced close-out: one more merge pass + zero-grace gc leaves
    // no trash entries and no non-live slice dirs
    lad.compactTiered(spark, minRun = 2)
    lad.gc(spark, graceMs = 0L)
    lad.gc(spark, graceMs = 0L) // second pass collects what the first trashed
    val live = lad.ladder(spark).toSet
    val slicesDir = new java.io.File(base, "slices")
    val stray = Option(slicesDir.list()).getOrElse(Array.empty[String])
      .filterNot { n =>
        val m = "^s(\\d+|full)-(\\d+|full)$".r.findFirstMatchIn(n)
        m.exists(g => live.contains((g.group(1).toLong, g.group(2).toLong)))
      }
    assert(stray.isEmpty, s"non-live slice dirs leaked: ${stray.toSeq}")
    val trash = Option(new java.io.File(base, "trash").list())
      .getOrElse(Array.empty[String])
    assert(trash.isEmpty, s"trash entries leaked: ${trash.toSeq}")
  }

  test("cross-process maintenance over every REAL artifact kind: child appends survive runAll, reads stay exact") {
    // a private lake dir (copies of the sf0.001 tables) so the raced
    // artifacts — keyed by the dir's absolute path — never collide with
    // other suites' sf0.001 artifacts in this shared JVM
    val dir = tempLakeOf("graft_xp_lake", "documents", "embeddings")
    val IntFull = Int.MaxValue.toLong
    // (kind, train-at-first-bound, child bounds, sentinel, bound, read,
    //  drop, rebuild-at-sentinel); one raced run per artifact kind — the
    //  round-17 gc bug's blast radius was "any live-lake maintenance
    //  call eventually kills an in-flight append", and each kind owns
    //  its own derive path and (for shingle) side artifacts
    case class Kind(name: String, train: () => Unit, bounds: Seq[Long],
        sentinel: Long, bound: () => Option[Long], read: () => Seq[String],
        drop: () => Unit, rebuild: () => Unit)
    val kinds = Seq(
      Kind("shingle",
        () => DedupQueries.trainShingleIndex(spark, dir, 3),
        Seq(5L, 7L, IntFull), IntFull,
        () => DedupQueries.shingleIndexBound(spark, dir).map(_.toLong),
        () => DedupQueries.shingleHashesFromIndex(spark, dir)
          .collect().map(_.toString).sorted.toSeq,
        () => DedupQueries.dropShingleIndex(spark, dir),
        () => DedupQueries.trainShingleIndex(spark, dir)),
      Kind("ivf",
        () => { SimilarityQueries.trainIvfCentroids(spark, dir)
          SimilarityQueries.trainIvfAssignments(spark, dir, 150) },
        Seq(300L, 400L, Long.MaxValue), Long.MaxValue,
        () => SimilarityQueries.ivfAssignBound(spark, dir),
        () => SimilarityQueries.assignmentsFromIndex(spark, dir)
          .collect().map(_.toString).sorted.toSeq,
        // centroids stay persisted — the rebuild assigns against the
        // SAME frozen model, so raced ≡ rebuilt is well-defined
        () => SimilarityQueries.dropIvfAssignments(spark, dir),
        () => SimilarityQueries.trainIvfAssignments(spark, dir)),
      Kind("image",
        () => MultimodalQueries.Image.index(dir).train(spark, 150),
        Seq(300L, 400L, Long.MaxValue), Long.MaxValue,
        () => MultimodalQueries.Image.index(dir).bound(spark),
        () => MultimodalQueries.Image.index(dir).read(spark)
          .collect().map(_.toString).sorted.toSeq,
        () => MultimodalQueries.Image.index(dir).drop(spark),
        () => MultimodalQueries.Image.index(dir).train(spark)),
      Kind("audio",
        () => MultimodalQueries.Audio.index(dir).train(spark, 150),
        Seq(300L, 400L, Long.MaxValue), Long.MaxValue,
        () => MultimodalQueries.Audio.index(dir).bound(spark),
        () => MultimodalQueries.Audio.index(dir).read(spark)
          .collect().map(_.toString).sorted.toSeq,
        () => MultimodalQueries.Audio.index(dir).drop(spark),
        () => MultimodalQueries.Audio.index(dir).train(spark)),
      Kind("video",
        () => MultimodalQueries.Video.index(dir).train(spark, 150),
        Seq(300L, 400L, Long.MaxValue), Long.MaxValue,
        () => MultimodalQueries.Video.index(dir).bound(spark),
        () => MultimodalQueries.Video.index(dir).read(spark)
          .collect().map(_.toString).sorted.toSeq,
        () => MultimodalQueries.Video.index(dir).drop(spark),
        () => MultimodalQueries.Video.index(dir).train(spark)))
    kinds.foreach { k =>
      k.train()
      val child = forkChild(
        Seq(k.name, dir) ++ k.bounds.map(_.toString))
      // the PRODUCTION maintenance entry point, graced for a live lake,
      // racing the child's appends over nothing but the filesystem
      var loops = 0
      while (child.isAlive && loops < 600) {
        Maintenance.runAll(spark, dir, graceMs = 3000L, minRun = 2)
        Thread.sleep(250)
        loops += 1
      }
      assert(child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        s"${k.name}: child JVM did not finish")
      assert(child.exitValue() == 0,
        s"${k.name}: child JVM failed (exit ${child.exitValue()}) — " +
          "check its log")
      // nothing lost: coverage reached the sentinel
      assert(k.bound() == Some(k.sentinel),
        s"${k.name}: a child append was lost under concurrent runAll")
      // reads exact: the raced artifact reads row-for-row what a
      // quiesced from-scratch rebuild derives
      val raced = k.read()
      assert(raced.nonEmpty, s"${k.name}: raced artifact read empty")
      k.drop()
      k.rebuild()
      assert(raced == k.read(),
        s"${k.name}: raced read diverged from the quiesced rebuild")
      k.drop()
    }
  }
}
