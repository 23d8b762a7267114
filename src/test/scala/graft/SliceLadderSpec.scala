package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SliceLadder

/** The shared slice-ladder mechanics behind every append-maintained lake
  * artifact (shingle index, IVF inverted file, media/audio signature
  * indexes), tested in isolation over a 20-id fake lake: atomic commit
  * (a crash at ANY point never orphans committed state), the guarded
  * dense-monotone replay contract, and manifest-corruption fail-fast.
  * The per-modality ladder-equality specs (DedupSpec / MediaSpec /
  * StreamingSpec) prove each instance's derivation; this suite proves
  * the mechanics those proofs stand on. */
class SliceLadderSpec extends SparkSpec {

  private val LakeRows = 20L

  /** A ladder whose derivation is a pure function of the id — (id, 2·id)
    * — so read output is checkable arithmetic. `failStage` injects a
    * crash INSIDE the slice write, after files may be partially on disk
    * but before the marker commit. */
  private def mkLadder(base: String,
      failStage: () => Boolean = () => false): SliceLadder =
    new SliceLadder(base, "test artifact",
      idCol = "id",
      readSchema = "id BIGINT, v BIGINT",
      deriveRange = (spark, lo, hi) =>
        spark.range(lo, math.min(hi, LakeRows))
          .select(col("id"), (col("id") * 2).as("v")),
      deriveBatch = (_, batch) =>
        batch.select(col("id"), (col("id") * 2).as("v")),
      writeSliceFiles = (df, path) => {
        df.write.mode("overwrite").parquet(path)
        if (failStage())
          throw new RuntimeException("injected crash after slice write")
      })

  private def tmpBase(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ladder_$tag").toString +
      "/artifact"

  test("append and train maintain a contiguous ladder; read equals the derivation") {
    val lad = mkLadder(tmpBase("basic"))
    lad.train(spark, 8L)
    assert(lad.bound(spark) == Some(8L) && !lad.trained(spark))
    lad.append(spark, 14L)
    lad.append(spark, Long.MaxValue)
    assert(lad.trained(spark))
    assert(lad.ladder(spark) ==
      Seq((0L, 8L), (8L, 14L), (14L, Long.MaxValue)))
    val got = lad.read(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements((0L until LakeRows).map(i => (i, i * 2))))
    // idempotence + backwards refusal
    lad.train(spark)
    assert(lad.ladder(spark).size == 3)
    intercept[IllegalArgumentException] { lad.append(spark, 10L) }
  }

  test("a crash between slice write and marker commit orphans nothing: earlier slices stay committed, the partial slice is invisible, the append re-drives") {
    var arm = false
    val lad = mkLadder(tmpBase("crash"), failStage = () => arm)
    lad.train(spark, 10L)
    val before = lad.ladder(spark)
    arm = true
    intercept[RuntimeException] { lad.append(spark, 16L) }
    // THE contract the old rewrite-the-whole-manifest design broke: a
    // crashed append must leave the ladder exactly at the previous
    // boundary — never empty (which would make a restarted streaming
    // ingest bootstrap at id 0 and silently orphan all earlier slices)
    assert(lad.ladder(spark) == before,
      "crashed append must not change committed state")
    assert(lad.read(spark).count() == 10L,
      "the partial slice must be invisible to readers")
    arm = false
    lad.append(spark, 16L) // the re-drive overwrites the partial slice
    assert(lad.bound(spark) == Some(16L))
    assert(lad.read(spark).count() == 16L)
  }

  test("streaming appendBatch: replays are dropped, the dense-monotone contract is guarded, sealed artifacts refuse ingest") {
    import spark.implicits._
    val lad = mkLadder(tmpBase("batch"))
    def batchOf(ids: Seq[Long]): DataFrame = ids.toDF("id")
    lad.appendBatch(spark, batchOf(0L to 4L))   // bootstrap at 0
    lad.appendBatch(spark, batchOf(5L to 9L))
    assert(lad.bound(spark) == Some(10L) && lad.ladder(spark).size == 2)
    // full replay (at-least-once re-delivery) commits nothing
    lad.appendBatch(spark, batchOf(0L to 9L))
    assert(lad.ladder(spark).size == 2)
    // partial replay commits exactly the fresh suffix
    lad.appendBatch(spark, batchOf(7L to 12L))
    assert(lad.bound(spark) == Some(13L))
    assert(lad.read(spark).count() == 13L)
    // GUARD 1: fresh ids starting above coverage — committing would
    // claim the skipped ids as covered without processing them
    val gapHigh = intercept[IllegalArgumentException] {
      lad.appendBatch(spark, batchOf(15L to 17L))
    }
    assert(gapHigh.getMessage.contains("dense-monotone"))
    // GUARD 2: a hole inside the fresh range — the missing id would be
    // dropped as a replay forever
    val hole = intercept[IllegalArgumentException] {
      lad.appendBatch(spark, batchOf(Seq(13L, 15L)))
    }
    assert(hole.getMessage.contains("dense-monotone"))
    // neither failed guard may have committed anything
    assert(lad.bound(spark) == Some(13L) && lad.ladder(spark).size == 3)
    // GUARD 3: a null id (malformed producer id / failed cast) fails
    // fast instead of being silently dropped under claimed coverage
    val withNull = Seq(Some(13L), None, Some(14L)).toDF("id")
    val nullId = intercept[IllegalArgumentException] {
      lad.appendBatch(spark, withNull)
    }
    assert(nullId.getMessage.contains("null"))
    assert(lad.bound(spark) == Some(13L) && lad.ladder(spark).size == 3)
    // GUARD 4: a sealed artifact refuses live ingest
    lad.append(spark, Long.MaxValue)
    intercept[IllegalArgumentException] {
      lad.appendBatch(spark, batchOf(Seq(20L)))
    }
  }

  test("slice compaction: merged prefix reads identically, survives crash leftovers, appends continue") {
    import spark.implicits._
    val base = tmpBase("compact")
    val lad = mkLadder(base)
    lad.train(spark, 4L)
    lad.append(spark, 9L)
    lad.append(spark, 13L)
    lad.append(spark, 16L)
    def snapshot() = lad.read(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expected = snapshot()
    // merge the first three slices; the tail slice and coverage stay
    lad.compactSlices(spark, 13L)
    assert(lad.ladder(spark) == Seq((0L, 13L), (13L, 16L)))
    assert(lad.bound(spark) == Some(16L))
    assert(snapshot() == expected,
      "compaction must copy rows exactly, never change the read")
    // a crash between the merged-marker commit and the cleanup leaves
    // subsumed markers behind — containment resolution must ignore them
    val leftover = new java.io.File(s"$base/ladder/e0-4")
    assert(leftover.createNewFile())
    assert(lad.ladder(spark) == Seq((0L, 13L), (13L, 16L)),
      "a subsumed leftover marker must be resolved away, not read")
    assert(snapshot() == expected)
    assert(leftover.delete())
    // life goes on: append past the compacted prefix, then full compact
    lad.append(spark, 18L)
    lad.compactSlices(spark, 18L)
    assert(lad.ladder(spark) == Seq((0L, 18L)))
    assert(lad.read(spark).count() == 18L)
    // upTo must be an existing boundary; a second compact is a no-op
    intercept[IllegalArgumentException] { lad.compactSlices(spark, 5L) }
    lad.compactSlices(spark, 18L)
    assert(lad.ladder(spark) == Seq((0L, 18L)))
  }

  test("manifest corruption fails fast: a gapped or non-zero-origin ladder is an error, not a read-through") {
    val base = tmpBase("corrupt")
    val lad = mkLadder(base)
    lad.train(spark, 6L)
    lad.append(spark, 12L)
    // simulate a lost marker (manual deletion / partial restore) — a
    // PERSISTENT gap: every re-listing of the retry sees it, so it must
    // surface as the dedicated corruption type, not be read through
    val gone = new java.io.File(s"$base/ladder/e0-6")
    assert(gone.delete())
    intercept[SliceLadder.LadderCorruption] { lad.ladder(spark) }
    intercept[SliceLadder.LadderCorruption] { lad.read(spark) }
  }

  test("validation retry: transient gaps heal over a fresh listing, foreign throws surface at once") {
    // the race-vs-corruption filter, tested on the retry itself: a
    // listing race manifests as LadderCorruption that STOPS recurring
    // once the renamed marker is visible — the retry must absorb it
    var calls = 0
    val healed = SliceLadder.retryValidation { () =>
      calls += 1
      if (calls <= 2) throw new SliceLadder.LadderCorruption("transient gap")
      Seq((0L, 8L))
    }
    assert(healed == Seq((0L, 8L)) && calls == 3,
      s"transient corruption must heal via re-listing (calls=$calls)")
    // a validation path that throws anything OTHER than LadderCorruption
    // is not a listing race — it must surface immediately, unretried
    var foreign = 0
    intercept[IllegalStateException] {
      SliceLadder.retryValidation[Unit] { () =>
        foreign += 1
        throw new IllegalStateException("not a validation failure")
      }
    }
    assert(foreign == 1, s"foreign exceptions must not retry (calls=$foreign)")
    // persistent corruption exhausts the bounded retries, then surfaces
    var persistent = 0
    intercept[SliceLadder.LadderCorruption] {
      SliceLadder.retryValidation[Unit] { () =>
        persistent += 1
        throw new SliceLadder.LadderCorruption("real gap")
      }
    }
    assert(persistent == 4,
      s"persistent corruption must exhaust all attempts (calls=$persistent)")
  }

  test("ladder property: random append/crash/replay sequences never corrupt committed state") {
    import spark.implicits._
    // Drive the commit protocol through random interleavings of the
    // four things a real ingest does — commit a fresh batch, crash
    // mid-append (after slice files, before the marker), replay
    // already-covered rows, and compact a prefix — and assert after
    // EVERY step that committed state is exactly the contiguous prefix
    // of successful commits: nothing lost to a crash, nothing
    // duplicated by a replay, nothing changed by a compaction, the
    // read always equal to the derivation over the covered range.
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(900 + seed)
      var arm = false
      val lad = mkLadder(tmpBase(s"prop$seed"), failStage = () => arm)
      var covered = 0L
      var slices = 0
      for (_ <- 0 until 12) {
        rnd.nextInt(5) match {
          case 0 => // fresh batch, possibly with a replayed prefix
            val replayFrom = math.max(0L, covered - rnd.nextInt(3))
            val hi = covered + 1 + rnd.nextInt(4)
            lad.appendBatch(spark, (replayFrom until hi).toDF("id"))
            covered = hi; slices += 1
          case 1 => // crash between slice write and marker commit
            arm = true
            intercept[RuntimeException] {
              lad.appendBatch(spark,
                (covered until covered + 2).toDF("id"))
            }
            arm = false
          case 2 if covered > 0 => // pure replay: must commit nothing
            lad.appendBatch(spark, (0L until covered).toDF("id"))
          case 3 if slices > 1 => // compact a random committed prefix
            val bounds = lad.ladder(spark).map(_._2)
            val upTo = bounds(rnd.nextInt(bounds.size))
            lad.compactSlices(spark, upTo)
            slices = lad.ladder(spark).size
          case 4 if slices > 1 => // tiered maintenance merge
            lad.compactTiered(spark, minRun = 2)
            slices = lad.ladder(spark).size
          case _ => ()
        }
        assert(lad.bound(spark) == (if (slices == 0) None else Some(covered)),
          s"seed $seed: coverage drifted from the successful-commit prefix")
        assert(lad.ladder(spark).size == slices,
          s"seed $seed: a crash or replay changed the committed slice count")
        if (slices > 0) {
          val got = lad.read(spark).collect()
            .map(r => (r.getLong(0), r.getLong(1))).sorted
          assert(got.sameElements((0L until covered).map(i => (i, i * 2))),
            s"seed $seed: committed rows diverged from the derivation")
        }
      }
    }
  }

  test("ingest never stalls behind maintenance: appendBatch completes while a compaction is mid-merge") {
    import spark.implicits._
    // The r14 design held the per-artifact lock across the whole merged-
    // slice Spark job, so a streaming appendBatch stalled for the full
    // merge — at 100 TB an hours-long ingest pause. The rework holds the
    // lock only for the ladder snapshot and the marker commit; this test
    // parks a compaction INSIDE its merge write (latch in the
    // writeSliceFiles hook) and proves a concurrent appendBatch commits.
    val base = tmpBase("midmerge")
    val mergeStarted = new java.util.concurrent.CountDownLatch(1)
    val releaseMerge = new java.util.concurrent.CountDownLatch(1)
    val lad = new SliceLadder(base, "latch artifact",
      idCol = "id",
      readSchema = "id BIGINT, v BIGINT",
      deriveRange = (spark, lo, hi) =>
        spark.range(lo, math.min(hi, LakeRows))
          .select(col("id"), (col("id") * 2).as("v")),
      deriveBatch = (_, batch) =>
        batch.select(col("id"), (col("id") * 2).as("v")),
      writeSliceFiles = (df, path) => {
        // the merge's scratch output, only (merges never write at a
        // committable slice path — the commit renames scratch in)
        if (path.contains("/slices/.merge-0-8-")) {
          mergeStarted.countDown()
          releaseMerge.await(60, java.util.concurrent.TimeUnit.SECONDS)
        }
        df.write.mode("overwrite").parquet(path)
      })
    lad.appendBatch(spark, (0L to 3L).toDF("id"))
    lad.appendBatch(spark, (4L to 7L).toDF("id"))
    @volatile var compactErr: Throwable = null
    val compactor = new Thread(() =>
      try lad.compactSlices(spark, 8L)
      catch { case t: Throwable => compactErr = t })
    compactor.start()
    assert(mergeStarted.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "compaction never reached its merge write")
    // the merge is parked holding NO lock — live ingest must commit now
    lad.appendBatch(spark, (8L to 11L).toDF("id"))
    assert(lad.bound(spark) == Some(12L),
      "appendBatch must commit while the merge job is in flight")
    releaseMerge.countDown()
    compactor.join(60000)
    assert(compactErr == null, s"compaction failed: $compactErr")
    assert(lad.ladder(spark) == Seq((0L, 8L), (8L, 12L)))
    val got = lad.read(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements((0L until 12L).map(i => (i, i * 2))))
  }

  test("deferred deletes: a read resolved before a compaction survives it; the next mutation GCs the subsumed slices") {
    val base = tmpBase("defer")
    val lad = mkLadder(base)
    lad.train(spark, 4L)
    lad.append(spark, 9L)
    lad.append(spark, 13L)
    // resolve a plan over the THREE pre-compaction slices
    val preRead = lad.read(spark)
    lad.compactSlices(spark, 13L)
    assert(lad.ladder(spark) == Seq((0L, 13L)))
    // subsumed data must still be on disk (trash-listed, not deleted) …
    assert(new java.io.File(s"$base/slices/s0-4").exists,
      "subsumed slice data must survive until the next mutation")
    // … so the pre-compaction plan completes instead of dying on
    // FileNotFoundException mid-query
    assert(preRead.count() == 13L)
    // the NEXT mutation's sweep collects the trash
    lad.append(spark, 15L)
    assert(!new java.io.File(s"$base/slices/s0-4").exists &&
      !new java.io.File(s"$base/slices/s4-9").exists &&
      !new java.io.File(s"$base/slices/s9-13").exists,
      "the next mutation must GC trash-listed slice data")
    assert(lad.read(spark).count() == 15L)
  }

  test("interrupted compaction cleanup is finished by the next mutation, not left to linger") {
    val base = tmpBase("resume")
    val lad = mkLadder(base)
    lad.train(spark, 4L)
    lad.append(spark, 9L)
    lad.compactSlices(spark, 9L)
    // simulate a crash BETWEEN the merged-marker commit and the subsumed-
    // marker cleanup: the subsumed marker reappears while its data (still
    // deferred) sits on disk
    assert(new java.io.File(s"$base/ladder/e0-4").createNewFile())
    assert(lad.ladder(spark) == Seq((0L, 9L)),
      "containment resolution must keep ignoring the leftover")
    // first mutation: the sweep adopts the orphan (marker dropped, data
    // trash-listed) instead of early-returning past it forever
    lad.append(spark, 11L)
    assert(!new java.io.File(s"$base/ladder/e0-4").exists,
      "the sweep must finish the interrupted marker cleanup")
    // second mutation: the trash window elapses and the data is GC'd
    lad.append(spark, 12L)
    assert(!new java.io.File(s"$base/slices/s0-4").exists,
      "orphaned slice data must be collected, not linger forever")
    assert(lad.read(spark).count() == 12L)
  }

  test("one-row-per-id ingest guard: in-batch duplicates of a FRESH id fail fast; replay duplicates and opted-out instances pass") {
    import spark.implicits._
    val lad = mkLadder(tmpBase("dup")) // oneRowPerId = true (default)
    lad.appendBatch(spark, (0L to 4L).toDF("id"))
    // an at-least-once producer duplicating a fresh row WITHIN one batch
    // previously passed every guard and committed duplicate rows
    val dup = intercept[IllegalArgumentException] {
      lad.appendBatch(spark, Seq(5L, 5L, 6L).toDF("id"))
    }
    assert(dup.getMessage.contains("duplicated rows WITHIN"))
    assert(lad.bound(spark) == Some(5L),
      "a failed duplicate guard must commit nothing")
    // duplicates among REPLAY rows are dropped before the check
    lad.appendBatch(spark, Seq(3L, 3L, 4L, 5L, 6L).toDF("id"))
    assert(lad.bound(spark) == Some(7L))
    // a many-rows-per-id modality (text: docs per src_num) opts out
    val multi = new SliceLadder(tmpBase("multi"), "multi-row artifact",
      idCol = "id",
      readSchema = "id BIGINT, v BIGINT",
      deriveRange = (spark, lo, hi) =>
        spark.range(lo, math.min(hi, LakeRows))
          .select(col("id"), (col("id") * 2).as("v")),
      deriveBatch = (_, batch) =>
        batch.select(col("id"), (col("id") * 2).as("v")).distinct(),
      oneRowPerId = false)
    multi.appendBatch(spark, Seq(0L, 0L, 1L, 1L, 2L).toDF("id"))
    assert(multi.bound(spark) == Some(3L))
  }

  test("tiered compaction merges same-size adjacent runs and leaves the read identical") {
    import spark.implicits._
    val lad = mkLadder(tmpBase("tier"))
    // four similar-size micro-batch slices — one size tier
    lad.appendBatch(spark, (0L to 2L).toDF("id"))
    lad.appendBatch(spark, (3L to 5L).toDF("id"))
    lad.appendBatch(spark, (6L to 8L).toDF("id"))
    lad.appendBatch(spark, (9L to 11L).toDF("id"))
    def snapshot() = lad.read(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expected = snapshot()
    // a run threshold above the slice count merges nothing
    assert(lad.compactTiered(spark, minRun = 5) == 0)
    assert(lad.ladder(spark).size == 4)
    val merges = lad.compactTiered(spark, minRun = 4)
    assert(merges >= 1, "four same-tier adjacent slices must merge")
    assert(lad.ladder(spark) == Seq((0L, 12L)))
    assert(snapshot() == expected,
      "tiered compaction must copy rows exactly, never change the read")
    // coverage and append behavior are unchanged afterwards
    lad.appendBatch(spark, (12L to 13L).toDF("id"))
    assert(lad.bound(spark) == Some(14L))
  }

  test("tiered compaction preserves the reader grace window: nothing it trashes is deleted within the same call") {
    import spark.implicits._
    // compactTiered cascades merges in a loop; an early version swept at
    // every iteration, deleting data trashed seconds earlier by its own
    // previous merge — collapsing the documented one-mutation grace
    // window to zero for any reader that resolved just before the call
    val base = tmpBase("tiergrace")
    val lad = mkLadder(base)
    lad.appendBatch(spark, (0L to 2L).toDF("id"))
    lad.appendBatch(spark, (3L to 5L).toDF("id"))
    lad.appendBatch(spark, (6L to 8L).toDF("id"))
    lad.appendBatch(spark, (9L to 11L).toDF("id"))
    val preRead = lad.read(spark) // resolved over the four micro-slices
    assert(lad.compactTiered(spark, minRun = 2) >= 1)
    assert(lad.ladder(spark) == Seq((0L, 12L)))
    // every pre-merge slice (including intermediates the cascade itself
    // subsumed) must still be on disk …
    assert(new java.io.File(s"$base/slices/s0-3").exists,
      "tiered compaction must defer deletes, not collapse the window")
    // … so the pre-compaction plan still completes
    assert(preRead.count() == 12L)
    // the NEXT mutation sweeps everything the call trashed
    lad.appendBatch(spark, Seq(12L).toDF("id"))
    assert(!new java.io.File(s"$base/slices/s0-3").exists &&
      !new java.io.File(s"$base/slices/s3-6").exists,
      "the next mutation must GC the tiered call's trash")
    assert(lad.read(spark).count() == 13L)
  }

  test("tiered compaction bounds write amplification: rows rewritten O(N log K) across K batches, below the full-prefix control") {
    import spark.implicits._
    // The claim behind compactTiered: maintaining the ladder after every
    // micro-batch rewrites each row only on tier promotion — binary-
    // counter merging, <= ceil(log2 K) + 1 rewrites per row — where
    // running the full-prefix collapse after every batch rewrites the
    // whole prefix each time, O(K) rewrites for the oldest rows. Count
    // the rows every slice write lands via the writeSliceFiles hook and
    // compare the two schedules on identical ingest. Rows carry a
    // 100-byte pad so parquet size tracks row count (tier = log2 bytes
    // must separate doublings; tiny padless files are overhead-dominated
    // and collapse into one tier). K = 32 leaves the exact binary counter
    // (one file per slice: 6n = 196 608 rows) 2.9x under the control's
    // 572 416, so the margin holds whatever the write layout is: the test
    // runs with one-file slices and with the ladder's default layout.
    val K = 32
    val B = 1024L // rows per batch
    val log2K = 64 - java.lang.Long.numberOfLeadingZeros(K - 1L)
    def mk(tag: String, oneFile: Boolean): (SliceLadder, () => Long) = {
      var written = 0L
      val lad = new SliceLadder(tmpBase(tag), s"amp-$tag artifact",
        idCol = "id",
        readSchema = "id BIGINT, pad STRING",
        deriveRange = (spark, lo, hi) =>
          spark.range(lo, hi).select(col("id"),
            expr("repeat('x', 100)").as("pad")),
        deriveBatch = (_, batch) =>
          batch.select(col("id"), expr("repeat('x', 100)").as("pad")),
        writeSliceFiles = (df, path) => {
          written += df.count()
          (if (oneFile) df.coalesce(1) else df)
            .write.mode("overwrite").parquet(path)
        })
      (lad, () => written)
    }
    for (oneFile <- Seq(true, false)) {
      val layout = if (oneFile) "one-file slices" else "default layout"
      val (tiered, tieredWritten) = mk(s"amptier$oneFile", oneFile)
      val (full, fullWritten) = mk(s"ampfull$oneFile", oneFile)
      for (k <- 0 until K) {
        val batch = (k * B until (k + 1) * B).toDF("id")
        tiered.appendBatch(spark, batch)
        tiered.compactTiered(spark, minRun = 2)
        full.appendBatch(spark, batch)
        full.compactSlices(spark, (k + 1) * B)
      }
      val n = K * B
      assert(tiered.read(spark).count() == n &&
        full.read(spark).count() == n)
      // log2(K) tier promotions max per row, +1 for the ingest write
      val bound = n * (1 + log2K)
      assert(tieredWritten() <= bound, s"$layout: tiered schedule wrote " +
        s"${tieredWritten()} rows > O(N log K) bound $bound")
      assert(tieredWritten() * 2 <= fullWritten(),
        s"$layout: tiered (${tieredWritten()}) must beat per-batch " +
          s"full-prefix (${fullWritten()}) by a wide margin at K = $K")
      // and the maintained ladder stays shallow: <= log2(K) + 1 slices
      assert(tiered.ladder(spark).size <= log2K + 1,
        s"$layout: tiered ladder too deep: ${tiered.ladder(spark)}")
    }
  }

  test("a crash mid-merge-write orphans only scratch: committed state intact, gc ages the scratch out, the re-compact succeeds") {
    import spark.implicits._
    var arm = false
    val base = tmpBase("mergecrash")
    val lad = mkLadder(base, failStage = () => arm)
    lad.appendBatch(spark, (0L to 3L).toDF("id"))
    lad.appendBatch(spark, (4L to 7L).toDF("id"))
    val before = lad.ladder(spark)
    // compaction writes ONLY its scratch dir, so arming the injected
    // crash here hits exactly the mid-merge-write window
    arm = true
    intercept[RuntimeException] { lad.compactSlices(spark, 8L) }
    arm = false
    assert(lad.ladder(spark) == before,
      "a crashed merge must not change committed state")
    assert(lad.read(spark).count() == 8L)
    def scratchDirs() = Option(new java.io.File(s"$base/slices").list())
      .toSeq.flatten.filter(_.startsWith(".merge-"))
    assert(scratchDirs().nonEmpty,
      "the crashed merge's scratch dir should be orphaned, not vanish " +
        "silently (gc owns its cleanup)")
    // no committable path carries the crash's garbage — the r15 design
    // wrote merges AT slicePath(lo,hi), so a crash left unreferenced
    // data exactly where a later commit would land
    assert(!new java.io.File(s"$base/slices/s0-8").exists,
      "merge output must never touch a committable path before commit")
    // a young scratch dir survives a graced gc (an in-flight merge from
    // another process must not be shot down) …
    lad.gc(spark, graceMs = 10 * 60 * 1000L)
    assert(scratchDirs().nonEmpty)
    // … and a quiesced gc collects it
    lad.gc(spark)
    assert(scratchDirs().isEmpty, "gc must age out orphaned merge scratch")
    lad.compactSlices(spark, 8L)
    assert(lad.ladder(spark) == Seq((0L, 8L)))
    assert(lad.read(spark).count() == 8L)
  }

  test("gc gives quiesced artifacts trash liveness: graced gc keeps an in-window read alive, ungraced gc collects everything") {
    val base = tmpBase("gc")
    val lad = mkLadder(base)
    lad.train(spark, 4L)
    lad.append(spark, 9L)
    lad.append(spark, 13L)
    val preRead = lad.read(spark) // resolved over the three slices
    lad.compactSlices(spark, 13L)
    assert(lad.ladder(spark) == Seq((0L, 13L)))
    // the artifact now QUIESCES: no further mutation will ever sweep.
    // A gc inside the grace window must keep the trashed data …
    lad.gc(spark, graceMs = 10 * 60 * 1000L)
    assert(new java.io.File(s"$base/slices/s0-4").exists,
      "graced gc must not collapse the reader grace window")
    assert(preRead.count() == 13L,
      "a read resolved before the compaction must complete")
    // … and a gc past the window collects data AND trash markers
    lad.gc(spark)
    assert(!new java.io.File(s"$base/slices/s0-4").exists &&
      !new java.io.File(s"$base/slices/s4-9").exists &&
      !new java.io.File(s"$base/slices/s9-13").exists,
      "ungraced gc must collect a quiesced artifact's trash")
    assert(Option(new java.io.File(s"$base/trash").list())
      .forall(_.isEmpty), "collected trash markers must not linger")
    assert(lad.read(spark).count() == 13L)
    // gc also adopts crash residue at a committable path (the window
    // between a merge's rename and its marker commit): a slice dir with
    // neither marker nor trash entry is an orphan
    val orphan = new java.io.File(s"$base/slices/s50-60")
    assert(orphan.mkdirs())
    lad.gc(spark)
    assert(!orphan.exists, "gc must adopt marker-less slice-dir orphans")
    // … while LIVE slice dirs (marker present) are never touched
    assert(new java.io.File(s"$base/slices/s0-13").exists)
  }

  test("a rebuild racing an in-flight merge: the merge abandons on the epoch bump even when the rebuilt boundaries coincide") {
    import spark.implicits._
    // Liveness re-validation alone cannot catch this: the rebuild below
    // recreates the EXACT boundaries the merge snapshotted — [0,4),
    // [4,8) — so every run member is a live ladder entry at commit time,
    // but the rows underneath are a NEW derivation (v = 3·id, not 2·id).
    // Without the epoch guard the stale merge would commit old rows
    // over the rebuilt artifact.
    val base = tmpBase("epoch")
    val mergeStarted = new java.util.concurrent.CountDownLatch(1)
    val releaseMerge = new java.util.concurrent.CountDownLatch(1)
    @volatile var mult = 2L
    val lad = new SliceLadder(base, "epoch artifact",
      idCol = "id",
      readSchema = "id BIGINT, v BIGINT",
      deriveRange = (spark, lo, hi) => {
        val m = mult
        spark.range(lo, math.min(hi, LakeRows))
          .select(col("id"), (col("id") * m).as("v"))
      },
      deriveBatch = (_, batch) =>
        batch.select(col("id"), (col("id") * 2).as("v")),
      writeSliceFiles = (df, path) => {
        df.write.mode("overwrite").parquet(path)
        // park AFTER the scratch write: the merge now holds a fully
        // written OLD-derivation scratch dir and is headed for the
        // commit — the exact state where only the epoch check stands
        // between the stale rows and the rebuilt ladder. (A rebuild
        // racing the write itself just fails the merge's scan loudly —
        // that case needs no guard.)
        if (path.contains("/slices/.merge-0-8-")) {
          mergeStarted.countDown()
          releaseMerge.await(60, java.util.concurrent.TimeUnit.SECONDS)
        }
      })
    lad.train(spark, 4L)
    lad.append(spark, 8L)
    @volatile var compactErr: Throwable = null
    val compactor = new Thread(() =>
      try lad.compactSlices(spark, 8L)
      catch { case t: Throwable => compactErr = t })
    compactor.start()
    assert(mergeStarted.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "compaction never reached its merge write")
    // the merge is parked unlocked — rebuild the artifact under it with
    // a CHANGED derivation but IDENTICAL slice boundaries
    mult = 3L
    lad.train(spark, 4L) // bound 8 > 4 → from-scratch: drop + re-derive
    lad.append(spark, 8L)
    assert(lad.ladder(spark) == Seq((0L, 4L), (4L, 8L)))
    releaseMerge.countDown()
    compactor.join(60000)
    assert(compactErr == null, s"abandoning must be clean, got $compactErr")
    assert(lad.ladder(spark) == Seq((0L, 4L), (4L, 8L)),
      "the stale merge must abandon, not commit over the rebuild")
    val got = lad.read(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements((0L until 8L).map(i => (i, i * 3))),
      "committed rows must be the REBUILT derivation, not the stale merge's")
    assert(Option(new java.io.File(s"$base/slices").list()).toSeq.flatten
      .forall(!_.startsWith(".merge-")),
      "the abandoned merge must delete its scratch dir")
  }

  test("concurrent appendBatch from racing threads serializes: every id covered exactly once") {
    import spark.implicits._
    val lad = mkLadder(tmpBase("race"))
    lad.appendBatch(spark, (0L to 3L).toDF("id"))
    // two writers race the same read-modify-write append window; the
    // per-base lock serializes them, so one commits [4, 8) and the
    // other then sees cur = 8 and commits nothing (its rows replay)
    val t1 = new Thread(() =>
      lad.appendBatch(spark, (4L to 7L).toDF("id")))
    val t2 = new Thread(() =>
      lad.appendBatch(spark, (4L to 7L).toDF("id")))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(lad.bound(spark) == Some(8L))
    val got = lad.read(spark).groupBy("id").count()
      .filter(col("count") > 1).count()
    assert(got == 0L, "no id may be committed twice")
  }

  private def scratchDirs(base: String): Seq[String] =
    Option(new java.io.File(s"$base/slices").list()).toSeq.flatten
      .filter(_.startsWith(".merge-"))

  test("a rejected ingest batch commits nothing and leaves no scratch dir") {
    import spark.implicits._
    val base = tmpBase("rejected")
    val lad = mkLadder(base)
    lad.appendBatch(spark, (0L to 4L).toDF("id"))
    val before = lad.ladder(spark)
    Seq(
      "null id" -> Seq(Some(5L), None, Some(6L)).toDF("id"),
      "gap" -> Seq(5L, 7L).toDF("id"),
      "start above the bound" -> (8L to 10L).toDF("id"),
      "in-batch duplicate" -> Seq(5L, 5L, 6L).toDF("id")
    ).foreach { case (what, batch) =>
      intercept[IllegalArgumentException] { lad.appendBatch(spark, batch) }
      assert(lad.ladder(spark) == before, s"$what: the ladder changed")
      assert(scratchDirs(base).isEmpty,
        s"$what: the rejected slice's scratch dir was left behind")
    }
    lad.appendBatch(spark, (5L to 6L).toDF("id"))
    assert(lad.bound(spark) == Some(7L))
  }

  test("a crash during appendBatch leaves the ladder unchanged; gc removes the scratch dir") {
    import spark.implicits._
    var arm = false
    val base = tmpBase("batchcrash")
    val lad = mkLadder(base, failStage = () => arm)
    lad.appendBatch(spark, (0L to 4L).toDF("id"))
    val before = lad.ladder(spark)
    arm = true
    intercept[RuntimeException] {
      lad.appendBatch(spark, (5L to 9L).toDF("id"))
    }
    arm = false
    assert(lad.ladder(spark) == before,
      "a crashed append must not change committed state")
    assert(lad.read(spark).count() == 5L)
    assert(scratchDirs(base).nonEmpty,
      "the crashed append's rows must sit in a scratch dir")
    lad.gc(spark, 0L)
    assert(scratchDirs(base).isEmpty, "gc must remove the crash's scratch")
    lad.appendBatch(spark, (5L to 9L).toDF("id"))
    assert(lad.bound(spark) == Some(10L) && lad.read(spark).count() == 10L)
  }

  test("a partly replayed batch through a derivation that shuffles above the guard keeps its fresh rows") {
    import spark.implicits._
    // the audio and video shape: the derivation groups by the id, an
    // exchange above the guard's. A replay's write then reports no
    // guard figures at all, and the guard's own pass must settle it
    val base = tmpBase("shuffled")
    val lad = new SliceLadder(base, "shuffled artifact",
      idCol = "id",
      readSchema = "id BIGINT, v BIGINT",
      deriveRange = (spark, lo, hi) =>
        spark.range(lo, hi).select(col("id"), (col("id") * 2).as("v")),
      deriveBatch = (_, batch) =>
        batch.groupBy("id").agg(max(col("id") * 2).as("v")))
    def rows() = lad.read(spark).as[(Long, Long)].collect().sorted.toSeq
    lad.appendBatch(spark, (0L to 4L).toDF("id"))
    lad.appendBatch(spark, (2L to 8L).toDF("id"))
    assert(lad.ladder(spark) == Seq((0L, 5L), (5L, 9L)),
      "the fresh ids of a partly replayed batch must commit")
    assert(rows() == (0L to 8L).map(i => (i, 2 * i)))
    lad.appendBatch(spark, (0L to 8L).toDF("id"))
    assert(lad.ladder(spark) == Seq((0L, 5L), (5L, 9L)),
      "a pure replay must commit nothing")
    intercept[IllegalArgumentException] {
      lad.appendBatch(spark, Seq(Some(9L), None).toDF("id"))
    }
    assert(lad.bound(spark) == Some(9L) && scratchDirs(base).isEmpty)
    lad.appendBatch(spark, (3L to 12L).toDF("id"))
    assert(rows() == (0L to 12L).map(i => (i, 2 * i)))
  }
}
