package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The ONE slice-ladder implementation behind every append-maintained
  * lake artifact in the engine — the text shingle index
  * ([[graft.queries.DedupQueries]]), the IVF inverted file
  * ([[graft.queries.SimilarityQueries]]) and the image/audio/video
  * signature indexes ([[graft.queries.MultimodalQueries]]) all
  * instantiate this instead of re-implementing the mechanics (divergent
  * copies is how commit-marker or replay-contract drift stays invisible
  * until a crash).
  *
  * The artifact model: a 100 TB lake's expensive per-item derivation
  * (shingling, quantizer assignment, pixel decode, audio framing, video
  * scene hashing) runs exactly once per item, AT INGEST, into an
  * append-only artifact under `base/`:
  *
  *  - `slices/s<lo>-<hi>/` — the derived rows of ids ∈ [lo, hi).
  *    Renamed into place whole from a scratch dir (below), never
  *    rewritten by later appends. A per-modality [[prepareSlice]] hook
  *    may write side artifacts keyed to `hi` (the shingle df census)
  *    before the rows land.
  *  - `ladder/e<lo>-<hi>` — one EMPTY MARKER FILE per committed slice,
  *    created LAST via a same-directory temp + rename: the artifact's
  *    commit. The ladder is reconstructed by listing the directory, so
  *    no step ever rewrites previously committed manifest state — a
  *    crash at ANY point leaves every earlier slice committed and the
  *    in-flight slice invisible. (The earlier `ladder.parquet` design
  *    rewrote the whole manifest with mode("overwrite"), whose
  *    delete-then-write window could orphan the entire artifact and made
  *    a restarted streaming ingest bootstrap at id 0 — silent data
  *    loss.) Rename-as-commit is atomic on HDFS and POSIX; an object
  *    store would swap in its conditional-put here.
  *  - `trash/t<lo>-<hi>` — the DEFERRED-DELETE list: a slice a
  *    compaction has subsumed keeps its data files until the NEXT
  *    mutation's [[sweep]] (one full inter-mutation grace window), so a
  *    query whose plan resolved the ladder just before the compaction
  *    commit finishes its scan instead of dying on FileNotFoundException
  *    mid-query. The single-writer contract covers writers; deferral is
  *    what covers concurrent READERS. A reader that holds one resolved
  *    plan across TWO artifact mutations is outside the window and may
  *    have to re-resolve — the documented residual contract. An
  *    artifact that QUIESCES (stops mutating) keeps its last trash
  *    forever under the mutation-driven sweep — [[gc]] is the explicit
  *    maintenance entry that collects it on a TIME-based grace window
  *    instead.
  *  - `slices/.merge-<label>-<nonce>/` — a slice write's job-scoped
  *    SCRATCH output. No write — append or compaction merge — ever
  *    lands at a committable slice path: the rows land here (invisible
  *    to every reader — slice reads go through [[slicePath]] only) and
  *    the ONE commit step, [[commitScratch]], RENAMES the dir into
  *    place and then creates the slice's marker, under the writer
  *    lock. So two compactors — even cross-process, where the in-JVM
  *    locks cannot see each other — can never interleave
  *    `mode("overwrite")` writes on one committed directory; a write
  *    that crashes leaves garbage only at a scratch path no reader or
  *    commit will ever resolve ([[gc]] ages it out); and a streaming
  *    append can write its rows BEFORE it knows its upper bound (the
  *    batch's guard metrics, observed on that same write, give it).
  *  - `ladder/x<epoch>` — the REBUILD EPOCH marker. [[drop]] (and so
  *    every from-scratch [[train]]) bumps it; an in-flight merge
  *    snapshots the epoch when its run is picked and refuses to commit
  *    under a different one. Liveness re-validation alone cannot catch
  *    a rebuild whose re-ingest happens to recreate the exact slice
  *    boundaries the stale merge snapshotted (deterministic batch
  *    sizes make that real): the boundaries match but the ROWS are the
  *    old derivation — the epoch is what makes that merge abandon.
  *
  * Coverage is by ID RANGE, not row presence: a range whose items all
  * fail to derive (undecodable blobs) commits a valid empty slice —
  * hence reads DECLARE the slice schema instead of inferring it.
  *
  * Concurrency: appends are read-modify-write on the covered bound, so
  * the artifact assumes a SINGLE WRITER — the ingest pipeline that owns
  * it (exactly one streaming sink or compaction loop per artifact).
  * Within this JVM that is enforced: every mutating op serializes on a
  * per-`base` lock, so a streaming sink and a train/append/compact call
  * racing from another thread cannot both read the same prior bound and
  * orphan each other's slice. Compaction holds that lock ONLY for the
  * ladder snapshot and the marker commit — the merged-slice Spark job
  * itself (the hours-long part at 100 TB) runs UNLOCKED, because
  * committed slices are immutable and appends only ever add above the
  * top boundary, so live ingest never stalls behind maintenance
  * (SliceLadderSpec proves an appendBatch completes mid-merge). The
  * commit re-validates the snapshot under the lock and abandons the
  * merge if a racing compactor got there first. Cross-process
  * single-writer stays a deployment contract (one owner per artifact
  * root), as it is for any lake-format manifest without a lock service.
  *
  * Replay contract (streaming [[appendBatch]]): ids are assigned at
  * ingest and DENSE-MONOTONE — micro-batch N+1 starts exactly where N
  * ended, every id in between present. Rows below current coverage are
  * micro-batch REPLAYS (foreachBatch is at-least-once across restarts)
  * and are dropped before the boundary math, so the artifact stays
  * exactly-once however the stream is re-driven. The contract is
  * GUARDED, not assumed: a fresh batch whose ids start above the bound,
  * with holes in its range, or (for one-row-per-id modalities) with
  * DUPLICATE rows for a fresh id fails fast — silently committing
  * coverage over unprocessed ids would drop them forever as "replays",
  * and silently committing an at-least-once producer's in-batch
  * duplicates would break the exactly-once artifact property. A batch
  * with fresh ids costs the guard no pass of its own: its figures are
  * `observe()` metrics on the slice write itself (see [[appendBatch]]).
  */
final class SliceLadder(
    val base: String,
    what: String,
    /** the dense-monotone id column (cast to long at the batch boundary) */
    idCol: String,
    /** declared slice read schema — inference dies on empty slices */
    readSchema: String,
    /** derive slice rows for ids ∈ [lo, hi) from the lake (range appends) */
    deriveRange: (SparkSession, Long, Long) => DataFrame,
    /** derive slice rows from an arriving micro-batch's own payload */
    deriveBatch: (SparkSession, DataFrame) => DataFrame,
    /** post-derivation hook run before the slice lands: may write side
      * artifacts keyed to `hi` (census merge) and reshape the rows.
      * None (the default) = the rows land as derived. A hook needs `hi`
      * before the rows are written, so [[appendBatch]] settles the
      * batch's range with a separate pass first for such a ladder. */
    prepareSlice: Option[(SparkSession, DataFrame, Long, Long) => DataFrame] =
      None,
    /** how slice rows land on disk (e.g. partitionBy the list id) */
    writeSliceFiles: (DataFrame, String) => Unit =
      (df, path) => df.write.mode("overwrite").parquet(path),
    /** evict session caches over the artifact's files on any mutation */
    onMutate: () => Unit = () => (),
    /** the "covers the full corpus" bound (Int.MaxValue for artifacts
      * whose boundary space is 32-bit, e.g. src_num) */
    sentinel: Long = Long.MaxValue,
    /** true (the default) = an ingest batch carries AT MOST ONE row per
      * fresh id (vectors, images, audio, video — one payload per item),
      * so in-batch duplicates from an at-least-once producer are a
      * guarded error, not silently committed twice. The text instance
      * (many documents per boundary src_num) opts out. */
    oneRowPerId: Boolean = true,
    /** [[gc]] hook for per-modality SIDE artifacts keyed to committed
      * bounds (the shingle census / source-atomic guard records): called
      * with the live ladder's bound set and the grace cutoff (epoch ms);
      * the hook deletes its side files at dead bounds older than the
      * cutoff. Default: no side artifacts. */
    gcSide: (SparkSession, Set[Long], Long) => Unit = (_, _, _) => ()) {

  private def tok(b: Long): String = if (b == sentinel) "full" else b.toString
  private def untok(s: String): Long = if (s == "full") sentinel else s.toLong
  private[graft] def slicePath(lo: Long, hi: Long): String =
    s"$base/slices/s${tok(lo)}-${tok(hi)}"
  private def markerDir: String = s"$base/ladder"
  private def trashDir: String = s"$base/trash"
  private val MarkerRe = "^e(\\d+|full)-(\\d+|full)$".r
  private val TrashRe = "^t(\\d+|full)-(\\d+|full)$".r
  private val EpochRe = "^x(\\d+)$".r
  private val MergeTmpRe = "^\\.merge-.*$".r
  /** Job-scoped scratch dir for one slice write (`label` names the
    * range, as far as it is known): the nonce makes racing writers —
    * including CROSS-PROCESS ones the in-JVM locks cannot serialize —
    * write disjoint scratch paths, so the last writer standing renames
    * into place and the loser's files never touch committed state. */
  private def scratchPath(label: String): String =
    s"$base/slices/.merge-$label-" +
      java.util.UUID.randomUUID().toString.take(8)

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def newestMtime(hfs: org.apache.hadoop.fs.FileSystem,
      p: Path): Long = SliceLadder.newestMtime(hfs, p)

  private def lock: Object =
    SliceLadder.locks.getOrElseUpdate(base, new Object)

  /** The committed slice ladder — empty when no artifact exists. A
    * directory listing of the marker files: tiny by construction (one
    * entry per ingested batch, collapsed by [[compactSlices]] /
    * [[compactTiered]]). Resolution: an entry strictly CONTAINED in
    * another is a slice a compaction has subsumed — its marker and data
    * may linger after a crash between the merged commit and the
    * best-effort cleanup, and the reader must (and does) ignore it (the
    * next mutation's [[sweep]] finishes the interrupted cleanup). The
    * RESOLVED ladder is then validated CONTIGUOUS from 0 — a gap, or an
    * overlap that is not containment, means manifest corruption and
    * must surface, not be read through.
    *
    * Validation failures are retried over a fresh listing before they
    * surface: a directory listing that races a CROSS-PROCESS writer's
    * same-dir marker rename (or this process's subsumed-marker delete)
    * can transiently miss a dirent outright — the getdents cursor may
    * already be past the new name's slot — and the resolved ladder then
    * shows a spurious gap. True manifest corruption persists across
    * re-listings; a listing race does not (seen once as a one-in-many
    * flake of the five-artifact cross-process suite: a maintenance leg
    * died on "gap" while the child JVM's appends were all committed). */
  def ladder(spark: SparkSession): Seq[(Long, Long)] =
    SliceLadder.retryValidation(() => ladderOnce(spark))

  private def ladderOnce(spark: SparkSession): Seq[(Long, Long)] = {
    val d = new Path(markerDir)
    val hfs = fs(spark, markerDir)
    if (!hfs.exists(d)) Nil
    else {
      val entries = resolve(rawMarkers(spark))
      entries.headOption.foreach { h =>
        if (h._1 != 0L) throw new SliceLadder.LadderCorruption(
          s"$what ladder at $base is corrupt: first slice starts at " +
            s"${h._1}, not 0") }
      entries.sliding(2).foreach {
        case Seq((_, hiA), (loB, _)) =>
          if (hiA != loB) throw new SliceLadder.LadderCorruption(
            s"$what ladder at $base is corrupt: slice boundary $hiA is " +
              s"followed by $loB (gap or overlap)")
        case _ => ()
      }
      entries
    }
  }

  private def rawMarkers(spark: SparkSession): Seq[(Long, Long)] = {
    val d = new Path(markerDir)
    val hfs = fs(spark, markerDir)
    if (!hfs.exists(d)) Nil
    else hfs.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case MarkerRe(a, b) => (untok(a), untok(b)) }
  }

  /** Containment resolution (see [[ladder]]). */
  private def resolve(raw: Seq[(Long, Long)]): Seq[(Long, Long)] =
    raw.filterNot(e =>
      raw.exists(c => c != e && c._1 <= e._1 && e._2 <= c._2))
      .sortBy(_._1)

  /** Deferred-delete GC, run at the start of EVERY mutation (under the
    * writer lock — never from a read path):
    *
    *  1. physically delete the slice directories the PREVIOUS mutation's
    *     compaction trashed (the one-mutation grace window for in-flight
    *     readers has elapsed) — unless the range has since been
    *     re-committed as a live ladder entry, which a stale trash entry
    *     must never shoot down;
    *  2. finish any compaction cleanup a crash interrupted: a raw marker
    *     strictly contained in a committed entry is a subsumed slice
    *     whose delete never ran — drop the marker now and enqueue its
    *     data for the next sweep, so the garbage is collected instead of
    *     lingering forever behind the size-1 early return.
    *
    * Caches are evicted after any physical delete so a session cache
    * repopulated during a compaction window cannot serve a plan over
    * files this sweep just removed. */
  private def sweep(spark: SparkSession): Unit = {
    val hfs = fs(spark, base)
    var deleted = false
    val raw = rawMarkers(spark)
    val live = resolve(raw).toSet
    val t = new Path(trashDir)
    if (hfs.exists(t)) {
      hfs.listStatus(t).toSeq.map(_.getPath.getName).foreach {
        case n @ TrashRe(a, b) =>
          val range = (untok(a), untok(b))
          if (!live.contains(range)) {
            if (hfs.delete(new Path(slicePath(range._1, range._2)), true))
              deleted = true
          }
          hfs.delete(new Path(trashDir, n), false)
        case _ => ()
      }
    }
    raw.filterNot(live.contains).foreach { case (lo, hi) =>
      // trash-THEN-untrack: both steps are idempotent, and this order
      // means a crash between them re-adopts the orphan next sweep —
      // the reverse order would leak the data forever (marker gone,
      // no trash entry, nothing left to find it by)
      addTrash(spark, lo, hi)
      hfs.delete(new Path(markerDir, s"e${tok(lo)}-${tok(hi)}"), false)
    }
    if (deleted) onMutate()
  }

  private def addTrash(spark: SparkSession, lo: Long, hi: Long): Unit = {
    val hfs = fs(spark, trashDir)
    hfs.mkdirs(new Path(trashDir))
    // Benign cross-process race, absorbed with a bounded retry (the
    // listing-race pattern of retryValidation): ChecksumFileSystem
    // writes the entry AND its `.crc` twin in separate local-FS steps,
    // so another process collecting the same trash name in that window
    // (its gc, or its mutation-time sweep — maintenance runs UNLOCKED
    // across processes by design) surfaces as an
    // ExitCodeException(chmod)/FileNotFound from RawLocalFileSystem.
    // Either outcome is safe — the entry exists, or the range was
    // already collected/re-adopted — so a transient throw retries over
    // a fresh create; a persistent one (a real permission problem)
    // still surfaces. Seen once in a full-suite run: the five-artifact
    // cross-process sweep's parent runAll raced the child's sweep on
    // trash/t150-300 (r19).
    var attempt = 0
    var done = false
    while (!done) {
      try {
        hfs.create(new Path(trashDir, s"t${tok(lo)}-${tok(hi)}"), true)
          .close()
        done = true
      } catch {
        case e: java.io.IOException if attempt < 3 =>
          attempt += 1
          // leave a trace: a REAL intermittent filesystem problem (flaky
          // permissions, disk pressure) must not be absorbed invisibly —
          // three of these lines in a log is the diagnosis
          System.err.println(s"[slice-ladder] addTrash retry $attempt/3 " +
            s"on $trashDir t${tok(lo)}-${tok(hi)}: ${e.getMessage}")
          Thread.sleep(25L * attempt)
      }
    }
  }

  /** Collapse every committed slice with hi ≤ `upTo` into ONE merged
    * slice [0, upTo) — full-prefix compaction, the strongest collapse
    * (for write-amplification-bounded maintenance use [[compactTiered]];
    * the commit/cleanup mechanics are shared). Rows are copied EXACTLY
    * as written (no re-derivation, no re-capping — for the shingle index
    * the read-time census anti-join keeps doing the monotone-hot
    * correction, so merged ≡ unmerged row-for-row).
    * `upTo` must be an existing slice boundary (ranges must align). */
  def compactSlices(spark: SparkSession, upTo: Long): Unit =
    compactionLock.synchronized {
      val run = lock.synchronized {
        sweep(spark)
        val l = ladder(spark)
        require(l.nonEmpty,
          s"$what compact: no committed artifact at $base")
        val subsumed = l.filter(_._2 <= upTo)
        require(subsumed.nonEmpty && subsumed.map(_._2).max == upTo,
          s"$what compact: upTo $upTo is not a committed slice boundary " +
            s"(ladder: ${l.mkString(", ")})")
        subsumed
      }
      if (run.size > 1) mergeRun(spark, run)
    }

  /** LSM-style size-tiered maintenance: repeatedly merge the first
    * maximal run of ≥ `minRun` ADJACENT slices in the same size tier
    * (⌊log2 bytes⌋ of the slice's files), until no such run exists.
    * Each row is rewritten only when its slice is promoted a tier, so
    * lifetime write amplification is O(N·log N) — [[compactSlices]]
    * rewrites the whole prefix O(N) per call, which at 100 TB is an
    * hours-long job per invocation. The ingest loop calls this after
    * appends; every merge commits through the same unlocked-merge /
    * locked-commit path, so ingest keeps flowing throughout. Returns
    * the number of merges performed. */
  def compactTiered(spark: SparkSession, minRun: Int = 4): Int =
    compactionLock.synchronized {
      require(minRun >= 2, s"$what compactTiered: minRun must be ≥ 2")
      // ONE sweep at entry, not per merge iteration: the loop's cascading
      // merges trash slices as they subsume them, and sweeping again
      // inside the same call would delete that data immediately —
      // collapsing the documented one-mutation reader grace window to
      // zero. Everything this call trashes survives until the NEXT
      // mutation.
      lock.synchronized { sweep(spark) }
      // Slice sizes are immutable once committed, so one getContentSummary
      // per slice PER CALL suffices: the cache persists across pick
      // iterations (only each merge's OUTPUT slice is new). Without it a
      // K-deep ladder's cascading merges re-stat the whole ladder every
      // iteration — O(K²) namenode round-trips per maintenance call,
      // which on a real HDFS at 100 TB is the maintenance loop's
      // latency floor.
      val sizes = scala.collection.mutable.Map.empty[(Long, Long), Long]
      var merges = 0
      var run = pickTierRun(spark, minRun, sizes)
      while (run.nonEmpty) {
        mergeRun(spark, run)
        merges += 1
        run = pickTierRun(spark, minRun, sizes)
      }
      merges
    }

  /** Compactions serialize against EACH OTHER on this per-base lock
    * (held across snapshot + merge + commit) while never blocking
    * appends, which take only [[lock]]: two concurrent compactors would
    * otherwise pick the same run span and race `mode("overwrite")`
    * writes on one slice directory — the loser could clobber the
    * winner's already-committed files under a live marker. The
    * commit-time liveness re-validation in [[mergeRun]] stays as the
    * backstop for cross-process races the in-JVM lock cannot see. */
  private def compactionLock: Object =
    SliceLadder.locks.getOrElseUpdate(base + "#compact", new Object)

  private def pickTierRun(spark: SparkSession, minRun: Int,
      sizes: scala.collection.mutable.Map[(Long, Long), Long])
      : Seq[(Long, Long)] = lock.synchronized {
    val l = ladder(spark)
    if (l.isEmpty) return Nil
    val hfs = fs(spark, base)
    def tier(s: (Long, Long)): Int = {
      val bytes = sizes.getOrElseUpdate(s, {
        val p = new Path(slicePath(s._1, s._2))
        if (hfs.exists(p)) hfs.getContentSummary(p).getLength else 0L
      })
      63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, bytes))
    }
    val tiers = l.map(s => (s, tier(s)))
    var i = 0
    while (i < tiers.size) {
      var j = i + 1
      while (j < tiers.size && tiers(j)._2 == tiers(i)._2) j += 1
      if (j - i >= minRun) return tiers.slice(i, j).map(_._1)
      i = j
    }
    Nil
  }

  /** Merge one run of ADJACENT committed slices into a single slice
    * covering the run's span. The phase structure is the whole point:
    *
    *  - SNAPSHOT (caller, locked): the run was resolved from the ladder
    *    under the writer lock; the rebuild epoch is snapshotted here.
    *  - MERGE (unlocked): union the run's immutable slice files and
    *    write the merged slice to a job-scoped SCRATCH dir
    *    (`slices/.merge-…`), never to the committable path. Nothing
    *    races this — appends only add above the top boundary, the
    *    scratch files are invisible to every reader, and subsumed data
    *    deletes are deferred — so a streaming ingest keeps committing
    *    micro-batches while a multi-hour merge runs, and a crash here
    *    leaves garbage only at a path no commit will ever resolve
    *    ([[gc]] ages it out).
    *  - COMMIT (locked): re-validate that every run member is STILL a
    *    live ladder entry AND the rebuild epoch is unchanged (a racing
    *    compactor may have subsumed part of the run; a [[drop]]+
    *    [[train]] rebuild may have replaced the DATA under identical
    *    boundaries) — on either, abandon: the scratch dir is deleted
    *    outright (no reader ever saw it, so it needs no trash grace).
    *    Otherwise [[commitScratch]] — the same rename + marker step
    *    every append commits through — puts the merged slice in place;
    *    then drop the subsumed markers, enqueue their data on the trash
    *    list (physically deleted at the NEXT mutation — the reader
    *    grace window), and evict session caches so new plans resolve
    *    the merged ladder. */
  private def mergeRun(spark: SparkSession, run: Seq[(Long, Long)]): Unit = {
    val (lo, hi) = (run.head._1, run.last._2)
    val ep = epochOf(spark)
    val scratch = scratchPath(s"${tok(lo)}-${tok(hi)}")
    val rows = run.map { case (a, b) =>
        spark.read.schema(readSchema).parquet(slicePath(a, b)) }
      .reduce(_.unionByName(_))
    writeSliceFiles(rows, scratch)
    SliceLadder.failpoint(what, "merge-staged")
    lock.synchronized {
      val live = ladder(spark).toSet
      if (!run.forall(live.contains) || epochOf(spark) != ep) {
        // lost a compactor race or a rebuild replaced the data
        fs(spark, base).delete(new Path(scratch), true)
        return
      }
      // a lost rename means a cross-process racer took the path between
      // two metadata ops; its commit is as good as ours
      if (!commitScratch(spark, scratch, lo, hi)) return
      SliceLadder.failpoint(what, "merge-committed")
      val mfs = fs(spark, markerDir)
      run.foreach { case (a, b) =>
        // trash-then-untrack (same crash argument as the sweep): a crash
        // before the marker delete leaves a contained orphan the next
        // sweep adopts; the reverse order could leak the data forever
        addTrash(spark, a, b)
        mfs.delete(new Path(markerDir, s"e${tok(a)}-${tok(b)}"), false)
      }
      onMutate()
    }
  }

  /** The current rebuild epoch — 0 until the first [[drop]]. Stored as
    * a single `x<n>` marker next to the slice markers (same listing, a
    * name [[MarkerRe]] can never match), bumped via the same
    * temp+rename commit discipline. */
  private def epochOf(spark: SparkSession): Long = {
    val d = new Path(markerDir)
    val hfs = fs(spark, markerDir)
    if (!hfs.exists(d)) 0L
    else hfs.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case EpochRe(n) => n.toLong }
      .foldLeft(0L)(math.max)
  }

  private def bumpEpoch(spark: SparkSession, from: Long): Unit = {
    val hfs = fs(spark, markerDir)
    hfs.mkdirs(new Path(markerDir))
    val tmp = new Path(markerDir, s".tmp-x${from + 1}")
    hfs.create(tmp, true).close()
    val fin = new Path(markerDir, s"x${from + 1}")
    if (!hfs.rename(tmp, fin)) {
      hfs.delete(tmp, false)
      require(hfs.exists(fin),
        s"$what rebuild-epoch bump to ${from + 1} failed: could not " +
          s"rename $tmp")
    }
    // best-effort: the superseded epoch marker is never read again
    // (epochOf takes the max), so a crash leaving it costs nothing
    if (from > 0L) hfs.delete(new Path(markerDir, s"x$from"), false)
    ()
  }

  /** Current coverage: ids < bound are derived. None = no artifact. */
  def bound(spark: SparkSession): Option[Long] = {
    val l = ladder(spark)
    if (l.isEmpty) None else Some(l.map(_._2).max)
  }

  /** True iff the artifact covers the FULL corpus — the only state a
    * production query path may substitute for the inline derivation; a
    * mid-ladder artifact is a continual-ingest state consumed by the
    * append loop at its own boundary. */
  def trained(spark: SparkSession): Boolean =
    bound(spark).contains(sentinel)

  /** Delete the persisted artifact (and evict cached readers of its
    * files). Rebuild-from-scratch is the EXCEPTIONAL path — a scheme or
    * model change — never the per-batch one. Bumps the rebuild epoch so
    * an in-flight unlocked merge that snapshotted the pre-rebuild
    * ladder refuses to commit even if the rebuilt artifact recreates
    * identical slice boundaries over DIFFERENT rows (see [[mergeRun]]). */
  def drop(spark: SparkSession): Unit = lock.synchronized {
    onMutate()
    val ep = epochOf(spark)
    val p = new Path(base)
    val hfs = fs(spark, base)
    if (hfs.exists(p)) { hfs.delete(p, true); () }
    bumpEpoch(spark, ep)
  }

  /** Run `f` under this artifact's per-base writer lock — for callers
    * that compose a read-check-append sequence AROUND the ladder ops
    * (e.g. the shingle ingest's source-atomic guard: read guard record
    * → validate batch → append → write guard record) and need the whole
    * sequence serialized against other in-JVM writers, not just the
    * append step. The monitor is reentrant, so ladder ops inside `f`
    * re-take it safely. */
  def withWriterLock[T](f: => T): T = lock.synchronized(f)

  /** Explicit trash GC — the liveness complement to the mutation-driven
    * [[sweep]]: an artifact that QUIESCES after a compaction would
    * otherwise keep its trashed slice data forever (the sweep only runs
    * at the start of the next mutation, which never comes). Collects,
    * under a TIME-based grace window instead of the sweep's
    * one-mutation one:
    *
    *  1. trash-listed slice data whose trash entry is older than
    *     `graceMs` (younger entries stay — an in-flight reader inside
    *     the window keeps its files);
    *  2. orphaned scratch dirs (`slices/.merge-…`) older than
    *     `graceMs` — a crashed append's or merge's leftovers, never
    *     readable;
    *  3. orphaned slice dirs at committable paths with neither a marker
    *     nor a trash entry, older than `graceMs` — the residue of a
    *     crash between a commit's rename and its marker (a
    *     two-metadata-op window, but nonzero);
    *  4. the [[gcSide]] hook's per-modality side artifacts at dead
    *     bounds, same cutoff.
    *
    * Orphan age (2, 3) is measured by [[newestMtime]] — the newest
    * entry ANYWHERE under the candidate, not the top dir's mtime — so
    * an in-flight distributed write (whose top dir goes stale while
    * tasks write deep inside `_temporary`) stays protected as long as
    * it keeps making file-visible progress. Call with `graceMs`
    * exceeding the longest in-flight read AND the longest STALL
    * between a live writer's visible file updates (a task that
    * surfaces nothing until close — e.g. one giant object-store
    * upload — is protected only by the grace; lakehouse
    * orphan-cleanup tools default to hours-days for the same reason);
    * `graceMs = 0` is for provably quiesced artifacts only. */
  def gc(spark: SparkSession, graceMs: Long = 0L): Unit =
    lock.synchronized {
      val hfs = fs(spark, base)
      val cutoff = System.currentTimeMillis() - graceMs
      var deleted = false
      val live = resolve(rawMarkers(spark))
      val liveSet = live.toSet
      val t = new Path(trashDir)
      if (hfs.exists(t)) {
        hfs.listStatus(t).toSeq.foreach { st =>
          st.getPath.getName match {
            case n @ TrashRe(a, b) =>
              val range = (untok(a), untok(b))
              if (liveSet.contains(range)) {
                // stale entry for a re-committed range: drop the marker,
                // never the data
                hfs.delete(new Path(trashDir, n), false)
              } else if (st.getModificationTime <= cutoff) {
                if (hfs.delete(new Path(slicePath(range._1, range._2)),
                    true))
                  deleted = true
                hfs.delete(new Path(trashDir, n), false)
              }
            case _ => ()
          }
        }
      }
      val slicesDir = new Path(s"$base/slices")
      if (hfs.exists(slicesDir)) {
        val trashed = rawTrash(spark)
        val raw = rawMarkers(spark).toSet
        hfs.listStatus(slicesDir).toSeq.foreach { st =>
          // liveness via newestMtime, and only AFTER the cheap dead
          // checks pass: live slices never pay the recursive walk, so
          // gc stays O(ladder) namenode calls + O(orphan files)
          st.getPath.getName match {
            case MergeTmpRe() =>
              if (newestMtime(hfs, st.getPath) <= cutoff &&
                  hfs.delete(st.getPath, true)) deleted = true
            case SliceDirRe(a, b) =>
              val range = (untok(a), untok(b))
              // an orphan: no raw marker claims it (a commit IN
              // FLIGHT between its rename and its marker carries files
              // written just before the rename — see newestMtime) and
              // no trash entry defers it
              if (!raw.contains(range) && !trashed.contains(range) &&
                  newestMtime(hfs, st.getPath) <= cutoff) {
                if (hfs.delete(st.getPath, true)) deleted = true
              }
            case _ => ()
          }
        }
      }
      gcSide(spark, live.map(_._2).toSet, cutoff)
      if (deleted) onMutate()
    }

  private val SliceDirRe = "^s(\\d+|full)-(\\d+|full)$".r

  private def rawTrash(spark: SparkSession): Set[(Long, Long)] = {
    val t = new Path(trashDir)
    val hfs = fs(spark, trashDir)
    if (!hfs.exists(t)) Set.empty
    else hfs.listStatus(t).toSeq.map(_.getPath.getName)
      .collect { case TrashRe(a, b) => (untok(a), untok(b)) }.toSet
  }

  /** The commit: slice files (and side artifacts) are already on disk —
    * create the marker via same-directory temp + rename. After this
    * returns, readers see the slice; before it, they cannot. */
  private def commitMarker(spark: SparkSession, lo: Long, hi: Long): Unit = {
    val hfs = fs(spark, markerDir)
    hfs.mkdirs(new Path(markerDir))
    val name = s"e${tok(lo)}-${tok(hi)}"
    val tmp = new Path(markerDir, s".tmp-$name")
    hfs.create(tmp, true).close()
    val fin = new Path(markerDir, name)
    if (!hfs.rename(tmp, fin)) {
      hfs.delete(tmp, false)
      require(hfs.exists(fin),
        s"$what commit of [$lo, $hi) failed: could not rename $tmp")
    }
  }

  /** THE slice commit, shared by every append and merge (caller holds
    * [[lock]]; `scratch` is fully written): rename the scratch dir into
    * the committable path, then [[commitMarker]]. The committable path
    * cannot hold a LIVE slice here — an append's range lies above the
    * top boundary, a merge's run members are live and the resolved
    * ladder admits no overlap — so anything already at it is crash
    * garbage or trash-pending data, cleared so the rename lands (a
    * same-filesystem dir rename — atomic on HDFS/POSIX; an object store
    * swaps in its copy + conditional put here). Returns false, with the
    * scratch dir deleted, when the rename loses to a cross-process
    * racer that took the path between the two metadata ops. */
  private def commitScratch(spark: SparkSession, scratch: String, lo: Long,
      hi: Long): Boolean = {
    val hfs = fs(spark, base)
    val target = new Path(slicePath(lo, hi))
    if (hfs.exists(target)) hfs.delete(target, true)
    if (!hfs.rename(new Path(scratch), target)) {
      hfs.delete(new Path(scratch), true)
      false
    } else {
      commitMarker(spark, lo, hi)
      true
    }
  }

  /** Commit an append's fully written scratch dir as slice [lo, hi). */
  private def publish(spark: SparkSession, scratch: String, lo: Long,
      hi: Long): Unit = {
    onMutate()
    if (!commitScratch(spark, scratch, lo, hi))
      throw new IllegalStateException(
        s"$what commit of [$lo, $hi) failed: could not rename $scratch")
  }

  /** Derive-side write of a range whose bounds are known up front: the
    * [[prepareSlice]] hook, the rows to scratch, then [[publish]]. */
  private def stage(spark: SparkSession, rows: DataFrame, lo: Long,
      hi: Long): Unit = {
    val scratch = scratchPath(s"${tok(lo)}-${tok(hi)}")
    writeSliceFiles(prepareSlice.fold(rows)(_(spark, rows, lo, hi)),
      scratch)
    publish(spark, scratch, lo, hi)
  }

  /** Advance the artifact to `batchBound` by deriving ONLY the new id
    * range from the lake — the per-ingest maintenance step. Idempotent
    * at the target boundary; refuses to go backwards (that is a
    * rebuild: [[drop]] + [[train]]). */
  def append(spark: SparkSession, batchBound: Long): Unit =
    lock.synchronized {
      sweep(spark)
      val l = ladder(spark)
      require(l.nonEmpty,
        s"$what append: no committed artifact at $base — " +
          "train(spark, bound) first")
      val cur = l.map(_._2).max
      if (cur == batchBound) return
      require(batchBound > cur,
        s"$what append: batchBound $batchBound must exceed current " +
          s"coverage $cur (shrinking coverage is a rebuild, not an append)")
      stage(spark, deriveRange(spark, cur, batchBound), cur, batchBound)
    }

  /** STREAMING-ingest append: derive one arriving micro-batch's rows
    * from its own payload and commit them as the next slice — the
    * `foreachBatch` body behind the per-modality ingest sinks. Replays
    * (ids below coverage) are dropped; the fresh remainder must satisfy
    * the dense-monotone contract, and — for one-row-per-id modalities —
    * carry no in-batch duplicates (guarded — see the class doc).
    * Bootstraps an empty artifact at lo = 0.
    *
    * ONE Spark query per batch that carries fresh ids: the guard's
    * figures (null ids, the fresh range's min/max, distinct fresh ids,
    * fresh rows) are `observe()` metrics on the slice write itself, and
    * the per-id row numbering they need is a window over ids clustered
    * by the write's one exchange. That exchange cuts the fresh ids into
    * runs of [[AppendRun]] consecutive ids and deals the runs over at
    * most [[AppendTasks]] writer tasks, a layout AQE leaves as it is
    * and that does not follow the session's shuffle width: a
    * micro-batch of up to [[AppendRun]] ids (streaming ingest's usual
    * size) is written by one task, and a larger one in parallel, in
    * files of whole runs, so same-size batches write same-size slices
    * — what [[compactTiered]]'s size tiers assume. (A hash exchange
    * scatters a small batch over an uneven, batch-dependent number of
    * files.) The upper bound is known only once the rows are written,
    * so they land in a scratch dir that the shared rename + marker
    * commit ([[commitScratch]], as in [[mergeRun]]) puts in place
    * after the guard passes; a failed guard deletes the scratch dir and
    * commits nothing. The guard takes a pass of its own into the
    * `noop` sink — the same observed plan, so the contract is still
    * checked in one place — in two cases. A ladder with a
    * [[prepareSlice]] hook (the shingle census, keyed to `hi`) needs
    * the bound before its rows exist. And the write's figures are
    * trusted only when they show a fresh range: a write that reports
    * no fresh ids, or no figures at all, is checked again by that pass
    * before the batch is dropped as a replay, so no way a plan reports
    * its metrics can discard fresh rows; only replays pay the pass. */
  def appendBatch(spark: SparkSession, batch: DataFrame): Unit =
    lock.synchronized {
      sweep(spark)
      val l = ladder(spark)
      val cur = if (l.isEmpty) 0L else l.map(_._2).max
      require(cur != sentinel,
        s"$what artifact is sealed at full coverage; a live ingest " +
          "artifact must not be sealed (rebuild with train(bound))")
      val id = col(idCol)
      val b = batch.withColumn(idCol, id.cast("long"))
      // null-id rows (a malformed producer id, or a failed cast) pass
      // the replay filter so the guard counts them, and stop before the
      // derivation, which need not cope with them
      def observed(guard: Observation): DataFrame =
        b.filter(id.isNull || id >= cur)
          .withColumn(IdTask, coalesce(
            pmod(((id - cur) / AppendRun).cast("long"), lit(AppendTasks)),
            lit(0)).cast("int"))
          .repartitionById(AppendTasks, col(IdTask))
          .withColumn(IdRowNo, row_number().over(
            Window.partitionBy(col(IdTask), id).orderBy(id)))
          .observe(guard,
            count(when(id.isNull, 1)).as("nulls"),
            min(id).as("lo"), max(id).as("hi"),
            count(when(col(IdRowNo) === 1, id)).as("ids"),
            count(id).as("rows"))
          .filter(id.isNotNull).drop(IdRowNo, IdTask)
      def guardPass(): Map[String, Any] = {
        val guard = Observation()
        observed(guard).write.format("noop").mode("overwrite").save()
        guard.get
      }
      prepareSlice match {
        case None =>
          val guard = Observation()
          val scratch = scratchPath(tok(cur))
          writeSliceFiles(deriveBatch(spark, observed(guard)), scratch)
          // A replay's write reports an all-null range, or (where the
          // derivation shuffles above the guard, as audio and video do)
          // nothing: AQE swaps the plan above the emptied exchange for
          // an empty relation, observed node included. Either way the
          // guard's own pass confirms the replay before the batch is
          // dropped. A commit renames the scratch dir away; a failed
          // guard or a pure replay leaves it to discard.
          try freshBound(Some(guard.get)
              .filter(m => m.nonEmpty && m("lo") != null)
              .getOrElse(guardPass()), cur)
            .foreach(publish(spark, scratch, cur, _))
          finally fs(spark, base).delete(new Path(scratch), true)
        case Some(_) =>
          freshBound(guardPass(), cur).foreach { h =>
            stage(spark, deriveBatch(spark, b.filter(id >= cur)), cur, h) }
      }
    }

  private val IdRowNo = "__slice_id_row"
  private val IdTask = "__slice_id_task"
  /** [[appendBatch]]'s write layout: consecutive ids per run, and the
    * most tasks one append is written by. */
  private val AppendRun = 256
  private val AppendTasks = 4

  /** The replay contract checked against [[appendBatch]]'s observed
    * guard metrics `m`: the fresh range's exclusive upper bound, or None
    * when the whole batch was a replay (or empty). */
  private def freshBound(m: Map[String, Any], cur: Long): Option[Long] = {
    val nulls = m("nulls").asInstanceOf[Long]
    require(nulls == 0L,
      s"$what ingest batch carries $nulls rows with a null " +
        s"$idCol (malformed producer id or failed cast) — committing " +
        "would silently drop them while claiming range coverage")
    if (m("lo") == null) return None
    val (lo, hi) = (m("lo").asInstanceOf[Long], m("hi").asInstanceOf[Long] + 1L)
    val (n, rows) = (m("ids").asInstanceOf[Long], m("rows").asInstanceOf[Long])
    require(lo == cur,
      s"$what ingest broke the dense-monotone id contract: fresh ids " +
        s"start at $lo but coverage ends at $cur — committing would " +
        s"claim ids [$cur, $lo) as covered without processing them")
    require(n == hi - cur,
      s"$what ingest broke the dense-monotone id contract: range " +
        s"[$cur, $hi) spans ${hi - cur} ids but the batch carries $n " +
        "distinct — the holes would be dropped as replays forever")
    require(!oneRowPerId || rows == n,
      s"$what ingest batch carries $rows rows for $n fresh " +
        s"ids — an at-least-once producer duplicated rows WITHIN one " +
        "micro-batch; committing would break the exactly-once artifact")
    Some(hi)
  }

  /** Ensure the artifact covers ids < `bound` (default: full corpus).
    * Idempotent; partial coverage is ADVANCED by appending; coverage
    * beyond `bound` forces a from-scratch rebuild at `bound` (a
    * test-ladder reset, never a production step). */
  def train(spark: SparkSession, bound: Long = sentinel): Unit =
    lock.synchronized { // reentrant: append re-takes the same monitor
      this.bound(spark) match {
        case Some(b) if b == bound => ()
        case Some(b) if b < bound => append(spark, bound)
        case _ =>
          drop(spark)
          stage(spark, deriveRange(spark, 0L, bound), 0L, bound)
      }
    }

  /** Read the committed artifact at its current coverage: a pure union
    * of the slice scans under the DECLARED schema. Row-for-row equal to
    * the inline derivation over the covered range (per-modality ladder
    * specs prove the equality; the shingle index composes a census
    * anti-join on top — see its reader). */
  def read(spark: SparkSession): DataFrame = {
    val l = ladder(spark)
    require(l.nonEmpty, s"no committed $what artifact at $base")
    l.map { case (lo, hi) =>
        spark.read.schema(readSchema).parquet(slicePath(lo, hi)) }
      .reduce(_.unionByName(_))
  }
}

object SliceLadder {
  /** Per-artifact-root writer locks (see the class doc's concurrency
    * contract). Keyed by `base`, which folds in the absolute lake dir,
    * so two lakes never share a lock. */
  private val locks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Manifest-validation failure: the resolved ladder is not contiguous
    * from 0. A DEDICATED type (round-19 hardening) so the
    * race-vs-corruption retry in [[SliceLadder.ladder]] filters by
    * intent, not by accident of exception class: every validation path
    * that means "this listing looks corrupt" throws this and gets the
    * bounded re-listing; anything else (caller misuse, IO errors)
    * surfaces immediately. Extends IllegalArgumentException so callers
    * that matched the old contract still do. */
  final class LadderCorruption(msg: String)
    extends IllegalArgumentException(msg)

  /** Bounded re-listing for manifest validation (see [[SliceLadder
    * .ladder]]'s doc): a directory listing that races a same-dir marker
    * rename can transiently miss a dirent, and the resolved ladder then
    * shows a spurious gap — retried over FRESH listings with backoff.
    * True corruption persists across re-listings and surfaces after the
    * last attempt; non-[[LadderCorruption]] throws surface at once. */
  private[graft] def retryValidation[A](f: () => A): A = {
    var last: Throwable = null
    for (attempt <- 0 to 3) {
      if (attempt > 0) Thread.sleep(50L * attempt)
      try return f()
      catch { case e: LadderCorruption => last = e }
    }
    throw last
  }

  /** Newest modification time anywhere under `p` — the path's own or
    * any descendant's, files AND directories. This is THE liveness
    * check for orphan collection, shared by every graced gc in the
    * engine (the ladder's own and the shingle side-artifact gc in
    * DedupQueries — one definition, so the semantics cannot drift): an
    * in-flight distributed write keeps touching entries deep inside
    * the job's `_temporary` tree while the TOP directory's mtime stays
    * at creation, so aging top-level mtimes alone lets gc delete a
    * LIVE write once it runs longer than the grace (found by
    * CrossProcessSpec: a cold JVM's first append lost its slice write
    * to a 2 s-graced gc mid-job). A crashed write stops updating and
    * ages out normally. Entries vanishing mid-walk (a racing delete)
    * count as 0 — absence is not liveness. */
  private[graft] def newestMtime(hfs: org.apache.hadoop.fs.FileSystem,
      p: Path): Long =
    try {
      val st = hfs.getFileStatus(p)
      var newest = st.getModificationTime
      if (st.isDirectory)
        hfs.listStatus(p).foreach { c =>
          newest = math.max(newest, newestMtime(hfs, c.getPath))
        }
      newest
    } catch { case _: java.io.FileNotFoundException => 0L }

  /** Test-only crash injection for the MAINTENANCE path: called with
    * (artifact `what`, point name) at the named points below; a test
    * installs a hook that throws to simulate a process crash at
    * exactly that point (the style SliceLadderSpec uses for the
    * append path via `writeSliceFiles`, extended to points a
    * constructor arg can't reach). Points: `merge-staged` (scratch
    * slice written, nothing committed), `merge-committed` (containing
    * marker committed, subsumed markers and their data still on
    * disk). Production never installs a hook — the default is free. */
  private[graft] var failpoint: (String, String) => Unit = (_, _) => ()
}
