package graft.perfbench

import java.io.File
import java.util.concurrent.atomic.DoubleAdder
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Tables
import graft.queries.SimilarityQueries
import graft.sources.Maintenance
import graft.streaming.{KeyedValue, StreamingPipeline}

/** Continual ingest: one op is one micro-batch — a fixed share of the
  * lake's market ticks and embeddings, drawn in id/ts order — timed from
  * `addData` until every sink has committed it. Ticks feed `ewmaState`,
  * `latestPerKeyState` and `windowedAgg` (RocksDB state, checkpointed);
  * embeddings feed a `foreachBatch` that calls `appendAssignedBatch`, the
  * body of `ingestVectorsSink`. Every `MaintainEvery`-th op also runs
  * `Maintenance.runAll`. The seed sets the micro-batch boundaries through
  * the size of the first batch.
  *
  * Checks: after each op every stream is healthy and the inverted file
  * covers exactly the vectors fed; at the end the EWMA, latest-value and
  * windowed-aggregate outputs equal a direct computation over the fed
  * ticks, and the stream-built inverted file equals a from-scratch
  * build. */
final class Ingest extends Workload {
  /** Every op takes 1/`Capacity` of the lake's ticks and of its
    * embeddings, so the batches keep the lake's ratio of the two (20:1 in
    * `perfbench/lake`: 200 ticks and 10 vectors an op) and a run can make
    * `Capacity` ops before the lake runs out. A run makes about 16 ops:
    * 7 of warm-up and about 9 in a 15 s window at ≈1.7 s an op. 50 leaves
    * room for an op four times as fast. */
  val Capacity = 50
  /** `Maintenance.runAll`'s default tier-run threshold: every call finds
    * one full run of new same-size slices to merge. */
  val MaintainEvery = 4
  val Alpha = 0.3
  /** `windowedAgg`'s tumbling window and watermark delay. */
  val AggWindowMs = 3600000L
  val AggLatenessMs = 600000L
  /** Longer than the lake's event-time span, so no key's state expires
    * and the EWMA reference is the plain recurrence. */
  val Lateness = "40 days"
  /** Warm-up runs groups of `WarmupGroup` ops until a group compiles less
    * than `JitSettled` of the first group's JIT time, or `MaxWarmupGroups`
    * groups have run; the JIT time left in the window is reported as
    * `jvm.jit_ms`. */
  val WarmupGroup = 3
  val MaxWarmupGroups = 2
  val JitSettled = 0.2

  def train(spark: SparkSession, lake: String): Seq[(String, () => Unit)] =
    Seq("ivf_centroids" -> (() => SimilarityQueries.trainIvfCentroids(spark, lake)))

  def measure(spark: SparkSession, ctx: Main.Ctx): Outcome = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lake = ctx.lake
    val events = Tables(spark, lake, "events")
      .selectExpr("cast(user_id AS string) AS key", "ts", "event_id AS seq", "value")
      .as[KeyedValue].collect().sortBy(r => (r.ts.getTime, r.seq))
    val vecs = Tables(spark, lake, "embeddings")
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val eventBatch = events.length / Capacity
    val vecBatch = vecs.length / Capacity
    val vecBytes = 8.0 * (1 + vecs.head._2.size)

    val ckpt = new File(ctx.work, "checkpoints").getPath
    val tickStreams = Seq.fill(3)(MemoryStream[KeyedValue])
    val vectors = MemoryStream[(Long, Seq[Double])]
    def memory(df: DataFrame, name: String): StreamingQuery =
      df.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", s"$ckpt/$name").start()
    val appendMs = new DoubleAdder
    val streams = Seq(
      memory(StreamingPipeline.ewmaState(tickStreams(0).toDS(), Alpha, Lateness).toDF(),
        "pb_ewma"),
      memory(StreamingPipeline.latestPerKeyState(tickStreams(1).toDS(), Lateness).toDF(),
        "pb_latest"),
      memory(StreamingPipeline.windowedAgg(tickStreams(2).toDF(), "ts", "key", "value",
        s"${AggWindowMs / 1000} seconds", s"${AggLatenessMs / 1000} seconds"), "pb_window"),
      vectors.toDF().toDF("vec_id", "v").writeStream
        .option("checkpointLocation", s"$ckpt/pb_vectors")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val t = System.nanoTime()
          Trace.tagged(batch.sparkSession, "append") {
            SimilarityQueries.appendAssignedBatch(batch.sparkSession, lake, batch)
          }
          appendMs.add((System.nanoTime() - t) / 1e6)
        }.start())

    val trace = new Trace
    var attempted = 0L
    var failed = 0L
    var nextEvent = 0
    var nextVec = 0
    var lastBatchStart = 0
    var opNo = 0
    val compactMs = scala.collection.mutable.ArrayBuffer.empty[Double]

    /** Feeds the next batch and waits for every sink; returns its ms, or
      * None when the lake is exhausted. */
    def op(nEvents: Int, nVecs: Int): Option[Double] = {
      if (nextEvent + nEvents > events.length || nextVec + nVecs > vecs.length)
        return None
      val evs = events.slice(nextEvent, nextEvent + nEvents).toSeq
      val vs = vecs.slice(nextVec, nextVec + nVecs).toSeq
      lastBatchStart = nextEvent
      nextEvent += nEvents; nextVec += nVecs; opNo += 1
      attempted += 1
      val t0 = System.nanoTime()
      try {
        tickStreams.foreach(_.addData(evs))
        vectors.addData(vs)
        streams.foreach(_.processAllAvailable())
        if (opNo % MaintainEvery == 0) {
          val t = System.nanoTime()
          Trace.tagged(spark, "compact") { Maintenance.runAll(spark, lake, 0L) }
          compactMs += (System.nanoTime() - t) / 1e6
        }
        val ms = (System.nanoTime() - t0) / 1e6
        val covered = SimilarityQueries.ivfAssignBound(spark, lake)
        if (streams.exists(!_.isActive) || !covered.contains(vecs(nextVec - 1)._1 + 1)) {
          failed += 1
          System.err.println(s"perfbench: ingest op $opNo left index at $covered")
        }
        Some(ms)
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: ingest op $opNo failed: $e")
        None
      }
    }

    // the seeded first batch, then warm-up in groups of ops until the
    // per-group JIT time has levelled off
    val rnd = new Random(ctx.seed)
    op(1 + rnd.nextInt(eventBatch), 1 + rnd.nextInt(vecBatch))
    val warmJit = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (warmJit.isEmpty || (warmJit.size < MaxWarmupGroups &&
        warmJit.last > JitSettled * warmJit.head)) {
      val j0 = Jvm.jitMs
      (1 to WarmupGroup).foreach(_ => op(eventBatch, vecBatch))
      warmJit += Jvm.jitMs - j0
    }

    // timed window. A traced run alternates untraced and traced ops, and
    // does so separately for ops with and without maintenance, so that
    // both sides see the same share of `Maintenance.runAll` calls.
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val append0 = appendMs.sum
    val ops0 = opNo
    val compact0 = compactMs.size
    var tracedJvm = (0.0, 0.0)
    var ingested = 0.0
    val cpu0 = Jvm.cpuMs
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    var exhausted = false
    val seen = Array(0, 0) // window ops so far without / with maintenance
    def tracedOps = samples.count(_.traced)
    while (!exhausted && (elapsed < ctx.args.seconds || (ctx.args.trace && tracedOps == 0))) {
      val maintains = if ((opNo + 1) % MaintainEvery == 0) 1 else 0
      val traced = ctx.args.trace && seen(maintains) % 2 == 1
      seen(maintains) += 1
      if (traced) { trace.drain(spark); trace.attach(spark) }
      val s0 = if (traced) trace.snapshot() else Map.empty[String, Double]
      val wall0 = System.currentTimeMillis()
      val (g0, j0) = (Jvm.gcMs, Jvm.jitMs)
      op(eventBatch, vecBatch) match {
        case None => exhausted = nextVec + vecBatch > vecs.length ||
          nextEvent + eventBatch > events.length
        case Some(ms) if !traced => samples += Sample("batch", ms, traced = false)
        case Some(ms) =>
          tracedJvm = (tracedJvm._1 + Jvm.gcMs - g0, tracedJvm._2 + Jvm.jitMs - j0)
          ingested += vecBatch * vecBytes
          trace.drain(spark)
          val d = Trace.diff(s0, trace.snapshot())
          samples += Sample("batch", ms, traced = true,
            Layers.opLayers(d, d, trace.jobWallMs(wall0)) ++
              d.filter(_._1.startsWith("stream.")) ++
              d.filter(_._1.startsWith("out_bytes.")))
      }
      if (traced) trace.detach(spark)
    }
    if (exhausted) System.err.println("perfbench: ingest ran out of lake rows " +
      "before the window ended")
    val windowS = elapsed
    val cpuMs = Jvm.cpuMs - cpu0
    val windowOps = (opNo - ops0).max(1)
    val gauges = trace.snapshot()
    streams.foreach(_.stop())
    val slices = SimilarityQueries.ivfAssignLadder(spark, lake).size.toDouble

    if (!finalChecks(spark, lake, events.take(nextEvent), lastBatchStart,
        vecs(nextVec - 1)._1 + 1)) {
      failed = attempted
    }
    val traced = samples.filter(_.traced)
    def perOp(k: String) = Stats.mean(traced.map(_.layers.getOrElse(k, 0.0)))
    val windowCompacts = compactMs.drop(compact0)
    Outcome(samples.toSeq, windowS, cpuMs, attempted, failed, warmJit.toSeq, Map(
      "sources.append_ms" -> (appendMs.sum - append0) / windowOps,
      "sources.slices" -> slices,
      "sources.compact_ms" -> Stats.mean(windowCompacts.toSeq),
      "sources.write_amp" -> (if (ingested > 0)
        traced.map(s => s.layers.getOrElse("out_bytes.append", 0.0) +
          s.layers.getOrElse("out_bytes.compact", 0.0)).sum / ingested else 0.0),
      "streaming.trigger_ms" -> perOp("stream.trigger_ms"),
      "streaming.add_batch_ms" -> perOp("stream.add_batch_ms"),
      "streaming.query_planning_ms" -> perOp("stream.query_planning_ms"),
      "streaming.wal_commit_ms" -> perOp("stream.wal_commit_ms"),
      "streaming.state_commit_ms" -> perOp("stream.state_commit_ms"),
      "streaming.state_rows" -> gauges.getOrElse("stream.state_rows", 0.0),
      "streaming.state_mem_mb" -> gauges.getOrElse("stream.state_mem_bytes", 0.0) / 1048576.0,
      "jvm.gc_ms" -> tracedJvm._1 / traced.size.max(1),
      "jvm.jit_ms" -> tracedJvm._2 / traced.size.max(1)))
  }

  /** End-of-run correctness: stream outputs against direct computations,
    * and the stream-built inverted file against a from-scratch build over
    * the same vec_id range (the StreamingSpec snapshot check).
    * `lastBatchStart` is the index in `fed` of the final op's first tick. */
  private def finalChecks(spark: SparkSession, lake: String,
      fed: Seq[KeyedValue], lastBatchStart: Int, bound: Long): Boolean = {
    import spark.implicits._
    def fail(msg: String): Boolean = { System.err.println(s"perfbench: ingest $msg"); false }
    val byKey = fed.groupBy(_.key)
    val ewmaWant = byKey.values.flatMap { rows =>
      rows.sortBy(r => (r.ts.getTime, r.seq)).scanLeft(Option.empty[KeyedValue]) {
        case (None, r) => Some(r)
        case (Some(p), r) => Some(r.copy(value = Alpha * r.value + (1.0 - Alpha) * p.value))
      }.flatten
    }.map(r => (r.key, r.seq, r.value)).toSeq.sorted
    val ewmaGot = spark.table("pb_ewma").as[KeyedValue].collect()
      .map(r => (r.key, r.seq, r.value)).toSeq.sorted
    val latestWant = byKey.map { case (k, rows) =>
      k -> rows.maxBy(r => (r.ts.getTime, r.seq)).seq }
    val latestGot = spark.table("pb_latest").as[KeyedValue].collect().groupBy(_.key)
      .map { case (k, rows) => k -> rows.maxBy(r => (r.ts.getTime, r.seq)).seq }
    val windowProblem = checkWindows(spark, fed, lastBatchStart)
    def snapshot() = SimilarityQueries.assignmentsFromIndex(spark, lake)
      .selectExpr("vec_id", "c_id", "concat_ws(',', v) AS vs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val streamed = snapshot()
    SimilarityQueries.dropIvfAssignments(spark, lake)
    SimilarityQueries.trainIvfAssignments(spark, lake, bound)
    val rebuilt = snapshot()
    if (ewmaGot != ewmaWant) fail(s"ewmaState output differs (${ewmaGot.size} vs ${ewmaWant.size} rows)")
    else if (latestGot != latestWant) fail("latestPerKeyState output differs")
    else if (windowProblem.nonEmpty) fail(s"windowedAgg output ${windowProblem.get}")
    else if (streamed.size != bound || streamed != rebuilt)
      fail(s"stream-built inverted file differs from a from-scratch build " +
        s"(${streamed.size} vs ${rebuilt.size} rows, bound $bound)")
    else true
  }

  /** `windowedAgg` emits a (window, key) row once the watermark — the
    * latest tick fed minus `AggLatenessMs` — has passed the window's end.
    * The final op may end before the batch that applies its own watermark
    * has run, so the emitted windows must include every window closed by
    * the ticks before the final op, and none still open after all of
    * them. Every emitted row must equal a direct aggregate over the fed
    * ticks. Returns what is wrong, if anything. */
  private def checkWindows(spark: SparkSession, fed: Seq[KeyedValue],
      lastBatchStart: Int): Option[String] = {
    def start(r: KeyedValue) = r.ts.getTime - Math.floorMod(r.ts.getTime, AggWindowMs)
    val want = fed.groupBy(r => (start(r), r.key))
      .map { case (w, rows) => w -> (rows.size.toLong, rows.map(_.value).sum) }
    val got = spark.table("pb_window").selectExpr("w_start", "key", "n", "total", "mean")
      .collect().map(r => ((r.getTimestamp(0).getTime, r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toSeq
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val mustClose = fed((lastBatchStart - 1).max(0)).ts.getTime - AggLatenessMs
    val mayClose = fed.last.ts.getTime - AggLatenessMs
    val wrong = got.filterNot { case (w, (n, total, mean)) =>
      want.get(w).exists { case (wn, wTotal) =>
        n == wn && close(total, wTotal) && close(mean, wTotal / wn) } }
    val missing = want.keys.filter(w => w._1 + AggWindowMs < mustClose)
      .filterNot(got.map(_._1).toSet)
    if (got.map(_._1).distinct.size != got.size) Some("emitted a window twice")
    else if (wrong.nonEmpty) Some(s"differs from a direct aggregate, e.g. ${wrong.head}")
    else if (got.exists(_._1._1 + AggWindowMs > mayClose)) Some("emitted an open window")
    else if (missing.nonEmpty) Some(s"misses ${missing.size} closed windows, e.g. ${missing.head}")
    else if (got.isEmpty) Some("is empty")
    else None
  }
}
