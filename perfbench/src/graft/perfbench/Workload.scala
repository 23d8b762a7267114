package graft.perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import scala.util.Random
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import graft.Tables
import graft.queries.{DedupQueries, Registry, SimilarityQueries, TextQueries}
import graft.render.Render

/** One timed operation. `layers` is filled only when it ran traced. */
final case class Sample(kind: String, ms: Double, traced: Boolean,
    layers: Map[String, Double] = Map.empty)

/** What a workload's measured window produced. `extra` carries per-layer
  * values only the workload can compute (artifact layout, streaming
  * gauges, JVM time of the traced part). */
final case class Outcome(samples: Seq[Sample], windowS: Double, cpuMs: Double,
    attempted: Long, failed: Long, warmup: Seq[Double],
    extra: Map[String, Double])

trait Workload {
  /** The artifact builds of one set-up, in order, each timed as
    * `sources.train_ms.<name>`. */
  def train(spark: SparkSession, lake: String): Seq[(String, () => Unit)]
  def measure(spark: SparkSession, ctx: Main.Ctx): Outcome
}

object Workload {
  val Dashboard = Seq("q_b3_metrics", "q_dashboard", "q_sma", "q_rsi",
    "q_vwap", "q_corr_matrix", "q_asof_join", "q_bloom_join", "q_ohlc_daily",
    "q_join_dim", "q_cum_return", "q_share_of_total")

  val Corpus = Seq("q_tfidf", "q_textrank", "q_pmi_pairs",
    "q_classifier_calibration", "q_dsir_select", "q_dedup_minhash",
    "q_dedup_incremental", "q_ann_ivfpq", "q_semdedup_incremental",
    "q_audio_segments", "q_macd", "q_holt", "q_ewma", "q_basket_pairs")

  val Renders: Seq[(String, (SparkSession, String) => String)] = Seq(
    "render.cumulative_returns" -> ((s, d) => Render.cumulativeReturns(s, d)),
    "render.correlation_heatmap" -> ((s, d) => Render.correlationHeatmap(s, d)),
    "render.share_pie" -> ((s, d) => Render.sharePie(s, d)),
    "render.total_value_bars" -> ((s, d) => Render.totalValueBars(s, d)))

  def apply(name: String): Workload = name match {
    case "dashboard" => new QueryWorkload(Dashboard, Renders, corpusArtifacts = false)
    case "corpus" => new QueryWorkload(Corpus, Nil, corpusArtifacts = true)
    case "ingest" => new Ingest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Builds an append-maintained index the way continual ingest leaves
    * it: the first half trained, the rest appended in two batches, then
    * sealed for full-corpus readers. Reads therefore see the slice ladder
    * that the append path produces. */
  def staged(n: Long, train: Long => Unit, append: Long => Unit, seal: () => Unit): Unit = {
    train(n / 2); append(n * 3 / 4); append(n); seal()
  }
}

/** The query workloads: each pass runs every op once, in an order the
  * seed permutes, and every result is checked against its DuckDB-oracle
  * fingerprint (render ops against their first, oracle-checked pass). */
final class QueryWorkload(queries: Seq[String],
    renders: Seq[(String, (SparkSession, String) => String)],
    corpusArtifacts: Boolean) extends Workload {

  /** Warm-up ends once a pass compiles less than this share of the first
    * pass's JIT time, or after `MaxWarmupPasses` passes. */
  val JitSettled = 0.2
  val MaxWarmupPasses = 3

  def train(spark: SparkSession, lake: String): Seq[(String, () => Unit)] =
    if (!corpusArtifacts) Nil
    else {
      lazy val vecs = Tables(spark, lake, "embeddings").count()
      lazy val srcs = Tables(spark, lake, "documents")
        .selectExpr("max(cast(substring(source, 4, 8) AS INT))").head().getInt(0) + 1L
      Seq(
        "shingle_index" -> (() => Workload.staged(srcs,
          b => DedupQueries.trainShingleIndex(spark, lake, b.toInt),
          b => DedupQueries.appendShingleIndex(spark, lake, b.toInt),
          () => DedupQueries.trainShingleIndex(spark, lake))),
        "ivf_centroids" -> (() => SimilarityQueries.trainIvfCentroids(spark, lake)),
        "ivf_assignments" -> (() => Workload.staged(vecs,
          b => SimilarityQueries.trainIvfAssignments(spark, lake, b),
          b => SimilarityQueries.appendIvfAssignments(spark, lake, b),
          () => SimilarityQueries.trainIvfAssignments(spark, lake))),
        "pq_codes" -> (() => SimilarityQueries.trainPqCodes(spark, lake)))
    }

  private sealed trait Op { def name: String }
  private final case class QueryOp(name: String) extends Op
  private final case class RenderOp(name: String,
      f: (SparkSession, String) => String) extends Op

  def measure(spark: SparkSession, ctx: Main.Ctx): Outcome = {
    val oracle = Oracle.start(ctx, queries)
    val ops: Seq[Op] = queries.map(QueryOp) ++ renders.map(r => RenderOp(r._1, r._2))
    val trace = new Trace
    var attempted = 0L
    var failed = 0L
    // query fingerprints wait here until the oracle has answered
    val pending = scala.collection.mutable.ArrayBuffer.empty[(String, Fingerprint)]
    var expected: Option[Map[String, Either[String, Fingerprint]]] = None
    val firstSvg = scala.collection.mutable.HashMap.empty[String, String]

    def settle(): Unit = expected.foreach { exp =>
      pending.foreach { case (name, fp) =>
        exp(name) match {
          case Right(want) if want == fp => ()
          case other =>
            failed += 1
            System.err.println(s"perfbench: $name result differs from oracle: " +
              s"got $fp, oracle $other")
        }
      }
      pending.clear()
    }

    def runOp(op: Op, traced: Boolean): Sample = {
      attempted += 1
      try op match {
        case QueryOp(name) => runQuery(name, traced)
        case RenderOp(name, f) => runRender(name, f, traced)
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: ${op.name} failed: $e")
        Sample("failed", 0.0, traced)
      }
    }

    def runQuery(name: String, traced: Boolean): Sample = {
      val q = Registry.byName(name)
      if (!traced) {
        val t0 = System.nanoTime()
        val df = q.fn(spark, ctx.lake)
        val rows = df.collect()
        val ms = (System.nanoTime() - t0) / 1e6
        pending += name -> Fingerprint.of(df.schema, rows)
        settle()
        Sample("query", ms, traced = false)
      } else {
        trace.drain(spark)
        val s0 = trace.snapshot()
        val t0 = System.nanoTime()
        val df = q.fn(spark, ctx.lake)
        val buildMs = (System.nanoTime() - t0) / 1e6
        trace.drain(spark)
        val s1 = trace.snapshot()
        val wall0 = System.currentTimeMillis()
        val t1 = System.nanoTime()
        val rows = df.collect()
        val execMs = (System.nanoTime() - t1) / 1e6
        trace.drain(spark)
        val s2 = trace.snapshot()
        pending += name -> Fingerprint.of(df.schema, rows)
        settle()
        val build = Trace.diff(s0, s1)
        val exec = Trace.diff(s1, s2)
        val all = Trace.diff(s0, s2)
        Sample("query", buildMs + execMs, traced = true,
          Layers.opLayers(all, exec, trace.jobWallMs(wall0)) ++ Map(
            "build_ms" -> buildMs, "eager_jobs" -> build.getOrElse("jobs", 0.0)))
      }
    }

    def runRender(name: String, f: (SparkSession, String) => String,
        traced: Boolean): Sample = {
      if (traced) trace.drain(spark)
      val s0 = if (traced) trace.snapshot() else Map.empty[String, Double]
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val svg = f(spark, ctx.lake)
      val ms = (System.nanoTime() - t0) / 1e6
      val ok = svg.startsWith("<svg") && svg.trim.endsWith("</svg>") &&
        firstSvg.getOrElseUpdate(name, svg) == svg
      if (!ok) {
        failed += 1
        System.err.println(s"perfbench: $name rendered a different or malformed chart")
      }
      if (!traced) Sample("render", ms, traced = false)
      else {
        trace.drain(spark)
        val d = Trace.diff(s0, trace.snapshot())
        Sample("render", ms, traced = true,
          Layers.opLayers(d, d, trace.jobWallMs(wall0)))
      }
    }

    def pass(i: Int, traced: Boolean): Seq[Sample] =
      new Random(ctx.seed * 1000003L + i).shuffle(ops).map(runOp(_, traced))

    // warm-up: untimed, checked, until per-pass JIT time has levelled off
    val warmJit = scala.collection.mutable.ArrayBuffer.empty[Double]
    var passNo = 0
    while (warmJit.isEmpty || (warmJit.size < MaxWarmupPasses &&
        warmJit.last > JitSettled * warmJit.head)) {
      val j0 = Jvm.jitMs
      pass(passNo, traced = false)
      warmJit += Jvm.jitMs - j0
      passNo += 1
      if (expected.isEmpty && oracle.isDone) { expected = Some(oracle.result()); settle() }
    }
    if (expected.isEmpty) { expected = Some(oracle.result()); settle() }

    // timed window: whole passes until `seconds` have elapsed; a traced
    // run alternates untraced and traced passes to measure the overhead
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    var tracedJvm = (0.0, 0.0)
    val cpu0 = Jvm.cpuMs
    val w0 = System.nanoTime()
    var k = 0
    def elapsed = (System.nanoTime() - w0) / 1e9
    while (elapsed < ctx.args.seconds || (ctx.args.trace && k < 2)) {
      val traced = ctx.args.trace && k % 2 == 1
      if (traced) trace.attach(spark)
      val (g0, j0, p0) = (Jvm.gcMs, Jvm.jitMs, System.nanoTime())
      samples ++= pass(passNo, traced)
      System.err.println(f"perfbench: window pass $k ${(System.nanoTime() - p0) / 1e9}%.2f s, " +
        f"jit ${Jvm.jitMs - j0}%.0f ms, gc ${Jvm.gcMs - g0}%.0f ms")
      if (traced) {
        tracedJvm = (tracedJvm._1 + Jvm.gcMs - g0, tracedJvm._2 + Jvm.jitMs - j0)
        trace.drain(spark)
        trace.detach(spark)
      }
      passNo += 1
      k += 1
    }
    val windowS = elapsed
    val cpuMs = Jvm.cpuMs - cpu0
    val nTraced = samples.count(_.traced).max(1)
    val slices =
      if (!corpusArtifacts) 0.0
      else (SimilarityQueries.ivfAssignLadder(spark, ctx.lake).size +
        DedupQueries.shingleIndexLadder(spark, ctx.lake).size).toDouble
    Outcome(samples.toSeq, windowS, cpuMs, attempted, failed, warmJit.toSeq,
      Map("jvm.gc_ms" -> tracedJvm._1 / nTraced, "jvm.jit_ms" -> tracedJvm._2 / nTraced,
        "sources.slices" -> slices))
  }
}

/** The DuckDB oracle, run as a child process over the lake copy while
  * the warm-up passes run. */
final class Oracle private (proc: Process, out: File, queries: Seq[String]) {
  def isDone: Boolean = !proc.isAlive

  def result(): Map[String, Either[String, Fingerprint]] = {
    val code = proc.waitFor()
    if (code != 0) throw new IllegalStateException(s"oracle.py exited with $code")
    val root = Main.readJson(out)
    queries.map { q =>
      val n = root.get(q)
      q -> (if (n == null) Left("no oracle result")
        else if (n.has("error")) Left(n.get("error").asText())
        else Right(Fingerprint(n.get("cols").elements().asScala.map(_.asText()).toSeq,
          n.get("rows").asLong(), n.get("sha").asText())))
    }.toMap
  }
}

object Oracle {
  def start(ctx: Main.Ctx, queries: Seq[String]): Oracle = {
    val sql = new ObjectMapper().createObjectNode()
    queries.foreach { q =>
      val text = Registry.byName(q).oracle.getOrElse(
        throw new IllegalStateException(s"$q has no oracle"))
      sql.put(q, resolve(text, ctx.lake))
    }
    val in = new File(ctx.work, "oracle_sql.json")
    val out = new File(ctx.work, "oracle_out.json")
    Main.writeString(in, sql.toString)
    val proc = new ProcessBuilder("python3", "perfbench/oracle.py", ctx.lake,
      in.getPath, out.getPath).inheritIO().start()
    new Oracle(proc, out, queries)
  }

  /** Substitutes artifact-path tokens as `graft.Verify` does, pointing
    * each at the relocated artifact. */
  def resolve(sql: String, lake: String): String = {
    val tokens = Seq(
      SimilarityQueries.IvfCentroidsToken -> SimilarityQueries.ivfModelPath(lake),
      SimilarityQueries.PqCodebooksToken -> SimilarityQueries.pqModelPath(lake),
      TextQueries.BpeMergesToken -> TextQueries.bpeModelPath(lake),
      TextQueries.UnigramPiecesToken -> TextQueries.unigramModelPath(lake)) ++
      Seq("text", "media", "audio", "video").map(kind =>
        DedupQueries.clusterLabelsToken(kind) -> DedupQueries.clusterModelPath(lake, kind))
    tokens.foldLeft(sql) { case (s, (token, path)) => s.replace(token, ArtifactFs.map(path)) }
  }
}
