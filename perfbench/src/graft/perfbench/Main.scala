package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import graft.Sessions
import graft.queries.{DedupQueries, SimilarityQueries, TextQueries}

/** Command-line entry of the benchmark JVM (see perfbench/run.py):
  *
  *   --workload dashboard|corpus|ingest --seed N --seconds S --trace 0|1
  *   --lake <source lake dir> --work <work dir>
  *
  * One Spark session at local[cores], driven by one client thread in a
  * closed loop. Prints the result object as the last line of stdout. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, lake: String, work: String)

  /** Full set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val code =
      try { println(run(parse(argv))); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    // a run that failed early may leave the oracle process behind
    ProcessHandle.current().descendants().forEach { p =>
      p.destroyForcibly(); p.onExit().get() }
    Runtime.getRuntime.halt(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("lake"), need("work"))
  }

  def run(a: Args): String = {
    Jvm.watchGc()
    val workload = Workload(a.workload)
    val cores = Runtime.getRuntime.availableProcessors
    val work = new File(a.work).getAbsoluteFile
    val lake = new File(work, "lake")
    val artifacts = new File(work, "artifacts")
    copyLake(new File(a.lake), lake)
    ArtifactFs.install(artifactRoot(lake.getPath), artifacts.getPath)

    val ctx = Ctx(a, lake.getPath, work)
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) { DedupQueries.clearShingleCache(); spark.stop() }
      deleteTree(artifacts); artifacts.mkdirs()
      val t0 = System.nanoTime()
      spark = Sessions.local(cores.toString)
      val train = workload.train(spark, ctx.lake).map { case (name, build) =>
        val t = System.nanoTime(); build()
        s"sources.train_ms.$name" -> (System.nanoTime() - t) / 1e6
      }
      ((System.nanoTime() - t0) / 1e9, train.toMap)
    }
    val outcome = workload.measure(spark, ctx)
    checkArtifactsStayedInside(ctx.lake)
    val setupS = Stats.median(setups.map(_._1))
    val trainMs = Layers.TrainedArtifacts.map { n =>
      val k = s"sources.train_ms.$n"
      k -> (Stats.median(setups.map(_._2.getOrElse(k, 0.0))), "ms")
    }.toMap
    val metrics =
      if (a.trace) Layers.perLayer(outcome, cores) ++ trainMs
      else Layers.endToEnd(outcome, setupS)
    System.err.println(f"perfbench: ${a.workload} seed=${a.seed} " +
      f"ops=${outcome.attempted} window_ops=${outcome.samples.size} failed=${outcome.failed} " +
      f"error_rate=${outcome.failed.toDouble / outcome.attempted.max(1)}%.4f " +
      s"setup_s=${setups.map(s => f"${s._1}%.2f").mkString(",")} " +
      s"warmup_passes=${outcome.warmup.size} warmup_jit_ms=${outcome.warmup.map(_.toLong).mkString(",")} " +
      f"vm_hwm_mb=${Jvm.hwmMb}%.0f heap_after_gc_peak_mb=${Jvm.heapAfterGcPeakMb}%.0f")
    resultJson(outcome, metrics)
  }

  final case class Ctx(args: Args, lake: String, work: File) {
    def seed: Long = args.seed
  }

  private def resultJson(o: Outcome, metrics: Map[String, (Double, String)]): String = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("correct", o.failed == 0 && o.attempted > 0)
    root.put("attempted", o.attempted)
    root.put("failed", o.failed)
    val ms = root.putObject("metrics")
    metrics.toSeq.sortBy(_._1).foreach { case (k, (v, unit)) =>
      val m = ms.putObject(k); m.put("value", v); m.put("unit", unit) }
    mapper.writeValueAsString(root)
  }

  /** The engine's artifact root: the deepest directory that holds every
    * artifact path it builds for `lake`. */
  private def artifactRoot(lake: String): String = {
    val paths = Seq(SimilarityQueries.ivfModelPath(lake),
      SimilarityQueries.pqModelPath(lake), TextQueries.bpeModelPath(lake),
      TextQueries.unigramModelPath(lake),
      DedupQueries.clusterModelPath(lake, "text"))
    val parts = paths.map(_.split('/').toSeq)
    val common = parts.reduce((x, y) => x.zip(y).takeWhile(p => p._1 == p._2).map(_._1))
    val root = common.mkString("/")
    require(root.count(_ == '/') >= 2, s"no common artifact root in $paths")
    root
  }

  /** Fails the run if any artifact for this lake landed at its unmapped
    * location. */
  private def checkArtifactsStayedInside(lake: String): Unit =
    Seq(SimilarityQueries.ivfModelPath(lake), SimilarityQueries.pqModelPath(lake),
      DedupQueries.clusterModelPath(lake, "text")).foreach { p =>
      if (new File(p).getParentFile.exists())
        throw new IllegalStateException(s"artifact written outside the work dir: $p")
    }

  private def copyLake(from: File, to: File): Unit = {
    val tables = Option(from.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
    require(tables.nonEmpty, s"no parquet tables in $from")
    deleteTree(to); to.mkdirs()
    tables.foreach(t => Files.copy(t.toPath, new File(to, t.getName).toPath,
      StandardCopyOption.COPY_ATTRIBUTES))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def writeString(f: File, s: String): Unit = Files.writeString(f.toPath, s)
  def readJson(f: File) = new ObjectMapper().readTree(f)
}

/** Process-level counters read around the timed window. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuMs: Double = os.getProcessCpuTime / 1e6
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Peak resident set size of this process (VmHWM), in MB. */
  def hwmMb: Double = scala.util.Using.resource(
      scala.io.Source.fromFile("/proc/self/status")) { src =>
    src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var heapAfterGcPeak = 0L

  /** From now on, tracks the largest heap occupancy any collection left
    * behind. */
  def watchGc(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case bean: NotificationEmitter => bean.addNotificationListener(
      (n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { heapAfterGcPeak = heapAfterGcPeak.max(used) }
        }, null, null)
    case _ =>
  }

  def heapAfterGcPeakMb: Double = heapAfterGcPeak / 1048576.0

  /** Peak resident memory the program needs, in MB. The heap is fixed and
    * pre-touched, so VmHWM holds all of it from the start; this replaces
    * the committed heap by the most heap a collection left in use. */
  def rssPeakMb: Double =
    hwmMb - ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0 +
      heapAfterGcPeakMb
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
