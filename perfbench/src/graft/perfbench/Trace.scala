package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's counters, fed by listeners the benchmark attaches
  * from outside the engine: a `SparkListener` (jobs and task metrics), a
  * `QueryExecutionListener` (Catalyst phases of each executed query) and
  * a `StreamingQueryListener` (micro-batch progress). Counters only grow;
  * the harness drains the listener bus, snapshots, and diffs snapshots
  * around each operation.
  *
  * Jobs submitted from a thread whose local property [[LayerKey]] is set
  * count their tasks' output bytes under `out_bytes.<layer>`, which is how
  * artifact writes are told apart from everything else. */
final class Trace {
  private val sums = mutable.HashMap.empty[String, Double]
  private val gauges = mutable.HashMap.empty[(String, String), Double]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  /** Every counter's current total. */
  def snapshot(): Map[String, Double] = synchronized {
    sums.toMap ++ gauges.groupMapReduce(_._1._1)(_._2)(_ + _)
  }

  /** Wall-clock span (ms) covered by jobs that started at or after
    * `fromMs`: the union of their [start, end] intervals. */
  def jobWallMs(fromMs: Long): Double = synchronized {
    val iv = intervals.filter(_._1 >= fromMs).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total.toDouble
  }

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      add("jobs", 1)
      jobStart(e.jobId) = e.time
      Option(e.properties).flatMap(p => Option(p.getProperty(Trace.LayerKey)))
        .foreach(l => e.stageIds.foreach(stageLayer(_) = l))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        add("tasks", 1)
        add("task_cpu_ms", m.executorCpuTime / 1e6)
        add("task_run_ms", m.executorRunTime.toDouble)
        add("task_gc_ms", m.jvmGCTime.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        stageLayer.get(e.stageId).foreach(l =>
          add(s"out_bytes.$l", m.outputMetrics.bytesWritten.toDouble))
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Trace.this.synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"phase.$phase", s.durationMs.toDouble) }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val id = p.id.toString
        Seq("triggerExecution" -> "trigger_ms", "addBatch" -> "add_batch_ms",
          "queryPlanning" -> "query_planning_ms", "walCommit" -> "wal_commit_ms")
          .foreach { case (k, name) =>
            Option(p.durationMs.get(k)).foreach(v => add(s"stream.$name", v.toDouble)) }
        p.stateOperators.foreach(s => add("stream.state_commit_ms", s.commitTimeMs.toDouble))
        gauges(("stream.state_rows", id)) = p.stateOperators.map(_.numRowsTotal).sum.toDouble
        gauges(("stream.state_mem_bytes", id)) =
          p.stateOperators.map(_.memoryUsedBytes).sum.toDouble
      }
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(queries)
    s.streams.addListener(streams)
  }

  def detach(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(spark)
    s.listenerManager.unregister(queries)
    s.streams.removeListener(streams)
  }

  def drain(s: SparkSession): Unit = org.apache.spark.perfbench.BusDrain(s.sparkContext)
}

object Trace {
  val LayerKey = "perfbench.layer"

  /** Runs `f` with its Spark jobs tagged as `layer`. */
  def tagged[T](s: SparkSession, layer: String)(f: => T): T = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, layer)
    try f finally sc.setLocalProperty(LayerKey, prev)
  }

  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).iterator
      .map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap
}
