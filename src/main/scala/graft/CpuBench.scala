package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.LongAdder
import graft.queries.Registry

/** Resource-cost probe: total TASK CPU / run time / shuffle bytes per
  * query, via a SparkListener over task metrics. Local wall-clock is
  * the WRONG instrument for pass-collapsing decisions — duplicated plan
  * branches overlap for free on idle local cores, so a 3× corpus-CPU
  * plan can win wall-clock at sf0.1 and lose a busy 100 TB cluster
  * (r19's NB revert). This tool measures what the cluster pays:
  *
  *  - cpu_sec   Σ executorCpuTime over every task of the query's jobs —
  *              the cores×seconds the work costs regardless of overlap;
  *  - run_sec   Σ executorRunTime (adds I/O wait, fetch wait, GC);
  *  - shuffle_mb Σ shuffle WRITE bytes (exchange volume);
  *  - wall      the per-query median wall time (the per-query A/B loop
  *              Bench is too coarse for).
  *
  * Set-up trains every artifact the corpus has a source table for
  * ([[graft.sources.Artifacts.ensureAll]] — a documents-only corpus gets
  * the documents-sourced ones), then one warmup rep and rep-major
  * measured reps, medians, plus a listener-drain wait so async task-end
  * events cannot leak across queries. Usage:
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.CpuBench q_macd [reps]" */
object CpuBench {
  private class Acc extends SparkListener {
    val cpu = new LongAdder // ns
    val run = new LongAdder // ms
    val shuffle = new LongAdder // bytes
    val tasks = new LongAdder
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        cpu.add(m.executorCpuTime)
        run.add(m.executorRunTime)
        shuffle.add(m.shuffleWriteMetrics.bytesWritten)
        tasks.increment()
      }
    }
    def snapshot: (Long, Long, Long, Long) =
      (cpu.sum, run.sum, shuffle.sum, tasks.sum)
  }

  /** The listener bus is async: wait until the task counter is stable
    * for two consecutive polls so a query's trailing task-end events
    * land in ITS totals, not the next query's. */
  private def drain(acc: Acc): Unit = {
    var prev = -1L
    var same = 0
    while (same < 2) {
      Thread.sleep(100)
      val now = acc.tasks.sum
      if (now == prev) same += 1 else { same = 0; prev = now }
    }
  }

  /** Computes every output column: the `noop` sink writes nothing but
    * evaluates each row. A `count()` would let the optimizer prune the
    * columns nobody reads — window expressions included — and price a
    * plan that never ran. */
  private def run(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val (numeric, names) =
      args.partition(a => a.nonEmpty && a.forall(_.isDigit))
    val reps = numeric.lastOption.map(_.toInt).getOrElse(3).max(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    graft.sources.Artifacts.ensureAll(spark, sfDir)
    val qs = names.toSeq.map(Registry.byName)
    // warmup: codegen + page cache + shared artifacts, not measured
    qs.foreach(q => run(q.fn(spark, sfDir)))
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    case class Reading(wall: Double, cpu: Double, run: Double,
      shuffleMb: Double, tasks: Long)
    val rows = Array.fill(qs.size)(
      scala.collection.mutable.ArrayBuffer.empty[Reading])
    for (_ <- 0 until reps; (q, i) <- qs.zipWithIndex) {
      drain(acc)
      val base = acc.snapshot
      val t0 = System.nanoTime()
      run(q.fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      drain(acc)
      val now = acc.snapshot
      rows(i) += Reading(wall,
        (now._1 - base._1) / 1e9, (now._2 - base._2) / 1e3,
        (now._3 - base._3) / 1e6, now._4 - base._4)
    }
    def med(v: scala.collection.Seq[Double]): Double = {
      val s = v.sorted; s(s.size / 2)
    }
    qs.zipWithIndex.foreach { case (q, i) =>
      val r = rows(i)
      println(f"CPUBENCH ${q.name}%-28s wall=${med(r.map(_.wall))}%7.3f " +
        f"cpu=${med(r.map(_.cpu))}%7.3f run=${med(r.map(_.run))}%7.3f " +
        f"shuffle_mb=${med(r.map(_.shuffleMb))}%8.2f " +
        f"tasks=${r.map(_.tasks).sorted.apply(r.size / 2)}")
    }
    spark.stop()
  }
}
