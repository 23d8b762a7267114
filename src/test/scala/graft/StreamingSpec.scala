package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingPipeline

/** End-to-end Structured Streaming semantics with MemoryStream sources and
  * AvailableNow bounded drains — the reference's Kafka loops without a
  * broker (SURVEY.md §2.H). */
class StreamingSpec extends SparkSpec with TempLakes {

  private def ts(s: Long) = new Timestamp(s * 1000)

  /** One state-store provider's reading: the state operator's own
    * telemetry plus the JVM heap growth across the run (GC'd before each
    * sample). */
  private final case class Reading(label: String, rowsTotal: Long,
      stateMemBytes: Long, heapDeltaBytes: Long)

  private def heapUsed(): Long = {
    System.gc(); Thread.sleep(200); System.gc()
    val r = Runtime.getRuntime; r.totalMemory() - r.freeMemory()
  }

  /** Runs the H6 latest-per-key pipeline over `nKeys` keys × `nBatches`
    * micro-batches under each state-store provider (RocksDB, then the
    * heap-backed default) and returns the readings. Restores the
    * session's provider config afterwards. */
  private def measure(nKeys: Int, nBatches: Int): Seq[Reading] = {
    import graft.streaming.KeyedValue
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def batch(b: Int) = (0 until nKeys).map(k =>
      KeyedValue(s"k$k",
        new Timestamp(1700000000000L + b * 1000L), b.toLong, k * 1.0 + b))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(providerKey)
    try {
      Seq(
        "rocksdb" -> ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider"),
        "hdfs-heap" -> ("org.apache.spark.sql.execution.streaming.state." +
          "HDFSBackedStateStoreProvider")
      ).map { case (label, provider) =>
        spark.conf.set(providerKey, provider)
        val mem = MemoryStream[KeyedValue]
        val h0 = heapUsed()
        val q = StreamingPipeline.latestPerKeyState(mem.toDS(), "10 minutes")
          .toDF.writeStream.format("noop")
          .option("checkpointLocation", tempLake(s"graft_ssp_$label"))
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
        // micro-batches over the SAME keyspace: state holds nKeys rows
        // throughout, each batch rewrites every key (the worst-case
        // update pattern for a latest-per-key operator)
        var last: org.apache.spark.sql.streaming.StreamingQueryProgress = null
        (0 until nBatches).foreach { b =>
          mem.addData(batch(b))
          val run = q.start()
          run.awaitTermination()
          if (run.lastProgress != null) last = run.lastProgress
        }
        val h1 = heapUsed()
        // a misconfigured run (no progress reported, or a progress with
        // no state operator) must surface as a named error, not an NPE
        val so = Option(last).flatMap(_.stateOperators.headOption)
          .getOrElse(throw new IllegalStateException(
            s"state probe [$label]: no micro-batch reported state-operator " +
              "progress — the pipeline did not run stateful"))
        Reading(label, so.numRowsTotal, so.memoryUsedBytes, h1 - h0)
      }
    } finally before match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("dedupFirstWins: ON CONFLICT DO NOTHING semantics on (key, ts)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double)]
    mem.addData(("A", ts(10), 1.0), ("A", ts(10), 2.0), ("B", ts(11), 3.0))
    val out = StreamingPipeline.dedupFirstWins(
      mem.toDF.toDF("sym", "t", "v"), "sym", "t", "1 hour")
    StreamingPipeline.drainAvailableNow(out, "dedup_t")
    val rows = spark.sql("SELECT sym, v FROM dedup_t ORDER BY sym")
      .as[(String, Double)].collect()
    assert(rows.length == 2)
    assert(rows(0) == ("A", 1.0)) // first write won
    assert(rows(1) == ("B", 3.0))
  }

  test("dedupByContent: streaming corpus dedup by fingerprint, first doc wins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingPipeline.dedupByContent(
      mem.toDF.toDF("doc_id", "t", "text"), "text", "t", "1 hour")
    // state must be the EVICTABLE within-watermark dedup, not plain
    // dropDuplicates (which on a non-event-time key never expires state)
    assert(out.queryExecution.analyzed.toString
      .contains("DeduplicateWithinWatermark"),
      "dedupByContent must use dropDuplicatesWithinWatermark for bounded state")
    // the duplicate arrives in a LATER micro-batch than its original:
    // cross-batch state ordering is contractual ("first occurrence wins"),
    // whereas within one batch the survivor after the fp shuffle is
    // whichever row a partition processes first — not guaranteed to be
    // the min doc_id, so a single AvailableNow drain would test a
    // scheduling accident, not the dedup semantics
    val q = out.writeStream.format("memory").queryName("deduped_docs")
      .outputMode("append").start()
    mem.addData(
      (1L, ts(10), "the quick brown fox"),
      (3L, ts(12), "completely different document"))
    q.processAllAvailable()
    mem.addData((2L, ts(11), "The Quick Brown FOX  ")) // dup of doc 1's fp
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT doc_id FROM deduped_docs ORDER BY doc_id")
      .as[Long].collect()
    assert(rows.toSeq == Seq(1L, 3L)) // doc 2 deduped against doc 1's fp
  }

  test("dedupByContent with the normalize fold: accent/case/space variants collapse on the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the C4/CCNet normalize pass served at ingest: the SAME row-local
    // normalizeExpr that batch q_text_normalize uses becomes the stream's
    // dedup fingerprint, so re-published variants that differ only in
    // case, accents or whitespace never reach the lake twice
    val mem = MemoryStream[(Long, Timestamp, String)]
    val normFp =
      s"md5_60(${graft.queries.TextQueries.normalizeExpr("text")})"
    val out = StreamingPipeline.dedupByContent(
      mem.toDF.toDF("doc_id", "t", "text"), "text", "t", "1 hour",
      fingerprintExpr = Some(normFp))
    // originals in batch 1, variants in batch 2: cross-batch state
    // ordering makes "first occurrence wins" contractual (see the
    // fingerprint-dedup test above for why one batch would be flaky)
    val q = out.writeStream.format("memory").queryName("norm_deduped")
      .outputMode("append").start()
    mem.addData(
      (1L, ts(10), "Café  con   LECHE"),
      (4L, ts(13), "cafe com leite")) // genuinely different
    q.processAllAvailable()
    mem.addData(
      (2L, ts(11), "cafe con leche"), // folds onto doc 1 only if normalized
      (3L, ts(12), " CAFÉ CON LECHE "))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT doc_id FROM norm_deduped ORDER BY doc_id")
      .as[Long].collect()
    assert(rows.toSeq == Seq(1L, 4L),
      s"variants must fold to the first occurrence, got ${rows.toSeq}")
    // and the DEFAULT lowercase-trim fingerprint does NOT fold the
    // accented variant — normalization is what does the work
    val mem2 = MemoryStream[(Long, Timestamp, String)]
    mem2.addData((1L, ts(10), "Café  con   LECHE"),
      (2L, ts(11), "cafe con leche"))
    val plain = StreamingPipeline.dedupByContent(
      mem2.toDF.toDF("doc_id", "t", "text"), "text", "t", "1 hour")
    StreamingPipeline.drainAvailableNow(plain, "plain_deduped")
    assert(spark.table("plain_deduped").count() == 2)
  }

  test("streaming training-data ingest: content dedup → quality gate → idempotent upsert") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = tempLake("graft_ingest") + "/docs"
    def ingest(batch: Seq[(Long, Timestamp, String)], name: String): Unit = {
      val mem = MemoryStream[(Long, Timestamp, String)]
      mem.addData(batch: _*)
      val deduped = StreamingPipeline.dedupByContent(
        mem.toDF.toDF("doc_id", "t", "text"), "text", "t", "1 hour")
      // quality gate: the short-doc filter of the batch pipeline, online
      val gated = deduped.filter(
        expr("size(split(trim(text), '\\\\s+')) >= 4"))
      val q = StreamingPipeline.upsertSink(gated, Seq("fp"), target)
        .queryName(name).start()
      q.awaitTermination()
    }
    val goodA = "alpha beta gamma delta epsilon"
    val goodB = "one two three four five six"
    ingest(Seq(
      (1L, ts(10), goodA),
      (2L, ts(11), goodA),      // in-stream near-time duplicate → dropped
      (3L, ts(12), "too short"),// fails the quality gate
      (4L, ts(13), goodB)), "ingest_a")
    // a later RE-DELIVERY (new stream, overlapping content) must be
    // suppressed by the sink's key, not re-ingested
    ingest(Seq(
      (5L, ts(20), goodA),
      (6L, ts(21), "fresh content never seen before")), "ingest_b")
    val rows = spark.read.parquet(target)
      .select("doc_id").as[Long].collect().sorted
    // docs 1 and 2 share a fingerprint WITHIN one micro-batch, where the
    // survivor is whichever row the state partition sees first (not
    // contractually the min doc_id) — assert the set semantics instead:
    // exactly one of {1,2} survives, 3 is gated, 5 upsert-suppressed
    assert(rows.length == 3 && rows.toSet.contains(4L) &&
      rows.toSet.contains(6L) && (rows.toSet -- Set(4L, 6L)).subsetOf(Set(1L, 2L)),
      s"ingest kept ${rows.toSeq}")
  }

  test("enrich: symbol normalize + falsy-zero change_day on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double, Double)]
    mem.addData(("PETR4.SA", 10.0, 12.0), ("VALE3", 0.0, 12.0))
    val out = StreamingPipeline.enrich(
      mem.toDF.toDF("symbol", "open", "close"))
    StreamingPipeline.drainAvailableNow(out, "enrich_t")
    val rows = spark.sql("SELECT symbol, change_day FROM enrich_t ORDER BY symbol")
      .as[(String, Double)].collect()
    assert(rows.toSeq == Seq(("PETR4", 2.0), ("VALE3", 0.0)))
  }

  test("enrichAgainstStatic: stream-static left join keeps unmatched stream rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("A", "alpha"), ("B", "beta")).toDF("sym", "name")
    val mem = MemoryStream[(String, Double)]
    mem.addData(("A", 1.0), ("B", 2.0), ("Z", 3.0)) // Z has no dim row
    val out = StreamingPipeline.enrichAgainstStatic(
      mem.toDF.toDF("sym", "v"), dim, "sym")
    StreamingPipeline.drainAvailableNow(out, "enrich_static_t")
    val rows = spark.sql(
      "SELECT sym, v, name FROM enrich_static_t ORDER BY sym")
      .as[(String, Double, Option[String])].collect()
    assert(rows.toSeq == Seq(
      ("A", 1.0, Some("alpha")), ("B", 2.0, Some("beta")), ("Z", 3.0, None)))
  }

  test("windowedAgg: tumbling event-time aggregation emits closed windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.addData((ts(0), "A", 1.0), (ts(30), "A", 3.0), (ts(90), "A", 5.0))
    // watermark 0s: the 0-60s window closes once the 90s event arrives
    val out = StreamingPipeline.windowedAgg(
      mem.toDF.toDF("t", "sym", "v"), "t", "sym", "v", "1 minute", "0 seconds")
    StreamingPipeline.drainAvailableNow(out, "winagg_t")
    val rows = spark.sql(
      "SELECT sym, n, total FROM winagg_t WHERE w_start = timestamp'1970-01-01 00:00:00'")
      .as[(String, Long, Double)].collect()
    assert(rows.toSeq == Seq(("A", 2L, 4.0)))
  }

  test("streamStreamJoin: two watermarked streams join on symbol within bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val brapi = MemoryStream[(String, Timestamp, Double)]
    val yf = MemoryStream[(String, Timestamp, Double)]
    brapi.addData(("PETR4", ts(100), 10.0), ("VALE3", ts(100), 20.0))
    yf.addData(("PETR4", ts(110), 11.0), ("ITUB4", ts(110), 30.0),
      ("PETR4", ts(100000), 99.0)) // outside the 1-minute bound
    val joined = graft.streaming.StreamingPipeline.streamStreamJoin(
      brapi.toDF.toDF("symbol", "t", "price"),
      yf.toDF.toDF("symbol", "t", "close"),
      "symbol", "t", "1 hour", "1 MINUTE")
    graft.streaming.StreamingPipeline.drainAvailableNow(joined, "ssj_t")
    val rows = spark.sql("SELECT symbol, price, close FROM ssj_t")
      .as[(String, Double, Double)].collect()
    assert(rows.toSeq == Seq(("PETR4", 10.0, 11.0))) // only in-bound match
  }

  test("latestPerKeyState: flatMapGroupsWithState keeps newest per key") {
    import spark.implicits._
    import graft.streaming.KeyedValue
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KeyedValue]
    mem.addData(
      KeyedValue("A", ts(10), 1L, 1.0),
      KeyedValue("A", ts(30), 2L, 3.0),
      KeyedValue("A", ts(20), 3L, 2.0), // older ts: must NOT displace seq 2
      KeyedValue("B", ts(5), 4L, 9.0))
    val out = graft.streaming.StreamingPipeline
      .latestPerKeyState(mem.toDS(), "1 hour")
    graft.streaming.StreamingPipeline.drainAvailableNow(out.toDF, "state_t")
    val rows = spark.sql(
      "SELECT key, value FROM state_t ORDER BY key")
      .as[(String, Double)].collect()
    assert(rows.toSeq == Seq(("A", 3.0), ("B", 9.0))) // newest-by-ts won
  }

  test("ewmaState: late rows dropped, recursion exact across micro-batches") {
    import spark.implicits._
    import graft.streaming.KeyedValue
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KeyedValue]
    val out = StreamingPipeline.ewmaState(mem.toDS(), 0.2, "1 hour")
    // explicit processAllAvailable between adds: an AvailableNow drain
    // would coalesce everything into ONE batch, where the in-batch sort
    // legitimately re-orders the "late" row and nothing tests the
    // cross-batch frontier — the exact property at stake here
    val q = out.toDF.writeStream.format("memory").queryName("ewma_t")
      .outputMode("append").start()
    Seq(
      KeyedValue("A", ts(100), 1L, 10.0),
      KeyedValue("A", ts(200), 2L, 20.0),
      KeyedValue("A", ts(150), 3L, 99.0), // late: frontier at 200
      KeyedValue("A", ts(300), 4L, 30.0)
    ).foreach { r => mem.addData(r); q.processAllAvailable() }
    q.stop()
    val rows = spark.sql("SELECT seq, value FROM ewma_t ORDER BY seq")
      .as[(Long, Double)].collect().toSeq
    // y₁=10; y₂=0.2·20+0.8·10=12; ts=150 dropped (no output, no state
    // corruption); y₄=0.2·30+0.8·12 — continues from 12, not 99
    assert(rows == Seq((1L, 10.0), (2L, 12.0), (4L, 0.2 * 30.0 + 0.8 * 12.0)))
  }

  test("streaming twin: ewmaState over chunked real events equals the batch fold") {
    import spark.implicits._
    import graft.streaming.KeyedValue
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = Tables(spark, dir, "events")
      .filter(col("user_id") < 30)
      .select("user_id", "ts", "event_id", "value")
      .collect()
      .map(r => KeyedValue(r.getLong(0).toString, r.getTimestamp(1),
        r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r.ts.getTime, r.seq))
    // three chronological arrivals: per-key recursion state must survive
    // micro-batch boundaries for every key, not just a constructed one
    val mem = MemoryStream[KeyedValue]
    val n = ev.length
    // lateness must exceed the dataset's span: a key silent longer than
    // the horizon is EVICTED and its series reseeds at the next row —
    // correct for an endless stream, but the batch-equality twin needs
    // every key's recursion to survive end to end
    val out = StreamingPipeline.ewmaState(mem.toDS(), 0.2, "3650 days")
    val q = out.toDF.writeStream.format("memory").queryName("ewma_twin_t")
      .outputMode("append").start()
    Seq(ev.slice(0, n / 3), ev.slice(n / 3, 2 * n / 3),
      ev.slice(2 * n / 3, n)).foreach { c =>
        mem.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.sql("SELECT key, seq, value FROM ewma_twin_t")
      .as[(String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val batch = graft.operators.LinearRecurrence.ewma(
        ev.toSeq.toDF("key", "ts", "seq", "x"),
        "key", Seq(col("ts"), col("seq")), col("x"), Seq("y" -> 0.2))
      .select("key", "seq", "y")
      .as[(String, Long, Double)].collect()
    assert(streamed.size == n) // nothing dropped on the on-time path
    batch.foreach { case (k, seq, y) =>
      val s = streamed((k, seq))
      // one step function, one row order: bit-identical
      assert(s == y, s"key=$k seq=$seq streamed=$s batch=$y")
    }
  }

  test("streaming twin: holtState over chunked real events equals the batch fold") {
    import spark.implicits._
    import graft.streaming.KeyedValue
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = Tables(spark, dir, "events")
      .filter(col("user_id") < 30)
      .select("user_id", "ts", "event_id", "value")
      .collect()
      .map(r => KeyedValue(r.getLong(0).toString, r.getTimestamp(1),
        r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r.ts.getTime, r.seq))
    val mem = MemoryStream[KeyedValue]
    val n = ev.length
    val out = StreamingPipeline.holtState(mem.toDS(), 0.2, 0.1, "3650 days")
    val q = out.toDF.writeStream.format("memory").queryName("holt_twin_t")
      .outputMode("append").start()
    Seq(ev.slice(0, n / 3), ev.slice(n / 3, 2 * n / 3),
      ev.slice(2 * n / 3, n)).foreach { c =>
        mem.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.sql("SELECT key, seq, level, trend FROM holt_twin_t")
      .as[(String, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val batch = graft.operators.LinearRecurrence.holt(
        ev.toSeq.toDF("key", "ts", "seq", "x"),
        "key", Seq(col("ts"), col("seq")), col("x"), 0.2, 0.1, "l", "t")
      .select("key", "seq", "l", "t")
      .as[(String, Long, Double, Double)].collect()
    assert(streamed.size == n)
    batch.foreach { case (k, seq, l, t) =>
      val (sl, st) = streamed((k, seq))
      // one step function, one row order: bit-identical
      assert(sl == l, s"key=$k seq=$seq level streamed=$sl batch=$l")
      assert(st == t, s"key=$k seq=$seq trend streamed=$st batch=$t")
    }
  }

  test("scd2State: closed rows on change, late drop, open rows on timeout") {
    import spark.implicits._
    import graft.streaming.AttrObs
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[AttrObs]
    // one batch per addData call; watermark advances between batches
    mem.addData(AttrObs("A", ts(100), 1L, "X"), AttrObs("B", ts(100), 2L, "P"))
    mem.addData(AttrObs("A", ts(200), 3L, "Y"))  // change → closes [X, 100, 200)
    mem.addData(AttrObs("A", ts(150), 4L, "X"))  // late (< 200): must be dropped
    mem.addData(AttrObs("Z", ts(1000), 5L, "Q")) // pushes watermark past A/B timeouts
    val out = StreamingPipeline.scd2State(mem.toDS(), "10 seconds")
    StreamingPipeline.drainAvailableNow(out.toDF, "scd2_t")
    val rows = spark.sql(
      "SELECT key, attr, valid_from, valid_to FROM scd2_t ORDER BY key, valid_from")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2).getTime / 1000,
        Option(r.getTimestamp(3)).map(_.getTime / 1000)))
    assert(rows.toSeq == Seq(
      ("A", "X", 100L, Some(200L)), // closed by the change to Y
      ("A", "Y", 200L, None),       // open row emitted at timeout
      ("B", "P", 100L, None)))      // B never changed: one open row
    // the late ts=150 re-observation of X produced NO extra interval
    assert(rows.count(_._1 == "A") == 2)
  }

  test("E2E §3.2: stream → dedup → enrich → upsert → batch metrics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = tempLake("graft_e2e") + "/dw"
    // minute 1: quotes arrive (with an in-batch duplicate)
    val mem = MemoryStream[(String, Timestamp, Double, Double)]
    mem.addData(
      ("PETR4.SA", ts(60), 10.0, 11.0),
      ("PETR4.SA", ts(60), 10.0, 99.0), // dup (symbol, t): first wins
      ("VALE3.SA", ts(60), 20.0, 22.0))
    val flow1 = graft.streaming.StreamingPipeline.enrich(
      graft.streaming.StreamingPipeline.dedupFirstWins(
        mem.toDF.toDF("symbol", "t", "open", "close"), "symbol", "t", "1 hour"))
    graft.streaming.StreamingPipeline.upsertSink(flow1, Seq("symbol", "t"), target)
      .start().awaitTermination()
    // minute 2: a re-send (idempotence) plus fresh quotes
    val mem2 = MemoryStream[(String, Timestamp, Double, Double)]
    mem2.addData(
      ("PETR4.SA", ts(60), 10.0, 55.0), // replay: must NOT overwrite
      ("PETR4.SA", ts(120), 11.0, 12.0),
      ("VALE3.SA", ts(120), 22.0, 21.0))
    val flow2 = graft.streaming.StreamingPipeline.enrich(
      graft.streaming.StreamingPipeline.dedupFirstWins(
        mem2.toDF.toDF("symbol", "t", "open", "close"), "symbol", "t", "1 hour"))
    graft.streaming.StreamingPipeline.upsertSink(flow2, Seq("symbol", "t"), target)
      .start().awaitTermination()
    // load stage: batch metrics over the DW table (calculate_metrics chain)
    val dw = spark.read.parquet(target)
      .withColumn("seq", col("t").cast("long"))
      .withColumn("volume", lit(100L))
    val metrics = graft.operators.B3Pipeline.calculateMetrics(
      dw, "symbol", "t", "seq", "close", "volume")
      .orderBy("symbol", "t")
      .select("symbol", "close", "change_day", "sma_5", "daily_return")
      .collect()
    assert(metrics.length == 4) // 2 symbols × 2 minutes, dups suppressed
    val petr = metrics.filter(_.getString(0) == "PETR4")
    assert(petr(0).getDouble(1) == 11.0) // first write won (not 99/55)
    assert(petr(0).getDouble(2) == 1.0) // change_day = 11 - 10
    assert(petr(1).getDouble(3) == 11.5) // sma_5 over (11, 12)
    assert(math.abs(petr(1).getDouble(4) - (12.0 / 11.0 - 1)) < 1e-12)
  }

  test("streaming twin: q_b3_metrics over stream-staged events is byte-identical to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val staged = tempLake("graft_b3_twin") + "/events"
    val ev = Tables(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
    // three arrivals; the 2nd replays 50 rows of the 1st and the 3rd
    // replays 50 of the 2nd — the idempotent event_id upsert must keep
    // exactly one copy of each, like the reference's ON CONFLICT DO NOTHING
    val chunks = Seq(
      ev.slice(0, 400).toSeq,
      (ev.slice(350, 400) ++ ev.slice(400, 800)).toSeq,
      (ev.slice(750, 800) ++ ev.slice(800, ev.length)).toSeq)
    chunks.foreach { chunk =>
      val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
      mem.addData(chunk)
      StreamingPipeline.upsertSink(
        mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        Seq("event_id"), staged).start().awaitTermination()
    }
    val twin = graft.queries.PipelineQueries
      .b3MetricsOf(spark.read.parquet(staged)).collect()
    val batch = graft.queries.PipelineQueries.b3Metrics(spark, dir).collect()
    assert(twin.length == ev.length) // replays suppressed, nothing lost
    assert(twin.toSeq == batch.toSeq)
  }

  test("streaming twin: q_sessionize via watermarked session_window equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = Tables(spark, dir, "events")
      .select("user_id", "ts", "value").orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val mem = MemoryStream[(Long, Timestamp, Double)]
    // an ordered log in four arrivals (chunk k+1's min ts ≥ chunk k's max,
    // so nothing falls behind the 1-hour-lateness watermark)
    ev.grouped(ev.length / 4 + 1).foreach(c => mem.addData(c.toSeq))
    // far-future sentinel pushes the watermark past every real session so
    // append mode emits them all; its own (still-open) session never
    // emits and the negative user_id filters it out of the compare
    val maxTs = ev.map(_._2.getTime).max
    mem.addData((-1L, new Timestamp(maxTs + 90L * 24 * 3600 * 1000), 0.0))
    val streamed = graft.queries.AnalyticsQueries.sessionWindows(
      mem.toDF.toDF("user_id", "ts", "value").withWatermark("ts", "1 hour"))
    StreamingPipeline.drainAvailableNow(streamed, "sess_twin")
    val twin = spark.table("sess_twin").filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start").collect()
    val batch = graft.queries.Registry.byName("q_sessionize")
      .fn(spark, dir).collect()
    assert(twin.nonEmpty && twin.toSeq == batch.toSeq)
  }

  test("streaming cluster assignment: arrivals get persisted lake labels, batch ≡ stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.DedupQueries
    // a 3-doc lake: 10+11 are a near-dup cluster (label 10), 20 is
    // unclustered (absent from the label table = represents itself)
    val lakeDocs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon eta"),
      (20L, "one two three four five six")).toDF("doc_id", "text")
    val lakeSh = DedupQueries.shingleHashesOf(lakeDocs, 1000)
    val labels = Seq((10L, 10L), (11L, 10L)).toDF("doc_id", "cluster_id")
    def m(min: Long) = ts(min * 60)
    val arrivals = Seq(
      // copy of doc 10: candidates 10 (j=1.0) AND 11 (j=0.6) — max_by
      // must pick 10, and its label is the cluster id
      (100L, m(1), "alpha beta gamma delta epsilon zeta"),
      // copy of the unclustered doc 20 → cluster = the doc itself
      (101L, m(2), "one two three four five six"),
      // novel document → no candidates → NO emitted row (absence =
      // "cluster of itself" by contract)
      (102L, m(3), "seven eight nine ten eleven twelve"))
    val mem = MemoryStream[(Long, Timestamp, String)]
    mem.addData(arrivals)
    // second batch: far-future sentinel advances the watermark so append
    // mode emits the first batch's closed groups
    mem.addData(Seq((999L, m(60 * 24), "sentinel advances the watermark")))
    val streamed = StreamingPipeline.assignClusters(
      mem.toDF.toDF("doc_id", "ts", "text"), lakeSh, labels,
      "ts", "10 minutes")
    StreamingPipeline.drainAvailableNow(streamed, "cluster_assign")
    val got = spark.table("cluster_assign")
      .select("doc_id", "cluster_id", "matched_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((100L, 10L, 10L), (101L, 20L, 20L)), got)
    // batch ≡ stream: the same function over the same rows as a batch
    // frame (withWatermark is a no-op on batch) yields identical rows
    val batch = StreamingPipeline.assignClusters(
      (arrivals :+ ((999L, m(60 * 24), "sentinel advances the watermark")))
        .toDF("doc_id", "ts", "text"),
      lakeSh, labels, "ts", "10 minutes")
      .select("doc_id", "cluster_id", "matched_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == got, s"batch=$batch stream=$got")

    // DF-CAP PARITY: the lake index is stop-shingle-capped, so an
    // arrival's shingle count must drop the SAME hot boilerplate before
    // sizing. Doc 103 shares ALL 4 content shingles with lake doc 30
    // but carries 4 boilerplate shingles (+2 bridge shingles): raw
    // sizing gives j = 4/10+4-4 = 0.4 → missed; with the hot list
    // applied, j = 4/(6+4-4) = 0.667 → matched. (Same function on a
    // batch frame — proven ≡ stream above.)
    val lakeSh2 = DedupQueries.shingleHashesOf(
      lakeDocs.unionByName(
        Seq((30L, "red green blue cyan magenta yellow"))
          .toDF("doc_id", "text")), 1000)
    val hot = spark.sql(
      "SELECT explode(array(md5_60('sub now click'), " +
        "md5_60('now click here'), md5_60('click here join'), " +
        "md5_60('here join list'))) AS h")
    val spam = Seq((103L, m(5),
      "red green blue cyan magenta yellow sub now click here join list"))
      .toDF("doc_id", "ts", "text")
    assert(StreamingPipeline.assignClusters(
      spam, lakeSh2, labels, "ts", "10 minutes").count() == 0,
      "uncapped arrival sizing should deflate jaccard below threshold")
    val capped = StreamingPipeline.assignClusters(
        spam, lakeSh2, labels, "ts", "10 minutes", Some(hot))
      .select("doc_id", "cluster_id", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(capped == Seq((103L, 30L, 0.666667)), capped.toString)
  }

  test("streaming media assignment: arriving blobs get persisted lake labels, batch ≡ stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    // a 3-image lake built from REAL PNG round-trips: 10+11 are a
    // near-dup cluster (label 10), 20 is unclustered
    def sig(seed: Long, w: Int, h: Int): Long = {
      val f = Multimodal.imageFeature(seed, Multimodal.synthPng(seed, w, h))
      assert(f.ok); (f.phash_hi << 32) | f.phash_lo
    }
    val lakeSigs = Seq((10L, sig(10, 32, 24)), (11L, sig(11, 32, 24)),
      (20L, sig(20, 48, 16))).toDF("media_id", "phash")
    val labels = Seq((10L, 10L), (11L, 10L)).toDF("doc_id", "cluster_id")
    // a novel seed whose aHash is far (> 3) from every lake image —
    // found deterministically, so the "no match" case is guaranteed
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val lakeHashes = Seq(sig(10, 32, 24), sig(11, 32, 24), sig(20, 48, 16))
    val novelSeed = (1000L to 1100L).find(s =>
      lakeHashes.forall(l => ham(sig(s, 40, 40), l) > 3)).get
    def m(min: Long) = ts(min * 60)
    val arrivals = Seq(
      // pixel-exact copy of lake image 10 → hamming 0 → cluster 10
      (100L, m(1), Multimodal.synthPng(10, 32, 24)),
      // copy of the unclustered image 20 → cluster = the image itself
      (101L, m(2), Multimodal.synthPng(20, 48, 16)),
      // novel image → no candidate within hamming 3 → NO emitted row
      (102L, m(3), Multimodal.synthPng(novelSeed, 40, 40)),
      // corrupt blob → decode drops it, never a task failure
      (103L, m(4), Array[Byte](1, 2, 3)))
    val mem = MemoryStream[(Long, Timestamp, Array[Byte])]
    mem.addData(arrivals)
    mem.addData(Seq((999L, m(60 * 24), Multimodal.synthPng(7, 16, 16))))
    val streamed = StreamingPipeline.assignMediaClusters(
      mem.toDF.toDF("media_id", "ts", "bytes"), lakeSigs, labels,
      "ts", "10 minutes")
    StreamingPipeline.drainAvailableNow(streamed, "media_assign")
    val got = spark.table("media_assign")
      .filter(col("media_id") < 999)
      .select("media_id", "cluster_id", "matched_id", "hamming")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set((100L, 10L, 10L, 0L), (101L, 20L, 20L, 0L)), got)
    // batch ≡ stream: the same function over a batch frame (the
    // watermark is a no-op on batch) yields identical rows
    val batch = StreamingPipeline.assignMediaClusters(
        arrivals.toDF("media_id", "ts", "bytes"), lakeSigs, labels,
        "ts", "10 minutes")
      .select("media_id", "cluster_id", "matched_id", "hamming")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(batch == got, s"batch=$batch stream=$got")
    // HOT-BUCKET PARITY: cutting every band value of lake image 10's
    // signature suppresses the arrival-100 match on BOTH sides of the
    // stream-static join (the df-cap the batch pipeline applies)
    val p10 = sig(10, 32, 24)
    val hot = (0 until 4)
      .map(b => (b, (p10 >> (b * 16)) & 0xffffL)).toDF("b", "v")
    val hotGot = StreamingPipeline.assignMediaClusters(
        arrivals.toDF("media_id", "ts", "bytes"), lakeSigs, labels,
        "ts", "10 minutes", Some(hot))
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(!hotGot.contains(100L),
      s"hot-bucket cut must suppress the crowd-band match: $hotGot")
  }

  test("streaming model serving: stateless IVF assignment over a stream equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.SimilarityQueries
    val dir = "/root/testdata/sf0.001"
    SimilarityQueries.trainIvfCentroids(spark, dir)
    // the trained coarse quantizer is a MODEL (K×64 doubles): ONE
    // broadcast row each arriving vector is scored against array-locally
    // — per-row enrichment, NO shuffle, NO streaming state; this is the
    // serving shape for assigning new corpus arrivals to their inverted
    // list at ingest time, and the same nearest-center expression the
    // Lloyd trainer assigns with
    val model = SimilarityQueries.centersRow(spark,
      spark.read.parquet(SimilarityQueries.ivfModelPath(dir))
        .select("c_id", "cv").as[(Long, Seq[Double])].collect().toSeq)
    def assign(df: org.apache.spark.sql.DataFrame) = df.crossJoin(broadcast(model))
      .select(col("vec_id"), SimilarityQueries.ivfNearest(col("v"), col("cs")).as("c_id"))
    val batch = assign(Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // row-local argmax ≡ the batch max_by assignment (ties to the
    // smaller centroid id in both)
    val maxBy = SimilarityQueries.centroidAssigned(
      SimilarityQueries.centroidScored(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(2))).sorted
    assert(batch.sameElements(maxBy))
    val mem = MemoryStream[(Long, Seq[Double])]
    Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")
      .as[(Long, Seq[Double])].collect().grouped(40)
      .foreach(c => mem.addData(c.toSeq))
    val served = assign(mem.toDF.toDF("vec_id", "v"))
    StreamingPipeline.drainAvailableNow(served, "ivf_serve")
    val streamed = spark.table("ivf_serve")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch))
    // and the stream's plan is stateless: no aggregation state operator
    assert(!served.queryExecution.analyzed.toString.contains("Aggregate"))
  }

  test("streaming vector ingest maintains the inverted file: stream-built equals from-scratch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.SimilarityQueries
    val dir = "/root/testdata/sf0.001"
    SimilarityQueries.trainIvfCentroids(spark, dir)
    def snapshot() = SimilarityQueries.assignmentsFromIndex(spark, dir)
      .selectExpr("vec_id", "c_id", "concat_ws(',', v) AS vs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    SimilarityQueries.dropIvfAssignments(spark, dir)
    SimilarityQueries.trainIvfAssignments(spark, dir)
    val expected = snapshot()
    SimilarityQueries.dropIvfAssignments(spark, dir)
    val rows = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val (first, rest) = rows.splitAt(rows.length / 2)
    // two ingest sessions against ONE checkpoint: the second resumes and
    // processes only the rows added after the first drained — the
    // restart-resume shape a continual ingest actually runs
    val ckpt = tempLake("graft_ivf_ingest")
    val mem = MemoryStream[(Long, Seq[Double])]
    def drain(): Unit =
      StreamingPipeline.ingestVectorsSink(mem.toDF.toDF("vec_id", "v"), dir)
        .option("checkpointLocation", ckpt).start().awaitTermination()
    mem.addData(first.toSeq)
    drain()
    assert(SimilarityQueries.ivfAssignBound(spark, dir)
      == Some(first.last._1 + 1))
    mem.addData(rest.toSeq)
    drain()
    assert(SimilarityQueries.ivfAssignLadder(spark, dir).size == 2,
      "each drained micro-batch must commit exactly one slice")
    // replay safety: a FRESH query (no checkpoint) re-delivers every
    // row; the append drops already-covered ids and commits nothing
    val mem2 = MemoryStream[(Long, Seq[Double])]
    mem2.addData(rows.toSeq)
    StreamingPipeline.ingestVectorsSink(mem2.toDF.toDF("vec_id", "v"), dir)
      .start().awaitTermination()
    assert(SimilarityQueries.ivfAssignLadder(spark, dir).size == 2,
      "replayed rows must not re-commit")
    // the stream-built index is row-for-row the offline one-shot build
    assert(snapshot() == expected)
    // slice compaction composes with live ingest: merging the streamed
    // slices mid-lifecycle changes neither coverage nor a single row,
    // and the sealed read below still equals the one-shot build
    SimilarityQueries.compactIvfSlices(spark, dir,
      SimilarityQueries.ivfAssignBound(spark, dir).get)
    assert(SimilarityQueries.ivfAssignLadder(spark, dir).size == 1,
      "compaction must collapse the streamed slices")
    assert(snapshot() == expected)
    // sealing for full-corpus consumers writes an EMPTY top slice over
    // the already-streamed corpus — reads must survive it (the declared
    // read schema; inference would fail on the file-less slice)
    SimilarityQueries.trainIvfAssignments(spark, dir)
    assert(SimilarityQueries.ivfAssignTrained(spark, dir))
    assert(snapshot() == expected)
  }

  test("vector ingest reads each micro-batch once: numInputRows equals the vectors fed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.SimilarityQueries
    val dir = "/root/testdata/sf0.001"
    SimilarityQueries.trainIvfCentroids(spark, dir)
    SimilarityQueries.dropIvfAssignments(spark, dir)
    val fed = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).take(10)
    val mem = MemoryStream[(Long, Seq[Double])]
    mem.addData(fed.toSeq)
    val q = StreamingPipeline.ingestVectorsSink(mem.toDF.toDF("vec_id", "v"),
        dir)
      .option("checkpointLocation",
        tempLake("graft_ivf_once"))
      .start()
    q.awaitTermination()
    // a foreachBatch body that evaluates its batch twice (a guard pass,
    // then the slice write) reads every source row twice
    assert(q.lastProgress.numInputRows == fed.length.toLong,
      s"the append read ${q.lastProgress.numInputRows} rows for " +
        s"${fed.length} vectors fed")
    assert(SimilarityQueries.ivfAssignBound(spark, dir)
      == Some(fed.last._1 + 1))
    // leave the full-coverage inverted file the other tests read
    SimilarityQueries.trainIvfAssignments(spark, dir)
  }

  test("source-atomic guard: a split source fails fast; a torn guard record degrades to a skipped window, never wedged ingest") {
    import spark.implicits._
    import graft.queries.DedupQueries
    // a private copy of the sf0.001 documents: the test garbles a guard
    // record, which must never touch the shared lake's shingle index
    val dir = tempLakeOf("graft_torn_guard", "documents")
    DedupQueries.dropShingleIndex(spark, dir)
    val docs = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "source", "text",
        "cast(substring(source, 4, 8) AS INT) AS src_num")
      .as[(Long, String, String, Int)].collect()
    def rowsOf(ds: Seq[(Long, String, String, Int)]) =
      ds.map(d => (d._1, d._2, d._3)).toSeq.toDF("doc_id", "source", "text")
    val s5 = docs.filter(_._4 == 5).sortBy(_._1)
    assert(s5.size >= 2, "test needs a multi-doc source")
    // batch 1 SPLITS source 5: everything below 5 plus all of source 5
    // except its max-doc_id tail — the range guards cannot see inside a
    // source, so this commits coverage through src 6
    DedupQueries.appendShingleBatch(spark, dir,
      rowsOf(docs.filter(_._4 < 5).toSeq ++ s5.dropRight(1)))
    assert(DedupQueries.shingleIndexBound(spark, dir) == Some(6))
    // batch 2 delivers the split tail (doc_id above the recorded max for
    // source 5) — the watermark guard must fail fast instead of silently
    // dropping the tail as a replay
    val tailBatch = rowsOf(s5.takeRight(1) ++ docs.filter(_._4 == 6))
    val ex = intercept[IllegalArgumentException] {
      DedupQueries.appendShingleBatch(spark, dir, tailBatch)
    }
    assert(ex.getMessage.contains("SOURCE-ATOMIC"))
    assert(DedupQueries.shingleIndexBound(spark, dir) == Some(6),
      "a fired guard must commit nothing")
    // a TORN guard artifact (crash mid-write) must degrade to a skipped
    // guard window — ingest proceeds — never to a wedged stream
    val rec = java.nio.file.Paths.get(
      s"${DedupQueries.shingleIndexBase(dir)}/watermark-b6.parquet")
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(c => rmTree(c))
      java.nio.file.Files.deleteIfExists(p); ()
    }
    rmTree(rec) // replace the parquet dir with garbage bytes
    java.nio.file.Files.write(rec, Array[Byte](0, 3, 1))
    DedupQueries.appendShingleBatch(spark, dir,
      rowsOf(docs.filter(_._4 == 6).toSeq))
    assert(DedupQueries.shingleIndexBound(spark, dir) == Some(7),
      "a garbled guard artifact must not block ingest")
    DedupQueries.dropShingleIndex(spark, dir)
  }

  test("source-atomic guard closes the interior hole: a split NON-boundary source fails fast on its late tail") {
    import spark.implicits._
    import graft.queries.DedupQueries
    val dir = "/root/testdata/sf0.001"
    DedupQueries.dropShingleIndex(spark, dir)
    val docs = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "source", "text",
        "cast(substring(source, 4, 8) AS INT) AS src_num")
      .as[(Long, String, String, Int)].collect()
    def rowsOf(ds: Seq[(Long, String, String, Int)]) =
      ds.map(d => (d._1, d._2, d._3)).toSeq.toDF("doc_id", "source", "text")
    val s3 = docs.filter(_._4 == 3).sortBy(_._1)
    assert(s3.size >= 2, "test needs a multi-doc interior source")
    // batch 1 splits INTERIOR source 3 (tail withheld) while the batch's
    // boundary source is 6 — the retired boundary-only guard recorded
    // only source 6 and was blind to this; the per-source watermark
    // records every covered source's max doc_id
    DedupQueries.appendShingleBatch(spark, dir,
      rowsOf(docs.filter(d => d._4 < 7 && d._4 != 3).toSeq ++
        s3.dropRight(1)))
    assert(DedupQueries.shingleIndexBound(spark, dir) == Some(7))
    // batch 2 delivers source 3's late tail — pre-watermark this was
    // silently dropped as a "replay" (doc_id below no recorded bound);
    // now the watermark sees doc_id above source 3's recorded max
    val ex = intercept[IllegalArgumentException] {
      DedupQueries.appendShingleBatch(spark, dir,
        rowsOf(s3.takeRight(1) ++ docs.filter(_._4 == 7)))
    }
    assert(ex.getMessage.contains("SOURCE-ATOMIC"))
    assert(DedupQueries.shingleIndexBound(spark, dir) == Some(7),
      "a fired guard must commit nothing")
    // a TRUE replay (whole earlier batch re-delivered, all doc_ids at or
    // below the recorded maxes) must still pass and commit nothing new
    DedupQueries.appendShingleBatch(spark, dir,
      rowsOf(docs.filter(d => d._4 < 7 && d._4 != 3).toSeq ++
        s3.dropRight(1)))
    assert(DedupQueries.shingleIndexBound(spark, dir) == Some(7),
      "a replay must neither fire the guard nor advance coverage")
    DedupQueries.dropShingleIndex(spark, dir)
  }

  test("shingle side artifacts stay bounded: each append retires the prior guard record; gc collects dead-bound censuses after compaction") {
    import spark.implicits._
    import graft.queries.DedupQueries
    val dir = "/root/testdata/sf0.001"
    DedupQueries.dropShingleIndex(spark, dir)
    val docs = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "source", "text",
        "cast(substring(source, 4, 8) AS INT) AS src_num")
      .as[(Long, String, String, Int)].collect()
    def rowsOf(ds: Seq[(Long, String, String, Int)]) =
      ds.map(d => (d._1, d._2, d._3)).toSeq.toDF("doc_id", "source", "text")
    // three source-atomic micro-batches, each advancing the bound —
    // pre-fix, every one left its per-bound guard artifact behind forever
    DedupQueries.appendShingleBatch(spark, dir,
      rowsOf(docs.filter(_._4 < 3).toSeq))
    DedupQueries.appendShingleBatch(spark, dir,
      rowsOf(docs.filter(d => d._4 >= 3 && d._4 < 5).toSeq))
    DedupQueries.appendShingleBatch(spark, dir,
      rowsOf(docs.filter(d => d._4 >= 5 && d._4 < 7).toSeq))
    assert(DedupQueries.shingleIndexBound(spark, dir) == Some(7))
    val baseDir = new java.io.File(DedupQueries.shingleIndexBase(dir))
    def sides(prefix: String): Seq[String] =
      Option(baseDir.list()).toSeq.flatten.filter(_.startsWith(prefix)).sorted
    assert(sides("watermark-b") == Seq("watermark-b7.parquet"),
      "a long-lived stream must not accumulate one guard artifact per batch")
    // censuses are keyed to committed bounds: one per live ladder entry
    assert(sides("census-b").size == 3)
    // collapse the ladder, quiesce, gc: the dead bounds' censuses (and
    // the trashed slices) are collected; the live bound's census stays
    DedupQueries.compactShingleSlices(spark, dir, 7)
    DedupQueries.gcShingleIndex(spark, dir)
    assert(sides("census-b") == Seq("census-b7.parquet"),
      "gc must collect censuses at dead bounds and keep the live one")
    assert(sides("watermark-b") == Seq("watermark-b7.parquet"),
      "the live bound's guard artifact must survive gc")
    // the index still reads and appends fine after gc
    assert(DedupQueries.shingleHashesFromIndex(spark, dir).count() > 0)
    DedupQueries.appendShingleBatch(spark, dir,
      rowsOf(docs.filter(_._4 == 7).toSeq))
    assert(DedupQueries.shingleIndexBound(spark, dir) == Some(8))
    // a watermark write that crashed between parquet dump and rename
    // leaves a .tmp-watermark-* dir nothing reads — gc must age it out
    // (and must NOT touch the live watermark while doing so)
    val torn = new java.io.File(baseDir, ".tmp-watermark-b9.parquet")
    assert(torn.mkdir())
    java.nio.file.Files.write(torn.toPath.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    DedupQueries.gcShingleIndex(spark, dir)
    assert(!torn.exists(),
      "gc must collect a crashed watermark write's .tmp dir")
    assert(sides("watermark-b") == Seq("watermark-b8.parquet"),
      "the live watermark must survive the .tmp collection")
    DedupQueries.dropShingleIndex(spark, dir)
  }

  test("streaming document ingest maintains the shingle index: stream-built equals from-scratch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.DedupQueries
    val dir = "/root/testdata/sf0.001"
    def snapshot() = DedupQueries.shingleHashesFromIndex(spark, dir)
      .select("doc_id", "src_num", "h")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    DedupQueries.dropShingleIndex(spark, dir)
    DedupQueries.trainShingleIndex(spark, dir)
    val expected = snapshot()
    assert(expected.nonEmpty)
    DedupQueries.dropShingleIndex(spark, dir)
    // SOURCE-ATOMIC micro-batches (whole sources per batch — the text
    // modality's producer contract; see appendShingleBatch)
    val docs = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "source", "text",
        "cast(substring(source, 4, 8) AS INT) AS src_num")
      .as[(Long, String, String, Int)].collect()
    val srcMax = docs.map(_._4).max
    val cut = srcMax / 2
    def rows(lo: Int, hi: Int): Seq[(Long, String, String)] =
      docs.filter(d => d._4 >= lo && d._4 <= hi)
        .map(d => (d._1, d._2, d._3)).toSeq
    // two ingest sessions against ONE checkpoint: the second resumes
    // and processes only the sources added after the first drained
    val ckpt = tempLake("graft_docs_ingest")
    val mem = MemoryStream[(Long, String, String)]
    def drain(): Unit =
      StreamingPipeline.ingestDocsSink(
          mem.toDF.toDF("doc_id", "source", "text"), dir)
        .option("checkpointLocation", ckpt).start().awaitTermination()
    mem.addData(rows(0, cut))
    drain()
    assert(DedupQueries.shingleIndexBound(spark, dir) == Some(cut + 1))
    mem.addData(rows(cut + 1, srcMax))
    drain()
    assert(DedupQueries.shingleIndexLadder(spark, dir).size == 2,
      "each drained micro-batch must commit exactly one slice")
    // replay safety: a FRESH query (no checkpoint) re-delivers every
    // row; the append drops already-covered sources and commits nothing
    val mem2 = MemoryStream[(Long, String, String)]
    mem2.addData(rows(0, srcMax))
    StreamingPipeline.ingestDocsSink(
        mem2.toDF.toDF("doc_id", "source", "text"), dir)
      .start().awaitTermination()
    assert(DedupQueries.shingleIndexLadder(spark, dir).size == 2,
      "replayed sources must not re-commit")
    // stream-built index reads row-for-row like the offline one-shot
    // build: mid-ladder slices were capped against PARTIAL censuses,
    // and the reader's anti-join against the final census drops exactly
    // the late-crossing rows (the monotone-hot exactness argument — now
    // proven for the streaming writer too, same reader)
    assert(snapshot() == expected)
    // sealing for full-corpus consumers (shingleHashesCached) appends
    // an EMPTY top slice over the already-streamed corpus — reads must
    // survive it and the census must carry over unchanged
    DedupQueries.trainShingleIndex(spark, dir)
    assert(DedupQueries.shingleIndexTrained(spark, dir))
    assert(snapshot() == expected)
  }

  test("streaming media ingest maintains the signature index: stream-built equals from-scratch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.MultimodalQueries
    val dir = "/root/testdata/sf0.001"
    def snapshot() = MultimodalQueries.Image.index(dir).read(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    MultimodalQueries.Image.index(dir).drop(spark)
    MultimodalQueries.Image.index(dir).train(spark)
    val expected = snapshot()
    MultimodalQueries.Image.index(dir).drop(spark)
    // the stream carries REAL blob bytes (the crawler-fetch shape) —
    // synthesize them driver-side from the same dims the lake uses
    val rows = Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long].collect().sorted
      .map { id =>
        val w = (16 + (id % 6) * 8).toInt; val h = (16 + (id % 4) * 8).toInt
        (id, graft.operators.Multimodal.synthPng(id, w, h))
      }
    val (first, rest) = rows.splitAt(rows.length / 2)
    // two ingest sessions against ONE checkpoint: the second resumes
    // and hashes only the blobs added after the first drained
    val ckpt = tempLake("graft_media_ingest")
    val mem = MemoryStream[(Long, Array[Byte])]
    def drain(): Unit =
      StreamingPipeline.ingestMediaSink(mem.toDF.toDF("media_id", "bytes"), dir,
        MultimodalQueries.Image)
        .option("checkpointLocation", ckpt).start().awaitTermination()
    mem.addData(first.toSeq)
    drain()
    assert(MultimodalQueries.Image.index(dir).bound(spark)
      == Some(first.last._1 + 1))
    mem.addData(rest.toSeq)
    drain()
    assert(MultimodalQueries.Image.index(dir).ladder(spark).size == 2,
      "each drained micro-batch must commit exactly one slice")
    // replay safety: a FRESH query (no checkpoint) re-delivers every
    // blob; the append drops already-covered ids and commits nothing
    val mem2 = MemoryStream[(Long, Array[Byte])]
    mem2.addData(rows.toSeq)
    StreamingPipeline.ingestMediaSink(mem2.toDF.toDF("media_id", "bytes"), dir,
        MultimodalQueries.Image)
      .start().awaitTermination()
    assert(MultimodalQueries.Image.index(dir).ladder(spark).size == 2,
      "replayed blobs must not re-commit")
    // the stream-built index is row-for-row the offline one-shot build
    assert(snapshot() == expected)
    // sealing for full-corpus consumers writes an EMPTY top slice over
    // the already-streamed corpus — reads must survive it
    MultimodalQueries.Image.index(dir).train(spark)
    assert(MultimodalQueries.Image.index(dir).trained(spark))
    assert(snapshot() == expected)
  }

  test("streaming audio ingest maintains the fingerprint index: stream-built equals from-scratch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.MultimodalQueries
    import graft.operators.Multimodal
    val dir = "/root/testdata/sf0.001"
    def snapshot() = MultimodalQueries.Audio.index(dir).read(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    MultimodalQueries.Audio.index(dir).drop(spark)
    MultimodalQueries.Audio.index(dir).train(spark)
    val expected = snapshot()
    MultimodalQueries.Audio.index(dir).drop(spark)
    // the stream carries the same framed PCM blobs the lake generates
    val rows = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "cast(200 + (doc_id % 7) * 48 AS INT) AS n")
      .as[(Long, Int)].collect().sorted
    val mem = MemoryStream[(Long, Int)]
    mem.addData(rows.toSeq)
    val blobs = Multimodal.encodeSynthPcmPartitioned(
      mem.toDF.toDF("doc_id", "n"), "doc_id", "n")
    StreamingPipeline.ingestMediaSink(blobs, dir,
        MultimodalQueries.Audio).start().awaitTermination()
    assert(MultimodalQueries.Audio.index(dir).trained(spark) ||
      MultimodalQueries.Audio.index(dir).bound(spark) == Some(rows.last._1 + 1))
    assert(snapshot() == expected,
      "stream-built audio index diverged from the offline build")
    // replaying the whole corpus against the committed index is a no-op
    val before = MultimodalQueries.Audio.index(dir).ladder(spark)
    val mem2 = MemoryStream[(Long, Int)]
    mem2.addData(rows.toSeq)
    StreamingPipeline.ingestMediaSink(Multimodal.encodeSynthPcmPartitioned(
        mem2.toDF.toDF("doc_id", "n"), "doc_id", "n"), dir,
        MultimodalQueries.Audio)
      .start().awaitTermination()
    assert(MultimodalQueries.Audio.index(dir).ladder(spark) == before,
      "replayed blobs must not re-commit")
    // seal for full-corpus consumers; reads survive the empty top slice
    MultimodalQueries.Audio.index(dir).train(spark)
    assert(snapshot() == expected)
  }

  test("streaming video ingest maintains the signature index: stream-built equals from-scratch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.MultimodalQueries
    import graft.operators.Multimodal
    val dir = "/root/testdata/sf0.001"
    def snapshot() = MultimodalQueries.Video.index(dir).read(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    MultimodalQueries.Video.index(dir).drop(spark)
    MultimodalQueries.Video.index(dir).train(spark)
    val expected = snapshot()
    MultimodalQueries.Video.index(dir).drop(spark)
    // the stream carries the same framed video blobs the lake generates
    val rows = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "cast(20 + doc_id % 11 AS INT) AS n")
      .as[(Long, Int)].collect().sorted
    val mem = MemoryStream[(Long, Int)]
    mem.addData(rows.toSeq)
    val blobs = Multimodal.encodeSynthVideoPartitioned(
      mem.toDF.toDF("doc_id", "n"), "doc_id", "n")
    StreamingPipeline.ingestMediaSink(blobs, dir,
        MultimodalQueries.Video).start().awaitTermination()
    assert(MultimodalQueries.Video.index(dir).trained(spark) ||
      MultimodalQueries.Video.index(dir).bound(spark) == Some(rows.last._1 + 1))
    assert(snapshot() == expected,
      "stream-built video index diverged from the offline build")
    // replaying the whole corpus against the committed index is a no-op
    val before = MultimodalQueries.Video.index(dir).ladder(spark)
    val mem2 = MemoryStream[(Long, Int)]
    mem2.addData(rows.toSeq)
    StreamingPipeline.ingestMediaSink(Multimodal.encodeSynthVideoPartitioned(
        mem2.toDF.toDF("doc_id", "n"), "doc_id", "n"), dir,
        MultimodalQueries.Video)
      .start().awaitTermination()
    assert(MultimodalQueries.Video.index(dir).ladder(spark) == before,
      "replayed blobs must not re-commit")
    // seal for full-corpus consumers; reads survive the empty top slice
    MultimodalQueries.Video.index(dir).train(spark)
    assert(snapshot() == expected)
  }

  test("live video ingest under tiered maintenance: per-drain compactTiered keeps the ladder shallow, rows exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.MultimodalQueries
    import graft.operators.Multimodal
    // the production maintenance loop: drain a micro-batch, run the
    // size-tiered merge, repeat — ingest and maintenance interleave on
    // one artifact and the read stays row-for-row the offline build
    // while the ladder depth stays logarithmic in the batch count
    val dir = "/root/testdata/sf0.001"
    def snapshot() = MultimodalQueries.Video.index(dir).read(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    MultimodalQueries.Video.index(dir).drop(spark)
    MultimodalQueries.Video.index(dir).train(spark)
    val expected = snapshot()
    MultimodalQueries.Video.index(dir).drop(spark)
    val rows = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "cast(20 + doc_id % 11 AS INT) AS n")
      .as[(Long, Int)].collect().sorted
    val chunks = rows.grouped(math.max(1, rows.length / 8)).toSeq
    val ckpt = tempLake("graft_video_ingest")
    val mem = MemoryStream[(Long, Int)]
    chunks.foreach { c =>
      mem.addData(c.toSeq)
      StreamingPipeline.ingestMediaSink(Multimodal.encodeSynthVideoPartitioned(
            mem.toDF.toDF("doc_id", "n"), "doc_id", "n"), dir,
        MultimodalQueries.Video)
        .option("checkpointLocation", ckpt).start().awaitTermination()
      MultimodalQueries.Video.index(dir).compactTiered(spark, minRun = 2)
    }
    assert(MultimodalQueries.Video.index(dir).bound(spark)
      == Some(rows.last._1 + 1))
    val depth = MultimodalQueries.Video.index(dir).ladder(spark).size
    assert(depth <= 5,
      s"tiered maintenance must keep the ladder shallow, got depth $depth")
    assert(snapshot() == expected,
      "ingest interleaved with tiered merges diverged from the offline build")
    // sealing still works over the maintained ladder
    MultimodalQueries.Video.index(dir).train(spark)
    assert(snapshot() == expected)
  }

  test("streaming sketch maintenance: Count-Min cells over a stream equal the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.TextQueries
    val dir = "/root/testdata/sf0.001"
    val termsOf = (df: org.apache.spark.sql.DataFrame) =>
      df.selectExpr("explode(split(trim(text), '\\\\s+')) AS tok")
        .selectExpr("lower(tok) AS term")
    val batchCells = TextQueries.countMinCells(
      termsOf(Tables(spark, dir, "documents").select("text")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    // the sketch IS the streaming state: a grouped count over (j, b) —
    // bounded at depth×width = 1024 rows however long the stream runs,
    // exactly the mergeability that makes CM the streaming frequency
    // summary; complete-mode memory sink exposes the final cells
    val mem = MemoryStream[String]
    Tables(spark, dir, "documents").select("text").as[String]
      .collect().grouped(64).foreach(c => mem.addData(c.toSeq))
    val streamCells = TextQueries.countMinCells(termsOf(mem.toDF.toDF("text")))
    val q = streamCells.writeStream.format("memory").queryName("cm_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("cm_stream")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batchCells))
    assert(streamed.length <= 1024, "CM state exceeded its depth x width bound")
  }

  test("streaming model serving: unigram tokenization over a stream equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.{Registry, TextQueries}
    val dir = "/root/testdata/sf0.001"
    TextQueries.trainUnigramPieces(spark, dir)
    // trained piece map baked into ONE expression: each arriving document
    // Viterbi-segments row-locally on integer costs — no join, no state
    val st = TextQueries.unigramTokenStatsExpr(spark, dir, "text")
    val batch = Registry.byName("q_unigram_tokenize").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val mem = MemoryStream[(Long, String)]
    Tables(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().grouped(64)
      .foreach(c => mem.addData(c.toSeq))
    val served = mem.toDF.toDF("doc_id", "text")
      .selectExpr("doc_id", s"($st).n AS n_pieces")
    StreamingPipeline.drainAvailableNow(served, "unigram_serve")
    val streamed = spark.table("unigram_serve")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch))
    // stateless serving: no Aggregate state operator in the plan
    assert(!served.queryExecution.analyzed.toString.contains("Aggregate "))
  }

  test("streaming model serving: BPE tokenization over a stream equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.{Registry, TextQueries}
    val dir = "/root/testdata/sf0.001"
    TextQueries.trainBpeMerges(spark, dir)
    // trained merge table baked into ONE expression: each arriving
    // document tokenizes row-locally (unseen words fold up from
    // characters — real BPE inference), no join, no streaming state
    val servedExpr =
      TextQueries.bpeTokenCountExpr(spark, dir, "text") + " AS n_bpe_tokens"
    val batch = Registry.byName("q_bpe_tokenize").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val mem = MemoryStream[(Long, String)]
    Tables(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().grouped(64)
      .foreach(c => mem.addData(c.toSeq))
    val served = mem.toDF.toDF("doc_id", "text")
      .selectExpr("doc_id", servedExpr)
    StreamingPipeline.drainAvailableNow(served, "bpe_serve")
    val streamed = spark.table("bpe_serve")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch))
    // stateless serving: no Aggregate operator in the plan (the SQL
    // `aggregate(...)` higher-order fold prints lowercase — row-local,
    // not a state store)
    assert(!served.queryExecution.analyzed.toString.contains("Aggregate "))
  }

  test("streaming model serving: frozen CCNet gate over a stream equals batch verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.{Registry, TextQueries}
    val dir = "/root/testdata/sf0.001"
    // train on the batch corpus, freeze the LM + tercile cuts as a
    // serving artifact (map literals + two scalar cut points): each
    // arriving document is then scored and gated ROW-LOCALLY — the
    // pretraining-ingest shape where the corpus-wide model is fit
    // offline and new crawl arrivals stream through the frozen gate
    val (lpExpr, cHead, cTail) = TextQueries.ccnetServeModel(spark, dir, "text")
    val qExpr = TextQueries.qualityScoreExpr("text")
    val batch = Registry.byName("q_ccnet_filter").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).sorted
    val mem = MemoryStream[(Long, String)]
    Tables(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().grouped(64)
      .foreach(c => mem.addData(c.toSeq))
    val served = mem.toDF.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", s"$lpExpr AS logprob")
      .selectExpr("doc_id", "logprob",
        s"""CASE WHEN logprob >= ${cHead}D THEN 'head'
                 WHEN logprob >= ${cTail}D THEN 'middle'
                 ELSE 'tail' END AS ppl_bucket""",
        s"$qExpr AS quality_score",
        s"(logprob >= ${cTail}D AND $qExpr >= 0.5D) AS keep")
    StreamingPipeline.drainAvailableNow(served, "ccnet_serve")
    val streamed = spark.table("ccnet_serve")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch))
    // stateless serving: no aggregation state operator in the plan (the
    // SQL `aggregate(...)` higher-order fold prints lowercase)
    assert(!served.queryExecution.analyzed.toString.contains("Aggregate "))
  }

  test("streaming model serving: frozen NB quality classifier over a stream equals batch scores") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.{Registry, TextQueries}
    val dir = "/root/testdata/sf0.001"
    // fit the classifier on the batch corpus, freeze model + prior as a
    // 256-entry map literal: arriving documents score ROW-LOCALLY; the
    // hash-split membership is row-local too, so the full held-out gate
    // (split filter → NB score → verdict) runs statelessly in-stream
    val scoreExpr = TextQueries.nbServeModel(spark, dir, "text")
    val batch = Registry.byName("q_quality_classifier").fn(spark, dir)
      .select("doc_id", "score", "pred")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      .sorted
    val mem = MemoryStream[(Long, String)]
    Tables(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().grouped(64)
      .foreach(c => mem.addData(c.toSeq))
    val served = mem.toDF.toDF("doc_id", "text")
      .filter("md5_60(cast(doc_id AS STRING)) % 10 >= 8")
      .selectExpr("doc_id", s"$scoreExpr AS score")
      .selectExpr("doc_id", "score", "score > 0 AS pred")
    StreamingPipeline.drainAvailableNow(served, "nb_serve")
    val streamed = spark.table("nb_serve")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      .sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch))
    // stateless serving: no aggregation state operator in the plan (the
    // SQL `aggregate(...)` higher-order fold prints lowercase)
    assert(!served.queryExecution.analyzed.toString.contains("Aggregate "))
  }

  test("streaming model serving: image near-dup probe against a frozen corpus index equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    // the image-ingest gate: a crawler's NEW blobs stream in, decode
    // executor-side, and probe the FROZEN corpus banding index via a
    // stream-static join — the image analogue of the CCNet/BPE serving
    // twins. Corpus = the sf0.001 synth images; arrivals = 20 re-crawled
    // copies (same pixels, new ids) + 10 fresh images.
    def dims(seed: Long) = ((16 + (seed % 6) * 8).toInt, (16 + (seed % 4) * 8).toInt)
    val corpusIds = (0L until 50L).toSeq
    val corpusBlobs = corpusIds.map { id =>
      val (w, h) = dims(id); (id, Multimodal.synthPng(id, w, h))
    }
    val arrivals = corpusIds.take(20).map { id =>
      val (w, h) = dims(id); (id + 100000L, Multimodal.synthPng(id, w, h))
    } ++ (0L until 10L).map { i =>
      val (w, h) = dims(i); (200000L + i, Multimodal.synthPng(7777L + i, w, h))
    }
    // frozen index: corpus signatures exploded to (b, v) band keys — a
    // static table the stream joins per micro-batch (no state)
    val corpusSigs = Multimodal.perceptualHashImagePartitioned(
      corpusBlobs.toDF("media_id", "bytes"))
    val bandStructs = (0 until 4).map(b =>
      s"named_struct('b', $b, 'v', shiftright(phash, ${b * 16}) & 65535)")
      .mkString(", ")
    val index = corpusSigs.toDF()
      .selectExpr("media_id AS corpus_id", "phash AS corpus_phash",
        s"explode(array($bandStructs)) AS band")
      .selectExpr("corpus_id", "corpus_phash", "band.b AS b", "band.v AS v")
    // batch truth: banded near-dups over corpus ∪ arrivals, restricted to
    // corpus × new pairs (the ingest gate only probes vs the corpus)
    val unionSigs = Multimodal.perceptualHashImagePartitioned(
      (corpusBlobs ++ arrivals).toDF("media_id", "bytes"))
    val batch = Multimodal.mediaNearDups(unionSigs)
      .filter(col("id_a") < 100000L && col("id_b") >= 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    // the stream: blobs arrive, decode per partition, probe the index
    val mem = MemoryStream[(Long, Array[Byte])]
    arrivals.grouped(10).foreach(c => mem.addData(c.toSeq))
    val streamSigs = Multimodal.perceptualHashImagePartitioned(
      mem.toDF.toDF("media_id", "bytes")).toDF()
      .selectExpr("media_id", "phash",
        s"explode(array($bandStructs)) AS band")
      .selectExpr("media_id", "phash", "band.b AS b", "band.v AS v")
    val flagged = streamSigs.join(index, Seq("b", "v"))
      .filter(expr("bit_count(phash ^ corpus_phash) <= 3"))
      .select(col("corpus_id").as("id_a"), col("media_id").as("id_b"))
    StreamingPipeline.drainAvailableNow(flagged, "media_ingest_probe")
    // a pair matching on several bands emits several times — pair-level
    // exactly-once would reuse the dedupByContent watermark pattern; the
    // serving shape under test here is the STATELESS decode + probe
    val streamed = spark.table("media_ingest_probe")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streamed ingest flags ${streamed.size} pairs, batch says ${batch.size}")
    // every re-crawled copy was caught against its original…
    assert(corpusIds.take(20).forall(id => streamed.contains((id, id + 100000L))))
    // …and the probe plan holds no aggregation state
    assert(!flagged.queryExecution.analyzed.toString.contains("Aggregate "))
  }

  test("streaming media ingest: framed audio features over a blob stream equal batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    val dir = "/root/testdata/sf0.001"
    // the multimodal ingest shape: blobs arrive on the stream and the
    // WHOLE decode→frame→feature path is pure row-local expressions —
    // no model, no join, no streaming state; petabytes of waveform in,
    // fixed-width frame rows out, at ingest time
    val dims = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        (lit(200) + (col("doc_id") % 7) * 48).cast("int").as("n"))
    val blobs = Multimodal.encodeSynthPcmPartitioned(dims, "doc_id", "n")
    val batch = Multimodal.pcmFrameFeatures(blobs)
      .collect().map(_.toString).sorted
    val mem = MemoryStream[(Long, Array[Byte])]
    blobs.as[(Long, Array[Byte])].collect().grouped(64)
      .foreach(c => mem.addData(c.toSeq))
    val served = Multimodal.pcmFrameFeatures(
      mem.toDF.toDF("media_id", "bytes"))
    StreamingPipeline.drainAvailableNow(served, "audio_serve")
    val streamed = spark.table("audio_serve")
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch))
    // stateless ingest: no Aggregate operator in the plan (the energy
    // fold is the lowercase `aggregate(...)` higher-order function —
    // row-local, not a state store)
    assert(!served.queryExecution.analyzed.toString.contains("Aggregate "))
  }

  test("streaming twin: q_dedup_exact — online dedup survivors = batch canonicals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // the corpus plus a RE-CRAWL of its first 100 docs (same text, new
    // doc_ids) — the ingest case the online dedup exists for; the synth
    // corpus itself has no exact dups, so the replay provides the drops
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect()
    val arriving = docs ++ docs.take(100).map { case (id, t) => (id + 10000L, t) }
    // batch truth, same rule as q_dedup_exact: one canonical per content
    // fingerprint — here, every distinct fingerprint keeps exactly one doc
    // and every re-crawled copy dedups away
    val fpByDoc = arriving.toSeq.toDF("doc_id", "text")
      .withColumn("fp", expr("md5(lower(trim(text)))"))
      .select("doc_id", "fp").as[(Long, String)].collect().toMap
    val batchFps = fpByDoc.values.toSet
    assert(batchFps.size < arriving.length) // the replay really dedups
    val mem = MemoryStream[(Long, String)]
    arriving.grouped(100).foreach(c => mem.addData(c.toSeq))
    // synthetic monotone event time: the whole corpus spans < 1 ms of
    // event time, far inside the 10 s lateness horizon, so no fingerprint
    // state expires mid-run and the online dedup is exact. Base offset
    // matters: the initial watermark is epoch 0, and a row whose event
    // time TIES the watermark is late — timestamp_micros(0) would drop
    // doc 0 on arrival
    val src = mem.toDF.toDF("doc_id", "text")
      .withColumn("ts", expr("timestamp_micros(1000000000000 + doc_id)"))
    val out = StreamingPipeline.dedupByContent(src, "text", "ts", "10 seconds")
    StreamingPipeline.drainAvailableNow(out, "dedup_exact_stream")
    val streamed = spark.table("dedup_exact_stream")
      .select("doc_id").as[Long].collect().sorted
    // WHICH same-fp row survives within a micro-batch is scheduling-
    // dependent (after the shuffle on fp, in-partition row order is map-
    // output fetch order, which Spark does not contractually guarantee) —
    // so assert the order-INDEPENDENT invariant: exactly one survivor per
    // distinct fingerprint, jointly covering the batch fingerprint set
    val streamedFps = streamed.map(fpByDoc)
    assert(streamed.nonEmpty)
    assert(streamedFps.length == streamedFps.distinct.length,
      "online dedup emitted two docs with the same fingerprint")
    assert(streamedFps.toSet == batchFps,
      "online dedup survivors do not cover the batch fingerprint set")
  }

  test("H4 durable offsets: checkpointed file stream processes each file once") {
    import spark.implicits._
    val work = tempLake("graft_ckpt")
    new java.io.File(s"$work/in").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/in/a.json"), """{"k":"a","v":1}""")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(s"$work/in")
        .writeStream.format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    // add one more file, run AGAIN with the same checkpoint
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/in/b.json"), """{"k":"b","v":2}""")
    runOnce()
    val out = spark.read.parquet(s"$work/out")
    // exactly-once per file: a.json not reprocessed on the second run
    assert(out.count() == 2)
    assert(out.select("k").as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("RocksDB state store: keyed state survives a query restart from checkpoint") {
    import spark.implicits._
    import graft.streaming.KeyedValue
    implicit val sqlCtx = spark.sqlContext
    // the provider under test is the session-wide production choice
    // (Sessions.local and this suite set the same conf) — assert it so a
    // future conf regression fails HERE, not silently back onto the
    // heap-backed default this test exists to retire
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
      .endsWith(".FileSystemBasedCheckpointFileManager"))
    val work = tempLake("graft_rocksdb")
    val mem = MemoryStream[KeyedValue]
    def runOnce(): Unit = {
      val q = StreamingPipeline.latestPerKeyState(mem.toDS(), "1 hour")
        .toDF.writeStream.format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    mem.addData(KeyedValue("A", ts(100), 1L, 1.0))
    runOnce()
    // RESTART from the same checkpoint with an OLDER observation: if the
    // per-key state (A → ts=100, 1.0) survived in RocksDB, the ts=50 row
    // must NOT displace it and the newest re-emits unchanged; a provider
    // that lost state would emit (A, 2.0) — exactly the corruption a
    // restarted 100 TB latest-per-key stream cannot afford
    mem.addData(KeyedValue("A", ts(50), 2L, 2.0))
    runOnce()
    val rows = spark.read.parquet(s"$work/out")
      .select("key", "ts", "value")
      .as[(String, Timestamp, Double)].collect().toSeq
    assert(rows.size == 2 && rows.forall(_ == ("A", ts(100), 1.0)),
      s"state lost across restart: $rows")
    // and the state really is RocksDB-format: changelog deltas / zip
    // snapshots under the checkpoint's state dir (the heap provider
    // writes .delta/.snapshot instead)
    val stateFiles = {
      val b = Seq.newBuilder[String]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
          .foreach(walk)
        else b += f.getName
      walk(new java.io.File(s"$work/ckpt/state"))
      b.result()
    }
    assert(stateFiles.exists(n =>
      n.endsWith(".changelog") || n.endsWith(".zip")),
      s"no RocksDB changelog/snapshot files in checkpoint: $stateFiles")
  }

  test("RocksDB keeps keyed state off the JVM heap (the mechanism, asserted)") {
    // at an identical keyset, the heap provider's state lives ON the JVM heap (its
    // memoryUsedBytes tracks the keyspace and the heap grows with it)
    // while RocksDB's on-heap share stays near-flat — the mechanism the
    // 100 TB latest-per-key design depends on. Margins are generous
    // (4x ratio, with a flat-size escape hatch) because the heap deltas
    // are GC-sampled.
    val nKeys = 80000
    val rs = measure(nKeys, nBatches = 2)
      .map(r => r.label -> r).toMap
    val rocks = rs("rocksdb"); val heap = rs("hdfs-heap")
    // both providers really held the whole keyspace
    assert(rocks.rowsTotal == nKeys && heap.rowsTotal == nKeys,
      s"state rows diverged from the keyspace: $rs")
    // the heap provider's own telemetry says the state is heap-resident
    // and keyspace-proportional (>100 B/key is far under the real
    // ~0.8 KB/key, so this never flakes)
    assert(heap.stateMemBytes > nKeys * 100L,
      s"heap provider reported implausibly small state: $heap")
    // the claim: RocksDB's JVM-heap growth is a small fraction of the
    // heap provider's (or absolutely flat — the escape hatch keeps a
    // noisy GC sample from failing a true result)
    val mb = 1048576L
    assert(rocks.heapDeltaBytes * 4 < heap.heapDeltaBytes ||
      rocks.heapDeltaBytes < 32L * mb,
      s"RocksDB state appears heap-resident: rocks=${rocks.heapDeltaBytes / mb}MB " +
        s"heap-provider=${heap.heapDeltaBytes / mb}MB")
  }

  test("upsertSink: insert-if-absent across micro-batches and re-runs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = tempLake("graft_upsert") + "/tbl"
    val mem = MemoryStream[(String, Long, Double)]
    mem.addData(("A", 1L, 10.0), ("A", 1L, 99.0), ("B", 2L, 20.0))
    val w = StreamingPipeline.upsertSink(
      mem.toDF.toDF("sym", "seq", "v"), Seq("sym", "seq"), target)
    w.start().awaitTermination()
    // second run re-sends A and adds C — only C lands
    val mem2 = MemoryStream[(String, Long, Double)]
    mem2.addData(("A", 1L, 555.0), ("C", 3L, 30.0))
    StreamingPipeline.upsertSink(
      mem2.toDF.toDF("sym", "seq", "v"), Seq("sym", "seq"), target)
      .start().awaitTermination()
    val rows = spark.read.parquet(target).orderBy("sym")
      .select("sym", "v").as[(String, Double)].collect()
    assert(rows.length == 3)
    // cross-batch conflict (555.0) always rejected; the in-batch survivor
    // for A (10.0 vs 99.0) is unspecified — dedup upstream for determinism
    assert(Set(10.0, 99.0).contains(rows(0)._2) && rows(0)._1 == "A")
    assert(rows(1) == ("B", 20.0))
    assert(rows(2) == ("C", 30.0))
  }
}
