package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Connectors
import graft.operators.Multimodal

class ConnectorsSpec extends SparkSpec with TempLakes {

  private def tmp() = tempLake("graft_conn")

  test("readCsv: declared schema + latin-1 encoding, coerced nulls") {
    val dir = tmp()
    val csv = "sym,price,name\nPETR4,10.5,Petrobrás\nVALE3,notanum,Ação\n"
    Files.write(Paths.get(s"$dir/q.csv"),
      csv.getBytes(StandardCharsets.ISO_8859_1))
    val schema = StructType(Seq(
      StructField("sym", StringType), StructField("price", DoubleType),
      StructField("name", StringType)))
    val df = Connectors.readCsv(spark, s"$dir/q.csv", schema, "ISO-8859-1")
    val rows = df.orderBy("sym").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(2) == "Petrobrás") // latin-1 decoded
    assert(rows(1).isNullAt(1)) // "notanum" → null, pandas-coerce parity
  }

  test("writeDatePartitionedJson: Y/M/D partition dirs exist and prune") {
    import spark.implicits._
    val dir = tmp() + "/zone"
    val df = Seq(
      ("a", java.sql.Timestamp.valueOf("2026-01-05 10:00:00")),
      ("b", java.sql.Timestamp.valueOf("2026-02-06 10:00:00"))
    ).toDF("k", "ts")
    Connectors.writeDatePartitionedJson(df, dir, "ts")
    assert(new java.io.File(s"$dir/y=2026/m=01/d=05").exists())
    val back = spark.read.json(dir).filter(col("m") === "02")
    assert(back.select("k").as[String].collect().toSeq == Seq("b"))
  }

  test("upsertParquet: only new keys land; in-batch dups collapse") {
    import spark.implicits._
    val target = tmp() + "/tbl"
    Connectors.upsertParquet(
      Seq(("A", 1L, 1.0), ("A", 1L, 9.9), ("B", 2L, 2.0))
        .toDF("k", "seq", "v"), Seq("k", "seq"), target)
    Connectors.upsertParquet(
      Seq(("A", 1L, 7.7), ("C", 3L, 3.0)).toDF("k", "seq", "v"),
      Seq("k", "seq"), target)
    val rows = spark.read.parquet(target).orderBy("k")
      .select("k", "v").as[(String, Double)].collect()
    assert(rows.length == 3)
    assert(rows(0)._1 == "A" && rows(0)._2 != 7.7) // conflict rejected
    assert(rows(2) == ("C", 3.0))
  }

  test("multimodal: header roundtrip + frame sampling") {
    import spark.implicits._
    val media = Multimodal.encodeFake(
      Seq((1L, 640, 480, "payloadbytes"), (2L, 0, 0, ""))
        .toDF("media_id", "w", "h", "payload"), "w", "h", "payload")
    val meta = Multimodal.extractMeta(media).orderBy("media_id").collect()
    assert(meta(0).getAs[Boolean]("is_valid"))
    assert(meta(0).getAs[Int]("width") == 640)
    assert(meta(0).getAs[Int]("height") == 480)
    assert(meta(0).getAs[Long]("payload_bytes") == 12L)
    assert(meta(1).getAs[Long]("payload_bytes") == 0L)
    val frames = Multimodal.frameSample(media.filter(col("media_id") === 1), 4)
    assert(frames.count() == 3) // offsets 13,17,21 over 12 payload bytes
    // empty payload must yield zero frames, not an illegal-sequence crash
    assert(Multimodal.frameSample(media, 4).count() == 3)
  }

  test("incrementalScan: cursor advances, only fresh rows emitted, idempotent when drained") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(("a", t("2026-01-01 10:00:00")), ("b", t("2026-01-01 11:00:00")),
      ("c", t("2026-01-01 12:00:00"))).toDF("k", "ts")
    val (all, c1) = Connectors.incrementalScan(df, "ts", None)
    assert(all.count() == 3 && c1.contains(t("2026-01-01 12:00:00")))
    val (fresh, c2) = Connectors.incrementalScan(df, "ts", Some(t("2026-01-01 10:30:00")))
    assert(fresh.select("k").as[String].collect().sorted.toSeq == Seq("b", "c"))
    val (none, c3) = Connectors.incrementalScan(df, "ts", c2)
    assert(none.isEmpty && c3 == c2) // drained: cursor stays put
  }

  test("kafka source builder reaches the data-source boundary cleanly") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("symbol", StringType)))
    // This environment ships no spark-sql-kafka connector jar (and no
    // broker): the builder must fail at exactly the data-source lookup —
    // proving the option plumbing is well-formed up to that boundary.
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Connectors.kafkaJsonStream(spark, "localhost:9092",
        Seq("t1", "t2"), schema)
    }
    assert(e.getMessage.contains("kafka"))
  }

  test("decodeImagePartitioned: non-image and empty blobs yield ok=false sentinels") {
    import spark.implicits._
    val media = Seq(
      (1L, "not a png at all".getBytes("UTF-8")),
      (2L, Array.emptyByteArray),
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "bytes")
    val feats = Multimodal.decodeImagePartitioned(media)
      .collect().sortBy(_.media_id)
    assert(feats.length == 3 && feats.forall(f => !f.ok && f.width == 0L))
  }

  // Embedded Derby stands in for the reference's SQL warehouse (no
  // network in this environment); same Spark JDBC code path as Postgres.
  private def derby(name: String): (String, Map[String, String]) = (
    s"jdbc:derby:${tmp()}/$name;create=true",
    Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
      "createTableColumnTypes" -> "sym VARCHAR(32)"))

  test("jdbc: overwrite write + read round-trip, existence probe") {
    import spark.implicits._
    val (url, opts) = derby("rt")
    assert(!Connectors.jdbcTableExists(spark, url, "quotes", opts))
    val df = Seq(("PETR4", 10.5, 100L), ("VALE3", 61.2, 50L))
      .toDF("sym", "price", "volume")
    Connectors.writeJdbc(df, url, "quotes", options = opts)
    assert(Connectors.jdbcTableExists(spark, url, "quotes", opts))
    val back = Connectors.readJdbc(spark, url, "quotes", opts)
      .orderBy("sym").as[(String, Double, Long)].collect()
    assert(back.toSeq == Seq(("PETR4", 10.5, 100L), ("VALE3", 61.2, 50L)))
    // full-replace semantics (to_sql if_exists="replace")
    Connectors.writeJdbc(Seq(("ITUB4", 30.0, 9L)).toDF("sym", "price", "volume"),
      url, "quotes", options = opts)
    assert(Connectors.readJdbc(spark, url, "quotes", opts).count() == 1)
  }

  test("jdbc: filter and column pruning are pushed into the database") {
    import spark.implicits._
    val (url, opts) = derby("push")
    Connectors.writeJdbc(
      (1 to 50).map(i => (s"S$i", i * 1.0, i.toLong)).toDF("sym", "price", "volume"),
      url, "quotes", options = opts)
    val q = Connectors.readJdbc(spark, url, "quotes", opts)
      .filter(col("price") >= 40.0)
      .select("sym", "price")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThanOrEqual(price,40.0)"), plan)
    assert(plan.contains("ReadSchema") || !plan.contains("volume"),
      s"volume must be pruned from the database SELECT:\n$plan")
    assert(q.count() == 11)
  }

  test("jdbc: upsert keeps existing rows, appends only absent keys") {
    import spark.implicits._
    val (url, opts) = derby("ups")
    // first batch lands whole (table doesn't exist yet)
    Connectors.upsertJdbc(
      Seq(("PETR4", 1L, 10.0), ("VALE3", 1L, 60.0)).toDF("sym", "seq", "price"),
      Seq("sym", "seq"), url, "quotes", opts)
    // conflicting (PETR4,1) must NOT overwrite; (PETR4,2) is new
    Connectors.upsertJdbc(
      Seq(("PETR4", 1L, 99.9), ("PETR4", 2L, 11.0)).toDF("sym", "seq", "price"),
      Seq("sym", "seq"), url, "quotes", opts)
    val rows = Connectors.readJdbc(spark, url, "quotes", opts)
      .orderBy("sym", "seq").as[(String, Long, Double)].collect()
    assert(rows.toSeq == Seq(
      ("PETR4", 1L, 10.0), ("PETR4", 2L, 11.0), ("VALE3", 1L, 60.0)))
  }

  test("jdbcTableExists: infrastructure failures rethrow, not 'absent'") {
    // A nonexistent Derby database WITHOUT create=true fails with XJ004
    // ("database not found") — an infrastructure error, not a missing
    // table. Returning false here would make upsertJdbc skip its
    // anti-join on any transient failure and append duplicate keys.
    val badUrl = s"jdbc:derby:${tmp()}/no_such_db"
    val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    intercept[Throwable] {
      Connectors.jdbcTableExists(spark, badUrl, "quotes", opts)
    }
  }

  // A16/A17: canned payloads stand in for the HTTP/library transports
  // (zero egress here); the injectable Fetcher seam is the contract.
  private val cannedBrapi = Map(
    "https://brapi.dev/api/quote/PETR4" ->
      """{"results":[{"symbol":"PETR4","shortName":"PETROBRAS PN",
         "regularMarketPrice":38.52,"regularMarketChange":0.45,
         "regularMarketVolume":52134800,
         "regularMarketTime":"2026-08-11 20:07:00"}]}""",
    "https://brapi.dev/api/quote/VALE3" ->
      """{"results":[{"symbol":"VALE3","shortName":"VALE ON",
         "regularMarketPrice":61.03,"regularMarketChange":-0.12,
         "regularMarketVolume":31002100,
         "regularMarketTime":"2026-08-11 20:07:00"}]}""",
    "https://brapi.dev/api/quote/BAD" -> """{"error":"not found"}""")

  private val cannedYf = Map(
    "PETR4.SA" ->
      """{"symbol":"PETR4.SA","bars":[
         {"timestamp":"2026-08-11 10:00:00","open":38.00,"high":38.30,
          "low":37.90,"close":38.10,"volume":1000},
         {"timestamp":"2026-08-11 17:00:00","open":38.10,"high":38.60,
          "low":38.05,"close":38.52,"volume":2000}]}""",
    "VALE3.SA" ->
      """{"symbol":"VALE3.SA","bars":[
         {"timestamp":"2026-08-11 17:00:00","open":61.20,"high":61.40,
          "low":60.90,"close":61.03,"volume":900}]}""",
    "^BVSP" -> """{"symbol":"^BVSP","bars":[]}""")

  test("A16 brapi fetch: canned JSON → declared-schema rows, bad payload visible") {
    import graft.sources.ExternalFetch
    // "DOWN" is absent from the canned map → the fetcher THROWS for it;
    // the reference's per-ticker try/except means the batch still lands
    val df = ExternalFetch.fetchBrapiQuotes(spark,
      Seq("PETR4", "VALE3", "BAD", "DOWN"), cannedBrapi)
    val rows = df.orderBy("ticker").collect()
    assert(rows.length == 4)
    val down = rows.find(_.getString(0) == "DOWN").get
    assert(!down.getAs[Boolean]("fetch_ok")) // fetch failure flagged, not fatal
    val petr = rows.find(_.getString(0) == "PETR4").get
    assert(petr.getAs[Boolean]("fetch_ok"))
    assert(petr.getAs[String]("symbol") == "PETR4")
    assert(petr.getAs[Double]("regular_price") == 38.52)
    assert(petr.getAs[Long]("volume") == 52134800L)
    assert(petr.getAs[java.sql.Timestamp]("quote_ts") ==
      java.sql.Timestamp.valueOf("2026-08-11 20:07:00"))
    val bad = rows.find(_.getString(0) == "BAD").get
    assert(!bad.getAs[Boolean]("fetch_ok")) // malformed: flagged, not dropped
    assert(bad.isNullAt(bad.fieldIndex("symbol")))
  }

  test("A17 yfinance fetch: last bar wins, empty history skipped, upsert keyed (symbol, timestamp)") {
    import spark.implicits._
    import graft.sources.ExternalFetch
    val df = ExternalFetch.fetchYfinanceQuotes(spark,
      Seq("PETR4.SA", "VALE3.SA", "^BVSP", "DOWN"), cannedYf)
    val rows = df.orderBy("symbol").collect()
    // ^BVSP's empty history and DOWN's failed fetch yield no rows
    assert(rows.length == 2)
    val petr = rows.find(_.getString(0) == "PETR4.SA").get
    assert(petr.getAs[Double]("close") == 38.52) // iloc[-1]: LAST bar
    assert(petr.getAs[Long]("volume") == 2000L)
    // the reference's ON CONFLICT (symbol, timestamp) DO NOTHING:
    val target = tmp() + "/yf"
    Connectors.upsertParquet(df, Seq("symbol", "timestamp"), target)
    Connectors.upsertParquet(
      ExternalFetch.fetchYfinanceQuotes(spark, Seq("PETR4.SA"),
        Map("PETR4.SA" ->
          """{"symbol":"PETR4.SA","bars":[
             {"timestamp":"2026-08-11 17:00:00","open":0.0,"high":0.0,
              "low":0.0,"close":99.9,"volume":1}]}""")),
      Seq("symbol", "timestamp"), target)
    val back = spark.read.parquet(target)
    assert(back.count() == 2) // conflicting key rejected, nothing new landed
    assert(back.filter(col("symbol") === "PETR4.SA")
      .select("close").as[Double].collect().toSeq == Seq(38.52))
  }

  test("A16+A17 end-to-end: fetched quotes through the latest-per-key enrich core") {
    import graft.operators.B3Pipeline
    import graft.sources.ExternalFetch
    val brapi = ExternalFetch.fetchBrapiQuotes(spark,
      Seq("PETR4", "VALE3"), cannedBrapi)
      .select("symbol", "regular_price")
    val yf = ExternalFetch.fetchYfinanceQuotes(spark,
      Seq("PETR4.SA", "VALE3.SA"), cannedYf)
      .withColumn("symbol", B3Pipeline.normalizeSymbol(col("symbol")))
    val enriched = brapi.join(yf, Seq("symbol"))
      .select(col("symbol"), col("regular_price"), col("open"), col("close"),
        round(B3Pipeline.changeDay(col("open"), col("close")), 2)
          .as("change_day"))
      .orderBy("symbol").collect()
    assert(enriched.length == 2)
    val petr = enriched(0)
    assert(petr.getAs[String]("symbol") == "PETR4")
    assert(petr.getAs[Double]("change_day") == 0.42) // 38.52 - 38.10
  }

  test("tableExists: catalog probe sees registered views, not ghosts") {
    import spark.implicits._
    Seq((1, "x")).toDF("id", "s").createOrReplaceTempView("probe_t")
    assert(Connectors.tableExists(spark, "probe_t"))
    assert(!Connectors.tableExists(spark, "no_such_table_anywhere"))
  }

  test("media perceptual-hash dedup: planted near-dup found, banding exact") {
    import spark.implicits._
    // 64 slices × 10 chars; 'z'(122) vs '!'(33) keeps every slice far
    // from the global mean, so only deliberately-edited slices flip bits
    def img(slices: Seq[Char]): String = slices.map(c => s"$c" * 10).mkString
    val base = (0 until 64).map(i => if (i % 2 == 0) 'z' else '!')
    val rows = Seq(
      (0L, img(base)),
      (1L, img(base.updated(0, '!'))), // one slice edited → hamming 1
      (2L, img(base.map(c => if (c == 'z') '!' else 'z'))), // inverted → far
      (3L, img(base))) // exact copy → hamming 0
      .toDF("media_id", "payload")
      .withColumn("w", lit(8)).withColumn("h", lit(8))
    val sigs = Multimodal.payloadSliceHash(
      Multimodal.encodeFake(rows, "w", "h", "payload"))
    val pairs = Multimodal.mediaNearDups(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 3L), (1L, 3L)))

    // pigeonhole banding finds EXACTLY the naive all-pairs result
    val rnd = new scala.util.Random(11)
    val planted = Seq(
      Multimodal.MediaSig(200L, 0L), Multimodal.MediaSig(201L, 0x5L),
      Multimodal.MediaSig(202L, 0xF0F0L)) // hamming 8 from 200: excluded
    val sigs2 = ((0L until 150L).map(i =>
      Multimodal.MediaSig(i, rnd.nextLong())) ++ planted).toDS()
    val banded = Multimodal.mediaNearDups(sigs2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = sigs2.toDF.as("a").join(sigs2.toDF.as("c"),
        col("a.media_id") < col("c.media_id") &&
          expr("bit_count(a.phash ^ c.phash) <= 3"))
      .select(col("a.media_id"), col("c.media_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == naive)
    assert(banded.contains((200L, 201L)))
    assert(!banded.contains((200L, 202L)))
  }

  test("compactParquet: small files merge, data identical, rereadable") {
    import spark.implicits._
    val dir = tmp() + "/lake"
    val df = (0 until 1000).map(i => (i.toLong, s"row_$i")).toDF("id", "s")
    df.repartition(40).write.parquet(dir)
    val (before, after) = Connectors.compactParquet(spark, dir,
      targetFileBytes = 1L << 30)
    assert(before == 40)
    assert(after == 1) // 40 slivers, one target-size file
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    assert(back.as[(Long, String)].collect().toSet ==
      df.as[(Long, String)].collect().toSet)
  }

  test("compactParquet: recovers crash residue — old-only dir restored, stale tmp dropped") {
    import spark.implicits._
    val fsRoot = tmp()
    val dir = fsRoot + "/rlake"
    val df = (0 until 100).map(i => (i.toLong, s"row_$i")).toDF("id", "s")
    df.repartition(10).write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash BETWEEN the two renames: data moved aside to
    // __compact_old, nothing at the live path, plus a stale tmp rewrite
    df.limit(1).write.parquet(dir + "__compact_tmp")
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__compact_old")))
    val (before, after) = Connectors.compactParquet(spark, dir,
      targetFileBytes = 1L << 30)
    assert(before == 10 && after == 1)
    assert(spark.read.parquet(dir).count() == 100,
      "recovered the full dataset from __compact_old, not the stale tmp")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__compact_old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__compact_tmp")))
    // simulate a crash AFTER the swap but before cleanup: stale old
    // beside live data must be deleted, live data wins
    df.limit(2).write.parquet(dir + "__compact_old")
    val (_, after2) = Connectors.compactParquet(spark, dir,
      targetFileBytes = 1L << 30)
    assert(after2 == 1)
    assert(spark.read.parquet(dir).count() == 100)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__compact_old")))
  }

  test("compactParquet: partial live dir without marker loses to complete __compact_old") {
    import spark.implicits._
    val dir = tmp() + "/slake"
    val df = (0 until 100).map(i => (i.toLong, s"row_$i")).toDF("id", "s")
    df.repartition(10).write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash mid tmp→live rename on a copy+delete filesystem
    // (S3A): the FULL original sits at __compact_old, the live path holds
    // a PARTIAL copy of the rewrite — and, critically, no marker file.
    // Recovery must treat the old copy as the source of truth; deleting
    // it on "live dir exists" would destroy the only complete data.
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__compact_old")))
    df.limit(1).write.parquet(dir) // partial live, marker never copied
    val (before, after) = Connectors.compactParquet(spark, dir,
      targetFileBytes = 1L << 30)
    assert(before == 10 && after == 1)
    assert(spark.read.parquet(dir).count() == 100,
      "recovered from __compact_old; the partial live copy was discarded")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__compact_old")))
    // a finished compaction leaves the completeness marker in the live dir
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(dir + "/_GRAFT_COMPACT_OK")))
  }

  test("compactParquet: partitioned lake → one file per partition value, pruning kept") {
    import spark.implicits._
    val dir = tmp() + "/plake"
    val df = (0 until 300).map(i => (i.toLong, s"d${i % 3}", i * 1.0))
      .toDF("id", "day", "v")
    Connectors.writePartitionedParquet(df.repartition(30), dir, Seq("day"))
    val (before, after) = Connectors.compactParquet(spark, dir,
      partitionCols = Seq("day"))
    assert(before > 3, s"precondition: want many slivers, got $before")
    assert(after == 3) // one file per partition value
    val back = spark.read.parquet(dir)
    assert(back.count() == 300)
    // partition pruning still applies after the rewrite
    val pruned = back.filter(col("day") === "d1")
    assert(pruned.count() == 100)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(day"))
  }

  test("partitioned parquet roundtrip preserves values and prunes") {
    import spark.implicits._
    val dir = tmp() + "/pq"
    val df = (1 to 100).map(i => (i, s"g${i % 4}", i * 1.5)).toDF("id", "g", "v")
    Connectors.writePartitionedParquet(df, dir, Seq("g"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 100)
    val plan = back.filter(col("g") === "g1").queryExecution.executedPlan.toString
    assert(back.filter(col("g") === "g1").count() == 25)
  }

  test("schema evolution: old files without a column read as nulls beside new files") {
    import spark.implicits._
    // a growing lake adds a column mid-life; a reader with mergeSchema
    // must see old files' rows with null in the new column instead of
    // failing or silently dropping it — the parquet schema-drift
    // contract every long-lived ingest dir relies on
    val dir = tmp() + "/evolve"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$dir/batch=1")
    Seq((3L, "c", 0.5), (4L, "d", 0.7)).toDF("id", "v", "score")
      .write.parquet(s"$dir/batch=2")
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(back.columns.toSet == Set("id", "v", "score", "batch"))
    val rows = back.orderBy("id").collect()
    assert(rows.length == 4)
    assert(rows(0).isNullAt(rows(0).fieldIndex("score"))) // old file → null
    assert(rows(2).getDouble(rows(2).fieldIndex("score")) == 0.5)
  }

  test("corrupt JSON records quarantine into _corrupt_record, good rows survive") {
    // PERMISSIVE mode is the crawler-ingest contract: a malformed line
    // must neither kill the job (FAILFAST) nor vanish (DROPMALFORMED
    // would) — it lands whole in the corrupt column for quarantine
    // routing while every well-formed row parses normally
    val dir = tmp()
    Files.write(Paths.get(s"$dir/in.json"),
      ("""{"id": 1, "v": "ok"}""" + "\n" +
        """{"id": 2, "v": "also ok"}""" + "\n" +
        """{"id": 3, "v": broken""" + "\n").getBytes(StandardCharsets.UTF_8))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$dir/in.json")
      .cache() // corrupt-column reads require the full row to be materialized
    try {
      val good = df.filter(col("_corrupt_record").isNull)
      val bad = df.filter(col("_corrupt_record").isNotNull)
      assert(good.count() == 2 && bad.count() == 1)
      assert(bad.head().getString(2).contains("broken"))
      // quarantine routing: the split is lossless
      assert(good.count() + bad.count() == df.count())
    } finally df.unpersist()
  }
}
