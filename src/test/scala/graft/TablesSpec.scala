package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._

/** Regression pin for the testdata-vintage dispatch in [[Tables.apply]].
  *
  * The driver has shipped `events.ts` in two different parquet physical
  * shapes across rounds: TIMESTAMP(NANOS) (unreadable natively by Spark;
  * surfaced as int64 via `spark.sql.legacy.parquet.nanosAsLong`) and
  * TIMESTAMP(MICROS) without timezone metadata (inferred as
  * TIMESTAMP_NTZ). Round 8 lost EVERY events-reading query — 61 bench
  * failures — because the reader assumed one vintage after the driver
  * regenerated the other. This spec writes BOTH vintages itself and pins
  * that [[Tables.apply]] normalizes them to identical TimestampType
  * values, and that an unknown third shape fails loudly at the read
  * instead of silently corrupting every downstream query.
  */
class TablesSpec extends SparkSpec with TempLakes {

  /** Micros under test: chosen so the nanos encoding (×1000 + 789) is NOT
    * µs-aligned — proving the ns→µs path truncates rather than rescales
    * garbage. 2023-11-14T22:13:20.123456Z and one value on an exact
    * second boundary. */
  private val micros = Seq(1700000000123456L, 1700000100000000L)

  /** Vintage A: true parquet TIMESTAMP(NANOS) int64, written through
    * parquet-java directly (Spark cannot write NANOS — exactly why the
    * spec must go under its API). */
  private def writeNanosVintage(dir: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |}""".stripMargin)
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withConf(conf).build()
    val f = new SimpleGroupFactory(schema)
    micros.zipWithIndex.foreach { case (us, i) =>
      writer.write(f.newGroup()
        .append("event_id", i.toLong)
        .append("ts", us * 1000L + 789L)) // sub-µs nanos: must truncate away
    }
    writer.close()
  }

  /** Vintage B: TIMESTAMP_NTZ micros, written by Spark itself (the
    * current driver shape: TIMESTAMP(MICROS) without tz metadata). */
  private def writeNtzVintage(dir: String): Unit = {
    import spark.implicits._
    micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
      .select(col("event_id"),
        expr("cast(timestamp_micros(us) AS timestamp_ntz)").as("ts"))
      .write.mode("overwrite").parquet(dir)
  }

  private def readNormalized(root: String): Seq[(Long, Long)] =
    Tables(spark, root, "events")
      .select(col("event_id"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("both shipped ts vintages normalize to identical TimestampType values") {
    val root = tempLake("graft_vintage")
    new java.io.File(s"$root/nanos/events.parquet").mkdirs()
    writeNanosVintage(s"$root/nanos/events.parquet")
    writeNtzVintage(s"$root/ntz/events.parquet")

    // the two vintages must surface DIFFERENTLY pre-normalization —
    // otherwise this spec is testing one code path twice
    assert(spark.read.parquet(s"$root/nanos/events.parquet")
      .schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(spark.read.parquet(s"$root/ntz/events.parquet")
      .schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)

    val a = readNormalized(s"$root/nanos")
    val b = readNormalized(s"$root/ntz")
    val expected = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    assert(a == expected, s"nanos vintage mis-normalized: $a")
    assert(b == expected, s"ntz vintage mis-normalized: $b")
    // and the engine-facing type is the contract type on both
    Seq("nanos", "ntz").foreach { v =>
      assert(Tables(spark, s"$root/$v", "events").schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
    }
  }

  test("an unknown third ts vintage fails loudly at the read, not downstream") {
    import spark.implicits._
    val root = tempLake("graft_vintage3")
    Seq((1L, "2023-11-14 22:13:20")).toDF("event_id", "ts")
      .write.parquet(s"$root/events.parquet")
    val e = intercept[IllegalStateException] {
      Tables(spark, root, "events")
    }
    assert(e.getMessage.contains("vintage"))
  }
}
