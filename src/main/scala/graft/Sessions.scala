package graft

import org.apache.spark.sql.SparkSession

/** The ONE local-session recipe for every engine main (Verify, Bench,
  * AnnQuality, PlanDump, SqlCrossCheck). The oracle compare
  * depends on these semantics (ANSI off for pandas-cast parity, UTC,
  * AQE, low shuffle partitions) — a tool hand-rolling its own builder
  * and missing one config would silently measure/verify under different
  * semantics than the engine ships. */
object Sessions {
  /** `cpus` drives both parallelism and shuffle partitions — local mode
    * has no reason to shuffle wider than its core count. */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Streaming state lives in RocksDB, not on the executor heap: every
      // stateful path (dropDuplicatesWithinWatermark fingerprints, the
      // flatMapGroupsWithState latest/EWMA/Holt/SCD2 keys, stream-stream
      // join buffers) is O(active keys) by design, but at a 100 TB
      // keyspace "active keys" is billions of entries — the default
      // HDFSBackedStateStoreProvider keeps every version of that map ON
      // HEAP per executor and OOMs long before the watermark evicts.
      // RocksDB spills state to executor-local disk with a bounded block
      // cache, and changelog checkpointing ships per-batch deltas instead
      // of re-uploading full snapshots — the difference between O(delta)
      // and O(state) checkpoint traffic on a large stateful query.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
      // Every streaming commit (offset and commit logs, RocksDB changelog
      // and snapshot files) is a temp write + rename. The default
      // FileContext-based manager renames through `FileContext.rename`,
      // which resolves symlinks; where Hadoop runs without its native
      // library that resolution forks a `readlink` process per file, about
      // 500 of them per ingest micro-batch. On `file:` this manager does
      // the same check-then-rename through `FileSystem.rename`
      // (`File.renameTo` locally) and forks nothing. This is the
      // local-mode recipe; a cluster deployment chooses its manager for
      // its own filesystem.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      // STATIC conf (first-session only): the suite compiles 190+ plan
      // shapes × several codegen stages each; the default 100-entry
      // janino cache thrashes across them, so the bench's cold pass
      // re-pays whole-stage compilation per eviction (r14 driver colds
      // of 8-15 s on sub-2 s queries). Sized to hold every stage of the
      // full suite; entries are compiled classes, tens of MB total.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.ensureConf(spark)
    spark
  }
}
