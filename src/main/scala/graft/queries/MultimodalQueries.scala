package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Multimodal

/** Multimodal plumbing as a registry query: documents are packed into the
  * engine's binary media format (12-byte header + payload) and the
  * metadata is extracted back out via pure Catalyst byte expressions.
  * The oracle computes the same metadata DIRECTLY from the source
  * columns — a differential check that the binary round-trip through
  * encode → header-parse is lossless. */
object MultimodalQueries {

  /** Multimodal metadata: fake-encoded binary media with typed
    * width/height/format columns decoded back row-locally — the
    * opaque-blob plumbing proof. */
  private def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.encodeFake(
      Tables(spark, dir, "documents")
        .select(col("doc_id"),
          col("n_chars").cast("int").as("w"),
          (col("doc_id") % 100).cast("int").as("h"),
          col("text").as("payload")),
      "w", "h", "payload")
    Multimodal.extractMeta(media)
      .selectExpr("doc_id", "is_valid", "cast(width AS BIGINT) AS width",
        "cast(height AS BIGINT) AS height", "payload_bytes")
      .orderBy("doc_id")
  }

  /** REAL image decode round-trip: each document becomes a genuine PNG
    * (encoded executor-side with `javax.imageio`, pixel content a known
    * function of doc_id), the engine decodes the actual PNG bytes back
    * and emits dimensions, exact luma sum and the 64-bit aHash. The
    * oracle re-derives every output analytically from the pixel formula
    * — so a green hash proves the full encode→PNG-bytes→decode→feature
    * path is lossless, not that a stub echoed its input. Blobs are born,
    * decoded and dropped inside one executor pass; only 7-column feature
    * rows ever shuffle (the 100 TB shape: petabytes of pixels in, a few
    * GB of features out). */
  private def mediaPhash(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        (lit(16) + (col("doc_id") % 6) * 8).cast("int").as("w"),
        (lit(16) + (col("doc_id") % 4) * 8).cast("int").as("h"))
    val blobs = Multimodal.encodeSynthPngPartitioned(dims, "doc_id", "w", "h")
    Multimodal.decodeImagePartitioned(blobs).toDF()
      .selectExpr("media_id AS doc_id", "ok", "width", "height",
        "px_sum", "phash_hi", "phash_lo")
      .orderBy("doc_id")
  }

  private val mediaPhashSql = """
    WITH dims AS (
      SELECT doc_id,
             CAST(16 + (doc_id % 6) * 8 AS BIGINT) AS w,
             CAST(16 + (doc_id % 4) * 8 AS BIGINT) AS h
      FROM documents),
    px AS (
      SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p
      FROM dims),
    cells AS (
      SELECT doc_id, w, h,
             (((p // w) * 8) // h) * 8 + (((p % w) * 8) // w) AS b,
             sum((doc_id * 37 + (p % w) * (p % w) + 5 * (p // w)) % 256)
               AS cell_sum,
             count(*) AS cell_px
      FROM px GROUP BY 1, 2, 3, 4),
    tot AS (
      SELECT doc_id, sum(cell_sum) AS tot_sum, sum(cell_px) AS n_px
      FROM cells GROUP BY doc_id),
    bits AS (
      SELECT c.doc_id, c.w, c.h, t.tot_sum, c.b,
             CASE WHEN c.cell_sum * t.n_px >= t.tot_sum * c.cell_px
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
      FROM cells c JOIN tot t USING (doc_id))
    SELECT doc_id, TRUE AS ok,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(max(tot_sum) AS BIGINT) AS px_sum,
           CAST(sum(CASE WHEN b >= 32 THEN bit << (b - 32) ELSE 0 END)
                AS BIGINT) AS phash_hi,
           CAST(sum(CASE WHEN b < 32 THEN bit << b ELSE 0 END)
                AS BIGINT) AS phash_lo
    FROM bits GROUP BY doc_id ORDER BY doc_id"""

  /** Image resize as a verified pipeline stage: real PNGs are decoded,
    * downscaled 8×8 by EXACT integer area-averaging
    * ([[Multimodal.resizeImagePartitioned]] — deterministic cell means,
    * not AWT's implementation-defined scaler), re-encoded through the
    * real PNG writer, then decoded AGAIN and feature-extracted — so the
    * output is a function of the resized BYTES, and a green hash proves
    * the full decode→resize→encode→decode chain is lossless, not that a
    * resize stub echoed its math. The oracle re-derives every resized
    * pixel analytically from the synthetic pixel formula (cell sums
    * over the same floor-division blocks, integer-divided by cell
    * populations) and recomputes the resized image's luma sum and
    * 64-bit aHash from those 64 values. Scale shape: generate → resize
    * → decode chain is three stacked `mapPartitions` with NO exchange
    * between them — petabytes of pixels in, 6-column feature rows out;
    * only those shuffle (for the final order). */
  private def mediaResize(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        (lit(16) + (col("doc_id") % 6) * 8).cast("int").as("w"),
        (lit(16) + (col("doc_id") % 4) * 8).cast("int").as("h"))
    val blobs = Multimodal.encodeSynthPngPartitioned(dims, "doc_id", "w", "h")
    val resized = Multimodal.resizeImagePartitioned(blobs, 8, 8)
      .filter(_.ok).toDF()
    Multimodal.decodeImagePartitioned(resized).toDF()
      .selectExpr("media_id AS doc_id", "ok", "width AS r_w",
        "height AS r_h", "px_sum", "phash_hi", "phash_lo")
      .orderBy("doc_id")
  }

  private val mediaResizeSql = """
    WITH dims AS (
      SELECT doc_id,
             CAST(16 + (doc_id % 6) * 8 AS BIGINT) AS w,
             CAST(16 + (doc_id % 4) * 8 AS BIGINT) AS h
      FROM documents),
    px AS (
      SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p
      FROM dims),
    cells AS (
      SELECT doc_id,
             (((p // w) * 8) // h) * 8 + (((p % w) * 8) // w) AS b,
             sum((doc_id * 37 + (p % w) * (p % w) + 5 * (p // w)) % 256)
               AS cell_sum,
             count(*) AS cell_px
      FROM px GROUP BY 1, 2),
    rs AS (
      SELECT doc_id, b, cell_sum // cell_px AS v
      FROM cells),
    tot AS (
      SELECT doc_id, sum(v) AS tot_sum
      FROM rs GROUP BY doc_id),
    bits AS (
      SELECT rs.doc_id, rs.b, t.tot_sum,
             CASE WHEN rs.v * 64 >= t.tot_sum
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
      FROM rs JOIN tot t USING (doc_id))
    SELECT doc_id, TRUE AS ok,
           CAST(8 AS BIGINT) AS r_w,
           CAST(8 AS BIGINT) AS r_h,
           CAST(max(tot_sum) AS BIGINT) AS px_sum,
           CAST(sum(CASE WHEN b >= 32 THEN bit << (b - 32) ELSE 0 END)
                AS BIGINT) AS phash_hi,
           CAST(sum(CASE WHEN b < 32 THEN bit << b ELSE 0 END)
                AS BIGINT) AS phash_lo
    FROM bits GROUP BY doc_id ORDER BY doc_id"""

  // ==========================================================================
  // The media-dedup pipeline — near-dup → clusters → canonical, with its
  // incremental (batch-vs-lake) and compaction legs — written ONCE over a
  // [[MediaModality]]; [[Image]], [[Audio]] and [[Video]] supply only what
  // differs. Every modality persists its signatures as a maintained lake
  // artifact, a [[graft.sources.SliceLadder]] of (media_id, phash) rows
  // under `media-sigs/v1-<scheme>`: at 100 TB the payload DECODE is the
  // most expensive stage (petabytes of blobs in, 8 bytes out per item) and
  // must run exactly once per item, AT INGEST — never re-run because a
  // dedup query happened to be the first reader. A signature depends on
  // nothing but the payload's own bytes, so slice-at-ingest ≡ from-scratch
  // row-for-row (MediaSpec proves the ladder equality), and the scheme tag
  // bumps on a signature change so persisted indexes self-invalidate
  // instead of being reused stale. The ladder contracts (replay safety,
  // dense-monotone guard, atomic marker commit, single-writer locking) are
  // documented once, in SliceLadder.
  // ==========================================================================

  /** One decoded-signature table per (session, dir) for the modalities
    * that checkpoint theirs: the DECODE runs once per lake snapshot and
    * the tiny (media_id, phash) table is localCheckpoint'ed for every
    * consumer (near-dup pairs, cluster formation). */
  private val mediaSigCache =
    new DedupQueries.SessionCache(_.localCheckpoint())

  /** Evict the decoded-signature tables (paired with
    * [[DedupQueries.clearShingleCache]] — Bench calls both after its
    * warmup pass so warmup-dir checkpoint blocks don't occupy executor
    * storage during the measured run). */
  def clearMediaSigCache(): Unit = mediaSigCache.clear()

  /** What one media modality's dedup pipeline needs that the others do
    * not; every stage is a method here or of the
    * [[DedupQueries.ClusterLifecycle]] it extends, written once.
    *  - `kind`: the cluster-label artifact kind.
    *  - `maxHamming`: the near-dup bound, the largest distance the
    *    modality's 4-band pigeonhole still finds exactly.
    *  - `scheme`, `what`: the signature index's version tag and its name
    *    in ladder messages.
    *  - `blobsRange`: the lake's (media_id, bytes) blobs for ids in
    *    [lo, hi); `signaturesOf`: (media_id, bytes) → (media_id, phash).
    *  - `checkpointed`: the corpus signature table is materialized once
    *    per (session, dir) and the index evicts it on every mutation.
    *  - `volume`: an item's payload size (pixels, samples, frames) from
    *    its id; `countCol`/`totalCol`/`keptCol` name the canonical and
    *    incremental outputs. */
  private[graft] final class MediaModality(kind: String,
      val maxHamming: Int, scheme: String, what: String,
      blobsRange: (SparkSession, String, Long, Long) => DataFrame,
      signaturesOf: DataFrame => DataFrame, checkpointed: Boolean,
      volume: Column => Column,
      countCol: String, totalCol: String, keptCol: String)
      extends DedupQueries.ClusterLifecycle(kind, "media_id", countCol,
        totalCol, volume(col("doc_id"))) {

    /** The persisted signature index of lake `dir`: ranges are derived
      * from the lake's blobs, ingest batches from their own bytes. */
    def index(dir: String): graft.sources.SliceLadder =
      new graft.sources.SliceLadder(
        graft.sources.Artifacts.path("media-sigs", s"v1-$scheme", dir),
        what,
        idCol = "media_id",
        readSchema = "media_id BIGINT, phash BIGINT",
        deriveRange = (spark, lo, hi) =>
          signaturesOf(blobsRange(spark, dir, lo, hi)),
        deriveBatch = (_, batch) =>
          signaturesOf(batch.select(col("media_id"), col("bytes"))),
        onMutate =
          if (checkpointed) (() => clearMediaSigCache()) else (() => ()))

    /** The corpus's (media_id, phash) rows: read back from the index
      * when it fully covers the corpus (the decode then ran once, at
      * ingest), decoded inline otherwise — bit-identical either way. A
      * checkpointed modality materializes the table EAGERLY here, so
      * exactly one caller pays the build instead of smearing it across
      * consumers. */
    private def sigs(spark: SparkSession, dir: String): DataFrame = {
      def build = {
        val ix = index(dir)
        if (ix.trained(spark)) ix.read(spark)
        else signaturesOf(blobsRange(spark, dir, 0L, Long.MaxValue))
      }
      if (checkpointed) mediaSigCache(spark, dir)(build) else build
    }

    private def sigsDs(spark: SparkSession, dir: String) = {
      import spark.implicits._
      sigs(spark, dir).as[Multimodal.MediaSig]
    }

    /** Near-dup pairs within `maxHamming` over the modality's decoded
      * signatures: candidates come from the pigeonhole (band, value)
      * join with the hot-bucket cap ([[Multimodal.mediaNearDups]]) —
      * bucketed, never all-pairs. The oracle re-derives every signature
      * analytically from the synthetic payload formula AND mirrors the
      * capped candidate generation, so a green hash proves both the
      * decode path and the banding semantics. */
    def nearDup(spark: SparkSession, dir: String): DataFrame =
      Multimodal.mediaNearDups(sigsDs(spark, dir), maxHamming)
        .orderBy("id_a", "id_b")

    /** Trained over the signature artifact: the decode is not re-paid. */
    protected def corpusPairs(spark: SparkSession, dir: String): DataFrame =
      Multimodal.mediaNearDups(sigsDs(spark, dir), maxHamming)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))

    /** The SAME corpus-censused pair set restricted to lake endpoints,
      * so the merge over the prior provably equals full-corpus
      * retraining. */
    protected def lakePairs(spark: SparkSession, dir: String): DataFrame = {
      val srcn = mediaSrcs(spark, dir).select("media_id", "src_num")
      corpusPairs(spark, dir)
        .join(srcn.select(col("media_id").as("doc_a"),
          col("src_num").as("sa")), "doc_a")
        .join(srcn.select(col("media_id").as("doc_b"),
          col("src_num").as("sb")), "doc_b")
        .filter(col("sa") < 10 && col("sb") < 10)
        .select("doc_a", "doc_b")
    }

    /** Incremental dedup — the batch-vs-lake shape a GROWING corpus
      * runs: lake items (src_num < 10) carry signatures in the persisted
      * index — the lake is NEVER re-decoded — and only the arriving
      * batch's bands probe the band buckets. A batch item is dropped when
      * it is within `maxHamming` of any lake item, or of a smaller-id
      * batch item (the min-id keeper convention of the cluster queries).
      * Candidate volume is bands-of-batch × bucket occupancy —
      * proportional to the BATCH, not the lake — where the undirected
      * full-corpus join regenerates lake×lake candidates every run. Hot
      * buckets are censused over the post-ingest corpus and cut from both
      * sides ([[Multimodal.BandBucketCap]]). Kept/dropped accounting per
      * source, not survivors only: at large SF the synthetic hash space
      * saturates and EVERY batch item has a near-dup, and a
      * survivors-only frame would certify on zero rows. */
    def incremental(spark: SparkSession, dir: String): DataFrame = {
      val srcs = mediaSrcs(spark, dir)
      val okb = okbOf(sigs(spark, dir)
        .join(srcs.select("media_id", "src_num"), "media_id"))
      val drops = okb.filter(col("src_num") >= 10).as("x").hint("SHUFFLE_HASH")
        .join(okb.as("y").hint("SHUFFLE_HASH"),
          col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
            col("x.media_id") =!= col("y.media_id") &&
            (col("y.src_num") < 10 ||
              col("y.media_id") < col("x.media_id")))
        .filter(expr(s"bit_count(x.phash ^ y.phash) <= $maxHamming"))
        .select(col("x.media_id").as("media_id")).distinct()
      srcs.filter(col("src_num") >= 10)
        .join(drops.withColumn("is_drop", lit(1L)), Seq("media_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_batch"),
          coalesce(sum("is_drop"), lit(0L)).as("n_dropped"),
          sum(when(col("is_drop").isNull, volume(col("media_id")))
            .otherwise(lit(0L))).as(keptCol))
        .orderBy("source")
    }

    /** Batch-batch pairs from a self-join of the batch's informative
      * bands, batch-lake pairs from the batch probing the lake's band
      * buckets. The hot census runs over the corpus-so-far
      * (src_num < batchBound): the ingest-time semantics, which coincides
      * with the corpus-wide census whenever no bucket crosses the cap
      * between boundaries. There is no pre-merge step: cluster boundaries
      * live in src_num space while the signature ladder advances in
      * media_id space as blobs land, so by the time a src batch is
      * compacted its signatures are already on disk. */
    protected def batchPairs(spark: SparkSession, dir: String,
        lakeBound: Int, batchBound: Int): DataFrame = {
      val srcn = mediaSrcs(spark, dir).select("media_id", "src_num")
      val okb = okbOf(sigs(spark, dir).join(srcn, "media_id")
        .filter(col("src_num") < batchBound))
      val okbB = okb.filter(col("src_num") >= lakeBound)
      val okbL = okb.filter(col("src_num") < lakeBound)
      val close = expr(s"bit_count(a.phash ^ c.phash) <= $maxHamming")
      val bb = okbB.as("a").hint("SHUFFLE_HASH")
        .join(okbB.as("c").hint("SHUFFLE_HASH"),
          col("a.b") === col("c.b") && col("a.v") === col("c.v") &&
            col("a.media_id") < col("c.media_id"))
        .filter(close)
        .select(col("a.media_id").as("doc_a"), col("c.media_id").as("doc_b"))
      val bl = okbB.as("a").hint("SHUFFLE_HASH")
        .join(okbL.as("c").hint("SHUFFLE_HASH"),
          col("a.b") === col("c.b") && col("a.v") === col("c.v"))
        .filter(close)
        .select(least(col("a.media_id"), col("c.media_id")).as("doc_a"),
          greatest(col("a.media_id"), col("c.media_id")).as("doc_b"))
      bb.unionByName(bl).distinct()
    }
  }

  /** Images: the 64-bit aHash of each decoded PNG ("a1",
    * [[Multimodal.imageFeature]]). All four 16-bit bands are
    * informative, so the pigeonhole is exact up to Hamming 3. The image
    * decode is the costliest, so its signature table is checkpointed. */
  private[graft] val Image = new MediaModality("media", maxHamming = 3,
    scheme = "a1", what = "image signature", blobsRange = blobsRange,
    signaturesOf = b => Multimodal.perceptualHashImagePartitioned(b).toDF(),
    checkpointed = true,
    volume = id => (lit(16) + id % 6 * 8) * (lit(16) + id % 4 * 8),
    countCol = "n_images", totalCol = "total_px", keptCol = "px_kept")

  /** Audio: the 48-bit [[audioFingerprints]] ("fp48"). Its top 16-bit
    * band is structurally zero, so once the corpus exceeds the bucket
    * cap that band is over-cap and cut, leaving 3 real bands: any pair
    * within Hamming 2 still shares an untouched band, while a bound of 3
    * would silently miss one-bit-per-band pairs that engine and oracle
    * both mirror — invisible to every gate. Synthetic-lake note: true
    * matches need waveform class, dither phase AND length class to agree
    * (doc_id ≡ doc_id' mod 768), so pairs appear from sf0.1 up; smaller
    * SFs legitimately emit zero rows and the planted-recall proof lives
    * in MediaSpec. */
  private[graft] val Audio = new MediaModality("audio", maxHamming = 2,
    scheme = "fp48", what = "audio fingerprint", blobsRange = audioBlobsRange,
    signaturesOf = b => audioFingerprints(Multimodal.pcmFrameFeatures(b)),
    checkpointed = false,
    volume = id => lit(200) + id % 7 * 48,
    countCol = "n_recordings", totalCol = "total_samples",
    keptCol = "samples_kept")

  /** Video: the 63-bit scene-level [[videoFingerprints]] ("vsc63"). All
    * four bands are informative, so a pair within Hamming 2 shares ≥ 2
    * untouched bands and is found whenever EITHER shared bucket is under
    * [[Multimodal.BandBucketCap]]. Synthetic-lake note: exact-duplicate
    * signatures need doc_id ≡ doc_id' (mod lcm(251, 11) = 2761), so all
    * three SFs emit rows (500 docs → quantization-neighbor pairs; 5000 →
    * whole duplicate classes). */
  private[graft] val Video = new MediaModality("video", maxHamming = 2,
    scheme = "vsc63", what = "video signature", blobsRange = videoBlobsRange,
    signaturesOf = b => videoFingerprints(videoSceneTableOf(b)),
    checkpointed = false,
    volume = id => lit(20) + id % 11,
    countCol = "n_videos", totalCol = "total_frames", keptCol = "frames_kept")

  /** The test lake's blob source for the media_id ∈ [lo, hi) range:
    * synthetic PNGs born executor-side from the documents table (the
    * stand-in for a crawler fetch stage — in production the bytes
    * arrive with the batch; see [[MediaModality.index]]'s `deriveBatch`
    * for that shape). The doc_id filter is pushed to the parquet scan,
    * so an append reads only the batch's rows. */
  private def blobsRange(spark: SparkSession, dir: String, lo: Long,
      hi: Long): DataFrame = {
    val dims = Tables(spark, dir, "documents")
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select(col("doc_id"),
        (lit(16) + (col("doc_id") % 6) * 8).cast("int").as("w"),
        (lit(16) + (col("doc_id") % 4) * 8).cast("int").as("h"))
    Multimodal.encodeSynthPngPartitioned(dims, "doc_id", "w", "h")
  }

  /** Documents keyed as media rows: (media_id, source, src_num). */
  private def mediaSrcs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id").as("media_id"), col("source"),
        expr("cast(substring(source, 4, 8) AS INT)").as("src_num"))

  /** A signature's four 16-bit (b, v) bands, as `array(...)` items. */
  private val BandStructs = (0 until 4).map(b =>
    s"named_struct('b', $b, 'v', shiftright(phash, ${b * 16}) & 65535)")
    .mkString(", ")

  /** Banded signature rows with the hot-bucket cut applied, carrying
    * src_num: one row per (media_id, band, value) for every
    * informative band value of every signature in `sigs`
    * ((media_id, phash, src_num) rows). The census runs over exactly
    * the rows given — callers choose the corpus-so-far semantics by
    * what they pass in. Same banding and cap as
    * [[Multimodal.mediaCandidates]]. */
  private def okbOf(sigs: DataFrame): DataFrame = {
    val bands = sigs
      .selectExpr("media_id", "phash", "src_num",
        s"explode(array($BandStructs)) AS band")
      .selectExpr("media_id", "phash", "src_num", "band.b AS b",
        "band.v AS v")
    val hot = bands.groupBy("b", "v").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > Multimodal.BandBucketCap)
      .select("b", "v")
    bands.join(broadcast(hot), Seq("b", "v"), "left_anti")
  }

  // lazy: mediaOkbCtes is declared further down the file (with the other
  // pair-oracle CTEs) — eager init here would interpolate null
  private lazy val mediaIncrementalSql = s"""
    WITH $mediaOkbCtes,
    src AS (
      SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS src_num
      FROM documents),
    okbs AS (
      SELECT okb.doc_id, okb.hi, okb.lo, okb.band, okb.v, s.src_num
      FROM okb JOIN src s USING (doc_id)),
    drops AS (
      SELECT DISTINCT x.doc_id AS media_id
      FROM okbs x JOIN okbs y
        ON x.band = y.band AND x.v = y.v AND x.doc_id <> y.doc_id
       AND (y.src_num < 10 OR y.doc_id < x.doc_id)
      WHERE x.src_num >= 10
        AND bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) <= 3)
    SELECT source, count(*) AS n_batch,
           CAST(sum(CASE WHEN d.media_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN d.media_id IS NULL
                    THEN (16 + (doc_id % 6) * 8) * (16 + (doc_id % 4) * 8)
                    ELSE 0 END) AS BIGINT) AS px_kept
    FROM src LEFT JOIN drops d ON src.doc_id = d.media_id
    WHERE src_num >= 10
    GROUP BY source
    ORDER BY source"""

  /** Hot (band, value) buckets of the persisted signature index — the
    * df-cap parity source for the STREAMING media assigner
    * ([[graft.streaming.StreamingPipeline.assignMediaClusters]]): the
    * stream cannot census an unbounded corpus, so it cuts against the
    * lake's census served from the index, the image twin of the text
    * side's hot-shingle census artifact. Tiny by construction
    * (≤ 4N/cap rows), read without decoding a pixel. */
  def mediaHotBuckets(spark: SparkSession, dir: String): DataFrame = {
    Image.index(dir).read(spark)
      .selectExpr(s"explode(array($BandStructs)) AS band")
      .selectExpr("band.b AS b", "band.v AS v")
      .groupBy("b", "v").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > Multimodal.BandBucketCap)
      .select("b", "v")
  }

  private lazy val mediaClustersIncrementalSql = s"""
    WITH $mediaLabelCtes,
    srcn AS (
      SELECT doc_id, CAST(substr(source, 4) AS INT) AS src_num
      FROM documents),
    lpairs AS MATERIALIZED (
      SELECT id_a AS doc_a, id_b AS doc_b FROM pairs
      JOIN srcn sa ON sa.doc_id = id_a
      JOIN srcn sb ON sb.doc_id = id_b
      WHERE sa.src_num < 10 AND sb.src_num < 10),
    ${DedupQueries.unrolledLabelCtes("lpairs", "doc_a", "doc_b", "k",
      "klabels", "doc_id")}
    SELECT m.media_id, m.cluster_id,
           CASE WHEN s.src_num >= 10 THEN 'batch'
                WHEN coalesce(k.cluster_id, m.media_id) <> m.cluster_id
                  THEN 'merged'
                ELSE 'stable' END AS status
    FROM mlabels m
    JOIN srcn s ON s.doc_id = m.media_id
    LEFT JOIN klabels k ON k.doc_id = m.media_id
    ORDER BY m.media_id"""

  /** Deterministic per-doc sample count for the audio family: 200–488
    * samples, deliberately NOT a multiple of the 64-sample frame so the
    * partial-last-frame path is exercised end-to-end. */
  private def audioBlobs(spark: SparkSession, dir: String): DataFrame =
    audioBlobsRange(spark, dir, 0L, Long.MaxValue)

  /** Range-scoped variant for the fingerprint index's append stage: the
    * doc_id filter lands on the documents scan BEFORE the executor-side
    * encode, so an append reads only the batch's rows. Single source of
    * the per-doc sample-count formula — the index's hash stage and the
    * query-side blobs must never drift. */
  private def audioBlobsRange(spark: SparkSession, dir: String, lo: Long,
      hi: Long): DataFrame =
    Multimodal.encodeSynthPcmPartitioned(
      Tables(spark, dir, "documents")
        .filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id"),
          (lit(200) + (col("doc_id") % 7) * 48).cast("int").as("n")),
      "doc_id", "n")

  /** Framed audio features over REAL binary blobs: synthetic PCM is
    * encoded executor-side, then the engine decodes the actual payload
    * bytes back through pure Catalyst expressions and emits per-frame
    * exact integer energy and zero-crossing counts — the audio analogue
    * of [[mediaPhash]]'s decode round-trip. The oracle re-derives every
    * sample analytically from the waveform formula, so a green hash
    * proves the byte round-trip AND the framing/feature arithmetic. At
    * scale the shape is the multimodal contract: blobs are born, decoded
    * and dropped inside one codegen stage; only 5-column integer frame
    * rows ever shuffle. */
  private def audioFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.pcmFrameFeatures(audioBlobs(spark, dir))
      .selectExpr("media_id AS doc_id", "frame", "n_samp", "energy", "zc")
      .orderBy("doc_id", "frame")

  /** Shared oracle CTE chain ending in `fr` = per-frame features,
    * re-deriving each sample from the synth formula (every third frame,
    * phased by doc_id, is the ±4 near-silent dither). */
  private val audioFrameCtes = """dims AS (
      SELECT doc_id, 200 + (doc_id % 7) * 48 AS n FROM documents),
    samp AS (
      SELECT doc_id, i, i // 64 AS frame,
             CASE WHEN ((i // 64) + doc_id) % 3 = 0
                  THEN ((doc_id * 31 + 13 * i) % 256) % 8 - 4
                  ELSE (doc_id * 31 + 13 * i) % 256 - 128 END AS v
      FROM dims, unnest(generate_series(0, n - 1)) AS u(i)),
    lagd AS (
      SELECT doc_id, frame, v,
             lag(v) OVER (PARTITION BY doc_id, frame ORDER BY i) AS pv
      FROM samp),
    fr AS (
      SELECT doc_id, CAST(frame AS BIGINT) AS frame,
             count(*) AS n_samp,
             CAST(sum(v * v) AS BIGINT) AS energy,
             CAST(sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zc
      FROM lagd GROUP BY doc_id, frame)"""

  private val audioFramesSql = s"""
    WITH $audioFrameCtes
    SELECT doc_id, frame, n_samp, energy, zc
    FROM fr
    ORDER BY doc_id, frame"""

  /** Chromaprint-style audio fingerprint over per-frame features: each
    * of the first three frames contributes a (quantized-energy,
    * zero-crossing) byte pair, packed little-endian into one 48-bit
    * signature — reference fingerprinting quantizes per-frame spectral
    * energies the same way (Chromaprint's filter bank over chroma
    * frames); integer energy+zc are this engine's codegen-decoded frame
    * features. Exactly the FIRST THREE frames: every doc has ≥ 200
    * samples = 3 full 64-sample frames, while frame 3+ content depends
    * on each doc's length — including it would make equal-prefix
    * recordings look different. Factored so specs can drive it with
    * planted frame features. */
  private[graft] def audioFingerprints(fr: DataFrame): DataFrame =
    fr.filter(col("frame") < 3)
      .selectExpr("media_id",
        """shiftleft((energy div 4096) % 256, cast(frame * 16 + 8 AS INT)) +
           shiftleft(zc % 256, cast(frame * 16 AS INT)) AS part""")
      .groupBy("media_id").agg(sum("part").as("phash"))

  private val audioOkbCtes = s"""$audioFrameCtes,
    afp AS (
      SELECT doc_id,
             CAST(sum((((energy // 4096) % 256) << CAST(frame * 16 + 8 AS INT)) +
                      ((zc % 256) << CAST(frame * 16 AS INT))) AS BIGINT) AS fp
      FROM fr WHERE frame < 3 GROUP BY doc_id),
    abands AS (
      SELECT doc_id, fp, band,
             CASE band WHEN 0 THEN fp & 65535
                       WHEN 1 THEN (fp >> 16) & 65535
                       WHEN 2 THEN (fp >> 32) & 65535
                       ELSE (fp >> 48) & 65535 END AS v
      FROM afp, unnest([0, 1, 2, 3]) AS u(band)),
    ainf AS (
      SELECT band, v FROM abands GROUP BY band, v
      HAVING count(*) <= ${Multimodal.BandBucketCap}),
    aokb AS (SELECT abands.* FROM abands JOIN ainf USING (band, v))"""

  /** `apairs` = the audio near-dup pair set — shared by the near-dup,
    * clusters and canonical oracles so the three can never drift. */
  private val audioPairCtes = s"""$audioOkbCtes,
    acand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
             a.fp AS fa, c.fp AS fb
      FROM aokb a JOIN aokb c
        ON a.band = c.band AND a.v = c.v AND a.doc_id < c.doc_id),
    apairs AS (
      SELECT id_a, id_b,
             CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
      FROM acand
      WHERE bit_count(xor(fa, fb)) <= 2)"""

  private val audioNearDupSql = s"""
    WITH $audioPairCtes
    SELECT id_a, id_b, hamming
    FROM apairs
    ORDER BY id_a, id_b"""

  private lazy val audioClustersIncrementalSql = s"""
    WITH $audioLabelCtes,
    asrcn AS (
      SELECT doc_id, CAST(substr(source, 4) AS INT) AS src_num
      FROM documents),
    aqpairs AS MATERIALIZED (
      SELECT id_a AS doc_a, id_b AS doc_b FROM apairs
      JOIN asrcn sa ON sa.doc_id = id_a
      JOIN asrcn sb ON sb.doc_id = id_b
      WHERE sa.src_num < 10 AND sb.src_num < 10),
    ${DedupQueries.unrolledLabelCtes("aqpairs", "doc_a", "doc_b", "ak",
      "aklabels", "doc_id")}
    SELECT m.media_id, m.cluster_id,
           CASE WHEN s.src_num >= 10 THEN 'batch'
                WHEN coalesce(k.cluster_id, m.media_id) <> m.cluster_id
                  THEN 'merged'
                ELSE 'stable' END AS status
    FROM alabels m
    JOIN asrcn s ON s.doc_id = m.media_id
    LEFT JOIN aklabels k ON k.doc_id = m.media_id
    ORDER BY m.media_id"""

  /** Unrolled label-propagation chain ending in `alabels` — the audio
    * instance of [[DedupQueries.unrolledLabelCtes]]. */
  private val audioLabelCtes = s"""${audioPairCtes.replace(
      "apairs AS (", "apairs AS MATERIALIZED (")},
    ${DedupQueries.unrolledLabelCtes("apairs", "id_a", "id_b", "al",
      "alabels", "media_id")}"""

  private val audioClustersSql = s"""
    WITH $audioLabelCtes
    SELECT media_id, cluster_id
    FROM alabels
    ORDER BY media_id"""

  private val audioCanonicalSql = s"""
    WITH $audioLabelCtes,
    adrops AS (SELECT media_id FROM alabels WHERE media_id <> cluster_id)
    SELECT source, count(*) AS n_recordings,
           CAST(sum(200 + (doc_id % 7) * 48) AS BIGINT) AS total_samples
    FROM documents
    WHERE doc_id NOT IN (SELECT media_id FROM adrops)
    GROUP BY source
    ORDER BY source"""

  private lazy val audioIncrementalSql = s"""
    WITH $audioOkbCtes,
    src AS (
      SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS src_num
      FROM documents),
    aokbs AS (
      SELECT aokb.doc_id, aokb.fp, aokb.band, aokb.v, s.src_num
      FROM aokb JOIN src s USING (doc_id)),
    drops AS (
      SELECT DISTINCT x.doc_id AS media_id
      FROM aokbs x JOIN aokbs y
        ON x.band = y.band AND x.v = y.v AND x.doc_id <> y.doc_id
       AND (y.src_num < 10 OR y.doc_id < x.doc_id)
      WHERE x.src_num >= 10 AND bit_count(xor(x.fp, y.fp)) <= 2)
    SELECT source, count(*) AS n_batch,
           CAST(sum(CASE WHEN d.media_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN d.media_id IS NULL
                    THEN 200 + (doc_id % 7) * 48 ELSE 0 END)
                AS BIGINT) AS samples_kept
    FROM src LEFT JOIN drops d ON src.doc_id = d.media_id
    WHERE src_num >= 10
    GROUP BY source
    ORDER BY source"""

  /** Energy threshold separating the sawtooth's active frames (~350k)
    * from the dithered near-silent ones (≤ 1024): VAD with an order-of-
    * magnitude margin on both sides. */
  private val AudioActiveThreshold = 10000L

  /** Voice-activity segmentation: contiguous runs of active frames
    * (energy ≥ threshold) become segments via gaps-and-islands
    * (frame − row_number = run id) — the audio twin of the sessionize /
    * streaks shape, windowed PER DOC so no global sort exists; segment
    * rows are what a speech pipeline ships downstream (petabytes of
    * waveform in, a segment table out).
    *
    * Cost note (r19): Catalyst used to push the energy filter below the
    * feature projection by substituting the expression, so the frame
    * decode+fold evaluated TWICE in the one codegen stage (two
    * `aggregate(transform(...))` in the plan; ~0.9 s vs q_audio_frames'
    * single-eval 0.16 s at sf0.1). The earlier audit accepted that as
    * the price of not shuffling silent frames, but there is a third
    * option (guide §4.4, and the GlobalRank precedent of pinning
    * evaluation with nondeterminism): a nondeterministic NO-OP added to
    * the energy column (`+ monotonically_increasing_id() * 0` — always
    * adds exactly 0L) makes the projection non-pushable-through, so the
    * decode evaluates once, the filter tests the materialized column,
    * and everything stays inside WholeStageCodegen with nothing
    * shuffled or checkpointed. */
  private def audioSilence(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame")
    Multimodal.pcmFrameFeatures(audioBlobs(spark, dir))
      .selectExpr("media_id AS doc_id", "frame",
        "energy + monotonically_increasing_id() * 0L AS energy")
      .filter(col("energy") >= AudioActiveThreshold)
      .withColumn("grp", col("frame") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min("frame").as("seg_start"), max("frame").as("seg_end"),
        count(lit(1)).as("n_frames"), sum("energy").as("energy_sum"))
      .select("doc_id", "seg_start", "seg_end", "n_frames", "energy_sum")
      .orderBy("doc_id", "seg_start")
  }

  private val audioSilenceSql = s"""
    WITH $audioFrameCtes,
    act AS (
      SELECT doc_id, frame, energy,
             frame - row_number() OVER (PARTITION BY doc_id ORDER BY frame)
               AS grp
      FROM fr WHERE energy >= $AudioActiveThreshold)
    SELECT doc_id,
           CAST(min(frame) AS BIGINT) AS seg_start,
           CAST(max(frame) AS BIGINT) AS seg_end,
           count(*) AS n_frames,
           CAST(sum(energy) AS BIGINT) AS energy_sum
    FROM act GROUP BY doc_id, grp
    ORDER BY doc_id, seg_start"""

  /** Threshold on the inter-frame luma delta that declares a scene cut:
    * in-scene texture deltas are 1, cross-scene base jumps are ≥ 93 —
    * an order of magnitude of margin either side of 32. */
  private val SceneCutThreshold = 32

  /** Range-scoped synthetic video blobs — the video lake's ingest stage
    * and the scene index's append source. SINGLE SOURCE of the per-doc
    * frame-count formula (20 + doc_id % 11): the index's hash stage and
    * the query-side blobs must never drift. The doc_id filter is pushed
    * to the documents scan, so an append reads only the batch's rows. */
  private def videoBlobsRange(spark: SparkSession, dir: String, lo: Long,
      hi: Long): DataFrame =
    Multimodal.encodeSynthVideoPartitioned(
      Tables(spark, dir, "documents")
        .filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id"),
          (lit(20) + col("doc_id") % 11).cast("int").as("n")),
      "doc_id", "n")

  /** Change-point scene segmentation over a video blob column — the
    * shared engine stage behind [[videoScenes]] (the scene-table query)
    * and [[videoFingerprints]] (the scene-level signature): frame bytes
    * re-extracted through the pure-Catalyst [[Multimodal.frameSample]]
    * path, lag-delta cut flags, running cut sum as the scene id, then
    * per-scene aggregates. Windows are per media id, so no global sort
    * exists at any corpus size; shuffled rows are narrow integers,
    * never blobs. */
  private def videoSceneTableOf(blobs: DataFrame): DataFrame = {
    val frames = Multimodal.frameSample(blobs, stride = 1)
      .selectExpr("media_id",
        "cast(frame_off - 13 AS BIGINT) AS f", "frame_byte AS luma")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("f")
    frames
      .withColumn("cut",
        when(lag(col("luma"), 1).over(w).isNull ||
          abs(col("luma") - lag(col("luma"), 1).over(w))
            >= SceneCutThreshold, 1).otherwise(0))
      .withColumn("scene_id", sum(col("cut")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("media_id").orderBy("f")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("media_id", "scene_id")
      .agg(min("f").as("start_f"), max("f").as("end_f"),
        count(lit(1)).as("n_frames"),
        sum(col("luma").cast("long")).as("luma_sum"))
  }

  /** Video scene detection: synthetic per-frame luma tracks are encoded
    * executor-side as framed blobs, the engine re-extracts each frame
    * byte through the pure-Catalyst [[Multimodal.frameSample]] path, and
    * CHANGE-POINT segmentation turns the frame stream into a scene
    * table — lag-delta cut flags, then a running sum of cuts as the
    * scene id (the temporal twin of gaps-and-islands; audio's
    * [[audioSilence]] gates on a level, this cuts on a DERIVATIVE, the
    * two canonical segmentation operators of a media pipeline). Windows
    * are per media id, so no global sort exists at any corpus size; the
    * shuffled rows are 3-column integers, never blobs. The oracle
    * re-derives every luma analytically and mirrors the two-window
    * composition. */
  private def videoScenes(spark: SparkSession, dir: String): DataFrame =
    videoSceneTableOf(videoBlobsRange(spark, dir, 0L, Long.MaxValue))
      .selectExpr("media_id AS doc_id", "scene_id", "start_f", "end_f",
        "n_frames", "luma_sum")
      .orderBy("doc_id", "scene_id")

  private val videoScenesSql = s"""
    WITH dims AS (SELECT doc_id, 20 + doc_id % 11 AS n FROM documents),
    fr AS (
      SELECT doc_id, f,
             (doc_id * 11 + (f // 5) * 97) % 251 + f % 5 AS luma
      FROM dims, unnest(generate_series(0, n - 1)) AS u(f)),
    d AS (
      SELECT doc_id, f, luma,
             CASE WHEN lag(luma) OVER (PARTITION BY doc_id ORDER BY f)
                    IS NULL
                  OR abs(luma - lag(luma)
                       OVER (PARTITION BY doc_id ORDER BY f))
                    >= $SceneCutThreshold
                  THEN 1 ELSE 0 END AS cut
      FROM fr),
    s AS (
      SELECT doc_id, f, luma,
             sum(cut) OVER (PARTITION BY doc_id ORDER BY f
                            ROWS UNBOUNDED PRECEDING) AS scene_id
      FROM d)
    SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
           CAST(min(f) AS BIGINT) AS start_f,
           CAST(max(f) AS BIGINT) AS end_f,
           count(*) AS n_frames,
           CAST(sum(luma) AS BIGINT) AS luma_sum
    FROM s GROUP BY doc_id, scene_id
    ORDER BY doc_id, scene_id"""

  /** Scene-level video signature: a 63-bit fingerprint packed from the
    * CHANGE-POINT scene table ([[videoSceneTableOf]]) — the video twin
    * of [[audioFingerprints]]'s frame-feature packing. Bands 0-2 carry
    * the first three scenes (every video has ≥ 20 frames = 4 full
    * 5-frame scenes): high byte = quantized scene luma sum
    * (luma_sum div 4 mod 256), low byte = scene length. Band 3 carries
    * whole-video shape — total frame count (7 bits, so the top bit
    * stays clear and the DuckDB oracle's BIGINT shift cannot overflow)
    * and quantized total luma — making the signature sensitive to video
    * LENGTH, not just its opening scenes: equal-prefix videos of
    * different length must not collide, the same reason the audio side
    * restricts to the first three frames but here length is packed
    * explicitly. All four 16-bit bands are informative, so the banded
    * pigeonhole ([[Multimodal.mediaCandidates]]) has 4 real bands:
    * a pair within Hamming ≤ 2 shares ≥ 2 untouched bands and is found
    * whenever EITHER is under the bucket cap — one band stronger than
    * the audio family's 3-real-band layout. Factored over the scene
    * table so specs can drive it with planted scenes. */
  private[graft] def videoFingerprints(scenes: DataFrame): DataFrame =
    scenes.groupBy("media_id")
      .agg(
        sum(when(col("scene_id") <= 3,
          expr("""shiftleft((luma_sum div 4) % 256,
                            cast((scene_id - 1) * 16 + 8 AS INT)) +
                  shiftleft(n_frames % 256,
                            cast((scene_id - 1) * 16 AS INT))"""))
          .otherwise(lit(0L))).as("p012"),
        sum("n_frames").as("n_tot"),
        sum("luma_sum").as("l_tot"))
      .selectExpr("media_id",
        """p012 + shiftleft((n_tot % 128) * 256 + (l_tot div 4) % 256, 48)
           AS phash""")

  private lazy val videoClustersIncrementalSql = s"""
    WITH $videoLabelCtes,
    vsrcn AS (
      SELECT doc_id, CAST(substr(source, 4) AS INT) AS src_num
      FROM documents),
    vqpairs AS MATERIALIZED (
      SELECT id_a AS doc_a, id_b AS doc_b FROM vpairs
      JOIN vsrcn sa ON sa.doc_id = id_a
      JOIN vsrcn sb ON sb.doc_id = id_b
      WHERE sa.src_num < 10 AND sb.src_num < 10),
    ${DedupQueries.unrolledLabelCtes("vqpairs", "doc_a", "doc_b", "vk",
      "vklabels", "doc_id")}
    SELECT m.media_id, m.cluster_id,
           CASE WHEN s.src_num >= 10 THEN 'batch'
                WHEN coalesce(k.cluster_id, m.media_id) <> m.cluster_id
                  THEN 'merged'
                ELSE 'stable' END AS status
    FROM vlabels m
    JOIN vsrcn s ON s.doc_id = m.media_id
    LEFT JOIN vklabels k ON k.doc_id = m.media_id
    ORDER BY m.media_id"""

  /** Shared oracle CTE chain re-deriving the scene-level fingerprint
    * analytically from the synthetic luma formula (scene table exactly
    * as the [[videoScenesSql]] oracle derives it, then the same packing
    * as [[videoFingerprints]]), banded with the hot-bucket cut —
    * `vokb` mirrors the engine's okb rows. */
  private val videoOkbCtes = s"""vdims AS (
      SELECT doc_id, 20 + doc_id % 11 AS n FROM documents),
    vfr AS (
      SELECT doc_id, f,
             (doc_id * 11 + (f // 5) * 97) % 251 + f % 5 AS luma
      FROM vdims, unnest(generate_series(0, n - 1)) AS u(f)),
    vd AS (
      SELECT doc_id, f, luma,
             CASE WHEN lag(luma) OVER (PARTITION BY doc_id ORDER BY f)
                    IS NULL
                  OR abs(luma - lag(luma)
                       OVER (PARTITION BY doc_id ORDER BY f))
                    >= $SceneCutThreshold
                  THEN 1 ELSE 0 END AS cut
      FROM vfr),
    vsn AS (
      SELECT doc_id, f, luma,
             sum(cut) OVER (PARTITION BY doc_id ORDER BY f
                            ROWS UNBOUNDED PRECEDING) AS scene_id
      FROM vd),
    vscn AS (
      SELECT doc_id, scene_id, count(*) AS n_frames,
             sum(luma) AS luma_sum
      FROM vsn GROUP BY doc_id, scene_id),
    vfp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN scene_id <= 3
                  THEN (((luma_sum // 4) % 256)
                          << CAST((scene_id - 1) * 16 + 8 AS INT))
                     + ((n_frames % 256)
                          << CAST((scene_id - 1) * 16 AS INT))
                  ELSE 0 END)
                + (((sum(n_frames) % 128) * 256 + (sum(luma_sum) // 4) % 256)
                     << 48)
                AS BIGINT) AS fp
      FROM vscn GROUP BY doc_id),
    vbands AS (
      SELECT doc_id, fp, band,
             CASE band WHEN 0 THEN fp & 65535
                       WHEN 1 THEN (fp >> 16) & 65535
                       WHEN 2 THEN (fp >> 32) & 65535
                       ELSE (fp >> 48) & 65535 END AS v
      FROM vfp, unnest([0, 1, 2, 3]) AS u(band)),
    vinf AS (
      SELECT band, v FROM vbands GROUP BY band, v
      HAVING count(*) <= ${Multimodal.BandBucketCap}),
    vokb AS (SELECT vbands.* FROM vbands JOIN vinf USING (band, v))"""

  /** `vpairs` = the video near-dup pair set — shared by the near-dup,
    * clusters and canonical oracles so the three can never drift.
    * MATERIALIZED where the unrolled edge list multiply references it
    * (DuckDB 1.0 inlines plain CTEs per reference). */
  private val videoPairCtes = s"""$videoOkbCtes,
    vcand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
             a.fp AS fa, c.fp AS fb
      FROM vokb a JOIN vokb c
        ON a.band = c.band AND a.v = c.v AND a.doc_id < c.doc_id),
    vpairs AS (
      SELECT id_a, id_b,
             CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
      FROM vcand
      WHERE bit_count(xor(fa, fb)) <= 2)"""

  private val videoNearDupSql = s"""
    WITH $videoPairCtes
    SELECT id_a, id_b, hamming
    FROM vpairs
    ORDER BY id_a, id_b"""

  /** Unrolled label-propagation chain ending in `vlabels` =
    * (media_id, cluster_id) — the video instance of
    * [[DedupQueries.unrolledLabelCtes]]; the oracle re-derives labels
    * independently of the engine's persisted artifact. */
  private val videoLabelCtes = s"""${videoPairCtes.replace(
      "vpairs AS (", "vpairs AS MATERIALIZED (")},
    ${DedupQueries.unrolledLabelCtes("vpairs", "id_a", "id_b", "vl",
      "vlabels", "media_id")}"""

  private val videoClustersSql = s"""
    WITH $videoLabelCtes
    SELECT media_id, cluster_id
    FROM vlabels
    ORDER BY media_id"""

  private val videoCanonicalSql = s"""
    WITH $videoLabelCtes,
    vdrops AS (SELECT media_id FROM vlabels WHERE media_id <> cluster_id)
    SELECT source, count(*) AS n_videos,
           CAST(sum(20 + doc_id % 11) AS BIGINT) AS total_frames
    FROM documents
    WHERE doc_id NOT IN (SELECT media_id FROM vdrops)
    GROUP BY source
    ORDER BY source"""

  private lazy val videoIncrementalSql = s"""
    WITH $videoOkbCtes,
    vsrc AS (
      SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS src_num
      FROM documents),
    vokbs AS (
      SELECT vokb.doc_id, vokb.fp, vokb.band, vokb.v, s.src_num
      FROM vokb JOIN vsrc s USING (doc_id)),
    vdrops AS (
      SELECT DISTINCT x.doc_id AS media_id
      FROM vokbs x JOIN vokbs y
        ON x.band = y.band AND x.v = y.v AND x.doc_id <> y.doc_id
       AND (y.src_num < 10 OR y.doc_id < x.doc_id)
      WHERE x.src_num >= 10 AND bit_count(xor(x.fp, y.fp)) <= 2)
    SELECT source, count(*) AS n_batch,
           CAST(sum(CASE WHEN d.media_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN d.media_id IS NULL
                    THEN 20 + doc_id % 11 ELSE 0 END)
                AS BIGINT) AS frames_kept
    FROM vsrc LEFT JOIN vdrops d ON vsrc.doc_id = d.media_id
    WHERE src_num >= 10
    GROUP BY source
    ORDER BY source"""

  /** The oracle's banding works on (hi, lo) halves — DuckDB BIGINT left
    * shift errors on hi<<32 overflow, and band extraction / Hamming both
    * decompose exactly over the halves. One CTE chain ending in
    * `pairs` = (id_a, id_b, hamming), shared by the near-dup and cluster
    * oracles so the two can never drift. */
  private val mediaOkbCtes = s"""dims AS (
      SELECT doc_id,
             CAST(16 + (doc_id % 6) * 8 AS BIGINT) AS w,
             CAST(16 + (doc_id % 4) * 8 AS BIGINT) AS h
      FROM documents),
    px AS (
      SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p
      FROM dims),
    cells AS (
      SELECT doc_id, w, h,
             (((p // w) * 8) // h) * 8 + (((p % w) * 8) // w) AS b,
             sum((doc_id * 37 + (p % w) * (p % w) + 5 * (p // w)) % 256)
               AS cell_sum,
             count(*) AS cell_px
      FROM px GROUP BY 1, 2, 3, 4),
    tot AS (
      SELECT doc_id, sum(cell_sum) AS tot_sum, sum(cell_px) AS n_px
      FROM cells GROUP BY doc_id),
    bits AS (
      SELECT c.doc_id, c.b,
             CASE WHEN c.cell_sum * t.n_px >= t.tot_sum * c.cell_px
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
      FROM cells c JOIN tot t USING (doc_id)),
    sigs AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN b >= 32 THEN bit << (b - 32) ELSE 0 END)
                  AS BIGINT) AS hi,
             CAST(sum(CASE WHEN b < 32 THEN bit << b ELSE 0 END)
                  AS BIGINT) AS lo
      FROM bits GROUP BY doc_id),
    bands AS (
      SELECT doc_id, hi, lo, band,
             CASE band WHEN 0 THEN lo & 65535
                       WHEN 1 THEN (lo >> 16) & 65535
                       WHEN 2 THEN hi & 65535
                       ELSE (hi >> 16) & 65535 END AS v
      FROM sigs, unnest([0, 1, 2, 3]) AS u(band)),
    informative AS (
      SELECT band, v FROM bands GROUP BY band, v
      HAVING count(*) <= ${Multimodal.BandBucketCap}),
    okb AS (SELECT bands.* FROM bands JOIN informative USING (band, v))"""

  private val mediaPairCtes = s"""$mediaOkbCtes,
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
             a.hi AS ha, a.lo AS la, c.hi AS hb, c.lo AS lb
      FROM okb a JOIN okb c
        ON a.band = c.band AND a.v = c.v AND a.doc_id < c.doc_id),
    pairs AS (
      SELECT id_a, id_b,
             CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT)
               AS hamming
      FROM cand
      WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 3)"""

  private val mediaNearDupSql = s"""
    WITH $mediaPairCtes
    SELECT id_a, id_b, hamming
    FROM pairs
    ORDER BY id_a, id_b"""

  /** Unrolled (non-recursive) label-propagation chain ending in
    * `mlabels` = (media_id, cluster_id), shared by the clusters and
    * canonical oracles — the dialect-portable spelling from
    * [[DedupQueries.unrolledLabelCtes]]; like the text side, the oracle
    * re-derives labels independently of the engine's persisted artifact.
    * The `pairs` chain is MATERIALIZED: the unrolled edge list reads it
    * four times and DuckDB 1.0 would re-derive the banded signature
    * pipeline per reference. */
  private val mediaLabelCtes = s"""${mediaPairCtes.replace(
      "pairs AS (", "pairs AS MATERIALIZED (")},
    ${DedupQueries.unrolledLabelCtes("pairs", "id_a", "id_b", "m",
      "mlabels", "media_id")}"""

  private val mediaClustersSql = s"""
    WITH $mediaLabelCtes
    SELECT media_id, cluster_id
    FROM mlabels
    ORDER BY media_id"""

  private val mediaCanonicalSql = s"""
    WITH $mediaLabelCtes,
    drops AS (SELECT media_id FROM mlabels WHERE media_id <> cluster_id)
    SELECT source, count(*) AS n_images,
           CAST(sum((16 + (doc_id % 6) * 8) * (16 + (doc_id % 4) * 8))
                AS BIGINT) AS total_px
    FROM documents
    WHERE doc_id NOT IN (SELECT media_id FROM drops)
    GROUP BY source
    ORDER BY source"""

  // ───────────────────────── cross-modal linkage ─────────────────────────
  // The one capability class the per-modality dedup matrix doesn't
  // touch: documents and their media derive from the SAME doc_id, so
  // text near-dup structure and image near-dup structure can be JOINED
  // — the caption-dedup question of a multimodal training pipeline
  // ("this caption is duplicated; do its images agree?") and its
  // reverse ("this image is duplicated; do its captions agree?"). Both
  // run off the two PERSISTED cluster-label artifacts (text + media) —
  // no shingling, no pixel decode, no pair generation at query time:
  // the linkage layer is two narrow label joins over doc-bounded
  // tables, which is the 100 TB shape (the expensive closure work was
  // paid once, offline, per modality).

  /** Per-doc cross-modal canonical view: every document with its text
    * canonical and image canonical (its own id when unclustered — the
    * label artifacts carry only clustered nodes, whose clusters are
    * ≥ 2 by construction). Shared by the three linkage queries. */
  private def crossModalCanon(spark: SparkSession,
      dir: String): DataFrame = {
    val tl = DedupQueries.persistedLabels(spark, dir, "text")
      .select(col("doc_id"), col("cluster_id").as("tc0"))
    val il = Image.clusterLabels(spark, dir)
      .select(col("media_id").as("doc_id"), col("cluster_id").as("ic0"))
    Tables(spark, dir, "documents").select("doc_id", "source")
      .join(tl, Seq("doc_id"), "left")
      .join(il, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("tc0"), col("doc_id")).as("text_canon"),
        coalesce(col("ic0"), col("doc_id")).as("img_canon"))
  }

  /** Caption-dedup accounting, text → image direction: for every text
    * near-dup cluster (≥ 2 members), how many DISTINCT image canonicals
    * its members map to — a conflict (n > 1) is a duplicated caption
    * attached to genuinely different images, the pair a multimodal
    * dedup must NOT collapse to one row. Cluster-level aggregation, so
    * output is cluster-bounded, never pair-bounded. */
  private def captionConflicts(spark: SparkSession,
      dir: String): DataFrame =
    crossModalCanon(spark, dir)
      .groupBy("text_canon")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("img_canon").as("n_img_canonicals"))
      .filter(col("n_docs") >= 2)
      .select(col("text_canon").as("text_cluster"), col("n_docs"),
        col("n_img_canonicals"),
        (col("n_img_canonicals") > 1).as("is_conflict"))
      .orderBy("text_cluster")

  /** The reverse direction: for every IMAGE near-dup cluster (≥ 2
    * members), how many distinct text canonicals its members carry — a
    * conflict is one image published under genuinely different
    * captions (alt-text divergence), the signal caption-selection
    * pipelines rank by. */
  private def imageCaptionConflicts(spark: SparkSession,
      dir: String): DataFrame =
    crossModalCanon(spark, dir)
      .groupBy("img_canon")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("text_canon").as("n_text_canonicals"))
      .filter(col("n_docs") >= 2)
      .select(col("img_canon").as("image_cluster"), col("n_docs"),
        col("n_text_canonicals"),
        (col("n_text_canonicals") > 1).as("is_conflict"))
      .orderBy("image_cluster")

  /** Alignment accounting per source: of each source's documents, how
    * many are text-side dups (non-canonical members of a text
    * cluster), image-side dups, or both — the per-provider scorecard a
    * lake operator reads to see WHERE cross-modal duplication comes
    * from. One shuffle on source over the doc-bounded canonical view. */
  private def crossModalAlignment(spark: SparkSession,
      dir: String): DataFrame =
    crossModalCanon(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("text_canon") =!= col("doc_id"), 1L).otherwise(0L))
          .as("n_text_dup"),
        sum(when(col("img_canon") =!= col("doc_id"), 1L).otherwise(0L))
          .as("n_img_dup"),
        sum(when(col("text_canon") =!= col("doc_id") &&
            col("img_canon") =!= col("doc_id"), 1L).otherwise(0L))
          .as("n_both_dup"))
      .orderBy("source")

  /** Combined oracle CTE chain over the PERSISTED text + image label
    * artifacts ([[DedupQueries.clusterLabelsToken]]): certifies the
    * linkage arithmetic, while each artifact's content ≡ closure is
    * independently re-derived and hash-certified by q_dedup_clusters /
    * q_media_clusters. Split from the earlier two-closure re-derive
    * chain for the same reason as [[crossModal4Ctes]] — the three
    * linkage oracles each repeated ~20 s of DuckDB closure work the
    * suite already certifies elsewhere. */
  private val crossModalCtes = s"""
    xm AS (
      SELECT d.doc_id, d.source,
             coalesce(l.cluster_id, d.doc_id) AS text_canon,
             coalesce(m.cluster_id, d.doc_id) AS img_canon
      FROM documents d
      LEFT JOIN read_parquet('${DedupQueries.clusterLabelsToken("text")}/*.parquet') l ON l.doc_id = d.doc_id
      LEFT JOIN read_parquet('${DedupQueries.clusterLabelsToken("media")}/*.parquet') m ON m.doc_id = d.doc_id)"""

  private val captionConflictsSql = s"""
    WITH $crossModalCtes
    SELECT text_canon AS text_cluster, count(*) AS n_docs,
           count(DISTINCT img_canon) AS n_img_canonicals,
           count(DISTINCT img_canon) > 1 AS is_conflict
    FROM xm GROUP BY text_canon HAVING count(*) >= 2
    ORDER BY text_cluster"""

  private val imageCaptionConflictsSql = s"""
    WITH $crossModalCtes
    SELECT img_canon AS image_cluster, count(*) AS n_docs,
           count(DISTINCT text_canon) AS n_text_canonicals,
           count(DISTINCT text_canon) > 1 AS is_conflict
    FROM xm GROUP BY img_canon HAVING count(*) >= 2
    ORDER BY image_cluster"""

  private val crossModalAlignmentSql = s"""
    WITH $crossModalCtes
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN text_canon <> doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_text_dup,
           CAST(sum(CASE WHEN img_canon <> doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_img_dup,
           CAST(sum(CASE WHEN text_canon <> doc_id
                          AND img_canon <> doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_both_dup
    FROM xm GROUP BY source
    ORDER BY source"""

  /** Per-doc canonical view across ALL FOUR modalities — the uniform
    * completion of [[crossModalCanon]]: every document with its text,
    * image, audio and video canonicals (its own id when unclustered).
    * Four narrow label joins over the PERSISTED per-modality cluster
    * artifacts — no shingling, pixel decode, PCM framing or scene
    * hashing at query time, the same 100 TB shape as the two-modality
    * view (the closure work was paid once, offline, per modality). */
  private def crossModalCanon4(spark: SparkSession,
      dir: String): DataFrame = {
    val al = DedupQueries.persistedLabels(spark, dir, "audio")
      .select(col("doc_id"), col("cluster_id").as("ac0"))
    val vl = DedupQueries.persistedLabels(spark, dir, "video")
      .select(col("doc_id"), col("cluster_id").as("vc0"))
    crossModalCanon(spark, dir)
      .join(al, Seq("doc_id"), "left")
      .join(vl, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        col("text_canon"), col("img_canon"),
        coalesce(col("ac0"), col("doc_id")).as("audio_canon"),
        coalesce(col("vc0"), col("doc_id")).as("video_canon"))
  }

  /** The full cross-modal duplication matrix per source — the
    * four-modality generalization of [[crossModalAlignment]]: how many
    * of each source's documents are non-canonical on the text, image,
    * audio and video side, and how many are duplicated in TWO OR MORE
    * modalities at once (the strongest whole-record-duplicate signal a
    * multimodal dedup pass acts on first). One shuffle on source over
    * the doc-bounded canonical view; the oracle re-derives all FOUR
    * label closures independently, so a green hash certifies every
    * offline training run plus the linkage arithmetic in one check. */
  private def crossModalMatrix(spark: SparkSession,
      dir: String): DataFrame = {
    def dup(c: String): Column = (col(c) =!= col("doc_id")).cast("long")
    crossModalCanon4(spark, dir)
      .select(col("source"),
        dup("text_canon").as("td"), dup("img_canon").as("id"),
        dup("audio_canon").as("ad"), dup("video_canon").as("vd"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("td").as("n_text_dup"), sum("id").as("n_img_dup"),
        sum("ad").as("n_audio_dup"), sum("vd").as("n_video_dup"),
        sum(when(col("td") + col("id") + col("ad") + col("vd") >= 2L, 1L)
          .otherwise(0L)).as("n_multi_dup"))
      .orderBy("source")
  }

  /** All four modalities' canonicals joined from the PERSISTED label
    * artifacts ([[DedupQueries.clusterLabelsToken]]) rather than four
    * re-derived closure chains: this oracle certifies the linkage +
    * matrix arithmetic, while each artifact's content ≡ closure is
    * independently hash-certified by q_dedup_clusters /
    * q_media_clusters / q_audio_clusters / q_video_clusters (whose
    * oracles DO re-derive). The earlier combined four-closure chain
    * was the suite's most expensive DuckDB query (45 s at sf0.01,
    * r16 ADVICE's recorded long-pole risk) for certification work the
    * suite already carries elsewhere; this form is ~1 s and stays
    * flat as testdata grows. */
  private val crossModal4Ctes = s"""
    xm4 AS (
      SELECT d.doc_id, d.source,
             coalesce(l.cluster_id, d.doc_id) AS text_canon,
             coalesce(m.cluster_id, d.doc_id) AS img_canon,
             coalesce(a.cluster_id, d.doc_id) AS audio_canon,
             coalesce(v.cluster_id, d.doc_id) AS video_canon
      FROM documents d
      LEFT JOIN read_parquet('${DedupQueries.clusterLabelsToken("text")}/*.parquet') l ON l.doc_id = d.doc_id
      LEFT JOIN read_parquet('${DedupQueries.clusterLabelsToken("media")}/*.parquet') m ON m.doc_id = d.doc_id
      LEFT JOIN read_parquet('${DedupQueries.clusterLabelsToken("audio")}/*.parquet') a ON a.doc_id = d.doc_id
      LEFT JOIN read_parquet('${DedupQueries.clusterLabelsToken("video")}/*.parquet') v ON v.doc_id = d.doc_id)"""

  private val crossModalMatrixSql = s"""
    WITH $crossModal4Ctes
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN text_canon <> doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_text_dup,
           CAST(sum(CASE WHEN img_canon <> doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_img_dup,
           CAST(sum(CASE WHEN audio_canon <> doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_audio_dup,
           CAST(sum(CASE WHEN video_canon <> doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_video_dup,
           CAST(sum(CASE WHEN (CASE WHEN text_canon <> doc_id THEN 1 ELSE 0 END)
                           + (CASE WHEN img_canon <> doc_id THEN 1 ELSE 0 END)
                           + (CASE WHEN audio_canon <> doc_id THEN 1 ELSE 0 END)
                           + (CASE WHEN video_canon <> doc_id THEN 1 ELSE 0 END)
                          >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_dup
    FROM xm4 GROUP BY source
    ORDER BY source"""

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_media_neardup", Image.nearDup, Some(mediaNearDupSql)),
    QueryDef("q_media_clusters", Image.clusters, Some(mediaClustersSql)),
    QueryDef("q_media_canonical", Image.canonical, Some(mediaCanonicalSql)),
    QueryDef("q_media_incremental", Image.incremental,
      Some(mediaIncrementalSql)),
    QueryDef("q_media_clusters_incremental", Image.clustersIncremental,
      Some(mediaClustersIncrementalSql)),
    QueryDef("q_multimodal_meta", multimodalMeta, Some("""
      SELECT doc_id, TRUE AS is_valid,
             n_chars AS width,
             doc_id % 100 AS height,
             octet_length(encode(text)) AS payload_bytes
      FROM documents
      ORDER BY doc_id""")),
    QueryDef("q_media_phash", mediaPhash, Some(mediaPhashSql)),
    QueryDef("q_media_resize", mediaResize, Some(mediaResizeSql)),
    QueryDef("q_audio_frames", audioFrames, Some(audioFramesSql)),
    QueryDef("q_audio_neardup", Audio.nearDup, Some(audioNearDupSql)),
    QueryDef("q_audio_incremental", Audio.incremental,
      Some(audioIncrementalSql)),
    QueryDef("q_audio_clusters", Audio.clusters, Some(audioClustersSql)),
    QueryDef("q_audio_canonical", Audio.canonical,
      Some(audioCanonicalSql)),
    QueryDef("q_audio_segments", audioSilence, Some(audioSilenceSql)),
    QueryDef("q_video_scenes", videoScenes, Some(videoScenesSql)),
    QueryDef("q_video_neardup", Video.nearDup, Some(videoNearDupSql)),
    QueryDef("q_video_incremental", Video.incremental,
      Some(videoIncrementalSql)),
    QueryDef("q_video_clusters", Video.clusters, Some(videoClustersSql)),
    QueryDef("q_video_canonical", Video.canonical, Some(videoCanonicalSql)),
    QueryDef("q_audio_clusters_incremental", Audio.clustersIncremental,
      Some(audioClustersIncrementalSql)),
    QueryDef("q_video_clusters_incremental", Video.clustersIncremental,
      Some(videoClustersIncrementalSql)),
    QueryDef("q_caption_conflicts", captionConflicts,
      Some(captionConflictsSql)),
    QueryDef("q_image_caption_conflicts", imageCaptionConflicts,
      Some(imageCaptionConflictsSql)),
    QueryDef("q_crossmodal_alignment", crossModalAlignment,
      Some(crossModalAlignmentSql)),
    QueryDef("q_crossmodal_matrix", crossModalMatrix,
      Some(crossModalMatrixSql)),
  )
}
