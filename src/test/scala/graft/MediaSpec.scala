package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** The REAL image codec (JDK javax.imageio): PNG byte round-trips are
  * exact, JPEG decodes, the aHash is computed from decoded pixels with
  * the exact-integer rule, and real signatures flow through the same
  * banded near-dup join the opaque-payload tier uses. */
class MediaSpec extends SparkSpec {

  /** Expected luma of synthPng pixel (x,y) for a given seed. */
  private def g(seed: Long, x: Int, y: Int): Int =
    java.lang.Math.floorMod(37L * seed + x.toLong * x + 5L * y, 256L).toInt

  test("synthPng produces genuine PNG bytes that round-trip exactly") {
    val bytes = Multimodal.synthPng(7L, 24, 16)
    // PNG magic: 89 50 4E 47
    assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G')
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth == 24 && img.getHeight == 16)
    for (y <- 0 until 16; x <- 0 until 24)
      assert(img.getRaster.getSample(x, y, 0) == g(7L, x, y),
        s"pixel ($x,$y) lost in PNG round-trip")
  }

  test("imageFeature: dimensions, exact luma sum, analytic aHash") {
    val (w, h) = (32, 24)
    val f = Multimodal.imageFeature(3L, Multimodal.synthPng(3L, w, h))
    assert(f.ok && f.width == w && f.height == h)
    val expectedSum = (for (y <- 0 until h; x <- 0 until w)
      yield g(3L, x, y).toLong).sum
    assert(f.px_sum == expectedSum)
    // recompute the aHash from first principles with the same exact
    // integer rule and compare bit-for-bit
    val cellSum = new Array[Long](64)
    val cellPx = new Array[Long](64)
    for (y <- 0 until h; x <- 0 until w) {
      val b = (y * 8 / h) * 8 + (x * 8 / w)
      cellSum(b) += g(3L, x, y); cellPx(b) += 1
    }
    val nPx = w.toLong * h
    var hi = 0L; var lo = 0L
    for (b <- 0 until 64)
      if (cellPx(b) > 0 && cellSum(b) * nPx >= expectedSum * cellPx(b)) {
        if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
      }
    assert(f.phash_hi == hi && f.phash_lo == lo)
    assert(f.phash_hi >= 0L && f.phash_lo >= 0L) // 32-bit halves, sign-safe
  }

  test("JPEG blobs decode through the same path (dims survive lossy coding)") {
    val img = new java.awt.image.BufferedImage(
      40, 30, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 30; x <- 0 until 40)
      img.setRGB(x, y, ((x * 8) << 16) | ((y * 8) << 8) | 0x40)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    val f = Multimodal.imageFeature(9L, baos.toByteArray)
    assert(f.ok && f.width == 40 && f.height == 30)
    assert(f.px_sum > 0) // lossy pixels, but decoded content is real
  }

  test("color JPEG round-trip pins the Rec.601 luma branch: analytic aHash survives lossy coding") {
    // 64×64, each 8×8 aHash cell a SOLID color: checkerboard of pure
    // green (Rec.601 luma ⌊587·255/1000⌋ = 149) and pure blue (luma 38).
    // The ~111-level separation dwarfs JPEG quantization error (solid
    // blocks aligned to JPEG's own 8×8 DCT grid), so the aHash computed
    // from DECODED JPEG pixels must equal the hash derived analytically
    // from the Rec.601 weights. A wrong color branch — red channel (both
    // colors → 0), blue channel (inverts the board), unweighted mean
    // (85 vs 85, tie) — each yields a different hash, so this is a
    // bit-exact witness of the (299, 587, 114)/1000 integer weighting.
    def colorJpeg(swap: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val greenCell = ((x / 8) + (y / 8)) % 2 == 0
        val rgb = if (greenCell != swap) 0x00ff00 else 0x0000ff
        img.setRGB(x, y, rgb)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    // analytic expectation from the Rec.601 integer formula
    val lumaGreen = 255 * 587 / 1000 // 149
    val lumaBlue = 255 * 114 / 1000 // 38
    var hi = 0L; var lo = 0L
    var totalAnalytic = 0L
    for (cy <- 0 until 8; cx <- 0 until 8) {
      val v = if ((cx + cy) % 2 == 0) lumaGreen else lumaBlue
      totalAnalytic += v.toLong * 64
      // 32 cells each color → mean = (149 + 38) / 2 = 93.5; green above
      if (v >= (lumaGreen + lumaBlue) / 2.0) {
        val b = cy * 8 + cx
        if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
      }
    }
    val f = Multimodal.imageFeature(11L, colorJpeg(swap = false))
    assert(f.ok && f.width == 64 && f.height == 64)
    assert(f.phash_hi == hi && f.phash_lo == lo,
      f"JPEG-decoded aHash ${f.phash_hi}%08x:${f.phash_lo}%08x != analytic " +
        f"Rec.601 hash $hi%08x:$lo%08x — color luma branch drifted")
    // luma sum: lossy, but must sit within a few percent of analytic
    assert(math.abs(f.px_sum - totalAnalytic) < totalAnalytic / 20,
      s"px_sum ${f.px_sum} too far from analytic $totalAnalytic")
    // stability: same bytes decode to the same signature every time
    val again = Multimodal.imageFeature(11L, colorJpeg(swap = false))
    assert(again.phash_hi == f.phash_hi && again.phash_lo == f.phash_lo &&
      again.px_sum == f.px_sum)
    // channel sensitivity witness: swapping green↔blue inverts the board,
    // so every cell's decision flips — complement hash, much lower sum
    val sw = Multimodal.imageFeature(12L, colorJpeg(swap = true))
    assert(sw.ok && sw.phash_hi == (~hi & 0xffffffffL) &&
      sw.phash_lo == (~lo & 0xffffffffL),
      "green↔blue swap must complement the aHash under Rec.601 weights")
  }

  test("color JPEG signatures flow stably through the partitioned decode path") {
    import spark.implicits._
    // the SAME JPEG bytes decoded in different partitions must produce
    // identical feature rows (no per-task codec state leaks into results)
    def jpeg(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        48, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 48; x <- 0 until 48) {
        val c = if (((x / 6) + (y / 6) + seed) % 3 == 0) 0xff8000
          else if (((x / 6) + (y / 6) + seed) % 3 == 1) 0x00ff80 else 0x0080ff
        img.setRGB(x, y, c)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    val rows = (0 until 24).map(i => (i.toLong, jpeg(i % 3))).toDF("media_id", "bytes")
    val feats = Multimodal.decodeImagePartitioned(rows.repartition(8))
      .collect().map(f => (f.media_id, (f.ok, f.px_sum, f.phash_hi, f.phash_lo)))
      .toMap
    assert(feats.size == 24 && feats.values.forall(_._1))
    // ids with identical source bytes → identical signatures, regardless
    // of which partition decoded them
    for (i <- 0 until 24)
      assert(feats(i.toLong) == feats((i % 3).toLong),
        s"media $i decoded differently from its byte-identical sibling ${i % 3}")
  }

  test("malformed blobs produce the ok=false sentinel, never an exception") {
    // crawler reality: headers that promise an image whose body lies.
    // JDK readers throw RUNTIME exceptions (not just IOException) on
    // these — the codec contract is a sentinel row, not a dead task.
    val png = Multimodal.synthPng(7L, 24, 16)
    val truncated = png.take(30) // valid PNG signature, body cut off
    val corrupted = png.clone()
    for (i <- 20 until math.min(60, corrupted.length))
      corrupted(i) = (corrupted(i) ^ 0x5a).toByte // scrambled chunk data
    val garbage = Array.fill[Byte](256)(0x42)
    Seq(truncated, corrupted, garbage, Array.emptyByteArray, null).foreach { b =>
      val f = Multimodal.imageFeature(1L, b)
      assert(!f.ok && f.width == 0 && f.height == 0)
    }
  }

  test("resizeImagePartitioned: exact area-average pixels, real PNG bytes, downscale-only + sentinel contracts") {
    import spark.implicits._
    // 16×8 source with known pixels → 4×2 target: each cell covers a
    // 4×4 block, resized value = floor(block sum / 16) — assert every
    // output pixel against hand arithmetic after a real PNG round-trip
    val src = Multimodal.synthPng(3L, 16, 8)
    val out = Multimodal.resizeImagePartitioned(
        Seq((1L, src)).toDF("media_id", "bytes"), 4, 2)
      .collect().head
    assert(out.ok && out.src_w == 16 && out.src_h == 8)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out.bytes))
    assert(img.getWidth == 4 && img.getHeight == 2)
    def pix(x: Int, y: Int): Long =
      java.lang.Math.floorMod(37L * 3L + x.toLong * x + 5L * y, 256L)
    for (cy <- 0 until 2; cx <- 0 until 4) {
      val expect = (for (y <- cy * 4 until cy * 4 + 4;
                         x <- cx * 4 until cx * 4 + 4) yield pix(x, y))
        .sum / 16
      assert(img.getRaster.getSample(cx, cy, 0) == expect,
        s"cell ($cy,$cx): exact integer area average violated")
    }
    // downscale-only: a source smaller than the target in either
    // dimension is a sentinel, like an undecodable blob — never invented
    // pixels, never an exception
    val tiny = Multimodal.synthPng(4L, 3, 8)
    val bad = Multimodal.resizeImagePartitioned(
        Seq((2L, tiny), (3L, Array.fill[Byte](64)(0x42)))
          .toDF("media_id", "bytes"), 4, 2)
      .collect().sortBy(_.media_id)
    assert(bad.forall(!_.ok))
  }

  test("real-pixel aHash has perceptual locality: edits flip few bits, inversions flip many") {
    // base: half dark / half bright — every 8x8 cell decisively off-mean
    def paint(edit: Boolean, invert: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 64; x <- 0 until 64) {
        val base = if (x < 32) 30 else 220
        val v0 = if (invert) 250 - base else base
        // edit: brighten ONLY the top-left 8x8 cell
        val v = if (edit && x < 8 && y < 8) 220 else v0
        img.getRaster.setSample(x, y, 0, v)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    def sig(b: Array[Byte]): Long = {
      val f = Multimodal.imageFeature(0L, b)
      (f.phash_hi << 32) | f.phash_lo
    }
    val base = sig(paint(edit = false, invert = false))
    val edited = sig(paint(edit = true, invert = false))
    val inverted = sig(paint(edit = false, invert = true))
    assert(java.lang.Long.bitCount(base ^ edited) <= 2,
      "single-cell edit must flip at most a couple of aHash bits")
    assert(java.lang.Long.bitCount(base ^ inverted) >= 32,
      "luma inversion must flip most aHash bits")
  }

  test("mediaNearDups over REAL decoded signatures finds edits, not inversions") {
    import spark.implicits._
    def blob(seed: Long, tweakCell: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        32, 32, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 32; x <- 0 until 32) {
        val v0 = if (((x / 4) + (y / 4)) % 2 == 0) 40 else 210 // checker
        val v = if (tweakCell && x < 4 && y < 4) 210 - v0 + 40 else v0
        img.getRaster.setSample(x, y, 0, math.min(255, math.max(0, v)))
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    def inv(b: Array[Byte]): Array[Byte] = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        img.getRaster.setSample(x, y, 0,
          255 - img.getRaster.getSample(x, y, 0))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val rows = Seq(
      (0L, blob(0L, tweakCell = false)),
      (1L, blob(0L, tweakCell = true)), // one-cell tweak: near-dup of 0
      (2L, inv(blob(0L, tweakCell = false))), // inverted: far from all
      (3L, blob(0L, tweakCell = false))) // exact copy of 0
      .toDF("media_id", "bytes")
    val sigs = Multimodal.perceptualHashImagePartitioned(rows)
    val pairs = Multimodal.mediaNearDups(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("pcmFrameFeatures edges: empty payload → zero frames; short frames exact") {
    import spark.implicits._
    // id 0: header-only blob (n = 0) must produce NO frame rows — the
    // empty-payload guard, not a descending-sequence explosion.
    // id 1: a single sample → one frame, n_samp = 1, zc = 0, energy = v².
    // id 2: 65 samples → a full frame plus a 1-sample partial.
    val rows = Seq(
      (0L, Multimodal.synthPcm(0L, 0)),
      (1L, Multimodal.synthPcm(1L, 1)),
      (2L, Multimodal.synthPcm(2L, 65))).map { case (id, p) =>
      val bb = java.nio.ByteBuffer.allocate(12 + p.length)
      bb.putInt(0x47524654); bb.putInt(p.length)
      bb.putInt(Multimodal.PcmSampleRate); bb.put(p)
      (id, bb.array())
    }.toDF("media_id", "bytes")
    val out = Multimodal.pcmFrameFeatures(rows).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    def v(id: Long, i: Int): Long = {
      val base = java.lang.Math.floorMod(id * 31 + 13L * i, 256L)
      if (java.lang.Math.floorMod(i / 64 + id, 3L) == 0L) base % 8 - 4
      else base - 128
    }
    def energy(id: Long, lo: Int, hi: Int): Long =
      (lo until hi).map(i => v(id, i) * v(id, i)).sum
    def zc(id: Long, lo: Int, hi: Int): Long =
      (lo + 1 until hi).count(i => v(id, i - 1) * v(id, i) < 0).toLong
    assert(out.count(_._1 == 0L) == 0, "empty payload must yield no frames")
    assert(out.filter(_._1 == 1L).toSeq ==
      Seq((1L, 0L, 1L, energy(1L, 0, 1), 0L)))
    assert(out.filter(_._1 == 2L).toSeq == Seq(
      (2L, 0L, 64L, energy(2L, 0, 64), zc(2L, 0, 64)),
      (2L, 1L, 1L, energy(2L, 64, 65), 0L)))
  }

  test("audio fingerprint planted recall: quantization-local edits pair up, different audio does not") {
    import spark.implicits._
    import graft.queries.MultimodalQueries
    // planted per-frame features (media_id, frame, energy, zc):
    //   doc 1 — the reference recording
    //   doc 2 — same energies, frame-0 zc 5→4 (one fingerprint bit)
    //   doc 3 — same but zc 5→26 (≥ 4 fingerprint bits from BOTH doc 1
    //           and doc 2: candidate via shared bands 1-2, then rejected
    //           by the exact Hamming filter)
    //   doc 4 — exact copy of doc 1 (Hamming 0)
    //   doc 9 — entirely different audio (below the bucket cap the
    //           all-zero top band makes every doc a candidate; the
    //           Hamming filter must reject it)
    val base = Seq((0L, 4096L * 10, 5L), (1L, 4096L * 20, 6L),
      (2L, 4096L * 30, 7L))
    def doc(id: Long, f0zc: Long, shift: Long = 0) = base.map {
      case (f, e, z) => (id, f, e + shift * 4096, if (f == 0) f0zc else z)
    }
    val fr = (doc(1, 5) ++ doc(2, 4) ++ doc(3, 26) ++ doc(4, 5) ++
      doc(9, 5, shift = 77)).toDF("media_id", "frame", "energy", "zc")
    val sigs = MultimodalQueries.audioFingerprints(fr)
      .as[Multimodal.MediaSig]
    val pairs = Multimodal.mediaNearDups(sigs, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 1L), (1L, 4L, 0L), (2L, 4L, 1L)),
      s"planted audio near-dups missed/over-matched: $pairs")
  }

  test("compactMediaClusterLabels: incremental merge + overwrite equals from-scratch retraining") {
    import graft.queries.{DedupQueries, MultimodalQueries}
    val sf = "/root/testdata/sf0.001"
    MultimodalQueries.Image.trainClusterLabels(spark, sf)
    val full = spark.read.parquet(DedupQueries.clusterModelPath(sf, "media"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // compact: merge the batch (src10+) into the "media-lake" prior and
    // OVERWRITE the full artifact — the image continual-ingest loop's
    // last leg
    MultimodalQueries.Image.compactClusterLabels(spark, sf)
    val compacted = spark.read
      .parquet(DedupQueries.clusterModelPath(sf, "media"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(compacted == full,
      s"media compaction diverged from retraining: only-compacted=" +
        s"${(compacted -- full).take(5)} only-full=${(full -- compacted).take(5)}")
    // staged ladder: b10 → b15 → full must also equal from-scratch (the
    // b15 prior really is the refreshed lake for the second stage)
    MultimodalQueries.Image.compactClusterLabels(spark, sf, lakeBound = 10, batchBound = 15)
    assert(DedupQueries.clusterModelTrained(spark, sf,
      MultimodalQueries.Image.priorKind(15)),
      "stage-1 media compaction must persist the advanced b15 prior")
    MultimodalQueries.Image.compactClusterLabels(spark, sf, lakeBound = 15)
    val staged = spark.read
      .parquet(DedupQueries.clusterModelPath(sf, "media"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(staged == full,
      s"staged media compaction diverged: only-staged=" +
        s"${(staged -- full).take(5)} only-full=${(full -- staged).take(5)}")
    // a reversed boundary call must refuse, not mislabel a prior
    intercept[IllegalArgumentException] {
      MultimodalQueries.Image.compactClusterLabels(spark, sf, lakeBound = 15, batchBound = 12)
    }
  }

  test("media compaction property: random boundary ladders equal from-scratch at every prefix") {
    import graft.queries.{DedupQueries, MultimodalQueries}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val sf = "/root/testdata/sf0.001"
    MultimodalQueries.Image.index(sf).train(spark)
    MultimodalQueries.Image.trainClusterLabels(spark, sf)
    val srcn = Tables(spark, sf, "documents")
      .select(col("doc_id").as("media_id"),
        expr("cast(substring(source, 4, 8) AS INT)").as("src_num"))
    // From-scratch labels of the src_num < bound prefix corpus:
    // signatures filtered to the prefix (per-image purity makes the
    // filter exact), banding censused over the prefix, propagate.
    def scratch(bound: Int): Set[(Long, Long)] = {
      import spark.implicits._
      val sigs = MultimodalQueries.Image.index(sf).read(spark)
        .join(srcn.filter(col("src_num") < bound), "media_id")
        .select("media_id", "phash").as[Multimodal.MediaSig]
      DedupQueries.clusterLabels(
          Multimodal.mediaNearDups(sigs, maxHamming = 3)
            .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val fullScratch = scratch(Int.MaxValue)
    val ladderGen = Gen.someOf(11 to 19).map(_.toList.sorted.take(2))
      .suchThat(_.nonEmpty)
    val ladders = (0 until 6).flatMap(i =>
      ladderGen.apply(Gen.Parameters.default, Seed(9100L + i)))
      .distinct.take(3)
    assert(ladders.nonEmpty)
    for (ladder <- ladders) {
      var lake = 10
      for (b <- ladder) {
        MultimodalQueries.Image.compactClusterLabels(spark, sf, lakeBound = lake, batchBound = b)
        val prior = spark.read
          .parquet(DedupQueries.clusterModelPath(sf,
            MultimodalQueries.Image.priorKind(b)))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(prior == scratch(b),
          s"ladder $ladder: compacted media prior at b$b diverged from " +
            "from-scratch clustering of the prefix corpus")
        lake = b
      }
      MultimodalQueries.Image.compactClusterLabels(spark, sf, lakeBound = lake)
      val staged = spark.read
        .parquet(DedupQueries.clusterModelPath(sf, "media"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(staged == fullScratch,
        s"ladder $ladder: final media compaction diverged from retraining")
    }
  }

  test("appended media-signature index equals from-scratch build across a multi-step ladder") {
    import graft.queries.MultimodalQueries
    val sf = "/root/testdata/sf0.001"
    def snapshot() = MultimodalQueries.Image.index(sf).read(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the one-shot build is the reference
    MultimodalQueries.Image.index(sf).drop(spark)
    MultimodalQueries.Image.index(sf).train(spark)
    val expected = snapshot()
    assert(expected.nonEmpty)
    // rebuild as a 4-step ingest ladder
    MultimodalQueries.Image.index(sf).drop(spark)
    MultimodalQueries.Image.index(sf).train(spark, bound = 10)
    assert(MultimodalQueries.Image.index(sf).bound(spark) == Some(10L))
    assert(!MultimodalQueries.Image.index(sf).trained(spark),
      "a mid-ladder index must NOT register as full coverage")
    MultimodalQueries.Image.index(sf).append(spark, 14)
    MultimodalQueries.Image.index(sf).append(spark, 18)
    MultimodalQueries.Image.index(sf).append(spark, Long.MaxValue)
    assert(MultimodalQueries.Image.index(sf).trained(spark))
    assert(MultimodalQueries.Image.index(sf).ladder(spark) ==
      Seq((0L, 10L), (10L, 14L), (14L, 18L), (18L, Long.MaxValue)))
    val got = snapshot()
    assert(got == expected,
      s"appended index diverged from from-scratch: only-index=" +
        s"${(got -- expected).take(5)} only-scratch=${(expected -- got).take(5)}")
    // idempotence: re-appending at coverage and the default train are no-ops
    MultimodalQueries.Image.index(sf).append(spark, Long.MaxValue)
    MultimodalQueries.Image.index(sf).train(spark)
    assert(MultimodalQueries.Image.index(sf).ladder(spark).size == 4)
    // shrinking coverage is a rebuild, never an append
    intercept[IllegalArgumentException] {
      MultimodalQueries.Image.index(sf).append(spark, 12)
    }
    MultimodalQueries.clearMediaSigCache()
  }

  test("appended audio-fingerprint index equals from-scratch build across a multi-step ladder") {
    import graft.queries.MultimodalQueries
    val sf = "/root/testdata/sf0.001"
    def snapshot() = MultimodalQueries.Audio.index(sf).read(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    MultimodalQueries.Audio.index(sf).drop(spark)
    MultimodalQueries.Audio.index(sf).train(spark)
    val expected = snapshot()
    assert(expected.nonEmpty)
    MultimodalQueries.Audio.index(sf).drop(spark)
    MultimodalQueries.Audio.index(sf).train(spark, bound = 12)
    assert(MultimodalQueries.Audio.index(sf).bound(spark) == Some(12L))
    assert(!MultimodalQueries.Audio.index(sf).trained(spark))
    MultimodalQueries.Audio.index(sf).append(spark, 20)
    MultimodalQueries.Audio.index(sf).append(spark, Long.MaxValue)
    assert(MultimodalQueries.Audio.index(sf).trained(spark))
    assert(snapshot() == expected,
      "appended audio index diverged from from-scratch")
    // idempotent re-train; reversed bound refuses
    MultimodalQueries.Audio.index(sf).train(spark)
    assert(MultimodalQueries.Audio.index(sf).ladder(spark).size == 3)
    intercept[IllegalArgumentException] {
      MultimodalQueries.Audio.index(sf).append(spark, 5)
    }
  }

  test("compactAudioClusterLabels / compactVideoClusterLabels: incremental merge + overwrite equals from-scratch retraining") {
    import graft.queries.{DedupQueries, MultimodalQueries}
    val sf = "/root/testdata/sf0.001"
    // the same merge ≡ retraining theorem the image modality proves,
    // now for the other two media modalities: single-shot compaction
    // AND a staged b10 → b15 → full ladder must both reproduce the
    // from-scratch artifact exactly
    def check(kind: String,
        train: () => Unit,
        compact: (Int, Int) => Unit,
        priorKind: Int => String): Unit = {
      train()
      val full = spark.read.parquet(DedupQueries.clusterModelPath(sf, kind))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      compact(10, Int.MaxValue)
      val compacted = spark.read
        .parquet(DedupQueries.clusterModelPath(sf, kind))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(compacted == full,
        s"$kind compaction diverged from retraining: only-compacted=" +
          s"${(compacted -- full).take(5)} only-full=${(full -- compacted).take(5)}")
      compact(10, 15)
      assert(DedupQueries.clusterModelTrained(spark, sf, priorKind(15)),
        s"stage-1 $kind compaction must persist the advanced b15 prior")
      compact(15, Int.MaxValue)
      val staged = spark.read
        .parquet(DedupQueries.clusterModelPath(sf, kind))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(staged == full,
        s"staged $kind compaction diverged: only-staged=" +
          s"${(staged -- full).take(5)} only-full=${(full -- staged).take(5)}")
      intercept[IllegalArgumentException] { compact(15, 12) }
    }
    check("audio",
      () => MultimodalQueries.Audio.trainClusterLabels(spark, sf),
      (lo, hi) => MultimodalQueries.Audio.compactClusterLabels(spark, sf, lo, hi),
      MultimodalQueries.Audio.priorKind)
    check("video",
      () => MultimodalQueries.Video.trainClusterLabels(spark, sf),
      (lo, hi) => MultimodalQueries.Video.compactClusterLabels(spark, sf, lo, hi),
      MultimodalQueries.Video.priorKind)
  }

  test("appended video-signature index equals from-scratch build across a multi-step ladder") {
    import graft.queries.MultimodalQueries
    val sf = "/root/testdata/sf0.001"
    def snapshot() = MultimodalQueries.Video.index(sf).read(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    MultimodalQueries.Video.index(sf).drop(spark)
    MultimodalQueries.Video.index(sf).train(spark)
    val expected = snapshot()
    assert(expected.nonEmpty)
    MultimodalQueries.Video.index(sf).drop(spark)
    MultimodalQueries.Video.index(sf).train(spark, bound = 12)
    assert(MultimodalQueries.Video.index(sf).bound(spark) == Some(12L))
    assert(!MultimodalQueries.Video.index(sf).trained(spark))
    MultimodalQueries.Video.index(sf).append(spark, 20)
    MultimodalQueries.Video.index(sf).append(spark, Long.MaxValue)
    assert(MultimodalQueries.Video.index(sf).trained(spark))
    assert(snapshot() == expected,
      "appended video index diverged from from-scratch")
    // idempotent re-train; reversed bound refuses
    MultimodalQueries.Video.index(sf).train(spark)
    assert(MultimodalQueries.Video.index(sf).ladder(spark).size == 3)
    intercept[IllegalArgumentException] {
      MultimodalQueries.Video.index(sf).append(spark, 5)
    }
  }

  test("video scene-fingerprint planted recall: twins and quantization-local edits pair up; longer or different videos do not") {
    import spark.implicits._
    import graft.queries.MultimodalQueries
    // planted scene tables (media_id, scene_id, n_frames, luma_sum):
    //  1 & 2 — identical scene structure → identical fingerprint
    //  3 — video 1 with ONE scene nudged a quantization step (600→604):
    //      scene byte 150→151 (1 bit) + total byte 564→565 (1 bit) = H2
    //  4 — same OPENING scenes as 1 but longer: band 3's length byte
    //      (20 vs 25 frames) must split equal-prefix videos
    //  5 — structurally different everywhere
    val scenes = Seq(
      (1L, 1L, 5L, 600L), (1L, 2L, 5L, 410L), (1L, 3L, 5L, 220L),
      (1L, 4L, 5L, 1026L),
      (2L, 1L, 5L, 600L), (2L, 2L, 5L, 410L), (2L, 3L, 5L, 220L),
      (2L, 4L, 5L, 1026L),
      (3L, 1L, 5L, 604L), (3L, 2L, 5L, 410L), (3L, 3L, 5L, 220L),
      (3L, 4L, 5L, 1026L),
      (4L, 1L, 5L, 600L), (4L, 2L, 5L, 410L), (4L, 3L, 5L, 220L),
      (4L, 4L, 5L, 1026L), (4L, 5L, 5L, 500L),
      (5L, 1L, 5L, 111L), (5L, 2L, 5L, 987L), (5L, 3L, 5L, 55L),
      (5L, 4L, 5L, 770L)
    ).toDF("media_id", "scene_id", "n_frames", "luma_sum")
    val sigs = MultimodalQueries.videoFingerprints(scenes)
      .as[Multimodal.MediaSig]
    val got = Multimodal.mediaNearDups(sigs, maxHamming = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"planted recall diverged: $got")
    assert(got((1L, 2L)) == 0L, "twins must collide exactly")
    assert(got((1L, 3L)) == 2L,
      "a one-step scene edit must land within the near-dup threshold")
  }

  test("synthVideoLuma: in-scene deltas are ±1-ish texture, cross-scene jumps clear the cut") {
    // the constructed margins the scene detector's threshold relies on:
    // every |delta| within a scene < 32, every scene-boundary |delta| ≥ 32
    for (id <- 0L to 10L) {
      val track = Multimodal.synthVideoLuma(id, 40).map(_ & 0xff)
      for (f <- 1 until 40) {
        val d = math.abs(track(f) - track(f - 1))
        if (f % 5 == 0) assert(d >= 32, s"id=$id cut at $f too small: $d")
        else assert(d < 32, s"id=$id in-scene delta at $f too big: $d")
      }
    }
  }
}
