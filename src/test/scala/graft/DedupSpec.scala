package graft

import org.apache.spark.sql.functions._

/** Semantics checks for the near-dup family on constructed corpora where
  * ground truth is known exactly. */
class DedupSpec extends SparkSpec with TempLakes {

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Word-3-gram Jaccard of two texts, computed in plain Scala. */
  private def jaccard(a: String, b: String): Double = {
    def sh(s: String) = s.trim.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("shingle jaccard pair join finds an exact duplicate at 1.0") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val df = docs(Seq((0L, t), (1L, t), (2L, "completely different words here entirely unrelated stuff")))
      .selectExpr("doc_id", "split(trim(text), '\\\\s+') AS t")
      .selectExpr("doc_id",
        """explode(array_distinct(transform(sequence(0, size(t) - 3),
             i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s""")
    val sizes = df.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = df.as("a").join(df.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.as("sa"), col("i") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("j") === col("sb.doc_id"))
      .select(col("i"), col("j"),
        (col("c") / (col("sa.n") + col("sb.n") - col("c"))).as("jc"))
      .collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 0L && pairs(0).getLong(1) == 1L)
    assert(pairs(0).getDouble(2) == 1.0)
  }

  test("scala-side jaccard oracle agrees with itself on near-dup edit") {
    val a = "a b c d e f g h i j"
    val b = "a b c d e f g h i k" // one token changed
    // shingles: 8 each, 7 shared → 7/9
    assert(math.abs(jaccard(a, b) - 7.0 / 9.0) < 1e-12)
  }

  test("portable 60-bit hash is stable and collision-spread") {
    import spark.implicits._
    val hashes = (0 until 1000).map(i => s"token_$i").toDF("s")
      .selectExpr("cast(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT) AS h")
      .as[Long].collect()
    assert(hashes.distinct.length == 1000) // no collisions on 1k tokens
    assert(hashes.forall(h => h >= 0 && h < (1L << 60)))
  }

  test("simhash band equi-join finds exactly the naive all-pairs result") {
    import spark.implicits._
    // random 48-bit signatures with a few planted near pairs
    val rnd = new scala.util.Random(7)
    val base = (0L until 200L).map(i => (i, rnd.nextLong() & ((1L << 48) - 1)))
    val planted = Seq(
      (200L, base(0)._2 ^ 0x5L), // hamming 2 from doc 0
      (201L, base(1)._2 ^ 0x1L), // hamming 1 from doc 1
      (202L, base(2)._2 ^ 0xF0FL)) // hamming 8 — must NOT pair
    val sigs = (base ++ planted).toDF("doc_id", "simhash")
    val naive = sigs.as("a").join(sigs.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
          expr("bit_count(a.simhash ^ b.simhash) <= 3"))
      .select(col("a.doc_id"), col("b.doc_id")).collect().toSet
    val bandStructs = (0 until 4).map(b =>
      s"named_struct('b', $b, 'v', shiftright(simhash, ${b * 12}) & 4095)")
      .mkString(", ")
    val bands = sigs
      .selectExpr("doc_id", "simhash", s"explode(array($bandStructs)) AS band")
      .selectExpr("doc_id", "simhash", "band.b AS b", "band.v AS v")
    val banded = bands.as("a").join(bands.as("b2"),
        col("a.b") === col("b2.b") && col("a.v") === col("b2.v") &&
          col("a.doc_id") < col("b2.doc_id"))
      .select(col("a.doc_id"), col("b2.doc_id"),
        col("a.simhash").as("sa"), col("b2.simhash").as("sb"))
      .distinct()
      .filter(expr("bit_count(sa ^ sb) <= 3"))
      .select(col("a.doc_id"), col("b2.doc_id")).collect().toSet
    assert(banded == naive) // pigeonhole banding is exact
    assert(naive.exists(r => r == org.apache.spark.sql.Row(0L, 200L)))
    assert(!naive.exists(r => r == org.apache.spark.sql.Row(2L, 202L)))
  }

  test("min-label propagation merges a chain into one component") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // chain 1-2, 2-3, plus isolated pair 7-9: two components expected
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 10) {
      val via = edges.join(labels.withColumnRenamed("node", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src").as("node")).agg(min("label").as("nlabel"))
      val next = labels.join(via, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      changed = next.join(labels.withColumnRenamed("label", "old"), "node")
        .filter(col("label") =!= col("old")).count()
      labels = next
      iter += 1
    }
    val out = labels.orderBy("node").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L)))
    assert(iter <= 4) // diameter-bounded convergence
  }

  test("stop-shingle df cap bounds candidate pairs on boilerplate corpora") {
    import graft.queries.DedupQueries
    // 40 docs that all share ONE boilerplate 3-gram ("subscribe to
    // newsletter") and are otherwise unique: the degenerate corpus where
    // a single hot shingle yields k² candidate pairs.
    val rows = (0L until 40L).map(i =>
      (i, s"subscribe to newsletter t${i}a t${i}b t${i}c t${i}d t${i}e"))
    val d = docs(rows)
    def candidatePairs(cap: Int): Long = {
      val sh = DedupQueries.shingleHashesOf(d, cap)
      sh.as("a").join(sh.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    }
    assert(candidatePairs(cap = 1000000) == 40L * 39 / 2) // quadratic blowup
    assert(candidatePairs(cap = 10) == 0L) // hot shingle dropped pre-join
    // docs sharing real content (not just boilerplate) still pair up
    val d2 = docs(rows :+ (100L, s"subscribe to newsletter t0a t0b t0c t0d t0e"))
    val sh2 = DedupQueries.shingleHashesOf(d2, 10)
    val survivors = sh2.as("a").join(sh2.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().collect()
    assert(survivors.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 100L)))
  }

  test("cluster training does not accumulate cached RDDs; query is a pure read") {
    import graft.queries.{DedupQueries, Registry}
    val sf = "/root/testdata/sf0.001"
    val q = Registry.all.find(_.name == "q_dedup_clusters").get
    DedupQueries.clearShingleCache()
    System.gc() // let ContextCleaner drop unreferenced RDDs from prior tests
    val before = spark.sparkContext.getPersistentRDDs.size
    DedupQueries.Text.trainClusterLabels(spark, sf) // may be a no-op if trained
    val out = q.fn(spark, sf)
    assert(out.count() > 0)
    val after = spark.sparkContext.getPersistentRDDs.size
    // retained by design: the shingle cache + the final labels generation
    // (+ possibly one localCheckpoint RDD pending GC) — NOT one per
    // propagation iteration
    assert(after - before <= 3,
      s"cached RDDs grew by ${after - before} — training leaks generations")
    // the query itself must be a pure read of the persisted artifact:
    // no iterative-propagation LogicalRDD, just the labels parquet scan
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("LogicalRDD"),
      s"q_dedup_clusters re-ran propagation in the query path:\n$plan")
    val files = out.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("labels-text")),
      s"q_dedup_clusters must read ONLY the label artifact, read: " +
        files.mkString(", "))
    DedupQueries.clearShingleCache()
  }

  test("hot-shingle list: exactly the boilerplate, and capped index = raw minus hot") {
    import graft.queries.DedupQueries
    import spark.implicits._
    // 12 docs sharing one boilerplate 3-gram + unique content 3-grams
    val d = (0L until 12L).map(i =>
      (i, s"click here now u${i}a u${i}b u${i}c")).toDF("doc_id", "text")
    val raw = DedupQueries.rawShingleHashesOf(d)
    val hot = DedupQueries.hotShinglesOf(raw, 10)
      .collect().map(_.getLong(0)).toSet
    val boiler = spark.sql("SELECT md5_60('click here now') AS h")
      .head.getLong(0)
    // the ONLY over-cap shingle is the shared boilerplate 3-gram —
    // this is the list the streaming assigner must receive
    assert(hot == Set(boiler), s"hot list: $hot")
    // and the capped index is exactly raw minus hot: the unique-content
    // shingles (including the ones straddling into boilerplate) survive
    val rawSet = raw.select("h").distinct()
      .collect().map(_.getLong(0)).toSet
    val capped = DedupQueries.shingleHashesOf(d, 10)
      .select("h").distinct().collect().map(_.getLong(0)).toSet
    assert(capped == rawSet -- hot)
  }

  test("compactClusterLabels: incremental merge + overwrite equals from-scratch retraining") {
    import graft.queries.DedupQueries
    val sf = "/root/testdata/sf0.001"
    DedupQueries.Text.trainClusterLabels(spark, sf)
    val full = spark.read.parquet(DedupQueries.clusterModelPath(sf, "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // compact: merge the batch (src10+) into the lake prior and
    // OVERWRITE the full artifact — the continual-ingest loop's last leg
    DedupQueries.Text.compactClusterLabels(spark, sf)
    val compacted = spark.read
      .parquet(DedupQueries.clusterModelPath(sf, "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(compacted == full,
      s"compaction diverged from retraining: only-compacted=" +
        s"${(compacted -- full).take(5)} only-full=${(full -- compacted).take(5)}")
    assert(DedupQueries.clusterModelTrained(spark, sf, "text"))
  }

  test("staged compaction advances the lake: b10 → b18 → full equals from-scratch retraining") {
    import graft.queries.DedupQueries
    val sf = "/root/testdata/sf0.001"
    DedupQueries.Text.trainClusterLabels(spark, sf)
    val full = spark.read.parquet(DedupQueries.clusterModelPath(sf, "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Maintain the shingle index through the SAME ladder: committed at
    // the lake boundary, then each compaction appends the batch's slice
    // as it advances the lake — the batch is shingled once, at ingest.
    DedupQueries.dropShingleIndex(spark, sf)
    DedupQueries.trainShingleIndex(spark, sf, bound = 10)
    // stage 1: fold src10-17 into the src<10 lake. The merged labels
    // are persisted as the PRIOR FOR BOUNDARY 18 — the refreshed lake —
    // NOT a re-merge target left stale at src<10.
    DedupQueries.Text.compactClusterLabels(spark, sf,
      lakeBound = 10, batchBound = 18)
    assert(DedupQueries.clusterModelTrained(spark, sf,
      DedupQueries.Text.priorKind(18)),
      "stage-1 compaction must persist the advanced b18 prior")
    assert(DedupQueries.shingleIndexBound(spark, sf) == Some(18),
      "stage-1 compaction must append the batch's shingle slice")
    // stage 2: the NEXT batch (src18+) treats the whole compacted
    // corpus as its lake via the refreshed b18 prior. If compaction
    // had left the prior stale (the pre-fix behavior), src10-17 pairs
    // would be missing from the prior and absent from stage 2's
    // batch-bounded edges — the final labels would diverge from the
    // from-scratch closure below.
    DedupQueries.Text.compactClusterLabels(spark, sf, lakeBound = 18)
    val staged = spark.read
      .parquet(DedupQueries.clusterModelPath(sf, "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(staged == full,
      s"staged compaction diverged from retraining: only-staged=" +
        s"${(staged -- full).take(5)} only-full=${(full -- staged).take(5)}")
    assert(DedupQueries.shingleIndexTrained(spark, sf),
      "the final compaction must leave the shingle index at full coverage")
  }

  test("appended shingle index equals from-scratch build across a multi-step ladder") {
    import graft.queries.DedupQueries
    val sf = "/root/testdata/sf0.001"
    val docsSrc = Tables(spark, sf, "documents")
      .withColumn("src_num", expr("cast(substring(source, 4, 8) AS INT)"))
    val expected = DedupQueries.shingleHashesOf(docsSrc,
        DedupQueries.StopShingleDf, keep = Seq("src_num"))
      .select("doc_id", "src_num", "h").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    DedupQueries.dropShingleIndex(spark, sf)
    DedupQueries.trainShingleIndex(spark, sf, bound = 10)
    assert(DedupQueries.shingleIndexBound(spark, sf) == Some(10))
    assert(!DedupQueries.shingleIndexTrained(spark, sf),
      "a mid-ladder index must NOT register as full coverage")
    DedupQueries.appendShingleIndex(spark, sf, 14)
    DedupQueries.appendShingleIndex(spark, sf, 18)
    DedupQueries.appendShingleIndex(spark, sf, Int.MaxValue)
    assert(DedupQueries.shingleIndexTrained(spark, sf))
    assert(DedupQueries.shingleIndexLadder(spark, sf) ==
      Seq((0, 10), (10, 14), (14, 18), (18, Int.MaxValue)))
    val got = DedupQueries.shingleHashesFromIndex(spark, sf)
      .select("doc_id", "src_num", "h").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expected,
      s"appended index diverged from from-scratch: only-index=" +
        s"${(got -- expected).take(5)} only-scratch=${(expected -- got).take(5)}")
    // idempotence: re-appending at coverage and the default train are no-ops
    DedupQueries.appendShingleIndex(spark, sf, Int.MaxValue)
    DedupQueries.trainShingleIndex(spark, sf)
    assert(DedupQueries.shingleIndexLadder(spark, sf).size == 4)
    // shrinking coverage is a rebuild, never an append
    intercept[IllegalArgumentException] {
      DedupQueries.appendShingleIndex(spark, sf, 12)
    }
    DedupQueries.clearShingleCache()
  }

  test("a shingle crossing the df cap mid-ladder is dropped everywhere at read time") {
    import graft.queries.DedupQueries
    import spark.implicits._
    // 600 lake + 600 batch docs share one boilerplate trigram: under the
    // cap (1000) at the lake boundary — so the lake slice RETAINS its
    // rows — but over it once the batch lands. The reader's anti-join
    // against the CURRENT census must drop the lake slice's
    // already-written rows too (the monotone-hot argument).
    val dir = ownLake(new java.io.File("target/tmp/capcross-lake").getAbsolutePath)
    val n = 600
    (0 until 2 * n).map { i =>
      (i.toLong, if (i < n) "src0" else "src10",
        s"click here now u${i}a u${i}b u${i}c")
    }.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    DedupQueries.dropShingleIndex(spark, dir)
    DedupQueries.trainShingleIndex(spark, dir, bound = 10)
    val boiler = spark.sql("SELECT md5_60('click here now') AS h")
      .head.getLong(0)
    assert(DedupQueries.shingleHashesFromIndex(spark, dir)
      .filter(col("h") === boiler).count() == n,
      "under-cap at the lake boundary: the boilerplate rows are indexed")
    DedupQueries.appendShingleIndex(spark, dir, Int.MaxValue)
    val atFull = DedupQueries.shingleHashesFromIndex(spark, dir)
    assert(atFull.filter(col("h") === boiler).count() == 0,
      "over-cap after the append: gone from BOTH slices at read time")
    val docsSrc = Tables(spark, dir, "documents")
      .withColumn("src_num", expr("cast(substring(source, 4, 8) AS INT)"))
    val expected = DedupQueries.shingleHashesOf(docsSrc,
        DedupQueries.StopShingleDf, keep = Seq("src_num"))
      .select("doc_id", "h").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = atFull.select("doc_id", "h").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    // the streaming assigner's hot list comes from the SAME census
    // artifact that capped the slices (structural cap parity)...
    assert(DedupQueries.lakeHotShingles(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(boiler))
    DedupQueries.dropShingleIndex(spark, dir)
    // ...and the no-index fallback derives the identical list inline
    assert(DedupQueries.lakeHotShingles(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(boiler))
    DedupQueries.clearShingleCache()
  }

  test("slice compaction preserves shingle-read exactness across a cap crossing") {
    import graft.queries.DedupQueries
    import spark.implicits._
    // The hardest case for merging slices as-written: the lake slice
    // RETAINS boilerplate rows (under-cap at its write), the reader's
    // anti-join against the current census drops them — and after
    // compaction the merged slice still carries them, so the read must
    // stay exactly equal (the monotone-hot correction is read-time,
    // never baked into slice bytes).
    val dir = ownLake(new java.io.File("target/tmp/capcross-compactslices").getAbsolutePath)
    val n = 600
    (0 until 2 * n).map { i =>
      (i.toLong, if (i < n) "src0" else "src10",
        s"click here now u${i}a u${i}b u${i}c")
    }.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    DedupQueries.dropShingleIndex(spark, dir)
    DedupQueries.trainShingleIndex(spark, dir, bound = 10)
    DedupQueries.appendShingleIndex(spark, dir, Int.MaxValue)
    def snapshot() = DedupQueries.shingleHashesFromIndex(spark, dir)
      .select("doc_id", "h").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = snapshot()
    assert(expected.nonEmpty)
    DedupQueries.compactShingleSlices(spark, dir, Int.MaxValue)
    assert(DedupQueries.shingleIndexLadder(spark, dir) ==
      Seq((0, Int.MaxValue)))
    assert(DedupQueries.shingleIndexTrained(spark, dir))
    assert(snapshot() == expected,
      "merged slices must read exactly like the unmerged ladder")
    val boiler = spark.sql("SELECT md5_60('click here now') AS h")
      .head.getLong(0)
    assert(!expected.exists(_._2 == boiler),
      "the crossed shingle must stay dropped after compaction")
    DedupQueries.dropShingleIndex(spark, dir)
    DedupQueries.clearShingleCache()
  }

  test("compaction refuses to persist a prior made stale by a cap-crossing shingle") {
    import graft.queries.DedupQueries
    import spark.implicits._
    // Same planted shape as the read-exactness test above: the
    // boilerplate trigram is under the cap at the lake boundary (600
    // occurrences) — so the lake prior's jaccards COUNTED it — and over
    // the cap (1200) once the batch census merges in. The index READ
    // absorbs that (monotone-hot anti-join), but labels baked into the
    // persisted prior cannot be un-merged, so the continual-ingest
    // compaction must FAIL VISIBLY instead of persisting a prior that
    // silently diverges from from-scratch retraining.
    val dir = ownLake(new java.io.File("target/tmp/capcross-compact").getAbsolutePath)
    val n = 600
    (0 until 2 * n).map { i =>
      (i.toLong, if (i < n) "src0" else "src10",
        s"click here now u${i}a u${i}b u${i}c")
    }.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    DedupQueries.dropShingleIndex(spark, dir)
    DedupQueries.trainShingleIndex(spark, dir, bound = 10)
    val e = intercept[IllegalStateException] {
      DedupQueries.Text.compactClusterLabels(spark, dir,
        lakeBound = 10, batchBound = Int.MaxValue)
    }
    assert(e.getMessage.contains("crossed the df cap"))
    // the refusal must come BEFORE anything is persisted
    assert(!DedupQueries.clusterModelTrained(spark, dir, "text"),
      "a refused compaction must not persist labels")
    DedupQueries.dropShingleIndex(spark, dir)
    DedupQueries.clearShingleCache()
  }

  test("staged compaction property: random boundary ladders equal from-scratch at every prefix") {
    import graft.queries.DedupQueries
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val sf = "/root/testdata/sf0.001"
    DedupQueries.Text.trainClusterLabels(spark, sf)
    val docsSrc = Tables(spark, sf, "documents")
      .withColumn("src_num", expr("cast(substring(source, 4, 8) AS INT)"))
    // From-scratch labels of the src_num < bound prefix corpus: shingle
    // (cap over the prefix), jaccard, propagate — the independent result
    // every compacted prior must match.
    def scratch(bound: Int): Set[(Long, Long)] = {
      val sh = DedupQueries.shingleHashesOf(
        docsSrc.filter(col("src_num") < bound), DedupQueries.StopShingleDf)
      DedupQueries.clusterLabels(
          DedupQueries.jaccardPairsOf(sh.select("doc_id", "h"))
            .select("doc_a", "doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val fullScratch = scratch(Int.MaxValue)
    // random strictly-increasing boundary ladders inside (10, 19]
    val ladderGen = Gen.someOf(11 to 19).map(_.toList.sorted.take(3))
      .suchThat(_.nonEmpty)
    val ladders = (0 until 6).flatMap(i =>
      ladderGen.apply(Gen.Parameters.default, Seed(7000L + i))).distinct.take(4)
    assert(ladders.nonEmpty)
    for (ladder <- ladders) {
      var lake = 10
      for (b <- ladder) {
        DedupQueries.Text.compactClusterLabels(spark, sf,
          lakeBound = lake, batchBound = b)
        val prior = spark.read
          .parquet(DedupQueries.clusterModelPath(sf,
            DedupQueries.Text.priorKind(b)))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(prior == scratch(b),
          s"ladder $ladder: compacted prior at b$b diverged from " +
            "from-scratch clustering of the prefix corpus")
        lake = b
      }
      DedupQueries.Text.compactClusterLabels(spark, sf, lakeBound = lake)
      val staged = spark.read
        .parquet(DedupQueries.clusterModelPath(sf, "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(staged == fullScratch,
        s"ladder $ladder: final compaction diverged from retraining")
    }
    // reversed boundaries refuse instead of persisting a mislabeled prior
    intercept[IllegalArgumentException] {
      DedupQueries.Text.compactClusterLabels(spark, sf,
        lakeBound = 18, batchBound = 12)
    }
  }

  test("continual-ingest soak: repeated merge+compact rounds do not grow storage blocks") {
    import graft.queries.DedupQueries
    val sf = "/root/testdata/sf0.001"
    DedupQueries.Text.trainClusterLabels(spark, sf)
    // warm round: materializes the session shingle cache and any
    // one-time cached buffers, so the baseline below is steady-state
    DedupQueries.Text.compactClusterLabels(spark, sf)
    System.gc() // let ContextCleaner drain blocks unreferenced by prior tests
    Thread.sleep(200)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    for (round <- 1 to 3) {
      DedupQueries.Text.compactClusterLabels(spark, sf)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseline
      assert(leaked.isEmpty,
        s"round $round leaked ${leaked.size} storage blocks (RDD ids " +
          s"${leaked.take(5)}) — a per-round checkpoint was not released")
    }
    // the MEDIA compaction loop shares incrementalLabels' per-merge
    // checkpoints — hold it to the same no-growth bar
    import graft.queries.MultimodalQueries
    MultimodalQueries.Image.index(sf).train(spark)
    MultimodalQueries.Image.trainClusterLabels(spark, sf)
    MultimodalQueries.Image.compactClusterLabels(spark, sf) // warm round
    System.gc()
    Thread.sleep(200)
    val mediaBase = spark.sparkContext.getPersistentRDDs.keySet
    for (round <- 1 to 3) {
      MultimodalQueries.Image.compactClusterLabels(spark, sf)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- mediaBase
      assert(leaked.isEmpty,
        s"media round $round leaked ${leaked.size} storage blocks (RDD " +
          s"ids ${leaked.take(5)}) — a per-round checkpoint was not released")
    }
  }

  test("stop-shingle df cap plan: no window over h, broadcast anti-join") {
    import graft.queries.DedupQueries
    val d = docs((0L until 20L).map(i =>
      (i, s"subscribe to newsletter u${i}a u${i}b u${i}c u${i}d u${i}e")))
    val sh = DedupQueries.shingleHashesOf(d, 10)
    sh.count() // force execution so AQE's FINAL plan is inspectable
    val plan = sh.queryExecution.executedPlan.toString
    // the df cap must be a partial-aggregating groupBy + broadcast
    // anti-join — a Window over h would funnel every hot shingle's rows
    // into one task, the exact straggler the cap exists to prevent
    assert(!plan.contains("Window"), s"window straggler in plan:\n$plan")
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), s"anti-join not broadcast:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"df pass must be a partial-aggregating groupBy:\n$plan")
  }

  test("long-chain cluster loop: checkpoint branch taken, exact labels, bounded caching") {
    import spark.implicits._
    import graft.queries.DedupQueries
    // A pure chain 0-1-2-…-12 (diameter 12): the worst case for label
    // propagation — with pointer jumping the label-graph depth halves
    // every round, so convergence takes O(log 12) rounds, each of which
    // localCheckpoints and must RELEASE its superseded generation. Plus
    // an isolated pair to prove labels don't bleed across components.
    val chain = (0L until 12L).map(i => (i, i + 1))
    val pairs = (chain :+ (100L, 101L)).toDF("doc_a", "doc_b")
    DedupQueries.clearShingleCache()
    System.gc() // let ContextCleaner drop unreferenced RDDs from prior tests
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = DedupQueries.clusterLabels(pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(out == ((0L to 12L).map((_, 0L)) ++ Seq((100L, 100L), (101L, 100L))))
    // every round checkpointed, yet the superseded generations were
    // released: only the final labels generation (+ at most a pending-GC
    // RDD and the cached edge list's replacement window) may remain.
    assert(after - before <= 3,
      s"cached RDDs grew by ${after - before} over the deep-chain loop — " +
        "checkpoint/release path is leaking generations")
  }

  test("simhash of identical token multisets is identical (hamming 0)") {
    import spark.implicits._
    val tok = Seq((0L, "x y z x"), (1L, "x y z x"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "explode(split(trim(text), '\\\\s+')) AS s")
      .selectExpr("doc_id",
        "cast(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT) AS h")
    val bitSums = (0 until 48).map(b =>
      expr(s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)").as(s"bs$b"))
    val simExpr = (0 until 48).map(b =>
      s"(CASE WHEN bs$b >= 0 THEN ${1L << b}L ELSE 0L END)").mkString(" + ")
    val sigs = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .selectExpr("doc_id", s"cast($simExpr AS BIGINT) AS sh")
      .orderBy("doc_id").select("sh").as[Long].collect()
    assert(sigs(0) == sigs(1))
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(2)) > 3) // different docs far apart
  }

  test("dup spans: cross-doc shared block, within-doc repetition, unique text") {
    import graft.queries.DedupQueries
    // 11-token license block shared verbatim by docs 0 and 1, embedded in
    // otherwise-unique prose; doc 2 repeats its own 8-token phrase twice;
    // doc 3 is entirely unique.
    val license = "this work is licensed under the creative commons attribution share alike"
    val phrase = "one two three four five six seven eight"
    val d = docs(Seq(
      (0L, s"alpha beta gamma delta $license epsilon zeta eta theta"),
      (1L, s"iota kappa lambda mu $license nu xi omicron pi"),
      (2L, s"$phrase rho sigma tau upsilon $phrase"),
      (3L, "phi chi psi omega aleph bet gimel dalet he vav zayin het")))
    val spans = DedupQueries.spansOf(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(s => (s._1, s._2))
    // docs 0/1: the license starts at token 4 (0-based) in both and is 11
    // tokens long → k-gram starts 4..7, one island, span [4, 14]
    assert(spans.filter(_._1 == 0L).toSeq == Seq((0L, 4L, 14L)))
    assert(spans.filter(_._1 == 1L).toSeq == Seq((1L, 4L, 14L)))
    // doc 2: its 8-token phrase occurs at 0 and 12 — two disjoint spans
    // (gap 12 > K−1), each exactly the phrase
    assert(spans.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 7L), (2L, 12L, 19L)))
    // doc 3: nothing repeated anywhere
    assert(!spans.exists(_._1 == 3L))
  }

  test("dup cut: keeps each span's globally-first occurrence, cuts the rest") {
    import graft.queries.DedupQueries
    val license = "this work is licensed under the creative commons attribution share alike"
    val phrase = "one two three four five six seven eight"
    val d = docs(Seq(
      (0L, s"alpha beta gamma delta $license epsilon zeta eta theta"),
      (1L, s"iota kappa lambda mu $license nu xi omicron pi"),
      (2L, s"$phrase rho sigma tau upsilon $phrase"),
      (3L, "phi chi psi omega aleph bet gimel dalet he vav zayin het")))
    val out = DedupQueries.cutOf(d).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
    // doc 0 is the license's first home: nothing cut
    assert(out(0) == ((0L, 19L, 0L,
      s"alpha beta gamma delta $license epsilon zeta eta theta")))
    // doc 1 loses the license block, keeps its own prose
    assert(out(1) == ((1L, 8L, 11L, "iota kappa lambda mu nu xi omicron pi")))
    // doc 2 keeps the phrase's first occurrence, loses the repeat
    assert(out(2) == ((2L, 12L, 8L,
      s"$phrase rho sigma tau upsilon")))
    // doc 3 untouched
    assert(out(3)._3 == 0L && out(3)._4.startsWith("phi chi"))
  }

  test("line dedup: one survivor per distinct sentence corpus-wide, first by (doc, position)") {
    // planted boilerplate: the same footer sentence in docs 0/1/2, an
    // in-doc repeated sentence in doc 2, and unique content everywhere
    // else. C4 semantics: exactly one occurrence of each distinct
    // sentence survives, the globally-first by (doc_id, idx).
    val footer = "subscribe to our newsletter"
    val df = docs(Seq(
      (0L, s"alpha beta gamma. $footer. delta epsilon"),
      (1L, s"$footer. zeta eta theta"),
      (2L, s"iota kappa. iota kappa. $footer"),
      (3L, "entirely unique content here")))
    val out = graft.queries.DedupQueries.lineDedupCounts(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    // doc 0: 3 lines, footer's first occurrence is here → all kept
    assert(out(0) == ((0L, 3L, 3L, 0L)))
    // doc 1: footer already seen in doc 0 → dropped
    assert(out(1) == ((1L, 2L, 1L, 1L)))
    // doc 2: footer dropped AND the in-doc repeat of "iota kappa" dropped
    assert(out(2) == ((2L, 3L, 1L, 2L)))
    // doc 3: untouched
    assert(out(3) == ((3L, 1L, 1L, 0L)))
  }

  test("normalization folds case/accent/whitespace variants to one fingerprint") {
    import spark.implicits._
    val variants = Seq(
      "Café  con   LECHE",
      "cafe con leche",
      " CAFÉ CON LECHE ",
      "café\tcon\nleche").toDF("text")
    val normed = variants
      .selectExpr(s"${graft.queries.TextQueries.normalizeExpr("text")} AS n")
      .collect().map(_.getString(0)).toSet
    assert(normed == Set("cafe con leche"),
      s"all variants must fold to one form, got $normed")
    // and a genuinely different text must NOT fold in
    val other = Seq("cafe com leite").toDF("text")
      .selectExpr(s"${graft.queries.TextQueries.normalizeExpr("text")} AS n")
      .collect().head.getString(0)
    assert(other != "cafe con leche")
  }

  test("appended IVF assignments equal a from-scratch build across a multi-step ladder") {
    import graft.queries.SimilarityQueries
    val sf = "/root/testdata/sf0.001"
    SimilarityQueries.trainIvfCentroids(spark, sf)
    // From-scratch expectation = the one-shot full build. The ladder
    // equality below proves APPEND exactness against it; the one-shot
    // build's own correctness against an independent engine is the
    // q_semdedup_incremental DuckDB oracle, which recomputes every
    // assignment from the centroids in SQL.
    def snapshot() = SimilarityQueries.assignmentsFromIndex(spark, sf)
      .selectExpr("vec_id", "c_id", "concat_ws(',', v) AS vs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    SimilarityQueries.dropIvfAssignments(spark, sf)
    SimilarityQueries.trainIvfAssignments(spark, sf)
    val expected = snapshot()
    assert(expected.nonEmpty)
    SimilarityQueries.dropIvfAssignments(spark, sf)
    assert(SimilarityQueries.ivfAssignBound(spark, sf).isEmpty)
    SimilarityQueries.trainIvfAssignments(spark, sf, bound = 150L)
    assert(SimilarityQueries.ivfAssignBound(spark, sf) == Some(150L))
    assert(!SimilarityQueries.ivfAssignTrained(spark, sf),
      "a mid-ladder artifact must NOT register as full coverage")
    SimilarityQueries.appendIvfAssignments(spark, sf, 300L)
    SimilarityQueries.appendIvfAssignments(spark, sf, Long.MaxValue)
    assert(SimilarityQueries.ivfAssignTrained(spark, sf))
    assert(SimilarityQueries.ivfAssignLadder(spark, sf) ==
      Seq((0L, 150L), (150L, 300L), (300L, Long.MaxValue)))
    val got = snapshot()
    assert(got == expected,
      s"appended assignments diverged from from-scratch: only-append=" +
        s"${(got -- expected).take(3)} only-scratch=${(expected -- got).take(3)}")
    // idempotence: re-appending at coverage and the default train are no-ops
    SimilarityQueries.appendIvfAssignments(spark, sf, Long.MaxValue)
    SimilarityQueries.trainIvfAssignments(spark, sf)
    assert(SimilarityQueries.ivfAssignLadder(spark, sf).size == 3)
    // shrinking coverage is a rebuild, never an append
    intercept[IllegalArgumentException] {
      SimilarityQueries.appendIvfAssignments(spark, sf, 200L)
    }
    // slice compaction through the partitionBy(c_id) write path: the
    // merged inverted file reads row-for-row like the 3-slice ladder
    SimilarityQueries.compactIvfSlices(spark, sf, Long.MaxValue)
    assert(SimilarityQueries.ivfAssignLadder(spark, sf) ==
      Seq((0L, Long.MaxValue)))
    assert(SimilarityQueries.ivfAssignTrained(spark, sf))
    assert(snapshot() == expected,
      "compacted inverted file diverged from the sliced ladder")
  }

  test("bitext margin IVF candidate cut: planted twin pairs are always recovered") {
    // The IVF-backed q_bitext_margin only scores same-coarse-list pairs.
    // The recall argument for that cut: a true translation pair has
    // near-identical embeddings, and IDENTICAL vectors score identically
    // against every centroid, so they share a list by construction — the
    // candidate cut can never drop an exact twin. Plant 8 twin pairs
    // (one-hot directions) among noise vectors in both labels and assert
    // every twin is recovered as its source's best target at cosine 1.0.
    import spark.implicits._
    import graft.queries.{Registry, SimilarityQueries}
    val dir = tempLake("graft_bitext_planted")
    def oneHot(d: Int): Seq[Float] =
      Seq.tabulate(64)(j => if (j == d) 1.0f else 0.0f)
    val rows =
      (0 until 8).map(i => (i.toLong, oneHot(i), 0)) ++          // src twins
      (8 until 16).map(i => (i.toLong, oneHot(i), 0)) ++         // src noise
      (0 until 8).map(i => (100L + i, oneHot(i), 1)) ++          // tgt twins
      (0 until 8).map(i => (108L + i, oneHot(16 + i), 1))        // tgt noise
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"), col("label").cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    SimilarityQueries.trainIvfCentroids(spark, dir)
    SimilarityQueries.trainIvfAssignments(spark, dir)
    val best = Registry.byName("q_bitext_margin").fn(spark, dir)
      .select("src_id", "tgt_id", "cosine")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .toMap
    (0 until 8).foreach { i =>
      assert(best.get(i.toLong).map(_._1).contains(100L + i),
        s"planted twin for src $i was cut or outranked: got ${best.get(i.toLong)}")
      assert(best(i.toLong)._2 == 1.0,
        s"twin cosine must be exactly 1.0: got ${best(i.toLong)}")
    }
    SimilarityQueries.dropIvfAssignments(spark, dir)
  }

  test("q_semdedup_incremental: batch-scoped slice of full SemDeDup, artifact-gated") {
    import graft.queries.{DedupQueries, Registry, SimilarityQueries}
    val sf = "/root/testdata/sf0.001"
    SimilarityQueries.trainIvfCentroids(spark, sf)
    SimilarityQueries.trainIvfAssignments(spark, sf)
    val inc = Registry.byName("q_semdedup_incremental").fn(spark, sf)
      .select("vec_id", "dup_of", "c_id", "max_cosine")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(inc.nonEmpty, "the incremental gate must not certify on empty output")
    assert(inc.forall(_._1 >= DedupQueries.LakeVecBound),
      "only batch vectors may appear as duplicates")
    // ≡ the full offline SemDeDup restricted to the batch: the
    // incremental path (persisted inverted file, batch-scoped join)
    // changes the PLAN, never the duplicates found.
    val full = Registry.byName("q_semdedup").fn(spark, sf)
      .filter(col("vec_id") >= DedupQueries.LakeVecBound)
      .select("vec_id", "dup_of", "c_id", "max_cosine")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(inc == full,
      s"incremental diverged from full-restricted: only-inc=" +
        s"${(inc -- full).take(3)} only-full=${(full -- inc).take(3)}")
    // assignment is an ingest-time side effect: without the artifact the
    // query fails fast instead of silently re-running the quantizer
    SimilarityQueries.dropIvfAssignments(spark, sf)
    intercept[IllegalStateException] {
      Registry.byName("q_semdedup_incremental").fn(spark, sf)
    }
    SimilarityQueries.trainIvfAssignments(spark, sf)
  }
}
