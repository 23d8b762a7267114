package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Executable checks of the 100 TB design notes: salting spreads heavy
  * keys without changing results; bucketed tables co-locate joins (no
  * Exchange in the plan). */
class ScaleSpec extends SparkSpec with TempLakes {

  test("saltedSumCount: identical result to plain groupBy on skewed data") {
    import spark.implicits._
    // one key carries 90% of rows
    val rows = (1 to 9000).map(i => ("HOT", i.toLong, 1.0)) ++
      (1 to 1000).map(i => (s"k${i % 50}", i.toLong, 2.0))
    val df = rows.toDF("k", "id", "v")
    val plain = df.groupBy("k")
      .agg(sum("v").as("total"), count(lit(1)).as("n"))
    val salted = Skew.saltedSumCount(df, "k", "v", "id", 16)
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    // and the partial stage really fans the hot key out
    val partials = df.withColumn("__salt", pmod(hash(col("id")), lit(16)))
      .filter(col("k") === "HOT").select("__salt").distinct().count()
    assert(partials > 8) // hot key spread over most salt buckets
  }

  test("writeZOrdered: every file covers a narrow slice of BOTH cluster columns") {
    import graft.sources.Layout
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "value")
    val base = tempLake("zorder")
    events.repartition(8).write.mode("overwrite").parquet(s"$base/naive")
    Layout.writeZOrdered(events, "event_id", "value", s"$base/clustered", 8)

    // mean per-file (max-min) extent of a column, as a share of its
    // global extent — the quantity parquet min/max pruning acts on
    def meanExtent(path: String, c: String): Double = {
      val stats = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).cast("double").as("ext"))
        .agg(avg("ext")).head.getDouble(0)
      val global = events
        .agg((max(col(c)) - min(col(c))).cast("double")).head.getDouble(0)
      stats / global
    }
    // naive (round-robin) files each span ~the whole value space
    // (value is heavy-tailed, so a 125-row file rarely reaches the global
    // max — its naive extent share sits lower than uniform event_id's)
    assert(meanExtent(s"$base/naive", "event_id") > 0.8)
    assert(meanExtent(s"$base/naive", "value") > 0.6)
    // z-ordered files are narrow on BOTH dimensions at once: contiguous
    // z ranges fix the high interleaved bits of both bucket ids
    assert(meanExtent(s"$base/clustered", "event_id") < 0.55)
    assert(meanExtent(s"$base/clustered", "value") < 0.8)
    // and strictly better than naive on each
    assert(meanExtent(s"$base/clustered", "event_id") <
      meanExtent(s"$base/naive", "event_id") * 0.6)
    assert(meanExtent(s"$base/clustered", "value") <
      meanExtent(s"$base/naive", "value") * 0.85)
  }

  test("saltedJoin: equals plain join on skewed fact x small dim") {
    import spark.implicits._
    val fact = ((1 to 5000).map(i => ("HOT", i.toLong)) ++
      (1 to 500).map(i => (s"k${i % 20}", i.toLong))).toDF("k", "id")
    val dim = (Seq("HOT") ++ (0 until 20).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, i * 10.0) }.toDF("k", "w")
    val plain = fact.join(dim, "k").select("k", "id", "w")
    val salted = Skew.saltedJoin(fact, dim, "k", "id", 8)
      .select("k", "id", "w")
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    assert(salted.count() == plain.count())
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    val saved = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.join.preferSortMergeJoin" ->
        spark.conf.get("spark.sql.join.preferSortMergeJoin"))
    try {
      // tiny thresholds so the hot key's partition counts as skewed
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
      val fact = ((1 to 80000).map(i => ("HOT", i.toLong)) ++
        (1 to 2000).map(i => (s"k${i % 100}", i.toLong))).toDF("k", "id")
      val dim = (Seq("HOT") ++ (0 until 100).map(i => s"k$i"))
        .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "w")
      val joined = fact.join(dim, "k")
      // collect() runs THIS df's queryExecution — count() would build its
      // own plan and leave this one un-finalized (AQE shows the initial
      // plan, never skew=true, on an unexecuted DataFrame)
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"))
      assert(finalPlan.contains("skew=true"),
        s"expected AQE skew-join handling in final plan:\n$finalPlan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("bucketed tables: co-located join plans without a shuffle") {
    import spark.implicits._
    val wh = tempLake("graft_wh")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")
    (1 to 1000).map(i => (i.toLong, s"o$i")).toDF("okey", "otag")
      .write.bucketBy(8, "okey").sortBy("okey")
      .option("path", s"$wh/b_orders").saveAsTable("b_orders")
    (1 to 5000).map(i => ((i % 1000) + 1L, i * 1.5)).toDF("okey", "amount")
      .write.bucketBy(8, "okey").sortBy("okey")
      .option("path", s"$wh/b_lines").saveAsTable("b_lines")
    // force a non-broadcast join so the bucketed co-location is visible
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_lines"), "okey")
      val plan = joined.queryExecution.executedPlan.toString
      // bucketed co-location: no shuffle exchange anywhere in the join plan
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
      assert(joined.count() == 5000)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("AsOfJoinExec at 1M×1M rows across many partitions ≡ max_by oracle") {
    // the custom merge exec under realistic conditions: thousands of keys,
    // multiple rows per (key, time), many shuffle partitions — verified
    // against an independent max_by formulation on a 2k-row sample
    val n = 1000000L
    val left = spark.range(n).select(
      (col("id") % 4096).as("k"), (hash(col("id")) % 100000).cast("long").as("t"),
      col("id").as("lid"))
    val right = spark.range(n).select(
      (col("id") % 4096).as("rk"),
      (hash(col("id") + 31) % 100000).cast("long").as("rt"),
      col("id").as("pay"))
    val rightU = right.groupBy("rk", "rt").agg(max("pay").as("pay"))
    val joined = graft.plans.AsOfJoin
      .backward(left, rightU, "k", "rk", "t", "rt", Seq("pay"))
    assert(joined.count() == n) // left outer: every left row exactly once
    val sample = joined.filter(col("lid") % 499 === 0)
      .select("lid", "pay")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    rightU.createOrReplaceTempView("scale_asof_r")
    left.filter(col("lid") % 499 === 0).createOrReplaceTempView("scale_asof_l")
    val want = spark.sql("""
      SELECT l.lid, max_by(r.pay, r.rt) AS pay
      FROM scale_asof_l l LEFT JOIN scale_asof_r r
        ON l.k = r.rk AND r.rt <= l.t
      GROUP BY l.lid""")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(sample == want)
  }

  /** Deterministic synthetic scale-up of the real documents table: each
    * replica is a fresh slice of corpus (doc_ids offset; ~90% of tokens
    * remapped per replica so replicas are distinct documents, ~10% kept
    * as shared cross-corpus vocabulary/boilerplate — the df cap's prey).
    * This mirrors how a crawl grows: new documents, partially shared
    * vocabulary, preserved (near-)dup structure within each slice. */
  private def replicaCorpus(m: Int) = {
    val base = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text")
    (0 until m).map { r =>
      base.select((col("doc_id") + lit(r * 1000000L)).as("doc_id"),
        expr(s"""concat_ws(' ', transform(split(trim(text), '\\\\s+'),
          t -> CASE WHEN pmod(hash(t), 10) < 9
               THEN concat(t, '_r$r') ELSE t END))""").as("text"))
    }.reduce(_ unionByName _)
  }

  /** candidates/marks ∝ docs^e; e ≈ 1 is the 100 TB claim, e = 2 is the
    * all-pairs failure mode (4× docs → 16× work). */
  private def growthExponent(c1: Long, c4: Long): Double =
    math.log(c4.toDouble / c1) / math.log(4.0)

  test("MinHash LSH candidate pairs grow ~linearly in corpus size (all-pairs would be quadratic)") {
    import graft.queries.DedupQueries
    def candidates(m: Int): Long = DedupQueries.minhashCandidatesOf(
      DedupQueries.shingleHashesOf(replicaCorpus(m), DedupQueries.StopShingleDf))
      .count()
    val c1 = candidates(1)
    val c4 = candidates(4)
    assert(c1 > 0) // the sf0.01 corpus has planted near-dups
    val e = growthExponent(c1, c4)
    assert(e < 1.3, s"candidate growth exponent $e (c1=$c1, c4=$c4) " +
      "— LSH candidate generation is superlinear")
  }

  test("bitext IVF candidate stream is a small fraction of the dense pair count") {
    import graft.queries.SimilarityQueries
    // q_bitext_margin's scale claim, quantified: same-coarse-list
    // src×tgt co-occupancy (Σᵢ sᵢ·tᵢ) vs the dense |src|·|tgt| the
    // demoted brute tier scores. With K=16 lists over near-uniform
    // assignments the expected fraction is ~1/K; assert a generous 0.2
    // so the test measures the cut, not the data's luck.
    val sf = "/root/testdata/sf0.01"
    SimilarityQueries.trainIvfCentroids(spark, sf)
    SimilarityQueries.trainIvfAssignments(spark, sf)
    val labels = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"))
    val a = SimilarityQueries.assignmentsFromIndex(spark, sf)
      .join(labels, Seq("vec_id"))
    val src = a.filter(col("label") === 0)
      .select(col("vec_id").as("s"), col("c_id"))
    val tgt = a.filter(col("label") === 1)
      .select(col("vec_id").as("t"), col("c_id"))
    val cand = src.join(tgt, "c_id").count()
    val dense = src.count() * tgt.count()
    assert(cand > 0, "the candidate stream must not be vacuous")
    val frac = cand.toDouble / dense
    assert(frac < 0.2,
      f"IVF candidate cut too weak: $cand of $dense pairs ($frac%.3f)")
  }

  test("incremental CC: merge graph is bounded by batch + touched components, never lake size") {
    import spark.implicits._
    import graft.queries.DedupQueries
    // a 100k-doc lake in 50k two-doc components (label = the even member)
    val lakeLab = spark.range(0, 100000L)
      .select(col("id").as("doc_id"), (col("id") - col("id") % 2).as("cluster_id"))
    // a 6-pair batch: 4 batch-lake pairs touching 3 lake components
    // (two pairs land in component 40), 1 batch-batch pair, 1 pair
    // bridging TWO lake components (10 and 20) through batch doc 1000001
    val batchPairs = Seq(
      (1000001L, 11L), (1000001L, 21L), (1000002L, 41L), (1000003L, 40L),
      (1000004L, 1000005L), (1000002L, 1000003L)).toDF("doc_a", "doc_b")
    val contracted = DedupQueries.contractPairs(lakeLab, batchPairs)
    val cRows = contracted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // endpoints contract to lake component labels; the merge graph holds
    // ONLY the 5 batch docs + the 3 touched components (10, 20, 40) out
    // of 50k — its size is O(batch), independent of the 100k-row lake
    val nodes = cRows.flatMap { case (a, b) => Seq(a, b) }
    assert(nodes == Set(10L, 20L, 40L, 1000001L, 1000002L, 1000003L,
      1000004L, 1000005L), s"merge graph nodes: $nodes")
    assert(cRows.size <= 6, s"contracted edge count ${cRows.size}")
    val out = DedupQueries.incrementalLabels(lakeLab, batchPairs)
    val labs = out.select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // bridge: components 10 and 20 merge through batch doc 1000001 → min 10
    Seq(10L, 11L, 20L, 21L, 1000001L).foreach(d => assert(labs(d) == 10L,
      s"doc $d got ${labs(d)}, expected merged label 10"))
    // component 40 absorbs three batch docs → min stays 40
    Seq(40L, 41L, 1000002L, 1000003L).foreach(d => assert(labs(d) == 40L))
    // pure-batch pair forms its own component
    assert(labs(1000004L) == 1000004L && labs(1000005L) == 1000004L)
    // untouched lake components keep their labels verbatim
    assert(labs(99998L) == 99998L && labs(99999L) == 99998L &&
      labs(500L) == 500L)
    assert(out.count() == 100000L + 5)
  }

  test("incremental CC ≡ full recomputation on a random lake+batch graph") {
    import spark.implicits._
    import graft.queries.DedupQueries
    val rnd = new scala.util.Random(42)
    // lake: 200 docs (ids 0-199), random sparse edges; batch: 30 docs
    // (ids 1000-1029) with batch-batch AND batch-lake edges — includes
    // multi-component bridges and previously-unclustered lake docs
    val lakeEdges = Seq.fill(120)((rnd.nextInt(200).toLong,
      rnd.nextInt(200).toLong)).filter(p => p._1 != p._2)
    val batchEdges = (Seq.fill(25)((1000L + rnd.nextInt(30),
      rnd.nextInt(250).toLong)) ++ // some lake ids 200-249 have NO lake edges
      Seq.fill(15)((1000L + rnd.nextInt(30), 1000L + rnd.nextInt(30))))
      .filter(p => p._1 != p._2)
    val lakeDf = lakeEdges.toDF("doc_a", "doc_b")
    val batchDf = batchEdges.toDF("doc_a", "doc_b")
    val full = DedupQueries.clusterLabels(lakeDf.unionByName(batchDf))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lakeLab = DedupQueries.clusterLabels(lakeDf)
    val inc = DedupQueries.incrementalLabels(lakeLab, batchDf)
      .select("doc_id", "cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == full,
      s"incremental labels diverge from full recomputation:\n" +
        s"only-inc: ${(inc -- full).toSeq.sorted.take(10)}\n" +
        s"only-full: ${(full -- inc).toSeq.sorted.take(10)}")
  }

  /** Per-stage (max task records, total records, task count) from
    * shuffle-read metrics — the quantity a hot-key pile-up inflates. */
  private class StageSkewListener extends org.apache.spark.scheduler.SparkListener {
    val perStage = scala.collection.concurrent.TrieMap.empty[Int, (Long, Long, Long)]
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        val rec = m.shuffleReadMetrics.recordsRead
        perStage.updateWith(te.stageId) {
          case Some((mx, s, n)) => Some((math.max(mx, rec), s + rec, n + 1))
          case None => Some((rec, rec, 1L))
        }
      }
    }
  }

  test("adversarial span dedup: one license block in 50% of docs — linear marks, no task holds the hot posting list") {
    import graft.queries.DedupQueries
    // the classic worst case for substring dedup: an IDENTICAL ~40-token
    // license block pasted into half the corpus. Every one of its 33
    // 8-grams is a hot key whose posting list grows with the corpus; a
    // pair-join formulation explodes quadratically on it, and a plan that
    // shuffles gram positions BY k-gram hash piles the whole posting list
    // into single tasks. The shipped shape (map-side-combined dup count +
    // broadcast LEFT SEMI membership + per-doc islands window) must show
    // neither: marks linear in docs, per-task records near-uniform.
    val lic = (1 to 40).map(i => s"licterm$i").mkString(" ")
    def corpus(m: Int) = (0 until m).map { r =>
      // body tokens suffixed per replica: within-replica dup structure
      // replicates (linear), cross-replica duplication is ONLY the block
      val body = expr(
        s"""concat_ws(' ', transform(split(trim(text), '\\\\s+'),
             t -> concat(t, '_a$r')))""")
      Tables(spark, "/root/testdata/sf0.01", "documents")
        .select((col("doc_id") + lit(r * 1000000L)).as("doc_id"),
          when(pmod(col("doc_id"), lit(2)) === 0, concat(lit(lic + " "), body))
            .otherwise(body).as("text"))
    }.reduce(_ unionByName _)
    def marks(m: Int): Long = DedupQueries.spansOf(corpus(m))
      .selectExpr("sum(e - s + 1) AS covered").collect()(0).getLong(0)

    val m1 = marks(1)
    val m4 = marks(4)
    val e = growthExponent(m1, m4)
    assert(e < 1.3, s"license-block mark growth exponent $e (m1=$m1, m4=$m4)" +
      " — span marking went superlinear on the hot block")

    // instrumented re-run at m=4: fixed partitioning (no AQE coalesce) so
    // the fair-share bound is meaningful, listener measures per-task load
    val savedParts = spark.conf.get("spark.sql.shuffle.partitions")
    val savedCoalesce =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    val listener = new StageSkewListener
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val q = DedupQueries.spansOf(corpus(4))
        .groupBy().agg(sum(col("e") - col("s") + 1).as("covered"))
      q.collect()
      // the dup-kh membership must be a broadcast semi join: gram
      // positions then never co-locate by k-gram hash anywhere in the plan
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
        s"dup-kh membership is not a broadcast semi join:\n$plan")
      // listener events are async; give the bus a moment to drain
      val deadline = System.nanoTime() + 10000000000L
      var snapshot = listener.perStage.readOnlySnapshot().toMap
      var settled = false
      while (!settled && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val next = listener.perStage.readOnlySnapshot().toMap
        settled = next == snapshot
        snapshot = next
      }
      // measured task-size bound: in every shuffle-consuming stage, the
      // biggest task reads ≤ 6× its fair share (hash-uniform expectation);
      // the hot block's ~33k postings landing on one task would blow this
      // by an order of magnitude
      val violations = snapshot.toSeq.collect {
        case (sid, (mx, sum, n)) if sum > 4000 &&
            mx > math.max(6.0 * sum / n, 4000.0) =>
          s"stage $sid: max task read $mx of $sum records over $n tasks"
      }
      assert(violations.isEmpty,
        s"hot-key pile-up in span-dedup stages:\n${violations.mkString("\n")}")
      // sanity: the instrumented run actually exercised real shuffle volume
      assert(snapshot.values.map(_._2).sum > 10000,
        s"instrumented run moved too few records to be meaningful: $snapshot")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", savedParts)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        savedCoalesce)
    }
  }

  test("dup-span total grows ~linearly in corpus size (semi-join marking, no pair blowup)") {
    import graft.queries.DedupQueries
    // span-level dedup work is the marked-position volume (what the semi
    // join emits and the islands window consumes): each replica's
    // within-slice duplication replicates, cross-replica 8-grams almost
    // never survive the 90% token remap — so marks must scale with docs,
    // exponent ≈ 1; a pair-join formulation would be ≈ 2 on the shared
    // 10% boilerplate
    def marks(m: Int): Long = DedupQueries.spansOf(replicaCorpus(m))
      .selectExpr("sum(e - s + 1) AS covered")
      .collect()(0).getLong(0)
    val m1 = marks(1)
    val m4 = marks(4)
    assert(m1 > 0) // the sf0.01 corpus has repeated spans
    val e = growthExponent(m1, m4)
    assert(e < 1.3, s"dup-span growth exponent $e (m1=$m1, m4=$m4) " +
      "— span marking is superlinear")
  }

  test("adversarial LSH banding: boilerplate block in 2/3 of docs — df cap kills the cross-corpus clique, tasks stay fair-share") {
    import graft.queries.DedupQueries
    // worst case for minhash banding: an IDENTICAL block pasted into most
    // docs correlates their signatures, melting the corpus into one giant
    // band bucket whose self-join is quadratic in corpus size. The df cap
    // must delete the block's shingles BEFORE signatures exist, so
    // cross-replica block pairs can't form at all, and no shuffle stage
    // may pile a hot key onto one task. Bodies are replica-suffixed:
    // legitimate near-dup structure replicates linearly, the block is the
    // only cross-replica content. The cap is a TEST-LOCAL 250 — below the
    // block's df at BOTH sizes (≈333 at m=1, ≈1332 at m=4); with the
    // production 1000 cap the m=1 clique would survive, inflate c1, and
    // make the growth-exponent assertion vacuously pass even for broken
    // banding (both runs must measure POST-cap growth for e to mean
    // anything).
    val testDfCap = 250
    val block = (1 to 40).map(i => s"boiler$i").mkString(" ")
    def corpus(m: Int) = (0 until m).map { r =>
      val body = expr(
        s"""concat_ws(' ', transform(split(trim(text), '\\\\s+'),
             t -> concat(t, '_b$r')))""")
      Tables(spark, "/root/testdata/sf0.01", "documents")
        .select((col("doc_id") + lit(r * 1000000L)).as("doc_id"),
          when(pmod(col("doc_id"), lit(3)) < 2, concat(lit(block + " "), body))
            .otherwise(body).as("text"))
    }.reduce(_ unionByName _)
    def cands(m: Int) = DedupQueries.minhashCandidatesOf(
      DedupQueries.shingleHashesOf(corpus(m), testDfCap))

    val c1 = cands(1).count()
    assert(c1 > 0)
    // instrumented m=4 run: fixed partitioning so fair-share is meaningful
    val savedParts = spark.conf.get("spark.sql.shuffle.partitions")
    val savedCoalesce =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    val listener = new StageSkewListener
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val c4df = cands(4)
      val c4 = c4df.count()
      val e = growthExponent(c1, c4)
      assert(e < 1.3, s"LSH candidate growth exponent $e (c1=$c1, c4=$c4) " +
        "— the boilerplate block went quadratic through banding")
      // the quadratic failure mode, measured directly: bodies share zero
      // shingles across replicas and the block is capped away, so not one
      // candidate pair may span replicas
      val cross = c4df
        .filter(expr("doc_a div 1000000") =!= expr("doc_b div 1000000"))
        .count()
      assert(cross == 0L,
        s"$cross cross-replica candidate pairs — the df cap failed to kill the block clique")
      // listener events are async; let the bus drain
      val deadline = System.nanoTime() + 10000000000L
      var snapshot = listener.perStage.readOnlySnapshot().toMap
      var settled = false
      while (!settled && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val next = listener.perStage.readOnlySnapshot().toMap
        settled = next == snapshot
        snapshot = next
      }
      // in every shuffle-consuming stage of the banding pipeline the
      // biggest task reads ≤ 6× its hash-uniform fair share — a hot band
      // bucket or hot shingle would exceed this by an order of magnitude
      val violations = snapshot.toSeq.collect {
        case (sid, (mx, sum, n)) if sum > 4000 &&
            mx > math.max(6.0 * sum / n, 4000.0) =>
          s"stage $sid: max task read $mx of $sum records over $n tasks"
      }
      assert(violations.isEmpty,
        s"hot-key pile-up in LSH banding stages:\n${violations.mkString("\n")}")
      assert(snapshot.values.map(_._2).sum > 10000,
        s"instrumented run moved too few records to be meaningful: $snapshot")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", savedParts)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        savedCoalesce)
    }
  }

  test("media near-dup banding: hot band value capped away, candidates linear, planted recall intact") {
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaSig
    // Signatures are constructed directly — the BANDING JOIN is under
    // test here; the decoder that produces real signatures is pinned by
    // MediaSpec and the q_media_phash / q_media_neardup oracles.
    // Per replica r: nBase base signatures, each a 3-member near-dup
    // cluster (pairwise hamming ≤ 2 via low-bit flips of band 0).
    // Bands 1/3 carry a (replica, base) tag, so legitimate structure
    // replicates linearly and replicas are hash-space disjoint. Band 2 is
    // the adversary: for 2/3 of bases it is ONE corpus-wide constant —
    // the "underexposed photo" band value every crawler sees — whose
    // bucket melts the corpus into a single clique unless the bucket cap
    // cuts it.
    // tag = parity-extended base index (min pairwise hamming 2), so two
    // different bases differ by ≥ 2 bits in EACH of bands 1 and 3 —
    // cross-base hamming ≥ 4 — and the planted clusters are provably the
    // only pairs within the ≤ 3 near-dup radius
    val nBase = 150
    def sigsOf(m: Int): org.apache.spark.sql.Dataset[MediaSig] =
      (for {
        r <- 0 until m; i <- 0 until nBase; j <- 0 until 3
      } yield {
        val t = (i.toLong << 1) | (java.lang.Long.bitCount(i.toLong) & 1)
        val tag = ((r.toLong << 12) | t) & 0xffffL
        val b0 = tag ^ (if (j == 0) 0L else if (j == 1) 1L else 3L)
        val b2 = if (i % 3 != 0) 0xbeefL else tag
        val phash = (tag << 48) | (b2 << 32) | (tag << 16) | b0
        MediaSig(r * 1000000L + i * 10L + j, phash)
      }).toDS()

    def cands(m: Int, cap: Int) =
      Multimodal.mediaCandidates(sigsOf(m), cap)

    val c1 = cands(1, Multimodal.BandBucketCap).count()
    val c4df = cands(4, Multimodal.BandBucketCap)
    // instrumented m=4 run: fixed partitioning so fair-share is meaningful
    val savedParts = spark.conf.get("spark.sql.shuffle.partitions")
    val savedCoalesce =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    val listener = new StageSkewListener
    spark.sparkContext.addSparkListener(listener)
    val c4 = try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      c4df.count()
    } finally {
      // snapshot read happens below; the conf restore must not wait on it
      spark.conf.set("spark.sql.shuffle.partitions", savedParts)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        savedCoalesce)
    }
    assert(c1 > 0)
    // post-cap candidates are exactly the planted clusters: linear growth
    val e = growthExponent(c1, c4)
    assert(e < 1.1, s"media banding candidate growth exponent $e " +
      s"(c1=$c1, c4=$c4) — the hot band value went quadratic through the cap")
    // ... and the analytic bound the cap guarantees: ≤ 4 bands · N · cap/2
    val n4 = 4L * nBase * 3
    assert(c4 <= 4L * n4 * Multimodal.BandBucketCap / 2,
      s"candidate count $c4 exceeds the capped-bucket linear bound")
    // the quadratic failure mode, measured directly: every surviving
    // bucket is replica-tagged, so not one candidate may span replicas
    val cross = c4df
      .filter(expr("id_a div 1000000") =!= expr("id_b div 1000000")).count()
    assert(cross == 0L,
      s"$cross cross-replica candidate pairs — the bucket cap failed to kill the hot-band clique")
    // per-task fair share on the instrumented run: even with the hot-band
    // bucket present in the DATA, no shuffle-consuming stage of the
    // capped banding pipeline may pile its records onto one task
    val deadline = System.nanoTime() + 10000000000L
    var snapshot = listener.perStage.readOnlySnapshot().toMap
    var settled = false
    while (!settled && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val next = listener.perStage.readOnlySnapshot().toMap
      settled = next == snapshot
      snapshot = next
    }
    spark.sparkContext.removeSparkListener(listener)
    val violations = snapshot.toSeq.collect {
      case (sid, (mx, sum, n)) if sum > 4000 &&
          mx > math.max(6.0 * sum / n, 4000.0) =>
        s"stage $sid: max task read $mx of $sum records over $n tasks"
    }
    assert(violations.isEmpty,
      s"hot-key pile-up in media banding stages:\n${violations.mkString("\n")}")
    assert(snapshot.values.map(_._2).sum > 5000,
      s"instrumented run moved too few records to be meaningful: $snapshot")
    // control: WITHOUT the cap the same signatures go quadratic — the cap
    // is what carries the bound, not the data being conveniently sparse
    val eU = growthExponent(
      cands(1, Int.MaxValue).count(), cands(4, Int.MaxValue).count())
    assert(eU > 1.5, s"uncapped control exponent $eU — the planted hot " +
      "band no longer stresses the join; the capped assertion above is vacuous")
    // recall: the cap costs NONE of the planted near-dups — every true
    // pair also agrees on an informative (replica, base)-tagged band
    val pairs = Multimodal.mediaNearDups(sigsOf(4), maxHamming = 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      r <- 0 until 4; i <- 0 until nBase
      Seq(a, b) <- (0 until 3).map(j => r * 1000000L + i * 10L + j)
        .combinations(2)
    } yield (a, b)).toSet
    assert(pairs == expected,
      s"planted near-dup recall broken: found ${pairs.size}, expected ${expected.size}")
  }

  test("BPE trainer collect is vocabulary-bounded and hard-capped, never corpus-bounded") {
    import graft.queries.TextQueries
    val base = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text")
    // 4x the corpus ROWS (verbatim replicas: same vocabulary) — what the
    // driver would collect must not move at all, because the trainer's
    // driver-bound table is the word VOCABULARY, not the token stream
    val rep4 = (0 until 4).map(r =>
      base.select((col("doc_id") + lit(r * 1000000L)).as("doc_id"),
        col("text"))).reduce(_ unionByName _)
    val v1 = TextQueries.bpeVocabTopK(base).count()
    val v4 = TextQueries.bpeVocabTopK(rep4).count()
    assert(v1 > 0)
    assert(v4 == v1, s"vocab rows moved under corpus replication: $v1 -> $v4")
    // and when Heaps-law growth would exceed the cap, the top-K heap cut
    // bounds the driver to exactly `cap` rows — the most frequent ones
    // (the synthetic corpus vocabulary is 31 words, so cap=10 exercises
    // a real truncation)
    val capped = TextQueries.bpeVocabTopK(base, cap = 10)
    assert(capped.count() == 10)
    val keptMin = capped.agg(min("freq")).head.getLong(0)
    val full = TextQueries.bpeVocabTopK(base)
    val dropped = full.orderBy(col("freq").desc, col("token").asc)
      .limit(11).orderBy(col("freq").asc).limit(1)
      .head.getAs[Long]("freq")
    assert(keptMin >= dropped, "cap cut is not frequency-ordered")
    // the cut must plan as a distributed top-K heap, not a global sort
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab cap is not a heap cut:\n$plan")
  }

  test("unigram Viterbi fold cost is vocabulary-bounded, not corpus-bounded") {
    import graft.queries.TextQueries
    val sf = "/root/testdata/sf0.01"
    TextQueries.trainUnigramPieces(spark, sf)
    val pm = spark.read.parquet(TextQueries.unigramModelPath(sf))
      .agg(org.apache.spark.sql.functions.expr(
        "map_from_entries(collect_list(struct(piece, cost_q * 1024 + 1)))")
        .as("pm"))
    // the fold's input relation — distinct words × 1-row model — for the
    // base corpus and a 4x verbatim replication: same vocabulary ⇒ the
    // expensive stage (one Viterbi DP per row) must see EXACTLY the same
    // row count; only the cheap per-doc count join grows with the corpus
    def foldInputRows(docs: org.apache.spark.sql.DataFrame): Long =
      docs.selectExpr("explode(split(trim(text), '\\\\s+')) AS word")
        .distinct().crossJoin(pm)
        .selectExpr("word",
          s"${TextQueries.unigramViterbiSql("word", "pm")} AS best")
        .count()
    val base = Tables(spark, sf, "documents").select("doc_id", "text")
    val rep4 = (0 until 4).map(r =>
      base.select((col("doc_id") + lit(r * 1000000L)).as("doc_id"),
        col("text"))).reduce(_ unionByName _)
    val f1 = foldInputRows(base)
    val f4 = foldInputRows(rep4)
    assert(f1 > 0)
    assert(f4 == f1,
      s"Viterbi fold rows moved under 4x corpus replication: $f1 -> $f4")
  }
}
