package graft

import org.apache.spark.sql.functions._
import graft.queries.Registry

/** Physical-plan shape assertions for the scale-critical operators: the
  * properties the 100 TB design depends on must be pinned by tests, not
  * only documented — a regression to a sort-everything plan should fail
  * CI, not a benchmark review. */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def finalPlan(name: String): String = {
    val df = Registry.byName(name).fn(spark, sf)
    df.count() // force execution so AQE's FINAL plan is inspectable
    df.queryExecution.executedPlan.toString
  }

  /** Like [[finalPlan]] but executes THIS df (collect, not a derived
    * count plan), so AQE runtime artifacts — ReusedExchange, query
    * stages — are visible to assertions. */
  private def executedPlan(name: String): String = {
    val df = Registry.byName(name).fn(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.queries.SimilarityQueries.trainIvfCentroids(spark, sf)
    graft.queries.SimilarityQueries.trainPqCodes(spark, sf)
    graft.queries.DedupQueries.trainClusterLabels(spark, sf)
    graft.queries.MultimodalQueries.Image.trainClusterLabels(spark, sf)
    graft.queries.MultimodalQueries.Audio.trainClusterLabels(spark, sf)
    graft.queries.MultimodalQueries.Video.trainClusterLabels(spark, sf)
  }

  test("keep-last family plans have no Window: max_by hash aggregation") {
    Seq("q_dedup_keeplast", "q_latest_per_key").foreach { q =>
      val plan = finalPlan(q)
      assert(!plan.contains("Window"),
        s"$q regressed to a window plan:\n$plan")
      assert(plan.contains("max_by") || plan.contains("HashAggregate"),
        s"$q must aggregate with max_by:\n$plan")
    }
  }

  test("ANN top-k windows carry a group limit (per-partition heap, not full sort)") {
    // Spark rewrites rank()<=k / row_number()<=k filters into
    // WindowGroupLimit: each map task keeps a k-row heap per key instead
    // of sorting every scored candidate. The ANN re-rank windows must
    // keep that shape — it is what bounds the top-k cost at corpus scale.
    Seq("q_ann_lsh", "q_ann_ivf", "q_ann_pq", "q_sample_stratified",
      "q_knn_classify", "q_topk_per_doc", "q_hard_negatives").foreach { q =>
        val plan = finalPlan(q)
        assert(plan.contains("WindowGroupLimit"),
          s"$q top-k window lost its group limit:\n$plan")
      }
  }

  test("cube runs as ONE Expand+aggregate pass, not a union of aggregations") {
    val plan = finalPlan("q_cube")
    assert(plan.contains("Expand"),
      s"q_cube must expand grouping sets over a single scan:\n$plan")
    assert(!plan.contains("Union"),
      s"q_cube regressed to a union-of-aggregations plan:\n$plan")
  }

  test("mixture reweighting broadcasts the rate table; the corpus never shuffles by doc") {
    val plan = finalPlan("q_mix_reweight")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"q_mix_reweight must broadcast the 5-row rate table:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q_mix_reweight corpus side must not sort-merge:\n$plan")
  }

  test("salted join actually shuffle-hash-joins on the widened key space") {
    // if Spark broadcasts the replicated dim the salt demonstrates nothing
    val plan = finalPlan("q_skew_join")
    assert(plan.contains("ShuffledHashJoin"),
      s"q_skew_join must shuffle-hash join on (key, salt):\n$plan")
  }

  test("PQ queries read codes from the persisted artifact, never re-encode the corpus") {
    // the corpus encode (broadcast-codebook join + per-(vec, m) min_by
    // over the full vector table) is offline maintenance now
    // (trainPqCodes) — the r19 shape re-derived it inside every query,
    // a full raw-vector scan per run for bits frozen with the quantizer.
    // The quantizer may run ZERO times in the query path: the only
    // min_by left would be a reintroduced corpus encode.
    Seq("q_ann_pq", "q_ann_ivfpq").foreach { q =>
      val df = Registry.byName(q).fn(spark, sf)
      assert(df.inputFiles.exists(_.contains("codes.parquet")),
        s"$q must scan the persisted PQ codes")
      assert(!df.queryExecution.optimizedPlan.toString.contains("min_by"),
        s"$q re-encodes the corpus at query time")
    }
  }

  test("IVF search reads list membership from the inverted file, never re-assigns the lake") {
    import graft.queries.{Registry, SimilarityQueries}
    SimilarityQueries.trainIvfAssignments(spark, sf)
    Seq("q_ann_ivf", "q_ann_ivfpq").foreach { q =>
      val df = Registry.byName(q).fn(spark, sf)
      assert(df.inputFiles.exists(_.contains("ivf-assign")),
        s"$q corpus side must scan the persisted inverted file")
      // the only quantization left in-plan is the NQUERIES-row query
      // side; a corpus-wide max_by assignment pass must stay gone
      assert(!df.queryExecution.optimizedPlan.toString.contains("max_by"),
        s"$q re-assigns the corpus at query time")
    }
  }

  test("basket pairs: global top-20 is a TakeOrderedAndProject heap") {
    // a global rank window here would funnel the full pair set into ONE
    // task; orderBy+limit keeps a 20-row heap per partition instead
    val plan = finalPlan("q_basket_pairs")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_basket_pairs top-20 must be TakeOrderedAndProject:\n$plan")
    // pairs are generated array-locally from each collected basket —
    // the round-6 items×items sort-merge self-join must stay gone
    assert(plan.contains("posexplode") && !plan.contains("SortMergeJoin"),
      s"q_basket_pairs pairs must come from basket explodes, not a join:\n$plan")
  }

  test("equidepth hist: refinement joins broadcast and windows by range") {
    // the decile-boundary refinement must (a) reach the hot ranges via a
    // BROADCAST of the tiny coarse table — a shuffle join here would
    // move the whole fact side — and (b) never run a row-level window
    // without a partition key (the coarse ~1k-row window is the only
    // global one); a single-task cumsum over the full cents domain was
    // the round-6 shape this replaced
    val plan = finalPlan("q_equidepth_hist")
    assert(plan.contains("BroadcastHashJoin"),
      s"q_equidepth_hist hot-range membership must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q_equidepth_hist must not shuffle-join the fact side:\n$plan")
  }

  test("dup spans: duplicate marking is a semi join, never a pair join") {
    // the linearity claim: occurrences are MARKED (semi join against the
    // duplicated-k-gram key set), never PAIRED — a pair join on a hot
    // boilerplate k-gram would be quadratic in its occurrence count
    val plan = finalPlan("q_dup_spans")
    assert(plan.contains("LeftSemi"),
      s"q_dup_spans must mark occurrences with a semi join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q_dup_spans must not contain a product join:\n$plan")
  }

  test("bigram LM family: pair model cut is a top-K heap; scoring joins broadcast") {
    Seq("q_bigram_logprob", "q_lm_interp").foreach { q =>
      val plan = finalPlan(q)
      // the top-BigramK model cut must be TakeOrderedAndProject
      // (distributed per-partition heaps) — a row_number window over the
      // distinct-bigram domain would be a single-task global sort, the
      // 100 TB straggler
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q model cut lost its top-K heap:\n$plan")
      // both model joins onto the pair stream must broadcast (K-row and
      // VocabK-row sides); the stream must never shuffle by pair key
      assert(plan.contains("BroadcastHashJoin"),
        s"$q scoring joins must broadcast the models:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q must not sort-merge the token stream:\n$plan")
    }
  }

  test("trigram LM: model cut is a top-K heap; both backoff models broadcast") {
    val plan = finalPlan("q_trigram_logprob")
    // the top-TrigramK cut must stay a distributed heap — the
    // distinct-trigram domain grows faster than the bigram one, so a
    // global rank sort here is an even worse 100 TB straggler
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_trigram_logprob model cut lost its top-K heap:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q_trigram_logprob scoring joins must broadcast the models:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q_trigram_logprob must not sort-merge the triple stream:\n$plan")
  }

  /** Every exact recurrence is a per-key ordered fold over ONE
    * (user_id)-partitioned sort: MACD's signal line, Holt's coupled
    * trend and RSI's lag all ride it. A second user_id exchange (even a
    * reused one), a collected per-key array or a rejoin would mean the
    * series was split and stitched back together. Count inside the
    * final AQE plan only (its toString appends the initial plan). */
  private def assertOneKeyFold(q: String): Unit = {
    val plan = executedPlan(q).split("== Initial Plan ==").head
    val keyExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).length
    assert(keyExchanges == 1,
      s"$q shuffled by key $keyExchanges times:\n$plan")
    assert(!plan.contains("collect_list"),
      s"$q collects per-key arrays:\n$plan")
    assert(!plan.contains("Join"), s"$q rejoins the series:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"$q must never cross rows:\n$plan")
  }

  test("ewma family: one key exchange, no collect_list, no join, no cartesian") {
    Seq("q_ewma", "q_macd", "q_rsi_wilder", "q_ewma_adjusted",
      "q_ewm_volatility").foreach(assertOneKeyFold)
  }

  test("holt 2-state fold: one key exchange, no collect_list, no join, no cartesian") {
    assertOneKeyFold("q_holt")
  }

  test("heaps curve: first-occurrence census is aggregated, never a running distinct") {
    // "types seen so far" must be charged to min(bucket) per token — two
    // hash aggregates over the token stream. A distinct-count window over
    // the stream (the naive translation) would shuffle every token into
    // one task; no Expand/distinct operator may touch the exploded stream
    val plan = finalPlan("q_heaps")
    assert(plan.contains("HashAggregate"),
      s"q_heaps must aggregate the token stream:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q_heaps: the 1-row step table must broadcast:\n$plan")
  }

  test("kneser-ney LM: model cut stays a heap; lambda/continuation tables broadcast") {
    val plan = finalPlan("q_kneser_ney")
    // same contract as the rest of the LM family: the BigramK cut is a
    // distributed heap, and the three model-side tables (discounted
    // bigram, lambda, continuation — all cap-bounded) broadcast onto the
    // pair stream; the stream itself must never shuffle by pair key
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_kneser_ney model cut lost its top-K heap:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q_kneser_ney scoring joins must broadcast the models:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q_kneser_ney must not sort-merge the pair stream:\n$plan")
  }

  test("dsir selection: hashed models broadcast; the keep-cut is a top-K heap") {
    val plan = finalPlan("q_dsir_select")
    // the hashing trick bounds the log-ratio model at DsirBuckets rows —
    // it must BROADCAST onto the feature stream, and the final keep-cut
    // must be a distributed heap (TakeOrderedAndProject), never a global
    // rank sort of every scored document
    assert(plan.contains("BroadcastHashJoin"),
      s"q_dsir_select model join must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_dsir_select selection cut lost its top-K heap:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q_dsir_select must not sort-merge the feature stream:\n$plan")
  }

  test("nb classifier: dense hashed model and prior broadcast; no sort-merge on the feature stream") {
    val plan = finalPlan("q_quality_classifier")
    // the hashing trick bounds the NB model at NbBuckets rows and the
    // prior at one — both must BROADCAST onto the held-out feature
    // stream (model as a hash join, prior as a 1-row nested-loop); a
    // sort-merge would shuffle every feature occurrence to score a
    // 256-row artifact
    assert(plan.contains("BroadcastHashJoin"),
      s"q_quality_classifier model join must broadcast:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q_quality_classifier prior must broadcast as a scalar row:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q_quality_classifier must not sort-merge the feature stream:\n$plan")
  }

  test("ccnet filter: tercile cuts are one broadcast scalar row; LM shape survives the composition") {
    val plan = finalPlan("q_ccnet_filter")
    // the perplexity cut points join every doc as a broadcast 1-row
    // scalar (nested-loop on a singleton is the cheap, correct shape);
    // a sort-merge or repartition against the doc stream would make the
    // corpus shuffle for two constants
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q_ccnet_filter cut points must broadcast as a scalar row:\n$plan")
    // the underlying bigram-LM shapes must survive composition: heap-cut
    // model + broadcast scoring joins, never a token-stream sort-merge
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_ccnet_filter lost the LM model's top-K heap:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q_ccnet_filter must not sort-merge any stream:\n$plan")
  }

  test("media near-dup: decode materializes once as a checkpointed artifact; hot buckets cut map-side") {
    val df = Registry.byName("q_media_neardup").fn(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the decode must happen ONCE, at signature checkpoint time — if
    // ImageFeature MapPartitions appears in the query plan itself, some
    // consumer is re-running the decode (consumer-specific column
    // pruning defeats exchange reuse, so per-consumer copies multiply)
    assert(!finalPlan.contains("ImageFeature"),
      s"q_media_neardup re-runs the decode inside the query plan:\n$finalPlan")
    assert(finalPlan.contains("Scan ExistingRDD"),
      s"q_media_neardup must read the checkpointed signature RDD:\n$finalPlan")
    // the hot-bucket cut must be an ANTI join (map-side drop BEFORE the
    // (b, v) shuffle) — a shuffle-side cut would pile every hot bucket's
    // raw rows onto one task first. Checked on the OPTIMIZED LOGICAL
    // plan: at this SF no bucket exceeds the cap, so AQE's
    // empty-relation propagation rightly erases the join from the final
    // physical plan
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("LeftAnti"),
      s"q_media_neardup hot-bucket cut must be an anti join:\n$logical")
    assert(!finalPlan.contains("SortMergeJoin"),
      s"q_media_neardup must not sort-merge:\n$finalPlan")
  }

  test("q_clusters_incremental reads the lake-prior artifact; no cartesian, no lake-sized collect") {
    import graft.queries.Registry
    val df = Registry.byName("q_clusters_incremental").fn(spark, sf)
    df.collect()
    // the lake prior must come from the persisted artifact (pure read),
    // and the plan must never cross rows — every pair stage is an
    // equi-join on a shingle hash or a label key
    assert(df.inputFiles.exists(_.contains("labels-text-lake")),
      s"incremental CC does not read the lake-prior artifact: " +
        df.inputFiles.mkString(", "))
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      s"q_clusters_incremental crossed rows:\n$plan")
  }

  test("q_media_incremental reads lake signatures from the persisted index; no decode, no cartesian") {
    import graft.queries.MultimodalQueries
    // the index must fully cover the corpus for the cached read to be
    // index-backed (idempotent when an earlier suite already trained it)
    MultimodalQueries.Image.index(sf).train(spark)
    MultimodalQueries.clearMediaSigCache()
    val df = Registry.byName("q_media_incremental").fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // lake images are NEVER re-decoded: signatures come from the
    // checkpointed read of the persisted index, so the decode stage
    // must not appear anywhere in the query plan
    assert(!plan.contains("ImageFeature") && !plan.contains("MediaSig"),
      s"q_media_incremental re-decodes pixels inside the query plan:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"q_media_incremental must read the checkpointed signature table:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"q_media_incremental must not sort-merge 8-byte signatures:\n$plan")
    // hot-bucket cut is an ANTI join on the logical plan (AQE erases it
    // from the physical plan when no bucket is hot at this SF)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("LeftAnti"),
      s"q_media_incremental lost the hot-bucket anti-join:\n$logical")
  }

  test("q_audio_incremental reads lake fingerprints from the persisted index; no cartesian") {
    import graft.queries.MultimodalQueries
    MultimodalQueries.Audio.index(sf).train(spark)
    val df = Registry.byName("q_audio_incremental").fn(spark, sf)
    df.collect()
    // lake audio is never re-decoded: fingerprints come from the
    // persisted index's parquet slices
    assert(df.inputFiles.exists(_.contains("media-sigs/v1-fp48")),
      s"q_audio_incremental does not read the fingerprint index: " +
        df.inputFiles.take(3).mkString(", "))
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"q_audio_incremental must not sort-merge 8-byte signatures:\n$plan")
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("LeftAnti"),
      s"q_audio_incremental lost the hot-bucket anti-join:\n$logical")
  }

  test("q_audio_neardup: banded candidate join, no sort-merge, anti-join hot-bucket cut") {
    val df = graft.queries.Registry.byName("q_audio_neardup").fn(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!finalPlan.contains("SortMergeJoin"),
      s"q_audio_neardup must not sort-merge 8-byte signatures:\n$finalPlan")
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    // hot-bucket cut is a broadcast ANTI join on the logical plan (AQE
    // may erase it from the final physical plan when no bucket is hot)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("LeftAnti"),
      s"q_audio_neardup lost the hot-bucket anti-join:\n$logical")
  }

  test("q_video_incremental reads lake signatures from the persisted index; no cartesian") {
    import graft.queries.MultimodalQueries
    MultimodalQueries.Video.index(sf).train(spark)
    val df = Registry.byName("q_video_incremental").fn(spark, sf)
    df.collect()
    // lake video is never re-segmented: scene signatures come from the
    // persisted index's parquet slices
    assert(df.inputFiles.exists(_.contains("media-sigs/v1-vsc63")),
      s"q_video_incremental does not read the signature index: " +
        df.inputFiles.take(3).mkString(", "))
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"q_video_incremental must not sort-merge 8-byte signatures:\n$plan")
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("LeftAnti"),
      s"q_video_incremental lost the hot-bucket anti-join:\n$logical")
  }

  test("q_video_neardup: banded candidate join, no sort-merge, anti-join hot-bucket cut") {
    val df = graft.queries.Registry.byName("q_video_neardup").fn(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!finalPlan.contains("SortMergeJoin"),
      s"q_video_neardup must not sort-merge 8-byte signatures:\n$finalPlan")
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("LeftAnti"),
      s"q_video_neardup lost the hot-bucket anti-join:\n$logical")
  }

  test("media band self-joins are shuffled hash joins in the initial plan: no static broadcast, sort-merge or cartesian") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.execution.joins.{BaseJoinExec,
      CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
    // Both sides of a (b, v) band join are the corpus's band table, so a
    // statically broadcast side is a size-estimate accident that turns
    // into a one-task cliff mid-scale. The initial (pre-AQE) plan is the
    // one that shows a static choice; AQE may still broadcast at runtime
    // from actual sizes, which is safe. The clusters-incremental queries
    // run their pair stage while they are built (the merge checkpoints
    // it), so the executions started during construction count too.
    val bandJoins = Seq(
      "q_media_neardup" -> 1, "q_audio_neardup" -> 1, "q_video_neardup" -> 1,
      "q_media_incremental" -> 1, "q_audio_incremental" -> 1,
      "q_video_incremental" -> 1,
      "q_media_clusters_incremental" -> 2,
      "q_audio_clusters_incremental" -> 2,
      "q_video_clusters_incremental" -> 2)
    def names(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.collect { case a: AttributeReference => a.name }
    bandJoins.foreach { case (q, expected) =>
      var df: org.apache.spark.sql.DataFrame = null
      val built = executionsOf { df = Registry.byName(q).fn(spark, sf) }
      val plans = (built :+ df.queryExecution).map(_.sparkPlan)
      val shown = plans.mkString("\n")
      val band = plans.flatMap(_.collect {
        case j: BaseJoinExec if j.joinType == Inner &&
          names(j.leftKeys) == Seq("b", "v") &&
          names(j.rightKeys) == Seq("b", "v") => j
      })
      assert(band.size == expected &&
        band.forall(_.isInstanceOf[ShuffledHashJoinExec]),
        s"$q: expected $expected shuffled-hash (b, v) band joins, got " +
          s"${band.map(_.nodeName)}:\n$shown")
      assert(plans.forall(_.collect { case j: SortMergeJoinExec => j }.isEmpty),
        s"$q sort-merges in its initial plan:\n$shown")
      assert(plans.forall(_.collect { case j: CartesianProductExec => j }.isEmpty),
        s"$q crosses rows in its initial plan:\n$shown")
    }
  }

  test("q_gopher_rules is one narrow pass: no joins, single exchange for the output sort") {
    val df = graft.queries.Registry.byName("q_gopher_rules").fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"q_gopher_rules must not join:\n$plan")
    // one range exchange for the ORDER BY; no aggregation shuffle exists
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"q_gopher_rules shuffled more than the output sort:\n$plan")
  }

  test("AsOfJoinExec under AQE on a skewed key: exec survives re-planning, no skew-join rewrite, results match non-AQE") {
    import graft.plans.AsOfJoin
    // 80% of both sides on one hot key, with aggressive skew thresholds
    // so OptimizeSkewedJoin WOULD fire if it (wrongly) applied: the
    // skew rewrite replicates partitions, which corrupts a merge-join
    // exec that requires exact co-partitioning. AsOfJoinExec must come
    // out of AQE re-planning intact: same exec, no skewed=true reads
    // under it, and — the decisive check — bit-identical results to the
    // non-adaptive plan.
    val aggr = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")
    val prev = aggr.map { case (k, _) => k -> spark.conf.getOption(k) }
    def run(): (String, Seq[String]) = {
      val left = spark.range(100000).select(
        when(col("id") % 5 =!= 0, 0L).otherwise(col("id") % 97).as("k"),
        col("id").as("t"), col("id").as("lv"))
      val right = spark.range(100000).select(
        when(col("id") % 5 =!= 0, 0L).otherwise(col("id") % 97).as("rk"),
        (col("id") - 3).as("rt"), (col("id") * 7).as("pay"))
      val df = AsOfJoin.backward(left, right, "k", "rk", "t", "rt",
        Seq("pay"))
      val rows = df.collect().map(_.toString).sorted.toSeq
      (df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head,
        rows)
    }
    try {
      aggr.foreach { case (k, v) => spark.conf.set(k, v) }
      val (planAqe, rowsAqe) = run()
      assert(planAqe.contains("AsOfJoin"),
        s"AsOfJoinExec lost in AQE re-planning:\n$planAqe")
      assert(!planAqe.contains("skewed=true"),
        s"skew-join rewrite applied to a co-partitioning exec:\n$planAqe")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (planPlain, rowsPlain) = run()
      assert(planPlain.contains("AsOfJoin"))
      assert(rowsAqe == rowsPlain,
        s"AQE changed as-of results on skewed data: " +
          s"${rowsAqe.size} vs ${rowsPlain.size} rows")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("cluster labels are a persisted offline artifact: consumers are pure reads") {
    import graft.queries.{DedupQueries, Registry}
    DedupQueries.clearShingleCache()
    // trained in beforeAll; every label consumer must READ the artifact —
    // no propagation LogicalRDD, no shingle pipeline — so first touch in
    // a measured/production run costs one parquet scan
    Seq("q_dedup_clusters", "q_split_leakfree", "q_dedup_weights",
      "q_dedup_canonical").foreach { q =>
      val df = Registry.byName(q).fn(spark, sf)
      assert(df.inputFiles.exists(_.contains("labels-text")),
        s"$q does not read the persisted label artifact, read: " +
          df.inputFiles.mkString(", "))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("LogicalRDD"),
        s"$q re-ran propagation in the query path:\n$plan")
    }
    DedupQueries.clearShingleCache()
  }

  test("cross-modal linkage is label-artifact-backed: narrow label joins, no shingling, no pixel decode in the query path") {
    import graft.queries.Registry
    // both closures were paid OFFLINE (trained in beforeAll); the
    // linkage queries may read ONLY the two persisted label artifacts
    // plus the documents table — any shingle derivation, pixel decode
    // or propagation LogicalRDD here would re-run corpus-sized modality
    // work per query, the opposite of the 100 TB linkage shape
    Seq("q_caption_conflicts", "q_image_caption_conflicts",
      "q_crossmodal_alignment").foreach { q =>
      val df = Registry.byName(q).fn(spark, sf)
      val files = df.inputFiles
      assert(files.exists(_.contains("labels-text")),
        s"$q must read the persisted TEXT label artifact, read: " +
          files.mkString(", "))
      assert(files.exists(_.contains("labels-media")),
        s"$q must read the persisted MEDIA label artifact, read: " +
          files.mkString(", "))
      assert(files.forall(f => f.contains("labels-text") ||
          f.contains("labels-media") || f.contains("documents")),
        s"$q reads beyond the label artifacts + documents: " +
          files.filterNot(f => f.contains("labels-") ||
            f.contains("documents")).take(3).mkString(", "))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("LogicalRDD"),
        s"$q re-ran label propagation in the query path:\n$plan")
    }
    // the four-modality matrix must read all FOUR label artifacts and
    // nothing else beyond documents — no PCM framing or scene hashing
    // sneaking in via the audio/video sides
    locally {
      val df = Registry.byName("q_crossmodal_matrix").fn(spark, sf)
      val files = df.inputFiles
      Seq("labels-text", "labels-media", "labels-audio", "labels-video")
        .foreach { a =>
          assert(files.exists(_.contains(a)),
            s"q_crossmodal_matrix must read $a, read: " +
              files.mkString(", "))
        }
      assert(files.forall(f => f.contains("labels-") ||
          f.contains("documents")),
        "q_crossmodal_matrix reads beyond the label artifacts + " +
          "documents: " + files.filterNot(f => f.contains("labels-") ||
            f.contains("documents")).take(3).mkString(", "))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("LogicalRDD"),
        "q_crossmodal_matrix re-ran label propagation in the query " +
          s"path:\n$plan")
    }
  }

  test("q_semdedup_incremental is a pure inverted-file read: the quantizer runs zero times") {
    import graft.queries.{Registry, SimilarityQueries}
    SimilarityQueries.trainIvfAssignments(spark, sf)
    val df = Registry.byName("q_semdedup_incremental").fn(spark, sf)
    // BOTH join sides come from the persisted assignment slices — no
    // embeddings scan, no centroid-model scan: assignment happened at
    // ingest (the append step), so the query's only inputs are the
    // inverted file's parquet
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("ivf-assign")),
      "query must read ONLY the assignment artifact, read: " +
        df.inputFiles.filterNot(_.contains("ivf-assign")).take(3).mkString(", "))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"candidate generation must stay an equi-join on c_id:\n$plan")
  }

  test("q_decontaminate_semantic is a pure inverted-file read: bench set broadcast, quantizer runs zero times") {
    import graft.queries.{Registry, SimilarityQueries}
    SimilarityQueries.trainIvfAssignments(spark, sf)
    val df = Registry.byName("q_decontaminate_semantic").fn(spark, sf)
    // corpus side, bench side AND the benchmark cut all come from the
    // persisted assignment slices — no embeddings scan, no
    // centroid-model scan: the quantizer ran once, at ingest
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("ivf-assign")),
      "query must read ONLY the assignment artifact, read: " +
        df.inputFiles.filterNot(_.contains("ivf-assign")).take(3)
          .mkString(", "))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the bench side and the 1-row cut relation must BROADCAST (the
    // benchmark set is fixed-size while the corpus grows); candidate
    // generation stays an equi-join on c_id
    assert(plan.contains("BroadcastHashJoin"),
      s"bench side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      s"candidate generation must stay a broadcast equi-join on c_id:\n$plan")
  }

  test("q_bitext_margin candidates come from the inverted file: no dense pairs, no quantizer, no sort-merge") {
    import graft.queries.{Registry, SimilarityQueries}
    SimilarityQueries.trainIvfAssignments(spark, sf)
    val df = Registry.byName("q_bitext_margin").fn(spark, sf)
    // the pair stream reads the persisted assignment slices (plus one
    // narrow embeddings scan for the labels); the centroid model must
    // NOT be an input — assignment happened at ingest, never at query
    assert(df.inputFiles.exists(_.contains("ivf-assign")),
      "pair stream must read the persisted inverted file, read: " +
        df.inputFiles.take(3).mkString(", "))
    assert(!df.inputFiles.exists(_.contains("centroids.parquet")),
      "the quantizer must never run at query time")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"candidate generation must stay an equi-join on c_id:\n$plan")
    // sorting corpus-sized vector rows by the K-ary list id buys nothing:
    // the co-occupancy join must be hash-based (final AQE plan)
    val finalP = plan.split("== Initial Plan ==").head
    assert(!finalP.contains("SortMergeJoin"),
      s"the c_id co-occupancy join degraded to sort-merge:\n$finalP")
  }

  test("unigram tokenizer: fold runs per distinct word; model rides a 1-row broadcast") {
    graft.queries.TextQueries.trainUnigramPieces(spark, sf)
    val plan = finalPlan("q_unigram_tokenize")
    // the Viterbi fold's input must be the DISTINCT word table (a hash
    // aggregate), never the raw token stream — at 100 TB the fold cost is
    // vocabulary-bounded, not corpus-bounded
    assert(plan.contains("HashAggregate"),
      s"q_unigram_tokenize lost its distinct-word aggregation:\n$plan")
    // the piece map is ONE broadcast scalar row (BroadcastNestedLoopJoin
    // of a 1-row aggregate); the corpus must never shuffle to meet it
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q_unigram_tokenize model must be a 1-row broadcast cross join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q_unigram_tokenize must not plan a cartesian product:\n$plan")
    // BM25 shares the shape requirement: df/stats broadcast, top-20 is a
    // distributed heap, never a global sort
    val bm = finalPlan("q_bm25")
    assert(bm.contains("TakeOrderedAndProject"),
      s"q_bm25 top-20 cut lost its top-K heap:\n$bm")
    assert(bm.contains("BroadcastHashJoin"),
      s"q_bm25 must broadcast the df table:\n$bm")
  }

  test("as-of queries execute through the native merge operator") {
    Seq("q_asof_exec", "q_asof_forward", "q_asof_tolerance", "q_pit_join")
      .foreach { q =>
        val plan = finalPlan(q)
        assert(plan.contains("AsOfJoin"),
          s"$q must plan through AsOfJoinExec:\n$plan")
        assert(!plan.toLowerCase.contains("union"),
          s"$q must not fall back to the union-trick shape:\n$plan")
      }
  }

  test("scaled decile path: no window anywhere, and rows equal the exact NTILE twin") {
    // the distributed decile path (GlobalRank two-pass rank + map-side
    // bin) replaces the partition-less ntile(10) window — the one shape
    // where every document lands in a single task and no group-limit
    // rewrite can help (every row needs a bin). The scaled plan must
    // contain NO Window operator at all; its rows must equal the exact
    // NTILE twin, which stays registered as the oracle form
    Seq("q_quality_deciles" -> "q_quality_deciles_scaled",
        "q_classifier_calibration" -> "q_classifier_calibration_scaled")
      .foreach { case (exact, scaled) =>
        val df = Registry.byName(scaled).fn(spark, sf)
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Window"),
          s"$scaled must not plan any window:\n$plan")
        val expect = Registry.byName(exact).fn(spark, sf).collect()
        assert(rows.map(_.toString).toSeq == expect.map(_.toString).toSeq,
          s"$scaled diverged from $exact")
      }
  }

  test("vocab-cut rank windows are gone: top-K cuts are distributed heaps") {
    // round-18 verdict: the five vocab cuts were scale-safe only because
    // InferWindowGroupLimit happened to recognize the row_number+filter
    // form — nothing pinned it. They are now the explicit orderBy+limit
    // idiom (TakeOrderedAndProject: per-partition K-row heaps), and this
    // test makes a regression to a single-task vocab rank fail CI.
    // (q_textrank's cut is the same rewrite but runs inside its model
    // collect, so its final DataFrame plan is not inspectable here;
    // q_zipf needs EVERY vocab rank and is pinned separately below.)
    Seq("q_unigram_logprob", "q_pmi_pairs", "q_lm_interp").foreach { q =>
      val plan = finalPlan(q)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q vocab cut lost its distributed top-K heap:\n$plan")
      assert(!plan.contains("Window"),
        s"$q must not plan any rank window:\n$plan")
    }
  }

  test("zipf regression ranks the vocab through the two-pass path, not a window") {
    // q_zipf needs the exact rank of EVERY vocab row (the regression's
    // x-axis), so no heap cut applies — it must use GlobalRank's
    // range-repartition + offset arithmetic, never a partition-less
    // row_number window over the vocabulary
    val plan = finalPlan("q_zipf")
    assert(!plan.contains("Window"),
      s"q_zipf must not plan a global rank window:\n$plan")
  }

  test("audio segments: the PCM decode+energy fold evaluates ONCE per frame") {
    // the single-decode property rests on a nondeterministic no-op
    // (`energy + monotonically_increasing_id() * 0L`,
    // MultimodalQueries.audioSilence) blocking filter pushdown through
    // the projection — unspecified optimizer behavior that a Spark
    // upgrade could silently revert, reintroducing the double decode
    // with no test failing (r19 found it as 2× `aggregate(transform`
    // in one codegen stage: every frame decoded for the pushed filter,
    // every survivor again for the projection).
    val df = Registry.byName("q_audio_segments").fn(spark, sf)
    val txt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val n = "aggregate\\(transform\\(".r.findAllIn(txt).size
    assert(n == 1,
      s"q_audio_segments decode fold must appear exactly once in the " +
        s"plan, found $n:\n$txt")
  }

  test("Lloyd step: centers broadcast as one row, one exchange keyed (id, pos), no window") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.queries.SimilarityQueries
    object Plans extends AdaptiveSparkPlanHelper
    val e = Tables(spark, sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")
    val sub = SimilarityQueries.subvectorsOf(e)
    val ivfInit = e.filter(col("vec_id") < 16).as[(Long, Seq[Double])]
      .collect().toSeq
    val pqInit = sub.filter(col("vec_id") < 16)
      .select(col("m"), col("vec_id").cast("int"), col("subv"))
      .as[(Int, Int, Seq[Double])].collect().toSeq
    // a nearest-center window over the N·K scored rows would add two
    // exchanges and ship every vector once per centroid
    Seq(
      (SimilarityQueries.ivfLloydMeans(e, ivfInit), Seq("id", "pos"), "cs"),
      (SimilarityQueries.pqLloydMeans(sub, pqInit), Seq("m", "id", "pos"), "cbs"))
      .foreach { case (df, keys, model) =>
        df.collect()
        val plan = df.queryExecution.executedPlan
        assert(Plans.collect(plan) { case w: WindowExec => w }.isEmpty,
          s"a Lloyd step must not window the scored rows:\n$plan")
        val shuffles = Plans.collect(plan) { case x: ShuffleExchangeExec => x }
        assert(shuffles.size == 1,
          s"a Lloyd step must shuffle exactly once:\n$plan")
        val keyed = shuffles.head.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.flatMap(_.references.map(_.name))
          case _ => Nil
        }
        assert(keyed == keys, s"the one exchange must be keyed $keys:\n$plan")
        val bcasts = Plans.collect(plan) { case b: BroadcastExchangeExec => b }
        assert(bcasts.exists(_.child.output.map(_.name) == Seq(model)),
          s"the centers must arrive as one broadcast row:\n$plan")
      }
  }

  test("basket pairs: the collect_set baskets exchange is runtime-reused") {
    // one lineitem scan + collect_set exchange feeds BOTH the pair
    // explode and the per-item frequency branch; if AQE's stage reuse
    // stops firing (it is a runtime cache, not a plan rule), the corpus
    // is shingled into baskets twice. ReusedExchange only materializes
    // in the EXECUTED plan — explain("formatted") before execution
    // cannot see it (the r19 audit's unverifiable claim; pinned here).
    val plan = executedPlan("q_basket_pairs")
    assert(plan.contains("ReusedExchange") ||
        plan.contains("ReusedQueryStage"),
      s"q_basket_pairs baskets exchange no longer runtime-reused:\n$plan")
  }

  /** The SQL executions `body` runs, in order of delivery. The listener
    * bus is asynchronous: every execution before a sentinel query has
    * been delivered once the sentinel's has. */
  private def executionsOf(body: => Unit)
      : Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val Sentinel = "append-pin-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.toString.contains(Sentinel)) sentinelSeen.countDown()
        else seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(Sentinel)).collect()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** One ladder append = one SQL execution with at most one shuffle (the
    * guard's id exchange) and no distinct-count Expand. */
  private def assertOneQueryAppend(what: String,
      runs: Seq[org.apache.spark.sql.execution.QueryExecution]): Unit = {
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Plans extends AdaptiveSparkPlanHelper
    assert(runs.size == 1, s"one $what append ran ${runs.size} SQL " +
      "executions:\n" + runs.map(_.executedPlan).mkString("\n"))
    val plan = runs.head.executedPlan
    val shuffles = Plans.collect(plan) { case x: ShuffleExchangeExec => x }
    assert(shuffles.size <= 1,
      s"the $what append shuffles ${shuffles.size} times:\n$plan")
    assert(Plans.collect(plan) { case x: ExpandExec => x }.isEmpty,
      s"a distinct-count Expand is back in the $what append:\n$plan")
  }

  test("streaming vector append: one SQL execution, at most one shuffle, no Expand") {
    import spark.implicits._
    import graft.queries.SimilarityQueries
    val batch = Tables(spark, sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).take(10).toSeq
      .toDF("vec_id", "v")
    SimilarityQueries.dropIvfAssignments(spark, sf)
    assertOneQueryAppend("vector", executionsOf {
      SimilarityQueries.appendAssignedBatch(spark, sf, batch)
    })
    assert(SimilarityQueries.ivfAssignBound(spark, sf) == Some(10L))
    // leave the full-coverage inverted file the other tests read
    SimilarityQueries.trainIvfAssignments(spark, sf)
  }

  test("streaming image append: one SQL execution, at most one shuffle, no Expand") {
    import spark.implicits._
    import graft.queries.MultimodalQueries
    val batch = (0L until 10L).map { id =>
      (id, graft.operators.Multimodal.synthPng(id, 16 + (id % 6).toInt * 8,
        16 + (id % 4).toInt * 8))
    }.toDF("media_id", "bytes")
    MultimodalQueries.Image.index(sf).drop(spark)
    assertOneQueryAppend("image", executionsOf {
      MultimodalQueries.Image.index(sf).appendBatch(spark, batch)
    })
    assert(MultimodalQueries.Image.index(sf).bound(spark) == Some(10L))
    // leave the full-coverage index the other tests read
    MultimodalQueries.Image.index(sf).train(spark)
  }
}
