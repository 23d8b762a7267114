package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (north star): brute-force cosine top-k as the correctness baseline and
  * a multi-table random-hyperplane-LSH variant as the scale path.
  *
  * Scale design: brute force is O(Q·N) dot products — fine for a bounded
  * query set, quadratic for all-pairs, so it is the verification tier
  * (headline=false). The LSH variant assigns every vector one small
  * bucket id per hash table (sign pattern of LSH_PLANES fixed hyperplane
  * projections × 8 tables) in a single narrow scan; candidate generation
  * is an equi-join on (table, bucket) — a hash shuffle on a tiny key,
  * broadcastable query side, no cross join anywhere. Narrow buckets plus
  * Hamming-radius multiprobe on the query side (only probe rows fan out,
  * never the corpus index) buys recall at a fraction of the scan share
  * wide buckets would pay; layout tuned with [[graft.AnnQuality]], measured
  * in README's recall table. An IVF layout (k-means centroids) drops
  * into the same join shape.
  *
  * Determinism: hyperplanes are literal doubles (deterministic LCG, baked
  * into both the Spark plan and the oracle SQL); dot products use the
  * proven bit-identical left-fold, so bucket signs and cosines agree
  * across engines exactly. Embeddings are unit-norm (verified), so
  * cosine ≡ dot.
  */
object SimilarityQueries {

  private val TABLES = 8
  /** Hyperplanes per table in the PRODUCTION LSH index. Narrower buckets
    * (2^LSH_PLANES per table) than the classic 4-plane layout, recovered
    * by Hamming-[[LSH_RADIUS]] multiprobe on the query side: the query
    * probes every bucket whose sign pattern differs from its own in at
    * most LSH_RADIUS planes. Narrow buckets + multiprobe dominates wide
    * buckets at equal visit budget (Lv et al., VLDB'07): the corpus index
    * is unchanged, only the query fans out, so recall is bought with
    * probe rows (queries × tables × probe masks — broadcastable) instead
    * of corpus scan share. Values tuned empirically with
    * [[graft.AnnQuality]]'s LSH grid at sf0.1 — (7, 1) reaches recall@1 = 1.00 (from
    * 0.80 single-probe) visiting 41% of the corpus; wider radii push
    * recall@10 higher only by visiting > 45%, and the round-7 grid shows
    * every ≤20%-visited layout collapsing below 0.80 recall@1 — which is
    * why q_ann_lsh sits in the correctness tier and IVF-PQ is the
    * documented scale route. See README's recall table. */
  private val LSH_PLANES = 7
  private val LSH_RADIUS = 1
  /** Hyperplane pool depth — [[graft.AnnQuality]] sweeps planes ≤ this; pools are
    * prefix-stable so tuning and production share hyperplanes. */
  private val LSH_MAX_PLANES = 12
  private val DIM = 64
  private val TOPK = 10
  private val NQUERIES = 5 // vec_id < 5 are the query vectors

  /** Deterministic pseudo-random hyperplanes in [-1, 1], short-decimal
    * components so both engines parse identical doubles; indexed
    * [table][plane][dim]. */
  private[queries] val hyperplanes: Seq[Seq[Seq[Double]]] = {
    var x = 123456789L
    def next(): Double = {
      x = (1103515245L * x + 12345L) % 2147483648L
      ((x % 2001L) - 1000L) / 1000.0
    }
    Seq.fill(TABLES)(Seq.fill(LSH_MAX_PLANES)(Seq.fill(DIM)(next())))
  }

  /** All bucket-id XOR masks within Hamming `radius` of the query's own
    * bucket (mask 0 = the bucket itself). |masks| = Σ_{i≤radius} C(planes,i)
    * — 8 for (7, 1). */
  private[queries] def probeMasks(planes: Int, radius: Int): Seq[Int] =
    (0 until (1 << planes)).filter(m => Integer.bitCount(m) <= radius)

  private def planeDuck(t: Int, p: Int): String =
    hyperplanes(t)(p).mkString("[", ", ", "]::DOUBLE[]")

  /** Native fused-loop dot product ([[graft.functions.DotProduct]]);
    * bit-identical to the aggregate∘zip_with composition and to DuckDB's
    * list_dot_product — strict left-to-right summation. */
  private val dotSpark = "dot_product(%s, %s)"

  private def bucketDuck(t: Int, v: String, planes: Int = LSH_PLANES): String =
    (0 until planes).map { p =>
      s"(CASE WHEN list_dot_product($v, ${planeDuck(t, p)}) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Brute-force exact top-k: every query vector scored against the full
    * corpus, ranked on the rounded cosine (ranking on the rounded value
    * keeps tie order engine-independent). */
  private def annBrute(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = broadcast(q).join(e, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Num.r(expr(dotSpark.format("qv", "v")), 6).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .selectExpr("query_id", "neighbor_id", "cosine", "cast(rank AS BIGINT) AS rank")
      .orderBy("query_id", "rank")
  }

  /** Hybrid retrieval via reciprocal-rank fusion (Cormack et al.,
    * SIGIR'09): fuse the dense cosine ranking against doc 0's embedding
    * with the lexical BM25 ranking ([[TextQueries.bm25Scores]]) as
    * RRF(d) = Σ 1/(60 + rankᵢ(d)) over the rankings that retrieved d —
    * the standard score-free fusion behind hybrid RAG retrieval.
    *
    * Scale shape: each branch cuts to its top-50 with a DISTRIBUTED
    * top-K heap (TakeOrderedAndProject) FIRST; rank assignment (a global
    * window) runs on the 50-row bounded set, never the corpus. The
    * fusion is a full outer join of two ≤50-row sides. Determinism: both
    * branch rankings order by (rounded score DESC, doc_id); each RRF
    * term is one IEEE division of exact small integers and the fusion
    * adds at most two terms in fixed branch order. */
  private def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val K = 50
    val e = embeddingsOf(spark, dir)
    val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val dense = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        Num.r(expr(dotSpark.format("qv", "v")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id")).limit(K)
      .withColumn("d_rank", row_number()
        .over(Window.orderBy(col("cosine").desc, col("doc_id"))).cast("long"))
    val lex = TextQueries.bm25Scores(spark, dir)
      .filter(col("doc_id") =!= 0) // doc 0 is the query; exclude self
      .orderBy(col("score").desc, col("doc_id")).limit(K)
      .withColumn("l_rank", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
    dense.select("doc_id", "d_rank")
      .join(lex.select("doc_id", "l_rank"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("d_rank"), col("l_rank"),
        Num.r(
          coalesce(lit(1.0) / (lit(60L) + col("d_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60L) + col("l_rank")), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
  }

  private val hybridRrfSql = s"""
    WITH ${TextQueries.bm25CoreSql},
    dense AS (
      SELECT e.vec_id AS doc_id,
             round(list_dot_product(q.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]) + 1e-9, 6) AS cosine
      FROM embeddings q JOIN embeddings e ON e.vec_id <> 0
      WHERE q.vec_id = 0),
    dense_top AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT)
               AS d_rank
      FROM (SELECT doc_id, cosine FROM dense
            ORDER BY cosine DESC, doc_id LIMIT 50)),
    lex_top AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS l_rank
      FROM (SELECT doc_id, score FROM bm25agg WHERE doc_id <> 0
            ORDER BY score DESC, doc_id LIMIT 50))
    SELECT doc_id, d_rank, l_rank,
           round(coalesce(1e0 / (60 + d_rank), 0e0) +
                 coalesce(1e0 / (60 + l_rank), 0e0) + 1e-9, 6) AS rrf
    FROM dense_top FULL OUTER JOIN lex_top USING (doc_id)
    ORDER BY rrf DESC, doc_id
    LIMIT 20"""

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein SIGIR'98,
    * λ = 0.7): greedily pick 10 of the dense top-20 candidates, each step
    * maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the standard
    * diversity pass behind RAG retrieval, penalizing candidates too
    * similar to what's already selected.
    *
    * Scale shape: the candidate set is HEAP-CUT to 20 upstream
    * (TakeOrderedAndProject over the corpus), so the greedy runs over a
    * CONSTANT-bounded model — the same driver-arithmetic-over-a-bounded-
    * model pattern as TextRank's ≤400-row edge table; corpus size only
    * ever affects the distributed heap cut. Pair similarities are
    * computed distributed and ROUNDED before collection, so the greedy
    * compares bit-identical doubles on both engines: each step's key is
    * one multiply-subtract of 6-dp inputs (λ literals written as parsed
    * decimals — 0.3, never 1 − 0.7, which is 0.30000000000000004), ties
    * broken by doc_id. The oracle unrolls the same 10 greedy steps as
    * chained CTEs. Output scores are computed in the ENGINE (round of
    * the same two collected inputs), never driver floats. */
  private def mmr(spark: SparkSession, dir: String): DataFrame = {
    val K = 20; val Sel = 10
    val e = embeddingsOf(spark, dir)
    val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val cand = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        Num.r(expr(dotSpark.format("qv", "v")), 6).as("rel"), col("v"))
      .orderBy(col("rel").desc, col("doc_id")).limit(K)
    val pairs = cand.select(col("doc_id").as("ida"), col("v").as("va"))
      .join(broadcast(cand.select(col("doc_id").as("idb"), col("v").as("vb"))),
        col("ida") =!= col("idb"))
      .selectExpr("ida", "idb",
        s"${Num.sqlR(dotSpark.format("va", "vb"), 6)} AS sim")
    val rel: Map[Long, Double] = cand.select("doc_id", "rel")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sim: Map[(Long, Long), Double] = pairs
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    var selected = Vector.empty[(Long, Double)] // (doc_id, max-sim at pick)
    var remaining = rel.keySet.toVector.sorted
    while (selected.size < Sel && remaining.nonEmpty) {
      val scored = remaining.map { d =>
        val mc = selected.map { case (s, _) => sim((d, s)) }
          .maxOption.getOrElse(0.0)
        (0.7 * rel(d) - 0.3 * mc, mc, d)
      }
      val (_, mc, pick) = scored.minBy { case (s, _, d) => (-s, d) }
      selected :+= ((pick, mc))
      remaining = remaining.filterNot(_ == pick)
    }
    import spark.implicits._
    val picks = selected.zipWithIndex
      .map { case ((d, mc), i) => (i + 1L, d, mc) }
      .toDF("rank", "doc_id", "max_sim")
    picks.join(cand.select("doc_id", "rel"), "doc_id")
      .selectExpr("rank", "doc_id", "rel", "max_sim",
        s"${Num.sqlR("0.7e0 * rel - 0.3e0 * max_sim", 6)} AS score")
      .orderBy("rank")
  }

  private val mmrSql: String = {
    val base = s"""
    WITH cand AS MATERIALIZED (
      SELECT doc_id, rel, embedding FROM (
        SELECT e.vec_id AS doc_id,
               round(list_dot_product(q.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[]) + 1e-9, 6) AS rel,
               e.embedding
        FROM embeddings q JOIN embeddings e ON e.vec_id <> 0
        WHERE q.vec_id = 0)
      ORDER BY rel DESC, doc_id LIMIT 20),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS ida, b.doc_id AS idb,
             round(list_dot_product(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]) + 1e-9, 6) AS sim
      FROM cand a JOIN cand b ON a.doc_id <> b.doc_id),
    st1 AS (
      SELECT doc_id, rel,
             CASE WHEN rn = 1 THEN 1 ELSE CAST(NULL AS INT) END AS rank,
             CAST(NULL AS DOUBLE) AS max_sim,
             pick AS last_pick
      FROM (SELECT doc_id, rel,
                   row_number() OVER (ORDER BY 0.7e0 * rel DESC, doc_id)
                     AS rn,
                   first_value(doc_id) OVER (
                     ORDER BY 0.7e0 * rel DESC, doc_id) AS pick
            FROM cand))"""
    // One state CTE per greedy step, each referencing the PREVIOUS step
    // exactly once: state = one row per candidate with (rank = step it
    // was selected, NULL if not yet; max_sim = max similarity to the
    // selected set, frozen at selection; last_pick = the id selected by
    // the state's own step, carried as a COLUMN so the next step can
    // join `pairs` on it without a second reference). Step order
    // matters: max_sim is updated with the previous pick FIRST, then the
    // window ranks unselected rows by the UPDATED score to choose this
    // step's pick (first_value broadcasts its id). The previous spelling
    // (rem/pick/sel triples) read the prior step THREE times per round —
    // fine in DuckDB under MATERIALIZED, but an engine that inlines CTEs
    // per reference (Spark after the hint strip) got 3^9 plan copies and
    // died on heap; this chain is linear on both.
    val steps = (2 to 10).map { k =>
      val prev = s"st${k - 1}"
      // NULL max_sim = "no selected neighbor yet" (empty-set identity —
      // a 0 floor would be WRONG when every similarity is negative, and
      // greatest() NULL-propagation differs across engines, so the NULL
      // is coalesced away only at scoring time)
      val w = """ORDER BY CASE WHEN u.rank IS NULL THEN 0 ELSE 1 END,
                              0.7e0 * u.rel - 0.3e0 * coalesce(u.ns, 0e0)
                                DESC,
                              u.doc_id"""
      s""",
    st$k AS (
      SELECT q.doc_id, q.rel,
             CASE WHEN q.rank IS NOT NULL THEN q.rank
                  WHEN q.rn = 1 THEN $k ELSE CAST(NULL AS INT) END AS rank,
             q.ns AS max_sim,
             q.pick AS last_pick
      FROM (SELECT u.doc_id, u.rel, u.rank, u.ns,
                   row_number() OVER ($w) AS rn,
                   first_value(u.doc_id) OVER ($w) AS pick
            FROM (SELECT s.doc_id, s.rel, s.rank,
                         CASE WHEN s.rank IS NOT NULL THEN s.max_sim
                              WHEN p.sim IS NULL THEN s.max_sim
                              ELSE greatest(coalesce(s.max_sim, p.sim),
                                            p.sim) END
                           AS ns
                  FROM $prev s
                  LEFT JOIN pairs p
                    ON p.ida = s.doc_id AND p.idb = s.last_pick) u) q)"""
    }.mkString
    base + steps + s"""
    SELECT CAST(rank AS BIGINT) AS rank, doc_id, rel,
           coalesce(max_sim, 0e0) AS max_sim,
           round(0.7e0 * rel - 0.3e0 * coalesce(max_sim, 0e0) + 1e-9, 6)
             AS score
    FROM st10
    WHERE rank IS NOT NULL
    ORDER BY rank"""
  }

  private val annBruteSql = s"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]) + 1e-9, 6) AS cosine
      FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
      WHERE q.vec_id < $NQUERIES)
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT)
             AS rank
    FROM scored
    QUALIFY rank <= $TOPK
    ORDER BY query_id, rank"""

  /** Multi-table LSH ANN: candidates = corpus vectors sharing any table's
    * bucket with the query, then exact cosine + rank within candidates.
    * Vectors never travel through the bucket explode or the candidate
    * distinct — only (vec_id, tbl, bucket) triples shuffle; the 64-dim
    * arrays are re-joined just for the final scoring of surviving pairs. */
  private def embeddingsOf(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** (vec_id, tbl, bucket) triples — the narrow LSH bucket assignment
    * pass shared by [[annLsh]] and the recall diagnostics. The
    * hyperplane pool rides a ONE-ROW broadcast relation (tables ×
    * planes × dim nested array) instead of inline literals: the old
    * spelling baked TABLES·planes·DIM = 3.5k double literals into the
    * plan — the largest expression tree in the engine, recompiled by
    * janino on every codegen-cache eviction — where as DATA it is ~2 KB
    * that never recompiles. Still zero shuffle: a broadcast 1-row cross
    * join is map-side, and the per-table bucket folds inside one
    * codegen stage via indexed transform/aggregate. Bit-identical to
    * the literal spelling (same planes, same strict left-to-right
    * dot_product, same sign rule). */
  private[queries] def lshBucketsOf(e: DataFrame,
      planes: Int = LSH_PLANES): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val pool = Seq(Tuple1(
      hyperplanes.take(TABLES).map(_.take(planes)))).toDF("hps")
    e.crossJoin(broadcast(pool))
      .selectExpr("vec_id",
        """explode(transform(hps, (tp, t) -> named_struct(
             'tbl', t,
             'bucket', aggregate(
               transform(tp, (pl, p) ->
                 IF(dot_product(v, pl) >= 0D, shiftleft(1, p), 0)),
               0, (a, x) -> a + x)))) AS tb""")
      .selectExpr("vec_id", "tb.tbl AS tbl", "tb.bucket AS bucket")
  }

  /** Query-side multiprobe fan-out: each query row's bucket expands to
    * every bucket within Hamming [[LSH_RADIUS]] (XOR with the mask set) —
    * (query_id, qtbl, qbucket) probe rows. Only the QUERY side fans out
    * (queries × tables × masks rows, always broadcastable); the corpus
    * index is untouched, so multiprobe costs no extra index pass or
    * storage at any scale. */
  private[queries] def lshProbesOf(buckets: DataFrame, planes: Int,
      radius: Int): DataFrame = {
    val masks = probeMasks(planes, radius)
    buckets.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("tbl").as("qtbl"),
        explode(array(masks.map(m =>
          col("bucket").bitwiseXOR(lit(m))): _*)).as("qbucket"))
  }

  /** Distinct LSH candidate pairs (query_id, vec_id) under the given
    * layout — the shared core of [[annLsh]] and [[annRecall]]. */
  private[queries] def lshCandidatesOf(e: DataFrame, planes: Int,
      radius: Int): DataFrame = {
    val buckets = lshBucketsOf(e, planes)
    val probes = lshProbesOf(buckets, planes, radius)
    broadcast(probes)
      .join(buckets, col("qtbl") === col("tbl") &&
        col("qbucket") === col("bucket") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
  }

  /** Exact cosine top-k within a candidate-pair set — the re-rank tail
    * shared by the LSH production query and the tuning sweep. */
  private def exactTopK(e: DataFrame, cand: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = cand
      .join(broadcast(e.filter(col("vec_id") < NQUERIES))
        .select(col("vec_id").as("query_id"), col("v").as("qv")), "query_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("v")),
        col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Num.r(expr(dotSpark.format("qv", "v")), 6).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .selectExpr("query_id", "neighbor_id", "cosine", "cast(rank AS BIGINT) AS rank")
      .orderBy("query_id", "rank")
  }

  private[queries] def annLshWith(spark: SparkSession, dir: String,
      planes: Int, radius: Int): DataFrame = {
    val e = embeddingsOf(spark, dir)
    exactTopK(e, lshCandidatesOf(e, planes, radius))
  }

  /** ANN via random-hyperplane LSH: multi-table bucket equi-join then
    * exact cosine re-rank within buckets. */
  private def annLsh(spark: SparkSession, dir: String): DataFrame =
    annLshWith(spark, dir, LSH_PLANES, LSH_RADIUS)

  private def annLshSql: String = {
    val tables = (0 until TABLES).map { t =>
      s"SELECT vec_id, embedding::DOUBLE[] AS v, $t AS tbl, ${bucketDuck(t, "embedding::DOUBLE[]")} AS bucket FROM embeddings"
    }.mkString("\n      UNION ALL\n      ")
    val maskList = probeMasks(LSH_PLANES, LSH_RADIUS).mkString("[", ", ", "]")
    s"""
    WITH buckets AS (
      $tables),
    probes AS (
      SELECT vec_id AS query_id, v AS qv, tbl AS qtbl,
             xor(bucket, mk.mask) AS qbucket
      FROM buckets, unnest($maskList) AS mk(mask)
      WHERE vec_id < $NQUERIES),
    cand AS (
      SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id,
                      q.qv AS qv, e.v AS v
      FROM probes q JOIN buckets e
        ON q.qtbl = e.tbl AND q.qbucket = e.bucket
       AND q.query_id <> e.vec_id),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(qv, v) + 1e-9, 6) AS cosine
      FROM cand)
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT)
             AS rank
    FROM scored
    QUALIFY rank <= $TOPK
    ORDER BY query_id, rank"""
  }

  /** Coarse-quantizer list count. Probe cost is proportional to list
    * OCCUPANCY (≈ N / nlist), so at 100 TB nlist scales with the corpus
    * — 16 is the demo default for the oracle-checked SFs, overridable
    * per-JVM via the `graft.ivf.nlist` system property (ScaleDemo trains
    * its ×10 corpus at ×10 lists to hold occupancy constant and
    * demonstrate exactly that law). Read at call time and folded into
    * the model and inverted-file paths, so differently-sized quantizers
    * never share artifacts. */
  private def NCENTROIDS: Int = Integer.getInteger("graft.ivf.nlist", 16)
  private val NPROBE = 3
  private val LloydIters = 3

  /** Placeholder the oracle SQL carries for the trained-centroid parquet;
    * [[graft.Verify]] substitutes the concrete [[ivfModelPath]] when it
    * dumps oracle_sql.json (the path depends on the sf dir, which static
    * SQL can't know). */
  val IvfCentroidsToken = "__IVF_CENTROIDS__"

  /** Where the trained IVF model for a given lake dir is persisted.
    * Versioned so a training-code change can't silently reuse a stale
    * model ("v2" = spherical k-means, first-K init, 3 Lloyd iterations).
    * Keyed on a hash of the ABSOLUTE dir (basename kept for readability):
    * two lakes sharing a basename must not share a model. */
  def ivfModelPath(dir: String): String =
    graft.sources.Artifacts.path("ivf", s"v2-nl$NCENTROIDS", dir) +
      "/centroids.parquet"

  /** True iff a COMPLETE trained model exists for `dir` — the `_SUCCESS`
    * marker, not the directory, is the witness (a killed mid-overwrite
    * leaves the dir present but partial). */
  def ivfModelTrained(spark: SparkSession, dir: String): Boolean =
    graft.sources.Connectors.pathExists(spark,
      s"${ivfModelPath(dir)}/_SUCCESS")

  /** Offline IVF training: spherical k-means (Lloyd) over the embeddings
    * — init = first NCENTROIDS vectors, LloydIters iterations, cosine
    * metric, centroids renormalized to unit length each step — persisted
    * to parquet so the probe query AND the DuckDB oracle read the SAME
    * trained bits (training happens once, in one engine; no cross-engine
    * float reproduction needed). Idempotent: returns immediately if a
    * COMPLETE model (`_SUCCESS` marker) exists.
    *
    * This is the OFFLINE setup step — [[graft.Bench]] trains during
    * warmup and [[graft.Verify]] as setup; the probe query itself never
    * trains (it fails fast instead), so a measured/production query is a
    * pure read.
    *
    * Scale shape: each iteration is [[lloydMeans]] — the K centroids
    * ride ONE broadcast row, every vector picks its nearest centroid
    * inside its own row, and the per-(c_id, dim) partial mean is the only
    * exchange (K·dim rows per partition, never N·K vectors). The K·dim
    * means come to the driver, which renormalizes them ([[ivfLloydStep]]).
    * Both the broadcast and the collect are bounded by construction
    * (ROADMAP item 5): K·dim doubles, K = `graft.ivf.nlist` — 16·64 by
    * default, 160·64 in ScaleDemo's ×10 — independent of N. Components
    * are rounded (epsilon-nudged, 6 dp), which keeps them stable across
    * runs in practice; strictly, `avg` over doubles is
    * accumulation-order dependent, so determinism is only guaranteed
    * WITHIN a run — which suffices, because both engines read the same
    * persisted bits and the model path is versioned by training code,
    * not by float identity. Clusters that lose every member drop out
    * (K may shrink); NPROBE probing tolerates that. */
  def trainIvfCentroids(spark: SparkSession, dir: String): Unit = {
    val path = ivfModelPath(dir)
    if (ivfModelTrained(spark, dir)) return
    import spark.implicits._
    ivfCentroidsOf(embeddingsOf(spark, dir)).toDF("c_id", "cv").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** The trained IVF model of a (vec_id, v) frame, sorted by c_id:
    * first-NCENTROIDS init, then LloydIters [[ivfLloydStep]]s. */
  private[graft] def ivfCentroidsOf(e: DataFrame): Seq[(Long, Seq[Double])] = {
    import e.sparkSession.implicits._
    val init = e.filter(col("vec_id") < NCENTROIDS)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
      .collect().toSeq
    (1 to LloydIters).foldLeft(init)((cents, _) => ivfLloydStep(e, cents))
  }

  /** One model center as a broadcast-row element: `cs` arrays hold these
    * sorted by id. IVF ids are c_id, PQ ids are codes. */
  private[graft] case class Center(id: Long, cv: Seq[Double])

  /** The nearest center of the row, picked inside the row: `cs` is the
    * whole model as array<struct<id, cv>>, `score` rates one center
    * (higher = nearer). The lexicographic array_max over (score, −id)
    * sends ties to the smaller id — the batch `max_by` /
    * `row_number(score DESC, id)` tie-break — with no shuffle and no
    * state. The ONE nearest-center definition shared by Lloyd training
    * and streaming model serving. */
  private[graft] def nearestCenter(cs: Column,
      score: Column => Column): Column =
    -array_max(transform(cs, c => named_struct(
      lit("score"), score(c), lit("nid"), -c.getField("id"))))
      .getField("nid")

  /** IVF list score: the 6-dp rounded cosine (unit vectors, so dot). */
  private def ivfSim(v: Column, cv: Column): Column =
    Num.r(call_function("dot_product", v, cv), 6)

  /** A vector's IVF list against the one-row model `cs` ([[centersRow]]). */
  private[graft] def ivfNearest(v: Column, cs: Column): Column =
    nearestCenter(cs, c => ivfSim(v, c.getField("cv")))

  /** A model as ONE row `cs` = array<struct<id, cv>> sorted by id — what
    * [[nearestCenter]] scans and what a crossJoin broadcasts. */
  private[graft] def centersRow(spark: SparkSession,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    Seq(Tuple1(cents.sortBy(_._1).map(c => Center(c._1, c._2))))
      .toDF("cs")
  }

  /** One Lloyd iteration's executor side, shared by the IVF and PQ
    * trainers: cross-join the ONE model row (broadcast — the model ships
    * once per executor, not as a plan literal per task), pick each
    * point's center inside its row (`nearest`, evaluated to `id`), then
    * `avg` every coordinate per (keys…, id, pos). That partial aggregate
    * is the only exchange: K·dim rows per partition. */
  private def lloydMeans(points: DataFrame, model: DataFrame,
      keys: Seq[String], nearest: Column, v: Column): DataFrame =
    points.crossJoin(broadcast(model))
      // pick the center BEFORE the explode: a projection next to the
      // generator would evaluate it once per coordinate, not per point
      .select(keys.map(col) ++ Seq(nearest.as("id"), v.as("v")): _*)
      .select(keys.map(col) ++ Seq(col("id"),
        posexplode(col("v")).as(Seq("pos", "x"))): _*)
      .groupBy((keys ++ Seq("id", "pos")).map(col): _*)
      .agg(avg("x").as("mu"))

  /** IVF iteration means: (id, pos, mu) per surviving centroid. */
  private[graft] def ivfLloydMeans(e: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    lloydMeans(e, centersRow(e.sparkSession, cents), Nil,
      ivfNearest(col("v"), col("cs")), col("v"))

  /** One IVF Lloyd iteration: the K·dim means (a model, not data) are
    * finished on the driver with Spark's own arithmetic — left-fold sum
    * of squares, `sqrt`, then [[Num.rHost]] on x / nrm — so the centers
    * are bit-identical to the same finish done in SQL. */
  private[graft] def ivfLloydStep(e: DataFrame,
      cents: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = {
    import e.sparkSession.implicits._
    ivfLloydMeans(e, cents).as[(Long, Int, Double)].collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (id, rows) =>
        val cv0 = rows.sortBy(_._2).map(_._3)
        val nrm = math.sqrt(cv0.foldLeft(0D)((a, y) => a + y * y))
        id -> cv0.map(x => Num.rHost(x / nrm, 6))
      }
  }

  // ---- the persisted inverted file: append-maintained assignments ----

  /** The IVF assignment artifact ROOT for `dir` — the coarse
    * quantizer's INVERTED FILE as a maintained lake artifact: every
    * vector's (vec_id, c_id, v) assignment against the frozen centroid
    * model, written `partitionBy(c_id)` (the on-disk inverted-list
    * layout — a per-list consumer prunes to its list's files instead
    * of scanning the corpus) and APPENDED per ingested vec_id range,
    * never rebuilt — the embedding-side twin of
    * [[graft.queries.DedupQueries]]'s shingle index, closing the same
    * continual-ingest loop for the vector modality: at 100 TB new
    * embeddings are assigned once, at ingest, and every semantic-dedup
    * or ANN-maintenance stage reads the file instead of re-running the
    * quantizer over the lake.
    *
    * Unlike the shingle index there is NO census subtlety: with the
    * model frozen, a vector's assignment depends on nothing but its own
    * embedding, so slice-at-ingest ≡ from-scratch row-for-row
    * (DedupSpec proves the ladder equality directly). The path folds in
    * the centroid model version ("m2" = [[ivfModelPath]]'s v2) so
    * retraining the quantizer self-invalidates persisted assignments.
    * Layout and commit protocol are [[graft.sources.SliceLadder]]'s:
    * `slices/s<lo>-<hi>/c_id=K/` parquet committed by an append-only
    * `ladder/` marker written LAST (a crashed append leaves every
    * earlier slice committed; the partial one is invisible to
    * readers). The slice rows carry the raw vector so within-list
    * ranking stays exact; at 100 TB they would carry PQ codes
    * ([[trainPqCodebooks]]) with a budgeted exact re-rank on top. */
  private[graft] def ivfAssignBase(dir: String): String =
    graft.sources.Artifacts.path("ivf-assign", s"v1-m2-nl$NCENTROIDS", dir)
  /** The inverted file's slice-ladder mechanics (paths, atomic marker
    * commit, replay guard, writer locking) are
    * [[graft.sources.SliceLadder]]'s — this instance supplies only the
    * assignment stage ([[listAssigned]]) and the on-disk inverted-list
    * layout (`partitionBy(c_id)`). */
  private[graft] def ivfAssignIndex(dir: String): graft.sources.SliceLadder =
    new graft.sources.SliceLadder(ivfAssignBase(dir), "IVF inverted file",
      idCol = "vec_id",
      readSchema = "vec_id BIGINT, v ARRAY<DOUBLE>, c_id BIGINT",
      deriveRange = (spark, lo, hi) =>
        listAssigned(spark, dir, embeddingsOf(spark, dir)
          .filter(col("vec_id") >= lo && col("vec_id") < hi)),
      deriveBatch = (spark, batch) =>
        listAssigned(spark, dir, batch.select(col("vec_id"), col("v"))),
      writeSliceFiles = (df, path) =>
        df.write.mode("overwrite").partitionBy("c_id").parquet(path))

  /** The committed slice ladder — empty when no artifact exists. */
  private[graft] def ivfAssignLadder(spark: SparkSession,
      dir: String): Seq[(Long, Long)] = ivfAssignIndex(dir).ladder(spark)

  /** Current coverage: vectors with vec_id < bound are assigned. None
    * when no committed artifact exists. */
  def ivfAssignBound(spark: SparkSession, dir: String): Option[Long] =
    ivfAssignIndex(dir).bound(spark)

  /** True iff the inverted file covers the FULL corpus — the only state
    * full-corpus consumers (q_semdedup_incremental) may read; a
    * mid-ladder artifact is a continual-ingest state consumed by the
    * append loop at its own boundary. */
  def ivfAssignTrained(spark: SparkSession, dir: String): Boolean =
    ivfAssignIndex(dir).trained(spark)

  /** Delete the persisted inverted file. Rebuild-from-scratch is the
    * EXCEPTIONAL path — a quantizer retrain — never the per-batch one. */
  def dropIvfAssignments(spark: SparkSession, dir: String): Unit =
    ivfAssignIndex(dir).drop(spark)

  /** Assign an arbitrary (vec_id, v) frame to its IVF lists against the
    * frozen centroid model: each row picks its list inside the row
    * ([[ivfNearest]] — the argmax and tie-break of [[centroidAssigned]])
    * from the model as ONE broadcast row. The model's K rows are folded
    * into that row within a single partition, so the assignment has no
    * exchange: a streaming append's only shuffle is its ladder guard. */
  private def listAssigned(spark: SparkSession, dir: String,
      e: DataFrame): DataFrame = {
    val model = spark.read.schema("c_id BIGINT, cv ARRAY<DOUBLE>")
      .parquet(ivfModelPath(dir))
      .coalesce(1)
      .agg(collect_list(struct(col("c_id").as("id"), col("cv"))).as("cs"))
    e.crossJoin(broadcast(model))
      .select(col("vec_id"), col("v"),
        ivfNearest(col("v"), col("cs")).as("c_id"))
  }

  /** STREAMING-ingest append: assign one arriving micro-batch of
    * (vec_id, v) rows and commit it as the inverted file's next slice —
    * the `foreachBatch` body behind
    * [[graft.streaming.StreamingPipeline.ingestVectorsSink]]. Replay
    * safety and the (guarded) dense-monotone vec_id contract are
    * [[graft.sources.SliceLadder.appendBatch]]'s. */
  def appendAssignedBatch(spark: SparkSession, dir: String,
      batch: DataFrame): Unit = {
    if (!ivfModelTrained(spark, dir))
      throw new IllegalStateException(
        s"IVF centroid model missing for $dir — run " +
          "trainIvfCentroids(spark, dir) before streaming vector ingest")
    ivfAssignIndex(dir).appendBatch(spark, batch)
  }

  /** Advance the inverted file to `batchBound` by assigning and
    * appending ONLY the new vec_id range — the per-ingest maintenance
    * step for the vector modality. Idempotent at the target boundary;
    * refuses to go backwards (that is a rebuild:
    * [[dropIvfAssignments]] + [[trainIvfAssignments]]). */
  def appendIvfAssignments(spark: SparkSession, dir: String,
      batchBound: Long): Unit =
    ivfAssignIndex(dir).append(spark, batchBound)

  /** Collapse committed assignment slices up to `upTo` into one merged
    * `partitionBy(c_id)` slice — see
    * [[graft.sources.SliceLadder.compactSlices]]. */
  def compactIvfSlices(spark: SparkSession, dir: String,
      upTo: Long): Unit =
    ivfAssignIndex(dir).compactSlices(spark, upTo)

  /** Ensure the inverted file covers vec_id < `bound` (default: full
    * corpus). Idempotent; partial coverage is ADVANCED by appending;
    * coverage beyond `bound` forces a from-scratch rebuild at `bound`
    * (a test-ladder reset, never a production step). Requires the
    * centroid model ([[trainIvfCentroids]] first — the
    * [[graft.sources.Artifacts]] table orders the calls). */
  def trainIvfAssignments(spark: SparkSession, dir: String,
      bound: Long = Long.MaxValue): Unit = {
    if (!ivfModelTrained(spark, dir))
      throw new IllegalStateException(
        s"IVF centroid model missing for $dir — run " +
          "trainIvfCentroids(spark, dir) before trainIvfAssignments")
    ivfAssignIndex(dir).train(spark, bound)
  }

  /** Read the committed inverted file at its current coverage: a pure
    * union of the slice scans. The schema is DECLARED, not inferred —
    * partition-column inference would narrow `c_id` to INT, and a slice
    * that covers a range with no vectors (the seal step over an already
    * fully-streamed corpus) has no files to infer from. Row-for-row
    * equal to [[centroidAssigned]]∘[[centroidScored]] over the covered
    * range — the frozen-model argument in [[ivfAssignBase]]'s doc. */
  private[graft] def assignmentsFromIndex(spark: SparkSession,
      dir: String): DataFrame =
    ivfAssignIndex(dir).read(spark)
      .select(col("vec_id"), col("v"), col("c_id"))

  /** IVF ANN: coarse quantization against the k-means centroids trained
    * by [[trainIvfCentroids]] (read back from the persisted model table),
    * inverted lists per centroid, queries probe their NPROBE nearest
    * lists and rank exactly within.
    * Plan shape at scale: the corpus's list memberships are READ from
    * the persisted inverted file (assigned once, at ingest), query
    * vectors score against K broadcast centroids, and the probe is an
    * equi-join on centroid_id — same join skeleton as the LSH route.
    *
    * FAILS FAST if the model or the inverted file is absent: training
    * and assignment are distributed multi-job side effects and must
    * never hide inside a query (an unlucky first caller at 100 TB would
    * pay a full k-means or a corpus re-assignment);
    * [[trainIvfCentroids]] / [[trainIvfAssignments]] are the explicit
    * setup steps. */
  /** Every vector scored against the trained centroids:
    * (vec_id, v, c_id, c_sim) — one narrow broadcast-join pass.
    * Shared with [[DedupQueries]]'s SemDeDup, which reuses the same
    * trained coarse quantizer as its cluster assignment. */
  private[graft] def centroidScored(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsOf(spark, dir)
    val centroids = broadcast(spark.read.schema("c_id BIGINT, cv ARRAY<DOUBLE>")
      .parquet(ivfModelPath(dir))
      .select(col("c_id"), col("cv")))
    e.join(centroids)
      .select(col("vec_id"), col("v"), col("c_id"),
        ivfSim(col("v"), col("cv")).as("c_sim"))
  }

  /** List assignment (argmax c_sim, ties to the smaller c_id) as a
    * `max_by` groupBy: the partial aggregate collapses each vector's K
    * scored rows to one BEFORE the exchange, so the shuffle moves N rows
    * — a row_number window would ship and sort all N·K. (The
    * struct-valued max_by plans as a sort-aggregate, so a local
    * per-partition sort remains; the full-input shuffle-sort does not.) */
  private[graft] def centroidAssigned(scored: DataFrame): DataFrame =
    scored.groupBy("vec_id")
      .agg(max_by(struct(col("v"), col("c_id")),
        struct(col("c_sim"), col("c_id") * -1)).as("r"))
      .select(col("vec_id"), col("r.v").as("v"), col("r.c_id").as("c_id"))

  /** A query's NPROBE nearest lists — the top-k window runs AFTER the
    * vec_id < NQUERIES filter (pushed to the scan), so it sorts
    * NQUERIES·K rows, not N·K: (query_id, qv, c_id). */
  private def centroidProbes(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("vec_id")
      .orderBy(col("c_sim").desc, col("c_id"))
    scored.filter(col("vec_id") < NQUERIES)
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= NPROBE)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("c_id"))
  }

  /** The corpus side of IVF search is a pure read of the persisted
    * inverted file ([[trainIvfAssignments]]): list membership was
    * decided once, at ingest, so the search never re-assigns the lake —
    * the max_by assignment pass exists only in the ingest/append step
    * (and in [[DedupQueries]]'s offline SemDeDup, which stays inline
    * deliberately: its equality spec against the incremental path is
    * what certifies artifact ≡ inline assignment). Only the QUERY
    * vectors are quantized at run time — NQUERIES rows against K
    * broadcast centroids, the runtime input a serving path always pays. */
  private def annIvf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (!ivfModelTrained(spark, dir))
      throw new IllegalStateException(
        s"IVF centroid model missing for $dir (expected at " +
          s"${ivfModelPath(dir)}) — run " +
          "SimilarityQueries.trainIvfCentroids(spark, dir) first; " +
          "Bench warmup and Verify setup do this automatically")
    if (!ivfAssignTrained(spark, dir))
      throw new IllegalStateException(
        s"IVF assignment artifact missing for $dir — run " +
          "SimilarityQueries.trainIvfAssignments(spark, dir) first; " +
          "Bench warmup and Verify setup do this automatically")
    val assigned = assignmentsFromIndex(spark, dir)
    val probes = centroidProbes(centroidScored(spark, dir))
    val scored = broadcast(probes)
      .join(assigned, Seq("c_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Num.r(expr(dotSpark.format("qv", "v")), 6).as("cosine"))
      .distinct()
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .selectExpr("query_id", "neighbor_id", "cosine", "cast(rank AS BIGINT) AS rank")
      .orderBy("query_id", "rank")
  }

  private def annIvfSql = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    centroids AS (SELECT c_id, cv::DOUBLE[] AS cv
                  FROM read_parquet('$IvfCentroidsToken/*.parquet')),
    scored_c AS (
      SELECT e.vec_id, e.v, c.c_id,
             round(list_dot_product(e.v, c.cv) + 1e-9, 6) AS c_sim
      FROM e CROSS JOIN centroids c),
    assigned AS (
      SELECT vec_id, v, c_id
      FROM scored_c
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY c_sim DESC, c_id) = 1),
    probes AS (
      SELECT vec_id AS query_id, v AS qv, c_id
      FROM scored_c WHERE vec_id < $NQUERIES
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY c_sim DESC, c_id) <= $NPROBE),
    scored AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
             round(list_dot_product(p.qv, a.v) + 1e-9, 6) AS cosine
      FROM probes p JOIN assigned a ON p.c_id = a.c_id
      WHERE p.query_id <> a.vec_id)
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT)
             AS rank
    FROM scored
    QUALIFY rank <= $TOPK
    ORDER BY query_id, rank"""

  // ---------------------------------------------------------------- PQ
  private val PQ_M = 8 // subspaces
  private val PQ_SUBDIM = DIM / PQ_M // dims per subspace
  private val PQ_K = 16 // codes per subspace

  /** Exact-rerank candidate floor / log-multiplier: the re-rank budget is
    * max(FLOOR, TOPK · ⌈log₂N⌉ · MULT), computed IN-QUERY from the corpus
    * count (one scalar aggregate, broadcast), so the budget grows with the
    * corpus instead of silently starving recall at scale — a fixed 50
    * dropped recall@10 from 0.78 to 0.58 going sf0.01 → sf0.1, and decays
    * further at 100×. Logarithmic growth keeps the re-rank tier sublinear:
    * ~600 raw-vector reads per query at N = 10⁹. ⌈log₂N⌉ is computed as
    * the BIT LENGTH of N−1 (`length(bin(n - 1))`) — pure integer ops,
    * identical on both engines; a float `ceil(log2(n))` is NOT safe:
    * Spark's log-ratio log2 overshoots the exact integer at 2^29, 2^31,
    * 2^39, … (log(2^k)/log(2) = k + 4e-16) while DuckDB's std::log2 is
    * exact, so the two engines would pick different budgets at those
    * corpus sizes. (N = 1 gives bit length 1, not 0 — swallowed by the
    * FLOOR, which dominates until N ≈ 2^12.) */
  private val PQ_RERANK_FLOOR = 50
  private val PQ_RERANK_MULT = 2

  /** Driver-side twin of the in-query budget expression, for diagnostics
    * ([[annRecall]]'s visited-fraction column). */
  private[queries] def pqRerankBudget(n: Long): Long =
    math.max(PQ_RERANK_FLOOR.toLong,
      TOPK.toLong * math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(n - 1))
        * PQ_RERANK_MULT)

  /** 1-row (rerank_budget) scalar: broadcast cross-joined under the
    * candidate filter — the plan-native form of "budget = f(count)". */
  private def pqBudgetOf(e: DataFrame): DataFrame =
    e.agg(greatest(lit(PQ_RERANK_FLOOR.toLong),
      lit(TOPK.toLong) * expr("length(bin(count(1) - 1))")
        * lit(PQ_RERANK_MULT.toLong)).as("rerank_budget"))

  private val pqBudgetSql =
    s"""SELECT GREATEST($PQ_RERANK_FLOOR, $TOPK
         * CAST(LENGTH(BIN(COUNT(*) - 1)) AS BIGINT) * $PQ_RERANK_MULT)
         AS rerank_budget FROM embeddings"""

  /** Placeholder the PQ oracle SQL carries for the trained-codebook
    * parquet; [[graft.Verify]] substitutes [[pqModelPath]]. */
  val PqCodebooksToken = "__PQ_CODEBOOKS__"

  /** Trained-PQ-codebook location, same keying discipline as
    * [[ivfModelPath]] ("v1" = L2 k-means per subspace, first-K init,
    * 3 Lloyd iterations). */
  def pqModelPath(dir: String): String =
    graft.sources.Artifacts.path("pq", "v1", dir) + "/codebooks.parquet"

  def pqModelTrained(spark: SparkSession, dir: String): Boolean =
    graft.sources.Connectors.pathExists(spark,
      s"${pqModelPath(dir)}/_SUCCESS")

  /** Long-form subvector view: (vec_id, m, subv) — each 64-dim vector
    * split into PQ_M contiguous PQ_SUBDIM-dim slices. */
  private[graft] def subvectorsOf(e: DataFrame): DataFrame =
    e.selectExpr("vec_id",
        s"""explode(transform(sequence(0, ${PQ_M - 1}),
             m -> named_struct('m', m, 'subv', slice(v, m * $PQ_SUBDIM + 1, $PQ_SUBDIM)))) AS s""")
      .selectExpr("vec_id", "s.m AS m", "s.subv AS subv")

  /** L2 nearest-code distance surrogate, 6-dp rounded: argmin ‖x−c‖² ≡
    * argmin (‖c‖² − 2·x·c) — both dot products are the proven
    * bit-identical left fold, so assignment agrees across engines. */
  private def pqDist(subv: Column, cv: Column): Column =
    Num.r(call_function("dot_product", cv, cv) -
      lit(2) * call_function("dot_product", subv, cv), 6)

  /** Offline product-quantization training: independent L2 k-means per
    * subspace (first-PQ_K init, LloydIters iterations, 6-dp rounded
    * centers — same discipline as [[trainIvfCentroids]]), ALL subspaces
    * trained in one DataFrame program per iteration (the subspace id is
    * just another key in the shuffle, not a loop). Codebooks persist to
    * parquet; both engines read the same trained bits. PQ is the
    * COMPRESSION tier of the standard 100 TB ANN stack: 64 doubles
    * (512 B) become PQ_M 4-bit codes (4 B) — the corpus scan that ADC
    * scoring pays is 128× smaller than the raw vectors.
    *
    * Scale shape: [[pqLloydStep]] — one broadcast row of PQ_M codebooks
    * (PQ_M·PQ_K·PQ_SUBDIM = 1024 doubles, bounded by construction), one
    * exchange keyed (m, code, pos) per iteration. */
  def trainPqCodebooks(spark: SparkSession, dir: String): Unit = {
    if (pqModelTrained(spark, dir)) return
    import spark.implicits._
    pqCodebooksOf(subvectorsOf(embeddingsOf(spark, dir)))
      .toDF("m", "code", "cv").coalesce(1)
      .write.mode("overwrite").parquet(pqModelPath(dir))
  }

  /** The trained PQ codebooks of a (vec_id, m, subv) frame, sorted by
    * (m, code): first-PQ_K init, then LloydIters [[pqLloydStep]]s. */
  private[graft] def pqCodebooksOf(
      sub: DataFrame): Seq[(Int, Int, Seq[Double])] = {
    import sub.sparkSession.implicits._
    val init = sub.filter(col("vec_id") < PQ_K)
      .select(col("m"), col("vec_id").cast("int").as("code"), col("subv"))
      .as[(Int, Int, Seq[Double])].collect().toSeq
    (1 to LloydIters).foldLeft(init)((cents, _) => pqLloydStep(sub, cents))
  }

  /** PQ iteration means: (m, id, pos, mu) per surviving code. The model
    * row holds one id-sorted codebook per subspace, indexed by m; a
    * subvector scores only its own subspace's codes (higher = nearer,
    * so the L2 surrogate is negated). */
  private[graft] def pqLloydMeans(sub: DataFrame,
      cents: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    val spark = sub.sparkSession
    import spark.implicits._
    val byM = cents.groupBy(_._1)
    val books = (0 to byM.keys.max).map(m => byM.getOrElse(m, Nil)
      .sortBy(_._2).map(c => Center(c._2.toLong, c._3)))
    lloydMeans(sub, Seq(Tuple1(books)).toDF("cbs"), Seq("m"),
      nearestCenter(element_at(col("cbs"), col("m") + 1),
        c => -pqDist(col("subv"), c.getField("cv"))),
      col("subv"))
  }

  /** One PQ Lloyd iteration: centers = the 6-dp rounded means
    * ([[Num.rHost]]), finished on the driver like [[ivfLloydStep]]. */
  private[graft] def pqLloydStep(sub: DataFrame,
      cents: Seq[(Int, Int, Seq[Double])]): Seq[(Int, Int, Seq[Double])] = {
    import sub.sparkSession.implicits._
    pqLloydMeans(sub, cents).as[(Int, Long, Int, Double)].collect().toSeq
      .groupBy(r => (r._1, r._2)).toSeq.sortBy(_._1).map {
        case ((m, id), rows) =>
          (m, id.toInt, rows.sortBy(_._3).map(r => Num.rHost(r._4, 6)))
      }
  }

  /** Persisted PQ code location — sibling of the codebooks, so a
    * codebook retrain (rm of the parent) atomically invalidates the
    * codes derived from it. */
  def pqCodesPath(dir: String): String =
    pqModelPath(dir).replace("codebooks.parquet", "codes.parquet")

  def pqCodesTrained(spark: SparkSession, dir: String): Boolean =
    graft.sources.Connectors.pathExists(spark,
      s"${pqCodesPath(dir)}/_SUCCESS")

  /** Offline corpus encode — the inverted-file argument applied to the
    * COMPRESSION tier: PQ codes are a maintained index artifact,
    * assigned once at ingest from the frozen codebooks, never
    * re-derived per query (r19 had q_ann_pq/q_ann_ivfpq re-encoding
    * the full corpus on every run — at 100 TB that is a full
    * raw-vector scan per query for bits that never change under a
    * frozen quantizer). Deterministic: the min_by argmin over 6-dp
    * rounded distances against the frozen codebook gives the same
    * (vec_id, m, code) rows the queries previously derived inline, so
    * results are bit-identical and the DuckDB oracle (which still
    * derives codes inline from the same codebook parquet) agrees.
    * Idempotent at the _SUCCESS marker, like [[trainPqCodebooks]];
    * the maintenance leg for continual ingest is the same
    * assign-the-new-range append the IVF inverted file uses — not
    * built here because no streaming consumer feeds PQ codes yet. */
  def trainPqCodes(spark: SparkSession, dir: String): Unit = {
    trainPqCodebooks(spark, dir)
    if (pqCodesTrained(spark, dir)) return
    // coalesce(1): testdata-sized artifact, one file keeps the probe
    // read cheap; a deployment writes §6-sized files per vec_id range
    pqCodesOf(spark, dir).coalesce(1)
      .write.mode("overwrite").parquet(pqCodesPath(dir))
  }

  /** Read the committed codes with the artifact's fixed schema PINNED
    * (no footer-inference job — the readCensus discipline). */
  private def codesFromIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("vec_id BIGINT, m INT, code INT")
      .parquet(pqCodesPath(dir))

  /** PQ encode: each vector's nearest code per subspace —
    * (vec_id, m, code). Broadcast join against the PQ_M·PQ_K codebook,
    * then a (vec_id, m) min_by over exactly PQ_K rows. The offline
    * derivation behind [[trainPqCodes]] — queries read the artifact. */
  private def pqCodesOf(spark: SparkSession, dir: String): DataFrame = {
    val sub = subvectorsOf(embeddingsOf(spark, dir))
    val cb = broadcast(spark.read.schema("m INT, code INT, cv ARRAY<DOUBLE>")
      .parquet(pqModelPath(dir))
      .select(col("m"), col("code"), col("cv")))
    sub.join(cb, "m")
      .select(col("vec_id"), col("m"), col("code"),
        pqDist(col("subv"), col("cv")).as("d"))
      .groupBy("vec_id", "m")
      // argmin(d, ties to smaller code) via min_by: the partial aggregate
      // collapses each (vec, m)'s PQ_K rows before the exchange, so the
      // shuffle moves N·PQ_M rows — a row_number window would ship and
      // sort all N·PQ_M·PQ_K
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))
      .select("vec_id", "m", "code")
  }

  /** Per-query ADC lookup table: exact sub-dot-product of every query
    * subvector against every code center — (query_id, m, code, p);
    * NQUERIES·PQ_M·PQ_K rows, always broadcastable. */
  private def pqLutOf(spark: SparkSession, dir: String): DataFrame = {
    val sub = subvectorsOf(embeddingsOf(spark, dir))
    val cb = broadcast(spark.read.schema("m INT, code INT, cv ARRAY<DOUBLE>")
      .parquet(pqModelPath(dir))
      .select(col("m"), col("code"), col("cv")))
    sub.filter(col("vec_id") < NQUERIES)
      .withColumnRenamed("vec_id", "query_id")
      .join(cb, "m")
      .select(col("query_id"), col("m"), col("code"),
        Num.r(expr("dot_product(subv, cv)"), 6).as("p"))
  }

  /** PQ ANN with asymmetric distance computation (ADC) + exact re-rank:
    * every vector is encoded as its nearest code per subspace; a query
    * builds a tiny lookup table (PQ_M × PQ_K exact sub-dot-products,
    * broadcast) and each vector's approximate cosine is the sum of its
    * codes' LUT entries; the best approximate candidates — a
    * corpus-size-scaled budget, see [[pqBudgetOf]] — are re-scored
    * exactly. Fails fast without the trained codebooks, like [[annIvf]].
    *
    * Scale shape: encode = broadcast join against PQ_M·PQ_K centers +
    * one (vec_id, m) window over exactly PQ_K rows each; ADC = broadcast
    * LUT join + partial-aggregating groupBy on (query_id, vec_id); the
    * exact re-rank touches O(TOPK·log N) vectors per query. ADC is O(N)
    * per query BY DESIGN — PQ is the compression tier; composing it
    * under the IVF coarse quantizer (probe lists only) is the standard
    * sublinear stack, and both tiers live in this file. */
  private def annPq(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (!pqModelTrained(spark, dir) || !pqCodesTrained(spark, dir))
      throw new IllegalStateException(
        s"PQ codebooks/codes missing for $dir (expected at " +
          s"${pqModelPath(dir)} and ${pqCodesPath(dir)}) — run " +
          "SimilarityQueries.trainPqCodes(spark, dir) first; " +
          "Bench warmup and Verify setup do this automatically")
    val e = embeddingsOf(spark, dir)
    val codes = codesFromIndex(spark, dir)
    val lut = pqLutOf(spark, dir)
    val adc = codes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(Num.r(sum("p"), 6).as("adc"))
    val wCand = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("vec_id"))
    val cand = adc.withColumn("crn", row_number().over(wCand))
      .crossJoin(broadcast(pqBudgetOf(e)))
      .filter(col("crn") <= col("rerank_budget"))
      .select("query_id", "vec_id")
    val scored = cand
      .join(broadcast(e.filter(col("vec_id") < NQUERIES)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))), "query_id")
      .join(e, "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Num.r(expr(dotSpark.format("qv", "v")), 6).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .selectExpr("query_id", "neighbor_id", "cosine", "cast(rank AS BIGINT) AS rank")
      .orderBy("query_id", "rank")
  }

  private def annPqSql = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sub AS (
      SELECT vec_id, m,
             list_slice(v, m * $PQ_SUBDIM + 1, m * $PQ_SUBDIM + $PQ_SUBDIM) AS subv
      FROM e, unnest(range(0, $PQ_M)) AS u(m)),
    cb AS (SELECT m, code, cv::DOUBLE[] AS cv
           FROM read_parquet('$PqCodebooksToken/*.parquet')),
    dists AS (
      SELECT s.vec_id, s.m, c.code,
             round(list_dot_product(c.cv, c.cv)
                   - 2 * list_dot_product(s.subv, c.cv) + 1e-9, 6) AS d
      FROM sub s JOIN cb c ON s.m = c.m),
    codes AS (
      SELECT vec_id, m, code FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d, code) = 1),
    lut AS (
      SELECT s.vec_id AS query_id, s.m, c.code,
             round(list_dot_product(s.subv, c.cv) + 1e-9, 6) AS p
      FROM sub s JOIN cb c ON s.m = c.m
      WHERE s.vec_id < $NQUERIES),
    adc AS (
      SELECT l.query_id, k.vec_id, round(sum(p) + 1e-9, 6) AS adc
      FROM codes k JOIN lut l ON k.m = l.m AND k.code = l.code
      WHERE l.query_id <> k.vec_id
      GROUP BY 1, 2),
    budget AS ($pqBudgetSql),
    cand AS (
      SELECT query_id, vec_id FROM adc, budget
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc DESC, vec_id) <= rerank_budget),
    scored AS (
      SELECT c.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.v, x.v) + 1e-9, 6) AS cosine
      FROM cand c
      JOIN e q ON q.vec_id = c.query_id
      JOIN e x ON x.vec_id = c.vec_id)
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT)
             AS rank
    FROM scored
    QUALIFY rank <= $TOPK
    ORDER BY query_id, rank"""

  /** IVF-PQ — the full sublinear compressed stack, composed from the two
    * trained models: the IVF coarse quantizer restricts each query to its
    * NPROBE inverted lists (~NPROBE/K of the corpus), ADC scores ONLY
    * those lists' members from their 4-byte PQ codes, and the budgeted
    * best approximate candidates are re-scored exactly. This is the
    * layout a 100 TB vector corpus actually ships: raw vectors are read
    * for the re-rank tier alone; everything else touches centroids
    * (broadcast), codes (128× compressed), and a per-query LUT
    * (broadcast). List membership comes from the persisted inverted
    * file ([[annIvf]]'s doc) as a (vec_id, c_id)-only read — column
    * pruning plus the `partitionBy(c_id)` layout mean the scan touches
    * directory names and one narrow column, never the raw vectors.
    * Fails fast unless both models AND the inverted file exist. */
  private def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (!ivfModelTrained(spark, dir) || !pqModelTrained(spark, dir) ||
        !pqCodesTrained(spark, dir))
      throw new IllegalStateException(
        s"IVF and/or PQ model/codes missing for $dir — run " +
          "trainIvfCentroids and trainPqCodes first; Bench warmup and " +
          "Verify setup do this automatically")
    if (!ivfAssignTrained(spark, dir))
      throw new IllegalStateException(
        s"IVF assignment artifact missing for $dir — run " +
          "SimilarityQueries.trainIvfAssignments(spark, dir) first; " +
          "Bench warmup and Verify setup do this automatically")
    val e = embeddingsOf(spark, dir)
    val assigned = assignmentsFromIndex(spark, dir).select("vec_id", "c_id")
    val probes = centroidProbes(centroidScored(spark, dir))
      .select("query_id", "c_id")
    // candidate pairs = members of the query's probed lists only
    val pairs = broadcast(probes)
      .join(assigned, Seq("c_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "vec_id")
    val adc = pairs
      .join(codesFromIndex(spark, dir), "vec_id")
      .join(broadcast(pqLutOf(spark, dir)), Seq("query_id", "m", "code"))
      .groupBy("query_id", "vec_id")
      .agg(Num.r(sum("p"), 6).as("adc"))
    val wCand = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("vec_id"))
    val cand = adc.withColumn("crn", row_number().over(wCand))
      .crossJoin(broadcast(pqBudgetOf(e)))
      .filter(col("crn") <= col("rerank_budget"))
      .select("query_id", "vec_id")
    val scored = cand
      .join(broadcast(e.filter(col("vec_id") < NQUERIES)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))), "query_id")
      .join(e, "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Num.r(expr(dotSpark.format("qv", "v")), 6).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .selectExpr("query_id", "neighbor_id", "cosine", "cast(rank AS BIGINT) AS rank")
      .orderBy("query_id", "rank")
  }

  private def annIvfPqSql = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    centroids AS (SELECT c_id, cv::DOUBLE[] AS cv
                  FROM read_parquet('$IvfCentroidsToken/*.parquet')),
    scored_c AS (
      SELECT e.vec_id, e.v, c.c_id,
             round(list_dot_product(e.v, c.cv) + 1e-9, 6) AS c_sim
      FROM e CROSS JOIN centroids c),
    assigned AS (
      SELECT vec_id, c_id
      FROM scored_c
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY c_sim DESC, c_id) = 1),
    probes AS (
      SELECT vec_id AS query_id, c_id
      FROM scored_c WHERE vec_id < $NQUERIES
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY c_sim DESC, c_id) <= $NPROBE),
    pairs AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assigned a ON p.c_id = a.c_id
      WHERE p.query_id <> a.vec_id),
    sub AS (
      SELECT vec_id, m,
             list_slice(v, m * $PQ_SUBDIM + 1, m * $PQ_SUBDIM + $PQ_SUBDIM) AS subv
      FROM e, unnest(range(0, $PQ_M)) AS u(m)),
    cb AS (SELECT m, code, cv::DOUBLE[] AS cv
           FROM read_parquet('$PqCodebooksToken/*.parquet')),
    dists AS (
      SELECT s.vec_id, s.m, c.code,
             round(list_dot_product(c.cv, c.cv)
                   - 2 * list_dot_product(s.subv, c.cv) + 1e-9, 6) AS d
      FROM sub s JOIN cb c ON s.m = c.m),
    codes AS (
      SELECT vec_id, m, code FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d, code) = 1),
    lut AS (
      SELECT s.vec_id AS query_id, s.m, c.code,
             round(list_dot_product(s.subv, c.cv) + 1e-9, 6) AS p
      FROM sub s JOIN cb c ON s.m = c.m
      WHERE s.vec_id < $NQUERIES),
    adc AS (
      SELECT pr.query_id, pr.vec_id, round(sum(l.p) + 1e-9, 6) AS adc
      FROM pairs pr
      JOIN codes k ON k.vec_id = pr.vec_id
      JOIN lut l ON l.query_id = pr.query_id AND l.m = k.m AND l.code = k.code
      GROUP BY 1, 2),
    budget AS ($pqBudgetSql),
    cand AS (
      SELECT query_id, vec_id FROM adc, budget
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc DESC, vec_id) <= rerank_budget),
    scored AS (
      SELECT c.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.v, x.v) + 1e-9, 6) AS cosine
      FROM cand c
      JOIN e q ON q.vec_id = c.query_id
      JOIN e x ON x.vec_id = c.vec_id)
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT)
             AS rank
    FROM scored
    QUALIFY rank <= $TOPK
    ORDER BY query_id, rank"""

  /** One approximate route's quality/cost vs brute force: recall@1 and
    * recall@10 over the NQUERIES query vectors, and the mean fraction of
    * the corpus each query visits (scored candidates / (N−1)). */
  final case class AnnRouteStats(route: String, recallAt1: Double,
    recallAt10: Double, visitedFraction: Double)

  /** recall@k of `res` against the brute-force truth table. */
  private def recallVs(brute: DataFrame, res: DataFrame, k: Int): Double = {
    val truth = brute.filter(col("rank") <= k)
      .select("query_id", "neighbor_id")
    truth.join(res.filter(col("rank") <= k)
        .select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id")).count().toDouble / truth.count()
  }

  /** The production ANN routes [[annRecall]] can measure. */
  val AnnRoutes: Seq[String] = Seq("lsh", "ivf", "pq", "ivfpq")

  /** Offline ANN quality report (NOT a registry query) against
    * [[annBrute]] ground truth on `dir`: one row per LSH (planes, radius)
    * layout in `layouts` (route `lsh(p,r)` — the grid behind the
    * production LSH_PLANES/LSH_RADIUS choice), then one per production
    * route in `routes` (of [[AnnRoutes]]). Trains the models the routes
    * read if absent — IVF for every route but lsh, PQ codes for pq and
    * ivfpq — setup tooling, the same tier as training itself. */
  def annRecall(spark: SparkSession, dir: String, layouts: Seq[(Int, Int)],
      routes: Seq[String]): Seq[AnnRouteStats] = {
    if (routes.exists(_ != "lsh")) {
      trainIvfCentroids(spark, dir)
      trainIvfAssignments(spark, dir)
    }
    if (routes.exists(_.endsWith("pq"))) trainPqCodes(spark, dir)
    val n = Tables(spark, dir, "embeddings").count()
    val brute = annBrute(spark, dir)
      .select("query_id", "neighbor_id", "rank").cache()
    def measured(route: String, res0: DataFrame, visited: Double) = {
      val res = res0.cache()
      try AnnRouteStats(route, recallVs(brute, res, 1),
        recallVs(brute, res, TOPK), visited)
      finally res.unpersist()
    }
    // LSH cost: distinct multiprobe candidates per query, as total pairs
    // / (queries · corpus) — a per-query avg over the grouped counts
    // would silently DROP zero-candidate queries and overstate visited%
    // exactly for the sparsest layouts
    def lsh(route: String, planes: Int, radius: Int) = {
      require(planes <= LSH_MAX_PLANES, s"pool holds $LSH_MAX_PLANES planes")
      val e = embeddingsOf(spark, dir)
      val cand = lshCandidatesOf(e, planes, radius).cache()
      try measured(route, exactTopK(e, cand),
        cand.count().toDouble / (NQUERIES * (n - 1.0)))
      finally cand.unpersist()
    }
    // IVF cost: sizes of each query's NPROBE probed lists (lists are
    // disjoint — crank 1 partitions the corpus); −1 for the query itself,
    // which always sits in one of its own probed lists
    def ivfVisited = {
      val ranked = centroidScored(spark, dir).cache()
      val listSizes = centroidAssigned(ranked)
        .groupBy("c_id").agg(count(lit(1)).as("sz"))
      try centroidProbes(ranked)
        .select("query_id", "c_id")
        .join(listSizes, "c_id")
        .groupBy("query_id").agg(sum("sz").as("visited"))
        .agg(avg((col("visited") - 1.0) / (n - 1.0))).first().getDouble(0)
      finally ranked.unpersist()
    }
    // PQ's ADC pass touches every CODE (by design — compression tier);
    // "visited" here reports the exact-rerank fraction, the share of raw
    // vectors actually read — clamped to the n−1 candidates that exist,
    // since the budget formula can exceed them on tiny corpora
    def pqVisited = math.min(pqRerankBudget(n), n - 1).toDouble / (n - 1.0)
    try layouts.map { case (p, r) => lsh(s"lsh($p,$r)", p, r) } ++
      routes.map {
        case "lsh" => lsh("lsh", LSH_PLANES, LSH_RADIUS)
        case "ivf" => measured("ivf", annIvf(spark, dir), ivfVisited)
        case "pq" => measured("pq", annPq(spark, dir), pqVisited)
        case "ivfpq" => measured("ivfpq", annIvfPq(spark, dir), pqVisited)
        case r => throw new IllegalArgumentException(
          s"unknown ANN route '$r' (one of ${AnnRoutes.mkString(", ")})")
      }
    finally brute.unpersist()
  }

  /** kNN label propagation (weak supervision): each query vector takes
    * the majority label of its TOPK exact nearest neighbors, tie-broken
    * deterministically (most votes, then smallest label), and is scored
    * against its own true label. This is the brute/correctness tier —
    * at corpus scale the neighbor set comes from [[annIvf]]/[[annLsh]]
    * instead and the vote is unchanged. The vote itself never shuffles
    * vectors: after top-k, only (query_id, label) pairs aggregate, and
    * the winner is a `max_by` over (votes, -label) — an aggregate, not a
    * ranking window. */
  private def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("label").cast("long").as("true_label"))
    val scored = broadcast(q).join(e, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("true_label"), col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("label"),
        Num.r(expr(dotSpark.format("qv", "v")), 6).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .groupBy("query_id", "true_label", "label")
      .agg(count(lit(1)).as("votes"))
      .groupBy("query_id", "true_label")
      .agg(
        max_by(col("label"), struct(col("votes"), -col("label")))
          .as("pred_label"),
        max("votes").cast("long").as("n_votes"))
      .withColumn("correct", col("pred_label") === col("true_label"))
      .orderBy("query_id")
  }

  private val knnClassifySql = s"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS true_label,
             e.vec_id AS neighbor_id, CAST(e.label AS BIGINT) AS label,
             round(list_dot_product(q.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]) + 1e-9, 6) AS cosine
      FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
      WHERE q.vec_id < $NQUERIES),
    topk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored)
      WHERE rnk <= $TOPK),
    votes AS (
      SELECT query_id, true_label, label, count(*) AS votes
      FROM topk GROUP BY 1, 2, 3),
    pred AS (
      SELECT query_id, true_label, label AS pred_label,
             CAST(votes AS BIGINT) AS n_votes,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, label ASC) AS r
      FROM votes)
    SELECT query_id, true_label, pred_label, n_votes,
           (pred_label = true_label) AS correct
    FROM pred WHERE r = 1
    ORDER BY query_id"""

  /** Hard-negative mining (the DPR recipe, Karpukhin et al. EMNLP'20
    * §4.2): for each query vector, the most-similar corpus vectors
    * carrying a DIFFERENT label — the near-boundary negatives that make
    * contrastive/retrieval training converge, as opposed to random
    * negatives a trained encoder already separates. Same broadcast shape
    * as [[annBrute]]: queries broadcast with their labels, the corpus
    * never shuffles, and the label-mismatch predicate prunes map-side
    * BEFORE scoring. At corpus scale the candidate set comes from the
    * IVF probe exactly as in [[annIvf]] with this predicate applied
    * pre-rank — the mining is a filter on any ANN tier, not a new
    * algorithm. */
  private def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("label").as("qlabel"))
    val scored = broadcast(q).join(e, col("qlabel") =!= col("label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("neg_label"),
        Num.r(expr(dotSpark.format("qv", "v")), 6).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .selectExpr("query_id", "neighbor_id", "neg_label", "cosine",
        "cast(rank AS BIGINT) AS rank")
      .orderBy("query_id", "rank")
  }

  private val hardNegativesSql = s"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             CAST(e.label AS BIGINT) AS neg_label,
             round(list_dot_product(q.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]) + 1e-9, 6) AS cosine
      FROM embeddings q JOIN embeddings e ON q.label <> e.label
      WHERE q.vec_id < $NQUERIES)
    SELECT query_id, neighbor_id, neg_label, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT)
             AS rank
    FROM scored
    QUALIFY rank <= $TOPK
    ORDER BY query_id, rank"""

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL'19 — the
    * CCMatrix/NLLB parallel-corpus recipe): for each source-side vector
    * the best target-side candidate by MARGIN score
    * cos(x,y) / ((avgₖNN(x) + avgₖNN(y)) / 2) — the ratio neutralizes
    * hubness (a target that is everyone's near-neighbor gets its high
    * raw cosine discounted by its own high kNN average, so absolute
    * cosine thresholds stop over-selecting hub vectors). Labels 0/1
    * stand in for the two languages; k = 4.
    *
    * Scale shape: the HEADLINE pair stream comes from the persisted IVF
    * inverted file ([[trainIvfAssignments]] — the SemDeDup shape:
    * same-coarse-list src×tgt co-occupants, Σᵢ sᵢ·tᵢ pairs, never the
    * dense |src|·|tgt|), and everything downstream — per-side top-k
    * averages, margin, per-src argmax — runs unchanged on the candidate
    * graph. Both kNN averages are windows over the pair stream keyed by
    * ONE side each; margins then rank per src with a group-limit heap.
    * Determinism: margins divide identical 6-dp-rounded inputs in both
    * engines, so ranking ties are decided on identical bits + tgt_id.
    * [[bitextBrute]] keeps the dense all-pairs scoring as the
    * `headline=false` correctness tier (the q_ann_brute discipline). */
  private val BITEXT_K = 4

  /** Shared downstream of both bitext tiers: per-side kNN averages over
    * the pair stream, hubness-corrected margin, per-src argmax. The kNN
    * average semantics are relative to the GIVEN candidate graph — the
    * point of the margin score survives the candidate cut because both
    * sides' averages are cut the same way (Artetxe & Schwenk run exactly
    * this over FAISS-retrieved candidates, not dense pairs). The kNN
    * side-average tables are one narrow row per src/tgt vector — CORPUS-
    * cardinality, so they must NOT be broadcast-hinted (a per-vector
    * table is not a model); the join-backs are plain equi-joins on the
    * side id, which ride the kNN windows' own hash partitioning, and
    * AQE still broadcasts them when runtime stats say they fit. */
  private def bitextFromPairs(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wS = Window.partitionBy("src_id")
      .orderBy(col("cosine").desc, col("tgt_id"))
    val wT = Window.partitionBy("tgt_id")
      .orderBy(col("cosine").desc, col("src_id"))
    val sAvg = pairs.withColumn("rs", row_number().over(wS))
      .filter(col("rs") <= BITEXT_K)
      .groupBy("src_id").agg(Num.r(avg("cosine"), 6).as("s_knn"))
    val tAvg = pairs.withColumn("rt", row_number().over(wT))
      .filter(col("rt") <= BITEXT_K)
      .groupBy("tgt_id").agg(Num.r(avg("cosine"), 6).as("t_knn"))
    val margins = pairs
      .join(sAvg, Seq("src_id"))
      .join(tAvg, Seq("tgt_id"))
      .withColumn("margin", Num.r(
        col("cosine") / ((col("s_knn") + col("t_knn")) / 2.0), 6))
    val wBest = Window.partitionBy("src_id")
      .orderBy(col("margin").desc, col("tgt_id"))
    margins.withColumn("rnk", row_number().over(wBest))
      .filter(col("rnk") === 1)
      .select("src_id", "tgt_id", "cosine", "s_knn", "t_knn", "margin")
      .orderBy("src_id")
  }

  /** The SQL twin of [[bitextFromPairs]], closed over a dialect-shared
    * `pairs` CTE body (src_id, tgt_id, cosine). */
  private def bitextTailSql(pairsCte: String): String = s"""
    WITH $pairsCte,
    sa AS (
      SELECT src_id, round(avg(cosine) + 1e-9, 6) AS s_knn
      FROM (SELECT *, row_number() OVER (PARTITION BY src_id
              ORDER BY cosine DESC, tgt_id) AS rs FROM pairs)
      WHERE rs <= $BITEXT_K GROUP BY src_id),
    ta AS (
      SELECT tgt_id, round(avg(cosine) + 1e-9, 6) AS t_knn
      FROM (SELECT *, row_number() OVER (PARTITION BY tgt_id
              ORDER BY cosine DESC, src_id) AS rt FROM pairs)
      WHERE rt <= $BITEXT_K GROUP BY tgt_id),
    m AS (
      SELECT p.src_id, p.tgt_id, p.cosine, sa.s_knn, ta.t_knn,
             round(p.cosine / ((sa.s_knn + ta.t_knn) / 2.0) + 1e-9, 6)
               AS margin
      FROM pairs p JOIN sa USING (src_id) JOIN ta USING (tgt_id))
    SELECT src_id, tgt_id, cosine, s_knn, t_knn, margin
    FROM m
    QUALIFY row_number() OVER (PARTITION BY src_id
                               ORDER BY margin DESC, tgt_id) = 1
    ORDER BY src_id"""

  /** Dense all-pairs bitext scoring — the correctness tier
    * (`headline=false`): O(|src|·|tgt|) with the full target side
    * broadcast, which dies at corpus scale. [[bitextMargin]] is the
    * production path. */
  private def bitextBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val src = emb.filter(col("label") === 0)
      .select(col("vec_id").as("src_id"), col("v").as("sv"))
    val tgt = emb.filter(col("label") === 1)
      .select(col("vec_id").as("tgt_id"), col("v").as("tv"))
    bitextFromPairs(src.crossJoin(broadcast(tgt))
      .select(col("src_id"), col("tgt_id"),
        Num.r(expr(dotSpark.format("sv", "tv")), 6).as("cosine")))
  }

  private val bitextBruteSql = bitextTailSql("""pairs AS (
      SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
             round(list_dot_product(s.embedding::DOUBLE[],
                                    t.embedding::DOUBLE[]) + 1e-9, 6) AS cosine
      FROM (SELECT * FROM embeddings WHERE label = 0) s,
           (SELECT * FROM embeddings WHERE label = 1) t)""")

  /** IVF-backed bitext margin mining — the headline tier: the pair
    * stream is the same-coarse-list src×tgt co-occupancy of the
    * PERSISTED inverted file (assignments are pure reads — the quantizer
    * ran once, at ingest; PlanSpec pins zero centroid scoring at query
    * time), so the candidate count is Σᵢ sᵢ·tᵢ over list sizes instead
    * of |src|·|tgt|, tunable by K exactly like SemDeDup (raise K until
    * lists are executor-sized). The labels travel through one narrow
    * equi-join on vec_id (8+8 bytes against the lake — co-partitioned at
    * scale); the list join is hinted shuffle-hash: sorting corpus-sized
    * vector rows by a K-ary key buys nothing. A src vector whose list
    * holds no target-side co-occupant yields no row — the recall cut is
    * the IVF probe's, measured by MediaSpec-style planted-pair specs
    * (identical vectors always share a list, so true duplicates are
    * never cut). */
  private def bitextMargin(spark: SparkSession, dir: String): DataFrame = {
    if (!ivfAssignTrained(spark, dir))
      throw new IllegalStateException(
        s"IVF assignment artifact missing for $dir — run " +
          "trainIvfAssignments(spark, dir) first; Bench warmup and " +
          "Verify setup do this automatically")
    val labels = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val assigned = assignmentsFromIndex(spark, dir)
      .join(labels, Seq("vec_id"))
    val src = assigned.filter(col("label") === 0)
      .select(col("vec_id").as("src_id"), col("v").as("sv"), col("c_id"))
    val tgt = assigned.filter(col("label") === 1)
      .select(col("vec_id").as("tgt_id"), col("v").as("tv"), col("c_id"))
    bitextFromPairs(src.hint("shuffle_hash").join(tgt, Seq("c_id"))
      .select(col("src_id"), col("tgt_id"),
        Num.r(expr(dotSpark.format("sv", "tv")), 6).as("cosine")))
  }

  /** Fixed size of the held-out benchmark set for SEMANTIC
    * decontamination: the top-[[DecontamBenchN]] vec_ids stand in for
    * an evaluation suite's embeddings. A benchmark suite is fixed-size
    * while the corpus grows — the 100 TB scale anchor below. */
  private val DecontamBenchN = 64

  /** Cosine at which a corpus vector counts as semantically
    * contaminated by a benchmark vector — the corpus's near-dup level
    * (the q_embed_neardup threshold): paraphrased benchmark items that
    * shingle decontamination (q_decontaminate) cannot see. */
  private val DecontamTau = 0.4

  /** SEMANTIC decontamination — the embedding-space twin of
    * [[DedupQueries]]'s shingle-based q_decontaminate: flag every
    * corpus vector whose cosine to ANY held-out benchmark vector
    * reaches [[DecontamTau]], with candidates restricted to the
    * benchmark vectors' IVF lists. An n-gram check misses a PARAPHRASED
    * benchmark item (zero shared shingles, same meaning); this pass
    * catches exactly that class. Scale shape: the benchmark set is
    * fixed-size and BROADCAST (its assignments come from the same
    * persisted inverted file as everything else — the quantizer runs
    * zero times at query time), the corpus side is a pure
    * (vec_id, v, c_id) read of the inverted file, and the candidate
    * join touches only the benchmark's ≤ [[DecontamBenchN]] lists —
    * work scales with benchmark-list occupancy, never corpus². The
    * same IVF-restriction is mirrored by the oracle, so the recall cut
    * (a contaminated vector whose list differs from every benchmark
    * list is missed) is a measured, gate-visible property of the
    * quantizer — identical vectors always share a list. */
  private def decontaminateSemantic(spark: SparkSession,
      dir: String): DataFrame = {
    if (!ivfAssignTrained(spark, dir))
      throw new IllegalStateException(
        s"IVF assignment artifact missing for $dir — run " +
          "trainIvfAssignments(spark, dir) first; Bench warmup and " +
          "Verify setup do this automatically")
    val a = assignmentsFromIndex(spark, dir)
    // the benchmark cut rides a broadcast 1-row relation (no collect,
    // no literal re-plan per SF) — derived from the inverted file
    // itself, so the query's ONLY input is the persisted artifact
    // (PlanSpec-pinned; the index covers the corpus, so its max vec_id
    // is the embeddings table's)
    val bcut = assignmentsFromIndex(spark, dir)
      .agg((max("vec_id") - lit(DecontamBenchN.toLong) + lit(1L))
        .as("bcut"))
    val withCut = a.crossJoin(broadcast(bcut))
    val bench = withCut.filter(col("vec_id") >= col("bcut"))
      .select(col("vec_id").as("bench_id"), col("v").as("bv"),
        col("c_id"))
    val corpus = withCut.filter(col("vec_id") < col("bcut"))
      .select("vec_id", "v", "c_id")
    corpus.join(broadcast(bench), Seq("c_id"))
      .select(col("vec_id"), col("bench_id"),
        Num.r(expr(dotSpark.format("v", "bv")), 6).as("cosine"))
      .filter(col("cosine") >= DecontamTau)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_bench_hits"),
        max("cosine").as("max_cosine"))
      .orderBy("vec_id")
  }

  private def decontaminateSemanticSql = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    centroids AS (SELECT c_id, cv::DOUBLE[] AS cv
                  FROM read_parquet('$IvfCentroidsToken/*.parquet')),
    scored_c AS (
      SELECT e.vec_id, e.v, c.c_id,
             round(list_dot_product(e.v, c.cv) + 1e-9, 6) AS c_sim
      FROM e CROSS JOIN centroids c),
    assigned AS (
      SELECT vec_id, v, c_id
      FROM scored_c
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY c_sim DESC, c_id) = 1),
    bcut AS (SELECT max(vec_id) - ${DecontamBenchN - 1} AS b FROM e),
    bench AS (
      SELECT vec_id AS bench_id, v AS bv, c_id
      FROM assigned, bcut WHERE vec_id >= b),
    corpus AS (
      SELECT vec_id, v, c_id
      FROM assigned, bcut WHERE vec_id < b),
    hits AS (
      SELECT c.vec_id,
             round(list_dot_product(c.v, bench.bv) + 1e-9, 6) AS cosine
      FROM corpus c JOIN bench USING (c_id))
    SELECT vec_id, count(*) AS n_bench_hits, max(cosine) AS max_cosine
    FROM hits
    WHERE cosine >= $DecontamTau
    GROUP BY vec_id
    ORDER BY vec_id"""

  /** IVF index-health report — the ops view a vector-lake operator
    * reads before trusting probe latency: per-list occupancy, corpus
    * share, and skew vs the uniform ideal (n·K/N). A hot list (skew ≫ 1)
    * means probes landing there scan a corpus-share, not a K-th — the
    * signal to retrain with more centroids or split the list. Pure
    * (vec_id, c_id) read of the persisted inverted file — column
    * pruning keeps the vectors on disk; one K-ary aggregate, output
    * K rows. The mass-balance column (Σ n_vecs = corpus) makes a stale
    * or torn artifact visible immediately, the same discipline as
    * q_cluster_stats. */
  private def ivfHealth(spark: SparkSession, dir: String): DataFrame = {
    if (!ivfAssignTrained(spark, dir))
      throw new IllegalStateException(
        s"IVF assignment artifact missing for $dir — run " +
          "trainIvfAssignments(spark, dir) first; Bench warmup and " +
          "Verify setup do this automatically")
    val occ = assignmentsFromIndex(spark, dir)
      .groupBy("c_id").agg(count(lit(1)).as("n_vecs"))
    val tot = occ.agg(sum("n_vecs").as("n_total"),
      count(lit(1)).as("n_lists"))
    occ.crossJoin(broadcast(tot))
      .select(col("c_id"), col("n_vecs"), col("n_total"),
        Num.r(col("n_vecs") / col("n_total"), 6).as("share"),
        Num.r(col("n_vecs") * col("n_lists") / col("n_total"), 6)
          .as("skew"))
      .orderBy("c_id")
  }

  private def ivfHealthSql = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    centroids AS (SELECT c_id, cv::DOUBLE[] AS cv
                  FROM read_parquet('$IvfCentroidsToken/*.parquet')),
    scored_c AS (
      SELECT e.vec_id, c.c_id,
             round(list_dot_product(e.v, c.cv) + 1e-9, 6) AS c_sim
      FROM e CROSS JOIN centroids c),
    assigned AS (
      SELECT vec_id, c_id
      FROM scored_c
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY c_sim DESC, c_id) = 1),
    occ AS (SELECT c_id, count(*) AS n_vecs FROM assigned GROUP BY c_id),
    tot AS (SELECT sum(n_vecs) AS n_total, count(*) AS n_lists FROM occ)
    SELECT c_id, n_vecs, CAST(n_total AS BIGINT) AS n_total,
           round(n_vecs / CAST(n_total AS DOUBLE) + 1e-9, 6) AS share,
           round(n_vecs * n_lists / CAST(n_total AS DOUBLE) + 1e-9, 6)
             AS skew
    FROM occ, tot
    ORDER BY c_id"""

  private def bitextMarginSql = bitextTailSql(s"""e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    centroids AS (SELECT c_id, cv::DOUBLE[] AS cv
                  FROM read_parquet('$IvfCentroidsToken/*.parquet')),
    scored_c AS (
      SELECT e.vec_id, e.v, e.label, c.c_id,
             round(list_dot_product(e.v, c.cv) + 1e-9, 6) AS c_sim
      FROM e CROSS JOIN centroids c),
    assigned AS (
      SELECT vec_id, v, label, c_id
      FROM scored_c
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY c_sim DESC, c_id) = 1),
    pairs AS (
      SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
             round(list_dot_product(s.v, t.v) + 1e-9, 6) AS cosine
      FROM assigned s JOIN assigned t ON s.c_id = t.c_id
      WHERE s.label = 0 AND t.label = 1)""")

  /** Per-label embedding centroids in long (label, dim, centroid) form —
    * the class-prototype computation behind SemDeDup cluster centers,
    * nearest-centroid classifiers and IVF seeding. posexplode → ONE
    * (label, dim) aggregate with map-side partials: the shuffle carries
    * 64·|labels| partial sums per map task, never the vectors. Floats
    * are cast to double pre-sum; the 1e-9 nudge swamps the ≤1e-11
    * order-of-summation noise so both engines round identically. */
  private def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("label"), col("pos").cast("long").as("dim"))
      .agg(Num.r(avg("col"), 6).as("centroid"))
      .orderBy("label", "dim")

  private val labelCentroidsSql = """
    WITH flat AS (
      SELECT CAST(label AS BIGINT) AS label,
             CAST(i - 1 AS BIGINT) AS dim,
             CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i))
    SELECT label, dim, round(avg(v) + 1e-9, 6) AS centroid
    FROM flat
    GROUP BY label, dim
    ORDER BY label, dim"""

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_label_centroids", labelCentroids, Some(labelCentroidsSql)),
    QueryDef("q_ann_brute", annBrute, Some(annBruteSql), headline = false),
    QueryDef("q_knn_classify", knnClassify, Some(knnClassifySql)),
    QueryDef("q_hard_negatives", hardNegatives, Some(hardNegativesSql)),
    QueryDef("q_bitext_margin", bitextMargin, Some(bitextMarginSql)),
    // Dense all-pairs tier — correctness reference for the IVF-backed
    // headline above, demoted like q_ann_brute: O(|src|·|tgt|) scoring
    // with a full-side broadcast cannot survive corpus scale.
    QueryDef("q_bitext_brute", bitextBrute, Some(bitextBruteSql),
      headline = false),
    // Correctness tier, not headline: the hyperplane family tops out at
    // 41% corpus scan for recall@1 = 1.00 on this data — the round-7
    // AnnQuality LSH grid (README recall table) shows every ≤20%-visited layout
    // collapsing to recall@1 ≤ 0.80, so LSH is demoted in favor of
    // q_ann_ivfpq (11% visited, 0.94@10, logarithmic re-rank) as the
    // documented 100 TB route.
    QueryDef("q_ann_lsh", annLsh, Some(annLshSql), headline = false),
    QueryDef("q_ann_ivf", annIvf, Some(annIvfSql)),
    QueryDef("q_ann_pq", annPq, Some(annPqSql)),
    QueryDef("q_ann_ivfpq", annIvfPq, Some(annIvfPqSql)),
    QueryDef("q_hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    QueryDef("q_mmr", mmr, Some(mmrSql)),
    QueryDef("q_decontaminate_semantic", decontaminateSemantic,
      Some(decontaminateSemanticSql)),
    QueryDef("q_ivf_health", ivfHealth, Some(ivfHealthSql)),
  )
}
