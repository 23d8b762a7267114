package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for a training-data pipeline over `documents`
  * (north star beyond the reference): token counting, quality scoring,
  * n-gram-marker language ID, document fingerprinting, exact dedup.
  *
  * Everything is built from codegen'd built-ins (split/filter/aggregate/
  * md5) — no UDFs — so whole plans stay inside WholeStageCodegen and the
  * only shuffles are the final aggregations. Cross-engine determinism:
  * the 60-bit portable hash is `md5` hex → BIGINT, identical in Spark
  * (`conv(substr(md5(s),1,15),16,10)`) and DuckDB
  * (`CAST('0x'||substr(md5(s),1,15) AS BIGINT)`) — verified bit-equal.
  */
object TextQueries {

  /** Tokenizer shared by every text op: whitespace split of trimmed text. */
  private val toks = "split(trim(text), '\\\\s+')"

  /** BPE-ish word/number/symbol segmentation used for token accounting. */
  private val bpeRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  private def sqlSet(xs: Seq[String]) = xs.map(s => s"'$s'").mkString("(", ", ", ")")

  /** Spark-side marker-list membership: `array_contains` against ONE
    * array literal (Catalyst constant-folds it to a single ArrayData
    * scanned by a fixed-size loop) instead of an inlined
    * `IN ('a','b',…)` chain, whose expression tree — and therefore plan
    * construction and codegen size — grows per element. Keeps compile
    * cost O(1) in the vocabulary, so a production-sized stopword list
    * still plans in milliseconds (BENCH r13 flagged q_pipeline_e2e's
    * cold as IN-set compile cost). Semantically identical to IN here:
    * whitespace tokens are never null. Oracle SQL keeps IN — DuckDB
    * inlines either way and the outputs are bit-identical. */
  private def sparkSetContains(item: String, xs: Seq[String]) =
    s"array_contains(array(${xs.map(s => s"'$s'").mkString(", ")}), $item)"

  /** Token counting: whitespace tokens + BPE-ish segment count (B-ops of a
    * data pipeline; reference analog: none — north-star extension). */
  private def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr(
        "doc_id",
        s"cast(size($toks) AS BIGINT) AS n_tokens",
        s"cast(size(regexp_extract_all(lower(text), '$bpeRe', 0)) AS BIGINT) AS n_bpe",
        "n_chars")
      .orderBy("doc_id")

  /** Quality scoring: length/punctuation/stopword/mean-token-length ratios
    * combined into one score — the standard pre-training heuristic filter.
    * The unordered body is split out for consumers that MATERIALIZE the
    * scores (nbLabeled's checkpoint): under a join or aggregate the
    * trailing orderBy is dead weight Catalyst strips (EliminateSorts),
    * but a materialization boundary would execute it — a range exchange
    * plus a global sort nothing downstream needs. */
  private def textQualityUnordered(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr(
        "doc_id",
        s"cast(size($toks) AS BIGINT) AS n_tokens",
        s"round(length(text) / cast(size($toks) AS DOUBLE) + 1e-9, 4) AS mean_tok_len",
        s"""round(size(filter($toks, t -> ${sparkSetContains("t", stopwords)}))
            / cast(size($toks) AS DOUBLE) + 1e-9, 4) AS stopword_ratio""",
        """round((length(text) - length(regexp_replace(text, '[.,!?;:]', '')))
            / cast(length(text) AS DOUBLE) + 1e-9, 4) AS punct_ratio""")
      .withColumn("quality_score",
        Num.r(when(col("n_tokens") >= 20, lit(0.5)).otherwise(lit(0.0)) +
          when(col("stopword_ratio") > 0.01, lit(0.3)).otherwise(lit(0.0)) +
          when(col("punct_ratio") < 0.1, lit(0.2)).otherwise(lit(0.0)), 2))

  private def textQuality(spark: SparkSession, dir: String): DataFrame =
    textQualityUnordered(spark, dir).orderBy("doc_id")

  /** Marker-based language ID: score = stopword-marker hits per language,
    * argmax with deterministic tie order, 'und' when no marker fires. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "die", "ist"),
    "es" -> Seq("el", "los", "que", "es"),
    "fr" -> Seq("le", "les", "et", "est"))

  /** Language ID: stopword-marker scores per language, argmax per
    * document — row-local set membership, no shuffle before the ORDER
    * BY. */
  private def langId(spark: SparkSession, dir: String): DataFrame = {
    val scored = langMarkers.foldLeft(Tables(spark, dir, "documents")) {
      case (df, (l, ms)) => df.withColumn(s"s_$l",
        expr(s"size(filter($toks, t -> ${sparkSetContains("t", ms)}))"))
    }
    val best = langMarkers.map(_._1)
      .foldLeft(lit(0))((acc, l) => greatest(acc, col(s"s_$l")))
    val pred = langMarkers.reverse.foldLeft(lit("und")) {
      case (acc, (l, _)) => when(col(s"s_$l") === col("best") && col("best") > 0,
        lit(l)).otherwise(acc)
    }
    scored.withColumn("best", best)
      .withColumn("pred_lang", pred)
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        (col("pred_lang") === col("lang")).as("hit"))
      .orderBy("doc_id")
  }

  private def langIdSql: String = {
    val scores = langMarkers.map { case (l, ms) =>
      s"len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t IN ${sqlSet(ms)})) AS s_$l"
    }.mkString(",\n             ")
    val best = s"greatest(${langMarkers.map(m => "s_" + m._1).mkString(", ")}, 0)"
    val pred = langMarkers.map { case (l, _) =>
      s"WHEN s_$l = best AND best > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    s"""
      WITH scored AS (
        SELECT doc_id, lang,
             $scores
        FROM documents),
      withbest AS (SELECT *, $best AS best FROM scored)
      SELECT doc_id, lang, $pred AS pred_lang,
             ($pred = lang) AS hit
      FROM withbest
      ORDER BY doc_id"""
  }

  /** Document fingerprinting: md5 of the normalized text plus the 60-bit
    * integer fingerprint used as the engine's portable content hash. */
  private def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr(
        "doc_id",
        "md5(lower(trim(text))) AS fp",
        "md5_60(lower(trim(text))) AS fp60")
      .orderBy("doc_id")

  /** Deterministic train/val/test split assignment: the content hash
    * buckets each doc into 80/10/10 — stable across clusters, engines
    * and re-runs (never rand()); per-(source, split) counts verify the
    * distribution. */
  private def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr("doc_id", "source",
        """CASE
             WHEN md5_60(cast(doc_id AS STRING)) % 10 < 8 THEN 'train'
             WHEN md5_60(cast(doc_id AS STRING)) % 10 = 8 THEN 'val'
             ELSE 'test'
           END AS split""")
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n"))
      .orderBy("source", "split")

  /** Epoch shard shuffle: the global reshuffle every pretraining epoch
    * needs, delivered as shard MANIFESTS instead of a materialized
    * permutation — shard = md5_60(doc_id ":" epoch) mod S gives each
    * epoch an independent deterministic assignment (same shards on
    * every cluster, engine and re-run — never rand(), the
    * q_split_assign discipline with a per-epoch salt), and the output
    * is what a data loader actually balances by: docs, estimated token
    * mass (chars/4, the usual BPE rule of thumb) and distinct sources
    * per shard. Scale: there is NO global sort — assignment is
    * row-local and the only shuffle is the (epochs × S)-key manifest
    * aggregation with map-side combine; the full per-doc assignment at
    * 100 TB never materializes (a loader recomputes any doc's shard
    * row-locally from the same hash).
    *
    * Loader-facing API: (epochs, shards) are the training run's actual
    * schedule — any (E, S) produces the same row-local assignment law.
    * The ORACLE-PINNED instance registered as `q_epoch_shards` is
    * (2, 8), so the DuckDB twin certifies the law once and callers
    * rescale freely. */
  def epochShards(epochs: Int, shards: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    require(epochs >= 1 && shards >= 1, s"epochs=$epochs shards=$shards")
    (0 until epochs).map { e =>
      Tables(spark, dir, "documents").selectExpr(
        s"CAST($e AS BIGINT) AS epoch",
        s"md5_60(concat(CAST(doc_id AS STRING), ':', CAST($e AS STRING))) % $shards AS shard",
        "doc_id", "source", "n_chars")
    }.reduce(_.unionByName(_))
      .groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(sum(CAST(floor((n_chars + 3) / 4.0) AS BIGINT)) AS BIGINT)")
          .as("n_tokens_est"),
        countDistinct("source").as("n_sources"),
        min("doc_id").as("first_doc"))
      .orderBy("epoch", "shard")
  }

  /** Vocabulary building: corpus-wide token frequencies, top 50 — the
    * first step of tokenizer training. Explode → one hash-shuffle count
    * with map-side partial aggregation. */
  private def vocab(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr(s"explode($toks) AS token")
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(50)

  /** First BPE merge step (tokenizer training): the most frequent
    * adjacent character pairs across the corpus, each occurrence weighted
    * by its word's corpus frequency — the statistic BPE training computes
    * before every merge (Sennrich et al., ACL'16). The scale story is the
    * same one that makes real BPE trainable on web-scale corpora: the
    * pair explode runs over the DISTINCT-WORD table (vocab-bounded, after
    * the corpus has already collapsed to (token, freq) via one map-side-
    * combinable count), never over the token stream — 100 TB of text and
    * 1 GB of text explode the same number of pair rows once their
    * vocabularies match. Iterating merges would repeat this step over the
    * re-segmented vocab (model-side work, like TextRank's driver
    * iterations); the query exposes the per-step primitive. */
  private def bpePairs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr(s"explode($toks) AS token")
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .filter(length(col("token")) >= 2)
      .selectExpr("freq",
        "explode(transform(sequence(1, length(token) - 1), i -> substr(token, i, 2))) AS pair")
      .groupBy("pair").agg(sum("freq").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  private val bpePairsSql = """
    WITH vocab AS (
      SELECT token, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
            FROM documents)
      GROUP BY token),
    pairs AS (
      SELECT substr(token, i, 2) AS pair, freq
      FROM vocab, unnest(range(1, length(token))) AS u(i)
      WHERE length(token) >= 2)
    SELECT pair, CAST(sum(freq) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20"""

  // ------------------------------------------------------------------ BPE
  // Full tokenizer training (Sennrich et al., ACL'16): iterate the
  // q_bpe_pairs merge step N times into a persisted merge table, then
  // apply the learned merges to documents — the offline-model discipline
  // of SimilarityQueries.trainIvfCentroids (train once, persist, every
  // query and the DuckDB oracle read the SAME bits; probe queries fail
  // fast if the model is absent).

  /** Maximum merge rules the offline BPE trainer learns; training stops
    * early once the best remaining pair occurs fewer than twice. */
  private val BpeMergeCount = 100

  /** Hard bound on how many (word, freq) vocabulary rows the BPE trainer
    * collects to the driver. Heaps' law keeps the vocabulary FAR below the
    * corpus size but it still grows without bound (~K·N^β, β≈0.5), so an
    * uncapped collect is a driver OOM at 100 TB; the cap makes the driver
    * footprint a constant. The cut is a deterministic distributed top-K
    * heap (freq DESC, word ASC — `TakeOrderedAndProject`, never a global
    * sort), the same frequency-truncated word table production trainers
    * (SentencePiece, HF tokenizers) feed their merge loops: dropping the
    * rarest tail perturbs pair counts by at most the tail's total mass,
    * which is exactly the mass the `n < 2` merge-stop already treats as
    * noise. At test scale factors the vocabulary is ~10³ words, far under
    * the cap, so the trained model is bit-for-bit unchanged. */
  private[graft] val BpeVocabCap = 4000000

  /** Placeholder the q_bpe_merges / q_bpe_tokenize oracle SQL carries for
    * the trained merge-table parquet; [[graft.Verify]] substitutes the
    * concrete [[bpeModelPath]] (the path depends on the sf dir, which
    * static SQL can't know) — the same token mechanism as
    * [[SimilarityQueries.IvfCentroidsToken]]. */
  val BpeMergesToken = "__BPE_MERGES__"

  /** Where the trained BPE merge table for a lake dir persists. Versioned
    * so a training-code change can't silently reuse a stale model; keyed
    * on a hash of the ABSOLUTE dir (basename kept for readability). */
  def bpeModelPath(dir: String): String =
    graft.sources.Artifacts.path("bpe", "v1", dir) + "/merges.parquet"

  /** True iff a COMPLETE trained merge table exists for `dir` (the
    * `_SUCCESS` marker is the witness, not the directory). */
  def bpeModelTrained(spark: SparkSession, dir: String): Boolean =
    graft.sources.Connectors.pathExists(spark,
      s"${bpeModelPath(dir)}/_SUCCESS")

  /** Left-to-right non-overlapping application of one merge rule to one
    * word's symbol sequence — the exact convention the replace-based
    * tokenizer reproduces, so trainer and query agree on every word. */
  private def mergeOnce(syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** The trainer's driver-bound word table: distributed word count, then
    * a deterministic top-K heap cut (freq DESC, word ASC) at `cap`. What
    * reaches the driver is min(vocabulary, cap) rows — vocabulary-bounded
    * at test scale, constant-bounded at any scale. ScaleSpec measures
    * both properties. */
  private[graft] def bpeVocabTopK(docs: DataFrame,
      cap: Int = BpeVocabCap): DataFrame =
    docs.selectExpr(s"explode($toks) AS token")
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(cap)

  /** Offline BPE training: corpus → (word, freq) vocabulary (the
    * distributed, 100 TB-scale stage — one explode + map-side-combinable
    * count, identical to [[vocab]]), then the classic merge loop over the
    * collected vocabulary, persisting (merge_rank, lhs, rhs, n) to
    * parquet. Idempotent: returns immediately when a complete model
    * exists.
    *
    * Scale shape: only the VOCABULARY ever reaches the driver — slowed
    * by Heaps' law and then HARD-BOUNDED by [[BpeVocabCap]] via a
    * distributed top-K heap cut (freq DESC, word ASC), the same
    * frequency-truncated word table production BPE trainers feed their
    * merge loops after the distributed word-count pass; 100 TB of text
    * and 1 GB of text hand the loop the same table once their (capped)
    * vocabularies match. Each iteration is O(total vocab symbols) in
    * memory; nothing re-touches the corpus.
    *
    * Determinism: pair counts are exact integers; the best pair is
    * (max count, then lexicographically smallest (lhs, rhs)) — no float,
    * no hash-order dependence, so retraining reproduces the model
    * bit-for-bit and cross-engine reads agree. */
  def trainBpeMerges(spark: SparkSession, dir: String): Unit = {
    val path = bpeModelPath(dir)
    if (bpeModelTrained(spark, dir)) return
    import spark.implicits._
    // The collect is CAPPED (see [[BpeVocabCap]]): orderBy+limit plans as
    // a distributed top-K heap, so the driver never holds more than the
    // cap even when Heaps-law vocabulary growth would exceed it at 100 TB.
    val vocabFreqs: Array[(String, Long)] =
      bpeVocabTopK(Tables(spark, dir, "documents"))
        .as[(String, Long)].collect()
    // split by CODE POINTS, not UTF-16 units: Spark's substr and DuckDB's
    // substr both index code points, so a surrogate-pair character must be
    // ONE trainer symbol or the learned merges could never match the
    // symbols the SQL tokenizers build (and lone surrogates don't survive
    // the UTF-8 parquet round-trip)
    var words: Array[(Array[String], Long)] =
      vocabFreqs.map { case (w, f) =>
        (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), f)
      }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var rank = 1L
    var done = false
    while (rank <= BpeMergeCount && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(c => Some(c.getOrElse(0L) + f))
      if (counts.isEmpty) done = true
      else {
        val ((l, r), n) = counts.minBy { case ((l, r), n) => (-n, l, r) }
        if (n < 2) done = true
        else {
          merges += ((rank, l, r, n))
          words = words.map { case (syms, f) => (mergeOnce(syms, l, r), f) }
          rank += 1
        }
      }
    }
    require(merges.nonEmpty, s"BPE training found no mergeable pair in $dir")
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "n").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  private def readBpeMerges(spark: SparkSession, dir: String): DataFrame = {
    if (!bpeModelTrained(spark, dir))
      throw new IllegalStateException(
        s"BPE merge model missing for $dir (expected at ${bpeModelPath(dir)}) " +
          "— run TextQueries.trainBpeMerges(spark, dir) first; Bench warmup " +
          "and Verify setup do this automatically")
    spark.read.schema("merge_rank BIGINT, lhs STRING, rhs STRING, n BIGINT")
      .parquet(bpeModelPath(dir))
  }

  /** The learned merge table itself (rank order = training order) — the
    * model artifact a downstream tokenizer ships. */
  private def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    readBpeMerges(spark, dir)
      .selectExpr("merge_rank", "lhs", "rhs", "n")
      .orderBy("merge_rank")

  /** Sentinels bracketing every symbol in the fold-based tokenizer's
    * string encoding: a merge pattern `SOT+lhs+EOT+SOT+rhs+EOT` can only
    * match two complete adjacent symbols — never a substring straddling a
    * symbol boundary (the classic naive-replace BPE bug) — and engines'
    * `replace` is left-to-right non-overlapping in both Spark and DuckDB,
    * matching [[mergeOnce]]. Control chars can't occur in text data. */
  private val SOT = ""
  private val EOT = ""

  /** BPE tokenization: apply the trained merges to every document and
    * count the resulting tokens. The merge fold runs once per DISTINCT
    * word (vocab-bounded, exactly like [[bpePairs]] — the token stream
    * never sees the 100-replace fold); per-doc counts come from one join
    * of the (doc, word, occurrences) table against the tokenized vocab.
    * Merges apply in rank order via `aggregate` over the ordered pattern
    * list — a single broadcast scalar, so the fold is map-side only. */
  private def bpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    val mlist = readBpeMerges(spark, dir)
      .selectExpr("merge_rank", s"concat('$SOT', lhs, '$EOT$SOT', rhs, '$EOT') AS m")
      .agg(expr("transform(array_sort(collect_list(struct(merge_rank, m))), s -> s.m)")
        .as("ml"))
    val occ = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"explode($toks) AS word")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    // IF guard: Spark's sequence(1, 0) is the DESCENDING [1, 0], not []
    // — an empty word (empty text splits to ['']) must encode to ''
    val tokenized = occ.select("word").distinct()
      .crossJoin(broadcast(mlist))
      .selectExpr("word",
        s"""IF(length(word) = 0, '',
             aggregate(ml,
               array_join(transform(sequence(1, length(word)),
                 i -> concat('$SOT', substr(word, i, 1), '$EOT')), ''),
               (acc, m) -> replace(acc, m, replace(m, '$EOT$SOT', '')))) AS enc""")
      .selectExpr("word",
        s"cast(length(enc) - length(replace(enc, '$SOT', '')) AS BIGINT) AS n_tok")
    occ.join(tokenized, "word")
      .groupBy("doc_id")
      .agg(sum(col("c") * col("n_tok")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Serving-shape tokenizer: ONE SQL expression computing `textCol`'s
    * total BPE token count with the trained merge list baked in as an
    * array literal — per-arriving-row enrichment with no join and no
    * streaming state, the exact analogue of the IVF literal-quantizer
    * serving shape (StreamingSpec proves stream ≡ batch). The fold is
    * the same sentinel-encoded replace chain as [[bpeTokenize]], applied
    * per word inside the row (serving can't pre-tokenize a vocab it
    * hasn't seen yet — unseen words fold from characters, exactly as BPE
    * inference should). */
  def bpeTokenCountExpr(spark: SparkSession, dir: String,
      textCol: String): String = {
    val pats = readBpeMerges(spark, dir)
      .orderBy("merge_rank")
      .selectExpr(s"concat('$SOT', lhs, '$EOT$SOT', rhs, '$EOT') AS m")
      .collect().map(_.getString(0))
    // literal escaping: backslashes FIRST (Spark's parser processes \x
    // escapes inside string literals), then single quotes — a merge
    // learned from backslash-bearing tokens must reach the fold as the
    // same bytes the batch tokenizer's column-built pattern carries
    val lits = pats.map(p =>
      "'" + p.replace("\\", "\\\\").replace("'", "''") + "'").mkString(", ")
    s"""aggregate(
         transform(
           transform(split(trim($textCol), '\\\\s+'),
             w -> IF(length(w) = 0, '',
               aggregate(array($lits),
                 array_join(transform(sequence(1, length(w)),
                   i -> concat('$SOT', substr(w, i, 1), '$EOT')), ''),
                 (acc, m) -> replace(acc, m, replace(m, '$EOT$SOT', ''))))),
           enc -> CAST(length(enc) - length(replace(enc, '$SOT', ''))
                       AS BIGINT)),
         0L, (a, x) -> a + x)"""
  }

  private val bpeTokenizeSql = s"""
    WITH occ AS (
      SELECT doc_id, token AS word, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
            FROM documents)
      GROUP BY doc_id, token),
    ml AS (
      SELECT list(chr(1) || lhs || chr(2) || chr(1) || rhs || chr(2)
                  ORDER BY merge_rank) AS ml
      FROM read_parquet('$BpeMergesToken/*.parquet')),
    tok AS (
      SELECT word,
             CAST(length(enc) - length(replace(enc, chr(1), '')) AS BIGINT) AS n_tok
      FROM (
        SELECT word,
               list_reduce(
                 list_prepend(
                   array_to_string(list_transform(range(1, length(word) + 1),
                     i -> chr(1) || substr(word, i, 1) || chr(2)), ''),
                   ml.ml),
                 (acc, m) -> replace(acc, m, replace(m, chr(2) || chr(1), ''))) AS enc
        FROM (SELECT DISTINCT word FROM occ) CROSS JOIN ml))
    SELECT o.doc_id, CAST(sum(o.c * t.n_tok) AS BIGINT) AS n_bpe_tokens
    FROM occ o JOIN tok t USING (word)
    GROUP BY o.doc_id
    ORDER BY o.doc_id"""

  /** Longest candidate piece (in code points) the unigram tokenizer
    * considers. 6 covers every multi-char piece worth keeping at any of
    * the test corpora and bounds the Viterbi inner loop. */
  private val UnigramMaxPieceLen = 6

  /** Kept vocabulary size for the unigram tokenizer (single-char pieces
    * are always retained on top of this bound so every word stays
    * segmentable). */
  private val UnigramVocabSize = 400

  /** Piece negative-log-probs are quantized to integer MICRO-NATS
    * (round(−ln p · 1e6)) before persisting. Integer costs make the
    * Viterbi argmin EXACT on every engine: the DP compares and adds only
    * BIGINTs, so Spark and DuckDB pick bit-identical segmentations — no
    * float tie can straddle an engine difference. */
  private val UnigramCostScale = 1e6

  /** Fallback combined cost for a piece missing from the model (possible
    * only when the training vocab cap truncated a rare word's characters
    * at 100 TB scale — test corpora always cover every char). ~30 nats,
    * worse than any trained piece. */
  private val UnigramUnkCombined: Long = 30000000L * 1024L + 1L

  /** Longest word (in code points) the Viterbi fold will segment. The
    * combined-cost packing gives the piece count 10 bits (cost_q·1024+1),
    * and single-char pieces are always in the vocab, so a word of 1024+
    * code points could legitimately need ≥1024 pieces — the count would
    * overflow into the cost field IDENTICALLY on both engines, corrupting
    * n_pieces/neg_logprob in a way the oracle gate cannot catch. Words
    * past the bound (no natural-language word is 1024 code points; at
    * 100 TB this is binary junk, not text) are treated as ONE UNK piece
    * instead, on both engines. PropertySpec asserts the bound. */
  private[graft] val UnigramMaxWordLen = 1023

  /** Placeholder the unigram-tokenizer oracle SQL carries for the trained
    * piece-table parquet; [[graft.Verify]] substitutes the concrete
    * [[unigramModelPath]] (same token mechanism as [[BpeMergesToken]]). */
  val UnigramPiecesToken = "__UNIGRAM_PIECES__"

  /** Where the trained unigram piece table for a lake dir persists —
    * versioned and dir-hash-keyed exactly like [[bpeModelPath]]. */
  def unigramModelPath(dir: String): String =
    graft.sources.Artifacts.path("unigram", "v1", dir) + "/pieces.parquet"

  def unigramModelTrained(spark: SparkSession, dir: String): Boolean =
    graft.sources.Connectors.pathExists(spark,
      s"${unigramModelPath(dir)}/_SUCCESS")

  /** Offline SentencePiece-style unigram-LM tokenizer training (Kudo,
    * ACL'18): corpus → capped (word, freq) vocabulary (the SAME
    * distributed heap-cut stage as [[trainBpeMerges]] — the only
    * corpus-scale pass), then EM over the collected vocabulary:
    * candidate pieces are all substrings up to [[UnigramMaxPieceLen]]
    * code points seeded ∝ weighted occurrence count, each iteration
    * computes exact expected piece counts by forward–backward over every
    * word's segmentation lattice, renormalizes, and prunes multi-char
    * pieces below 1e-6 probability (single-char pieces are never pruned,
    * keeping every word segmentable). Probabilities quantize to integer
    * micro-nat costs ([[UnigramCostScale]]) and persist as
    * (piece, cost_q, prob).
    *
    * Scale shape: identical to the BPE trainer — 100 TB of text reaches
    * the driver only as the capped vocabulary; EM is O(vocab · len · 6)
    * per iteration, corpus-size-independent.
    *
    * Determinism: words iterate in the heap-cut's total order
    * (freq DESC, word ASC); expected counts accumulate per word in
    * position order; normalization sums run over SORTED piece keys — the
    * model is reproducible bit-for-bit run-to-run. */
  def trainUnigramPieces(spark: SparkSession, dir: String): Unit = {
    val path = unigramModelPath(dir)
    if (unigramModelTrained(spark, dir)) return
    import spark.implicits._
    val vocabFreqs: Array[(String, Long)] =
      bpeVocabTopK(Tables(spark, dir, "documents"))
        .as[(String, Long)].collect()
    unigramEm(vocabFreqs).toDF("piece", "cost_q", "prob").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** The driver-side EM core of [[trainUnigramPieces]], factored out so
    * specs can exercise it on synthetic vocabularies (frequency-scaling
    * invariance, pruning behavior) without a lake dir. */
  private[graft] def unigramEm(
      vocabFreqs: Array[(String, Long)]): Seq[(String, Long, Double)] = {
    // code-point symbols (same rationale as the BPE trainer: Spark and
    // DuckDB substr index code points, so pieces must too)
    val words: Array[(Array[String], Long)] = vocabFreqs
      .filter(_._1.nonEmpty)
      .map { case (w, f) =>
        (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), f)
      }
    require(words.nonEmpty, "unigram training found no words")
    def pieceAt(syms: Array[String], s: Int, e: Int): String = {
      val sb = new StringBuilder
      var i = s; while (i < e) { sb.append(syms(i)); i += 1 }
      sb.toString
    }
    // candidate seed: weighted substring counts
    val seed = scala.collection.mutable.HashMap.empty[String, Double]
    for ((syms, f) <- words; s <- syms.indices;
         e <- (s + 1) to math.min(s + UnigramMaxPieceLen, syms.length))
      seed.updateWith(pieceAt(syms, s, e))(c => Some(c.getOrElse(0.0) + f))
    val chars = seed.keysIterator
      .filter(p => p.codePointCount(0, p.length) == 1).toSeq
    val multi = seed.iterator
      .filter { case (p, _) => p.codePointCount(0, p.length) > 1 }
      .toSeq.sortBy { case (p, c) => (-c, p) }
      .take(math.max(0, UnigramVocabSize - chars.size)).map(_._1)
    def normalize(counts: collection.Map[String, Double]): collection.immutable.TreeMap[String, Double] = {
      val sorted = collection.immutable.TreeMap.from(counts)
      val total = sorted.valuesIterator.sum
      sorted.map { case (p, c) => p -> c / total }
    }
    var probs = normalize((chars ++ multi).map(p => p -> seed(p)).toMap)
    for (_ <- 1 to 4) {
      val exp = scala.collection.mutable.HashMap.empty[String, Double]
      for ((syms, f) <- words) {
        val L = syms.length
        val alpha = Array.fill(L + 1)(0.0); alpha(0) = 1.0
        for (i <- 1 to L; j <- 1 to math.min(UnigramMaxPieceLen, i))
          probs.get(pieceAt(syms, i - j, i))
            .foreach(p => alpha(i) += alpha(i - j) * p)
        val beta = Array.fill(L + 1)(0.0); beta(L) = 1.0
        for (i <- (L - 1) to 0 by -1;
             j <- 1 to math.min(UnigramMaxPieceLen, L - i))
          probs.get(pieceAt(syms, i, i + j))
            .foreach(p => beta(i) += p * beta(i + j))
        val z = alpha(L)
        if (z > 0)
          for (s <- 0 until L;
               j <- 1 to math.min(UnigramMaxPieceLen, L - s)) {
            val piece = pieceAt(syms, s, s + j)
            probs.get(piece).foreach { p =>
              exp.updateWith(piece)(c =>
                Some(c.getOrElse(0.0) + alpha(s) * p * beta(s + j) / z * f))
            }
          }
      }
      val expTotal = collection.immutable.TreeMap.from(exp).valuesIterator.sum
      val kept = exp.filter { case (p, c) =>
        p.codePointCount(0, p.length) == 1 || c / expTotal >= 1e-6
      }
      probs = normalize(kept)
    }
    probs.toSeq.map { case (p, pr) =>
      (p, math.round(-math.log(pr) * UnigramCostScale), pr)
    }
  }

  private def readUnigramPieces(spark: SparkSession, dir: String): DataFrame = {
    if (!unigramModelTrained(spark, dir))
      throw new IllegalStateException(
        s"unigram piece model missing for $dir (expected at " +
          s"${unigramModelPath(dir)}) — run TextQueries.trainUnigramPieces " +
          "first; Bench warmup and Verify setup do this automatically")
    spark.read.schema("piece STRING, cost_q BIGINT, prob DOUBLE")
      .parquet(unigramModelPath(dir))
  }

  /** The learned piece table: the 50 highest-probability pieces. */
  private def unigramPieces(spark: SparkSession, dir: String): DataFrame =
    readUnigramPieces(spark, dir)
      .selectExpr("piece", "cost_q", s"${Num.sqlR("prob", 8)} AS prob")
      .orderBy(col("cost_q"), col("piece")).limit(50)

  private val unigramPiecesSql = s"""
    SELECT piece, cost_q, ${Num.sqlR("prob", 8)} AS prob
    FROM read_parquet('$UnigramPiecesToken/*.parquet')
    ORDER BY cost_q, piece
    LIMIT 50"""

  /** Unigram-LM (Viterbi) tokenization of every document under the
    * trained piece model. The DP runs over INTEGER combined costs —
    * each piece contributes cost_q·1024 + 1, so one BIGINT min-plus fold
    * simultaneously minimizes (total cost, piece count) lexicographically
    * (piece counts stay < 1024 per word) and both engines agree exactly;
    * best[i] = min over piece lengths j ≤ 6 of best[i−j] + cost(w[i−j+1..i]).
    * The fold is a Spark higher-order `aggregate` over the word's
    * positions with the piece map as a 1-row broadcast scalar; like
    * [[bpeTokenize]], it runs once per DISTINCT word (vocab-bounded),
    * never per token. Per-doc totals come from the (doc, word, count)
    * join: piece count = combined % 1024, cost = combined DIV 1024
    * micro-nats → neg_logprob. */
  /** The integer min-plus Viterbi fold as one SQL expression over a word
    * column and a piece→combined-cost map column. Exposed package-private
    * so specs can check the fold against brute-force segmentation
    * enumeration. */
  private[graft] def unigramViterbiSql(wordCol: String, pmCol: String): String = s"""
    IF(length($wordCol) = 0, 0L,
    IF(length($wordCol) > $UnigramMaxWordLen, ${UnigramUnkCombined}L,
      aggregate(
        sequence(1, length($wordCol)),
        array(0L),
        (acc, i) -> concat(acc, array(
          array_min(transform(sequence(1, least(i, $UnigramMaxPieceLen)),
            j -> element_at(acc, i - j + 1) +
                 coalesce(element_at($pmCol, substr($wordCol, i - j + 1, j)),
                          ${UnigramUnkCombined}L))))),
        acc -> element_at(acc, size(acc)))))"""

  /** Serving-shape unigram tokenizer: ONE SQL expression computing
    * `textCol`'s total (piece count, cost in micro-nats) as a
    * struct(n, c), with the trained piece map baked in as a literal —
    * per-arriving-row enrichment with no join and no streaming state,
    * the exact analogue of [[bpeTokenCountExpr]] (StreamingSpec proves
    * stream ≡ batch). Catalyst constant-folds the literal map once; the
    * per-word fold is the same integer Viterbi as the batch query, so
    * served and batch counts agree exactly. */
  def unigramTokenStatsExpr(spark: SparkSession, dir: String,
      textCol: String): String = {
    val pieces = readUnigramPieces(spark, dir).orderBy("piece")
      .selectExpr("piece", "cost_q * 1024 + 1 AS combined")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // literal escaping: backslashes first, then quotes (see
    // [[bpeTokenCountExpr]] for why the order matters)
    val entries = pieces.map { case (p, c) =>
      "'" + p.replace("\\", "\\\\").replace("'", "''") + "', " + c + "L"
    }.mkString(", ")
    s"""aggregate(
         transform(split(trim($textCol), '\\\\s+'),
           w -> ${unigramViterbiSql("w", s"map($entries)")}),
         named_struct('n', 0L, 'c', 0L),
         (a, b) -> named_struct('n', a.n + b % 1024, 'c', a.c + b DIV 1024))"""
  }

  /** Unigram (SentencePiece-style) tokenize: per-word Viterbi piece
    * segmentation using the broadcast trained piece-cost map. */
  private def unigramTokenize(spark: SparkSession, dir: String): DataFrame = {
    val pm = readUnigramPieces(spark, dir)
      .agg(map_from_entries(collect_list(struct(col("piece"),
        (col("cost_q") * lit(1024L) + lit(1L)).as("combined")))).as("pm"))
    val occ = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"explode($toks) AS word")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val tokenized = occ.select("word").distinct()
      .crossJoin(broadcast(pm))
      .selectExpr("word", s"${unigramViterbiSql("word", "pm")} AS best")
    occ.join(tokenized, "word")
      .groupBy("doc_id")
      .agg(expr("CAST(sum(c * (best % 1024)) AS BIGINT)").as("n_pieces"),
        Num.r(expr("CAST(sum(c * (best DIV 1024)) AS DOUBLE)") / lit(1e6), 4)
          .as("neg_logprob"))
      .orderBy("doc_id")
  }

  private val unigramTokenizeSql = s"""
    WITH occ AS (
      SELECT doc_id, token AS word, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
            FROM documents)
      GROUP BY doc_id, token),
    pm AS (
      SELECT map(list(piece), list(cost_q * 1024 + 1)) AS pm
      FROM read_parquet('$UnigramPiecesToken/*.parquet')),
    tok AS (
      SELECT word,
             CASE WHEN length(word) = 0 THEN 0
                  WHEN length(word) > $UnigramMaxWordLen THEN $UnigramUnkCombined
                  ELSE CAST(
               string_split(
                 list_reduce(
                   list_prepend('0', list_transform(range(1, length(word) + 1),
                     i -> CAST(i AS VARCHAR))),
                   (acc, si) -> acc || ',' || CAST(
                     list_min(list_transform(
                       range(1, least(CAST(si AS BIGINT), $UnigramMaxPieceLen) + 1),
                       j -> CAST(string_split(acc, ',')[CAST(si AS BIGINT) - j + 1] AS BIGINT)
                            + coalesce(
                                map_extract(pm, substr(word,
                                  CAST(CAST(si AS BIGINT) - j AS INTEGER) + 1,
                                  CAST(j AS INTEGER)))[1],
                                ${UnigramUnkCombined})))
                     AS VARCHAR)),
                 ',')[length(word) + 1] AS BIGINT) END AS best
      FROM (SELECT DISTINCT word FROM occ) CROSS JOIN pm)
    SELECT o.doc_id,
           CAST(sum(o.c * (t.best % 1024)) AS BIGINT) AS n_pieces,
           round(CAST(sum(o.c * (t.best // 1024)) AS DOUBLE) / 1e6 + 1e-9, 4)
             AS neg_logprob
    FROM occ o JOIN tok t USING (word)
    GROUP BY o.doc_id
    ORDER BY o.doc_id"""

  /** T5-style span-corruption statistics (Raffel et al., JMLR'20 §3.1.4):
    * the denoising objective masks ~15% of tokens in contiguous spans of
    * mean length 3. Masking here is DETERMINISTIC — position group
    * g = pos div 3 is masked iff hash(doc_id:g) mod 100 < 15 — so the
    * corruption schedule is reproducible on any cluster and both engines
    * agree exactly. Reports per doc: token count, masked count, span
    * count (distinct masked groups ≡ sentinel count), and the realized
    * corruption rate — the sanity panel an objective builder checks
    * before a pretraining run (a rate drifting from 15% or a span/mask
    * ratio far from 1/3 means a broken scheduler).
    * Scale shape: one posexplode + one map-side-combinable aggregate per
    * doc; masking is pure row-local hash math — no joins, no windows. */
  private def spanCorrupt(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"posexplode($toks) AS (pos, tok)")
      .selectExpr("doc_id", "pos DIV 3 AS g")
      .selectExpr("doc_id", "g",
        "pmod(md5_60(concat(cast(doc_id AS STRING), ':', cast(g AS STRING))), 100) < 15 AS masked")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
        expr("CAST(count(DISTINCT CASE WHEN masked THEN g END) AS BIGINT)")
          .as("n_spans"))
      .withColumn("corruption_rate",
        Num.r(col("n_masked").cast("double") / col("n_tokens"), 4))
      .orderBy("doc_id")

  private val spanCorruptSql = """
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    t AS (
      SELECT doc_id, i - 1 AS pos
      FROM tk, unnest(range(1, len(toks) + 1)) AS u(i)),
    m AS (
      SELECT doc_id, pos // 3 AS g,
             CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':',
                  CAST(pos // 3 AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < 15
               AS masked
      FROM t)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           CAST(count(DISTINCT CASE WHEN masked THEN g END) AS BIGINT) AS n_spans,
           round(CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) + 1e-9, 4) AS corruption_rate
    FROM m
    GROUP BY doc_id
    ORDER BY doc_id"""

  /** Count-Min sketch (Cormode & Muthukrishnan '05): depth-4 × width-256
    * frequency sketch over the token stream, then point estimates for a
    * fixed query-term set next to their exact counts. The sketch is the
    * canonical MERGEABLE frequency summary — at 100 TB each partition
    * builds its 1024-cell array map-side and cells add across partitions
    * (one map-side-combinable aggregate; the token stream never shuffles
    * whole). Estimates use the row-wise min; CM guarantees
    * est ≥ exact (one-sided error), which the spec asserts. Hashes are
    * the portable 60-bit md5 ([[graft.functions.Md5Hash60]]) with a
    * per-row salt, so both engines address identical cells; every output
    * is exact integer math — no float rounding anywhere. An empty cell
    * has no sketch row, so the estimate join is LEFT with coalesce-0
    * (an absent-everywhere term must estimate 0, not drop). */
  /** The (j, b) cell projection of the Count-Min sketch for a `term`
    * column — shared by the batch query and the streaming-maintenance
    * spec (the sketch IS the bounded streaming state: ≤ depth·width
    * rows no matter how long the stream runs). */
  private[graft] val countMinCellsExpr: String =
    (0 until 4).map(j =>
      s"named_struct('j', $j, 'b', pmod(md5_60(concat('cm$j:', term)), 256))")
      .mkString("array(", ", ", ")")

  private[graft] def countMinCells(terms: DataFrame): DataFrame =
    terms.selectExpr(s"explode($countMinCellsExpr) AS cell")
      .selectExpr("cell.j AS j", "cell.b AS b")
      .groupBy("j", "b").agg(count(lit(1)).as("c"))

  /** Count-min sketch: fixed probe terms estimated from the mergeable
    * counter grid, over-count bounded by the min across hash rows. */
  private def countMin(spark: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("a", "customer", "hash", "join", "slow", "spark",
      "the", "vector")
    val toksDf = Tables(spark, dir, "documents")
      .selectExpr(s"explode($toks) AS tok").selectExpr("lower(tok) AS term")
    val sketch = countMinCells(toksDf)
    val qDf = spark.range(1)
      .selectExpr(s"explode(array(${qTerms.map("'" + _ + "'").mkString(", ")})) AS term")
      .selectExpr("term", s"explode($countMinCellsExpr) AS cell")
      .selectExpr("term", "cell.j AS j", "cell.b AS b")
    val est = qDf.join(broadcast(sketch), Seq("j", "b"), "left")
      .select(col("term"), coalesce(col("c"), lit(0L)).as("c"))
      .groupBy("term").agg(min("c").as("cm_est"))
    val exact = toksDf.filter(col("term").isin(qTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("term"), "left")
      .select(col("term"), col("cm_est"),
        coalesce(col("exact"), lit(0L)).as("exact"),
        (col("cm_est") - coalesce(col("exact"), lit(0L))).as("overcount"))
      .orderBy("term")
  }

  private val countMinSql = {
    val qList = Seq("a", "customer", "hash", "join", "slow", "spark",
      "the", "vector").map("'" + _ + "'").mkString(", ")
    def h(saltExpr: String, termExpr: String) =
      s"CAST(concat('0x', substr(md5(concat($saltExpr, $termExpr)), 1, 15)) AS BIGINT) % 256"
    val cellRows = (0 until 4).map(j =>
      s"SELECT $j AS j, ${h(s"'cm$j:'", "term")} AS b FROM t")
      .mkString("\n      UNION ALL ")
    val qCellRows = (0 until 4).map(j =>
      s"SELECT term, $j AS j, ${h(s"'cm$j:'", "term")} AS b FROM q")
      .mkString("\n      UNION ALL ")
    s"""
    WITH t AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
      FROM documents),
    cells AS (
      $cellRows),
    sketch AS (SELECT j, b, CAST(count(*) AS BIGINT) AS c
               FROM cells GROUP BY 1, 2),
    q AS (SELECT unnest([$qList]) AS term),
    qcells AS (
      $qCellRows),
    est AS (
      SELECT term, min(coalesce(c, 0)) AS cm_est
      FROM qcells LEFT JOIN sketch USING (j, b)
      GROUP BY term),
    exact AS (
      SELECT term, CAST(count(*) AS BIGINT) AS exact
      FROM t WHERE term IN ($qList)
      GROUP BY term)
    SELECT term, cm_est, coalesce(exact, 0) AS exact,
           cm_est - coalesce(exact, 0) AS overcount
    FROM est LEFT JOIN exact USING (term)
    ORDER BY term"""
  }

  /** Good–Turing count-of-counts: N_r = how many vocabulary types occur
    * exactly r times, with the Good–Turing reestimate
    * r* = (r+1)·N_{r+1}/N_r — the frequency-spectrum table behind
    * absolute-discount smoothers (Kneser–Ney's D ≈ N_1/(N_1+2N_2) comes
    * straight from the first two rows) and the standard diagnostic for
    * how heavy a corpus's rare-type tail is. Reported for the 20
    * SMALLEST observed r (the head of the spectrum — data-adaptive, so
    * a corpus whose rarest type occurs 900 times still reports its head
    * rather than an empty fixed-range table). r* is null where N_{r+1}
    * is empty, mirroring the undefined estimate.
    *
    * Scale shape: one map-side-combinable vocab aggregate, then a
    * count-of-counts aggregate over the VOCAB-sized table and a self
    * join shifted by one — nothing downstream of the first aggregate
    * ever sees the token stream. */
  private def countOfCounts(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables(spark, dir, "documents")
      .selectExpr(s"explode($toks) AS token")
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val cc = vocab.groupBy(col("freq").as("r")).agg(count(lit(1)).as("n_r"))
    val next = cc.select((col("r") - 1).as("r"), col("n_r").as("n_next"))
    cc.join(next, Seq("r"), "left")
      .select(col("r"), col("n_r"),
        Num.r((col("r") + lit(1)) * col("n_next") / col("n_r"), 4)
          .as("r_star"))
      .orderBy("r").limit(20)
  }

  private val countOfCountsSql = """
    WITH t AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents),
    v AS (SELECT token, count(*) AS freq FROM t GROUP BY token),
    cc AS (SELECT freq AS r, count(*) AS n_r FROM v GROUP BY freq),
    nx AS (SELECT r - 1 AS r, n_r AS n_next FROM cc)
    SELECT cc.r, cc.n_r,
           round((cc.r + 1) * nx.n_next / cc.n_r + 1e-9, 4) AS r_star
    FROM cc LEFT JOIN nx USING (r)
    ORDER BY cc.r
    LIMIT 20"""

  /** Accent fold for [[textNormalize]]: 1→1 codepoint map (ß→s is the
    * one lossy choice, noted) — `translate` is codepoint-wise on both
    * engines, so the two literal strings must stay equal-length. */
  private val AccentFrom = "áàâãäåéèêëíìîïóòôõöúùûüýÿñçß"
  private val AccentTo = "aaaaaaeeeeiiiiooooouuuuyyncs"

  /** Text normalization — the cleanup pass CCNet/C4 run BEFORE dedup and
    * fingerprinting (lowercase, accent fold, whitespace collapse), so
    * "Café  con  LECHE" and "cafe con leche" dedup together. Emits the
    * normalized fingerprint next to a changed flag and the normalized
    * length; the corpus-level payoff (distinct norm fps ≤ distinct raw
    * fps) falls out of comparing with q_fingerprint. Pure row-local
    * codegen'd string expressions — no join, no state, trivially
    * servable on a stream. */
  /** Row-local normalization expression over any text column — public so
    * the streaming/spec side can apply the identical fold (the synthetic
    * lake is already lowercase single-spaced ASCII, so the real-table
    * oracle proves engine parity while the spec proves folding on
    * constructed variants). */
  def normalizeExpr(textCol: String): String =
    s"""regexp_replace(translate(lower(trim($textCol)),
          '$AccentFrom', '$AccentTo'), '\\\\s+', ' ')"""

  /** Text normalization: canonical cleanup expression per document
    * with change flags and length deltas. */
  private def textNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr("doc_id", "text", s"${normalizeExpr("text")} AS norm")
      .selectExpr("doc_id",
        "(norm != text) AS changed",
        "cast(length(norm) AS BIGINT) AS norm_len",
        "md5(norm) AS norm_fp")
      .orderBy("doc_id")

  private val textNormalizeSql = s"""
    WITH n AS (
      SELECT doc_id, text,
             regexp_replace(translate(lower(trim(text)),
               '$AccentFrom', '$AccentTo'), '\\s+', ' ', 'g') AS norm
      FROM documents)
    SELECT doc_id,
           (norm != text) AS changed,
           CAST(length(norm) AS BIGINT) AS norm_len,
           md5(norm) AS norm_fp
    FROM n
    ORDER BY doc_id"""

  /** Tokenizer fertility by language: BPE tokens emitted per whitespace
    * word, the standard tokenizer-evaluation metric (a fertility of 1.0
    * means every word is one token; high-fertility languages are the
    * ones a vocab under-serves — the number that drives multilingual
    * vocab-size and data-mixture decisions). Composes the trained BPE
    * tokenizer ([[bpeTokenize]] — distinct-word table, never the token
    * stream) with a per-lang rollup; the division is exact-integer-sum /
    * exact-integer-sum in identical association on both engines. */
  private def tokFertility(spark: SparkSession, dir: String): DataFrame = {
    val bpe = bpeTokenize(spark, dir).select("doc_id", "n_bpe_tokens")
    Tables(spark, dir, "documents")
      .selectExpr("doc_id", "lang", s"cast(size($toks) AS BIGINT) AS n_words")
      .join(bpe, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"),
        Num.r(sum("n_bpe_tokens").cast("double") /
          sum("n_words").cast("double"), 4).as("fertility"))
      .orderBy("lang")
  }

  private def tokFertilitySql = s"""
    WITH bt AS ($bpeTokenizeSql),
    w AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_words
      FROM documents)
    SELECT w.lang, count(*) AS n_docs,
           CAST(sum(w.n_words) AS BIGINT) AS n_words,
           CAST(sum(bt.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(bt.n_bpe_tokens) AS DOUBLE)
             / CAST(sum(w.n_words) AS DOUBLE) + 1e-9, 4) AS fertility
    FROM w JOIN bt USING (doc_id)
    GROUP BY w.lang
    ORDER BY w.lang"""

  /** Unigram language-model scoring: each document's mean token
    * log10-probability under the corpus's own top-K unigram LM — the
    * classic cheap perplexity proxy for quality filtering (a low score
    * means an unusual token mix: boilerplate, garbage, wrong language).
    * Tokens outside the top-K vocabulary get a 0.5-count floor (OOV
    * smoothing), which is also what makes the LM broadcastable at
    * 100 TB: the model is capped at K rows no matter the corpus.
    *
    * Plan: one explode → token-count aggregate (map-side partial), a
    * top-K rank over the ALREADY-AGGREGATED vocab (single-task sort of
    * the distinct-token set, not the token stream), model broadcast
    * back onto the token stream, then one per-doc aggregate. Float
    * determinism: each token's logprob is rounded to 6 decimals and
    * summed as scaled BIGINTs, so the doc score is independent of
    * summation order across partitionings and engines. */
  private val VocabK = 1000
  /** Unigram LM logprob: per-document mean token log-probability
    * against the corpus unigram frequency model. */
  private def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val toksDf = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"explode($toks) AS token")
    val freqs = toksDf.groupBy("token").agg(count(lit(1)).as("freq"))
    // top-K cut as orderBy+limit = TakeOrderedAndProject (each partition
    // keeps a K-row heap) — the row_number-window form relied on the
    // optimizer's InferWindowGroupLimit to avoid a single-task sort of
    // the vocab; this idiom cannot regress (PlanSpec pins the heap)
    val top = freqs.orderBy(col("freq").desc, col("token")).limit(VocabK)
    val total = toksDf.agg(count(lit(1)).as("total"))
    toksDf.join(broadcast(top), Seq("token"), "left")
      .crossJoin(broadcast(total))
      .withColumn("lp", Num.rExp(
        log10(coalesce(col("freq").cast("double"), lit(0.5)) / col("total")), 6))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        Num.r(sum(round(col("lp") * 1e6).cast("long")) / 1e6 / count(lit(1)), 4)
          .as("logprob"))
      .orderBy("doc_id")
  }

  /** Bigram language-model scoring with stupid backoff (Brants et al.,
    * EMNLP'07) — the perplexity-filter shape of CCNet/LLaMA data
    * cleaning, one order up from [[unigramLogprob]]: each document's
    * mean log10-probability of its adjacent token pairs under the
    * corpus's own top-K bigram model, backing off to α·P_unigram(cur)
    * (α = 0.4, the stupid-backoff constant) when the pair is outside
    * the model, with the same 0.5-count OOV floor as the unigram LM.
    *
    * Scale shape: bigram pairs are built ARRAY-LOCALLY per document
    * (arrays_zip of two slices — no position join, no second explode
    * pass); pair counting is a map-side-combinable aggregate; and the
    * model cap is a distributed top-K heap (orderBy + limit =
    * TakeOrderedAndProject, each partition keeps K candidates) — NOT
    * the global row_number sort the unigram model uses, because the
    * distinct-bigram domain grows ~quadratically faster than the vocab
    * and a single-task rank over it would be the 100 TB straggler. The
    * conditional probability c2/c1(prev) is materialized INTO the
    * K-row model before scoring, so the token stream takes exactly two
    * broadcast left joins and one per-doc aggregate. Determinism: both
    * model cuts are total-ordered (count desc, then lexicographic);
    * per-pair logprobs are rounded then summed as scaled BIGINTs, so
    * doc scores are partition- and engine-independent. */
  private val BigramK = 2000

  /** Shared LM building blocks: the per-doc bigram stream, unigram
    * freq/total, top-VocabK unigram table, raw bigram counts, and the
    * heap-cut BigramK conditional-probability model — one spelling, so
    * [[bigramLogprob]], [[trigramLogprob]] and [[ccnetFilter]] can never
    * drift on model semantics. */
  private case class LmParts(docs: DataFrame, bigrams: DataFrame,
      uniFreq: DataFrame, total: DataFrame, uniTop: DataFrame,
      bgCounts: DataFrame, bgModel: DataFrame)

  private def lmParts(spark: SparkSession, dir: String): LmParts = {
    val docs = Tables(spark, dir, "documents")
    val toksDf = docs.selectExpr("doc_id", "lang", s"$toks AS t")
    // `lang` rides along for consumers that slice the pair stream by
    // domain (DSIR's target-vs-raw censuses); LM consumers never select
    // it, so Catalyst prunes it out of their plans
    val bigrams = toksDf.filter(size(col("t")) >= 2)
      .selectExpr("doc_id", "lang",
        """explode(arrays_zip(slice(t, 1, size(t) - 1),
                              slice(t, 2, size(t) - 1))) AS z""")
      .selectExpr("doc_id", "lang", "z['0'] AS prev", "z['1'] AS cur")
    val tokStream = docs.selectExpr(s"explode($toks) AS token")
    val uniFreq = tokStream.groupBy("token").agg(count(lit(1)).as("freq"))
    val total = tokStream.agg(count(lit(1)).as("total"))
    // same top-K heap idiom as the bigram/trigram cuts below (and the
    // unigram scorer): TakeOrderedAndProject, never a global rank window
    val uniTop = uniFreq.orderBy(col("freq").desc, col("token")).limit(VocabK)
    val bgCounts = bigrams.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
    val bgModel = bgCounts
      .orderBy(col("c2").desc, col("prev"), col("cur")).limit(BigramK)
      .join(uniFreq.select(col("token").as("prev"), col("freq").as("c1")),
        "prev")
      .select(col("prev"), col("cur"),
        Num.rExp(log10(col("c2").cast("double") / col("c1")), 6).as("lp_bg"),
        // raw conditional (exact integer ratio — engine-identical without
        // rounding) for the interpolated mixture, which mixes
        // PROBABILITIES, not logs; consumers that only need lp_bg prune it
        (col("c2").cast("double") / col("c1")).as("p_bg"),
        // raw counts for smoothers that re-derive their own estimate
        // (Kneser–Ney discounts c2 before dividing); appended LAST so
        // positional consumers (ccnetServeModel's collect) are unmoved
        col("c2"), col("c1"))
    LmParts(docs, bigrams, uniFreq, total, uniTop, bgCounts, bgModel)
  }

  /** Bigram LM logprob: smoothed bigram model scored per document via
    * broadcast model joins. */
  private def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val p = lmParts(spark, dir)
    val perDoc = p.bigrams
      .join(broadcast(p.bgModel), Seq("prev", "cur"), "left")
      .join(broadcast(p.uniTop.select(col("token").as("cur"),
        col("freq").as("cfreq"))), Seq("cur"), "left")
      .crossJoin(broadcast(p.total))
      .withColumn("lp", coalesce(col("lp_bg"), Num.rExp(
        log10(lit(0.4)) +
          log10(coalesce(col("cfreq").cast("double"), lit(0.5)) / col("total")),
        6)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        Num.r(sum(round(col("lp") * 1e6).cast("long")) / 1e6 / count(lit(1)), 4)
          .as("logprob"))
    p.docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob"), lit(0.0)).as("logprob"))
      .orderBy("doc_id")
  }

  /** Jelinek–Mercer interpolated bigram LM — the MIXTURE counterpart of
    * [[bigramLogprob]]'s backoff: every pair scores
    * log10(λ·P_ml(cur|prev) + (1−λ)·P_uni(cur)), λ = 0.7, where P_ml
    * comes from the same heap-cut BigramK model (pairs outside the model
    * contribute only the unigram term — the out-of-model mass folds into
    * the mixture's unigram component, exactly what interpolation is for)
    * and P_uni carries the 0.5-count OOV floor. Unlike backoff, EVERY
    * pair mixes both distributions, so rare-context estimates are
    * smoothed instead of cliff-edged — the classic alternative smoother
    * (Jelinek & Mercer 1980; Chen & Goodman 1999 comparison).
    *
    * Scale shape: identical to the pinned bigram plan — same broadcast
    * model joins, same per-doc aggregate; the mixture is one extra
    * map-side arithmetic expression. Determinism: the mixed probability
    * is built from exact integer ratios with literal λ on both engines;
    * only the final log10 is epsilon-nudge-rounded. */
  private def jmInterpLogprob(spark: SparkSession, dir: String): DataFrame = {
    val p = lmParts(spark, dir)
    val perDoc = p.bigrams
      .join(broadcast(p.bgModel), Seq("prev", "cur"), "left")
      .join(broadcast(p.uniTop.select(col("token").as("cur"),
        col("freq").as("cfreq"))), Seq("cur"), "left")
      .crossJoin(broadcast(p.total))
      .withColumn("lp", Num.rExp(log10(
        lit(0.7) * coalesce(col("p_bg"), lit(0.0)) +
          lit(0.3) * (coalesce(col("cfreq").cast("double"), lit(0.5))
            / col("total"))), 6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        Num.r(sum(round(col("lp") * 1e6).cast("long")) / 1e6 / count(lit(1)), 4)
          .as("logprob"))
    p.docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob"), lit(0.0)).as("logprob"))
      .orderBy("doc_id")
  }

  /** Kneser–Ney smoothed bigram LM (Kneser & Ney ICASSP'95; interpolated
    * form of Chen & Goodman '99) — the third smoother of the family next
    * to stupid backoff ([[bigramLogprob]]) and Jelinek–Mercer
    * ([[jmInterpLogprob]]): absolute discounting D = 0.75 on the in-model
    * bigram estimate, with the recovered mass routed to the CONTINUATION
    * distribution P_cont(cur) = N1+(·,cur)/|bigram types| — "how many
    * distinct contexts does this word follow" rather than raw frequency,
    * the insight that makes KN the strongest classical n-gram smoother
    * ("San Francisco" makes `francisco` frequent but not promiscuous).
    *
    *   in-model pair:  (c2−D)/c1 + λ(prev)·P_cont(cur)
    *   seen prev only: λ(prev)·P_cont(cur),  λ(prev) = D·N1+(prev,·)/c1
    *   unseen prev:    P_cont(cur)            (0.5-type floor when cur
    *                                           has no continuation entry)
    *
    * Model caps (the broadcastability contract shared by the whole LM
    * family): the discounted bigram term lives on the heap-cut BigramK
    * model; the λ and continuation tables are keyed by the top-VocabK
    * vocabulary (their N1+ counts are exact aggregates over ALL bigram
    * types — one groupBy over bgCounts each — only the KEY set is
    * capped); |bigram types| is one 1-row aggregate. Out-of-cap pairs
    * fold into the continuation term, the same mass-routing the cap
    * applies to backoff/JM. Scale shape: identical to the pinned bigram
    * plan — three broadcast left joins + one 1-row scalar, then one
    * per-doc aggregate; nothing driver-side, nothing corpus-sized in the
    * model. Determinism: every probability is built from exact integer
    * counts with literal D in identical association order on both
    * engines; only the final log10 is epsilon-nudge-rounded, then summed
    * as scaled BIGINTs. */
  private val KnDiscount = 0.75
  /** Kneser-Ney LM: interpolated discounted bigram probabilities with
    * continuation counts, scored per document. */
  private def knLogprob(spark: SparkSession, dir: String): DataFrame = {
    val p = lmParts(spark, dir)
    val nTypes = p.bgCounts.agg(count(lit(1)).as("n_types"))
    val lam = p.bgCounts
      .join(p.uniTop.select(col("token").as("prev"), col("freq").as("c1_lam")),
        "prev")
      .groupBy("prev", "c1_lam").agg(count(lit(1)).as("n1p_prev"))
    val cont = p.bgCounts
      .join(p.uniTop.select(col("token").as("cur")), "cur")
      .groupBy("cur").agg(count(lit(1)).as("n1p_cur"))
    val perDoc = p.bigrams
      .join(broadcast(p.bgModel.select("prev", "cur", "c2", "c1")),
        Seq("prev", "cur"), "left")
      .join(broadcast(lam), Seq("prev"), "left")
      .join(broadcast(cont), Seq("cur"), "left")
      .crossJoin(broadcast(nTypes))
      .withColumn("pcont",
        coalesce(col("n1p_cur").cast("double"), lit(0.5)) / col("n_types"))
      .withColumn("lp", Num.rExp(log10(
        when(col("c2").isNotNull,
          (col("c2") - lit(KnDiscount)) / col("c1") +
            coalesce(lit(KnDiscount) * col("n1p_prev") / col("c1_lam"),
              lit(KnDiscount) / col("c1")) * col("pcont"))
          .when(col("n1p_prev").isNotNull,
            lit(KnDiscount) * col("n1p_prev") / col("c1_lam") * col("pcont"))
          .otherwise(col("pcont"))), 6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        Num.r(sum(round(col("lp") * 1e6).cast("long")) / 1e6 / count(lit(1)), 4)
          .as("logprob"))
    p.docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob"), lit(0.0)).as("logprob"))
      .orderBy("doc_id")
  }

  /** Trigram language model with two-level stupid backoff (Brants et al.,
    * EMNLP'07) — the next LM order up from [[bigramLogprob]]: each
    * document's mean log10-probability of its adjacent token TRIPLES,
    * P(w3 | w1 w2) = c3/c2(w1 w2) from the top-TrigramK trigram model,
    * backing off to α·P_bigram(w3 | w2) (the shared BigramK model), then
    * to α²·P_unigram(w3) with the 0.5-count OOV floor, α = 0.4 per level.
    *
    * Scale shape: identical to the pinned bigram shape, one order up —
    * triples are built ARRAY-LOCALLY (arrays_zip of three slices, no
    * position join); the trigram model cut is a distributed top-K heap
    * (orderBy + limit = TakeOrderedAndProject — the distinct-trigram
    * domain grows even faster than bigrams, so a global rank sort here
    * would be the 100 TB straggler); the c3/c2 conditional is
    * materialized INTO the K-row model; scoring is three broadcast left
    * joins + one per-doc aggregate. Determinism: total-ordered model
    * cuts, per-triple logprobs rounded then summed as scaled BIGINTs. */
  private val TrigramK = 3000
  /** Trigram LM logprob: arrays_zip-windowed trigrams scored with
    * backoff to the lower-order models. */
  private def trigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val p = lmParts(spark, dir)
    val trigrams = p.docs.selectExpr("doc_id", s"$toks AS t")
      .filter(size(col("t")) >= 3)
      .selectExpr("doc_id",
        """explode(arrays_zip(slice(t, 1, size(t) - 2),
                              slice(t, 2, size(t) - 2),
                              slice(t, 3, size(t) - 2))) AS z""")
      .selectExpr("doc_id", "z['0'] AS w1", "z['1'] AS w2", "z['2'] AS w3")
    val tgModel = trigrams.groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c3"))
      .orderBy(col("c3").desc, col("w1"), col("w2"), col("w3"))
      .limit(TrigramK)
      .join(p.bgCounts.select(col("prev").as("w1"), col("cur").as("w2"),
        col("c2")), Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("w3"),
        Num.rExp(log10(col("c3").cast("double") / col("c2")), 6).as("lp_tg"))
    val perDoc = trigrams
      .join(broadcast(tgModel), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(p.bgModel.select(col("prev").as("w2"),
        col("cur").as("w3"), col("lp_bg"))), Seq("w2", "w3"), "left")
      .join(broadcast(p.uniTop.select(col("token").as("w3"),
        col("freq").as("cfreq"))), Seq("w3"), "left")
      .crossJoin(broadcast(p.total))
      .withColumn("lp", coalesce(
        col("lp_tg"),
        Num.rExp(log10(lit(0.4)) + col("lp_bg"), 6),
        Num.rExp(log10(lit(0.4)) + log10(lit(0.4)) +
          log10(coalesce(col("cfreq").cast("double"), lit(0.5)) / col("total")),
          6)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        Num.r(sum(round(col("lp") * 1e6).cast("long")) / 1e6 / count(lit(1)), 4)
          .as("logprob"))
    p.docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("logprob"), lit(0.0)).as("logprob"))
      .orderBy("doc_id")
  }

  /** Shared DuckDB CTE chain ending in `lpd` = (doc_id, n_bigrams,
    * logprob): the stupid-backoff bigram-LM per-doc score, used verbatim
    * by the q_bigram_logprob oracle and composed by q_ccnet_filter —
    * one spelling, so the two oracles can never drift apart. */
  private def bigramLpdCtes: String = s"""t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents),
      bg AS (
        -- i rides along for consumers that need a positional tiebreak
        -- (the q_minkprob within-doc rank); LM consumers ignore it.
        -- NB: no apostrophes in these comments — the dialect rewriter
        -- tracks quote state across the whole SQL string
        SELECT doc_id, i, t[i] AS prev, t[i+1] AS cur
        FROM t, unnest(range(1, len(t))) AS u(i)
        WHERE len(t) >= 2),
      uni AS (SELECT token, count(*) AS freq
              FROM (SELECT unnest(t) AS token FROM t) GROUP BY token),
      tot AS (SELECT count(*) AS total
              FROM (SELECT unnest(t) AS token FROM t)),
      topv AS (SELECT token, freq FROM (
                 SELECT token, freq,
                        row_number() OVER (ORDER BY freq DESC, token) AS rnk
                 FROM uni) WHERE rnk <= $VocabK),
      bgtop AS (SELECT prev, cur, c2 FROM (
                  SELECT prev, cur, count(*) AS c2 FROM bg GROUP BY prev, cur)
                ORDER BY c2 DESC, prev, cur LIMIT $BigramK),
      bgm AS (SELECT b.prev, b.cur,
                     round(log10(CAST(b.c2 AS DOUBLE) / u.freq) + 1e-8, 6) AS lp_bg
              FROM bgtop b JOIN uni u ON u.token = b.prev),
      lp AS (SELECT g.doc_id, g.i,
                    coalesce(m.lp_bg,
                      round(log10(0.4) +
                        log10(coalesce(CAST(v.freq AS DOUBLE), 0.5) / total)
                        + 1e-8, 6)) AS lp
             FROM bg g LEFT JOIN bgm m ON m.prev = g.prev AND m.cur = g.cur
               LEFT JOIN topv v ON v.token = g.cur
               CROSS JOIN tot),
      per AS (SELECT doc_id, count(*) AS n_bigrams,
                     round(CAST(sum(CAST(round(lp * 1000000) AS BIGINT)) AS DOUBLE)
                       / 1000000.0 / count(*) + 1e-9, 4) AS logprob
              FROM lp GROUP BY doc_id),
      lpd AS (SELECT d.doc_id,
                     CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                     coalesce(p.logprob, 0.0) AS logprob
              FROM documents d LEFT JOIN per p USING (doc_id))"""

  /** Min-K% prob membership signal (Shi et al. ICLR'24, "Detecting
    * Pretraining Data from Large Language Models"): per document, the
    * mean of its lowest-20% token log-probabilities under the corpus
    * bigram LM. Member-like text has no pathologically-unlikely spans,
    * so a HIGH min-k% score flags probable training-set membership; a
    * low score marks outlier spans — the contamination-audit complement
    * of [[decontaminate]]'s exact shingle overlap. The tail selection
    * ranks each doc's ROUNDED per-bigram scores with the bigram position
    * as tiebreak (both engines rank identical keys); k = ⌈n/5⌉ in exact
    * integer math; the tail mean uses the quantized-BIGINT summation of
    * the LM family.
    * Scale shape: reuses [[bigramLogprob]]'s pinned heap-cut model +
    * broadcast scoring joins; the only new work is one per-doc window
    * over the already-scored pair stream (the same user-keyed window
    * pattern every per-doc ranking uses). */
  private def minkProb(spark: SparkSession, dir: String): DataFrame = {
    val p = lmParts(spark, dir)
    // per-bigram scored stream WITH position (the tiebreak)
    val scored = p.docs.selectExpr("doc_id", s"$toks AS t")
      .filter(size(col("t")) >= 2)
      .selectExpr("doc_id",
        """posexplode(arrays_zip(slice(t, 1, size(t) - 1),
                                 slice(t, 2, size(t) - 1))) AS (i, z)""")
      .selectExpr("doc_id", "i", "z['0'] AS prev", "z['1'] AS cur")
      .join(broadcast(p.bgModel), Seq("prev", "cur"), "left")
      .join(broadcast(p.uniTop.select(col("token").as("cur"),
        col("freq").as("cfreq"))), Seq("cur"), "left")
      .crossJoin(broadcast(p.total))
      .withColumn("lp", coalesce(col("lp_bg"), Num.rExp(
        log10(lit(0.4)) +
          log10(coalesce(col("cfreq").cast("double"), lit(0.5)) / col("total")),
        6)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("lp").asc, col("i").asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val sel = scored
      .select(col("doc_id"), col("lp"),
        row_number().over(w).as("rk"),
        count(lit(1)).over(wAll).as("n"))
      .filter(col("rk") <= greatest(lit(1L), expr("(n + 4) DIV 5")))
      .groupBy("doc_id")
      .agg(max(col("n")).as("n_bigrams"),
        count(lit(1)).as("k_used"),
        Num.r(sum(round(col("lp") * 1e6).cast("long")) / 1e6 / count(lit(1)), 4)
          .as("mink_score"))
    p.docs.select("doc_id").join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("k_used"), lit(0L)).as("k_used"),
        coalesce(col("mink_score"), lit(0.0)).as("mink_score"))
      .orderBy("doc_id")
  }

  /** CCNet-style LM quality filter (Wenzek et al. LREC'20): bucket every
    * document into head/middle/tail thirds of the corpus bigram-LM
    * score distribution, cross with the heuristic quality score, and
    * keep head∪middle docs that also clear the quality bar — the
    * standard perplexity-filter step of an LLM pretraining pipeline.
    *
    * Scale shape: the two tercile cut points are ONE exact `percentile`
    * aggregate over per-doc scalars (the rounded 4-dp logprob domain is
    * value-bounded, so the exact aggregator's state stays small at any
    * corpus size; CCNet itself fits its cuts on a sample) broadcast back
    * as a 1-row scalar — every per-doc verdict is then map-side. The LM
    * scoring underneath reuses [[bigramLogprob]]'s pinned heap-cut model
    * + broadcast-join shape unchanged. */
  private def ccnetFilter(spark: SparkSession, dir: String): DataFrame = {
    val lp = bigramLogprob(spark, dir).select("doc_id", "logprob")
    val q = textQuality(spark, dir).select("doc_id", "quality_score")
    val cuts = lp.agg(
      Num.r(expr("percentile(logprob, 2.0D / 3.0D)"), 6).as("c_head"),
      Num.r(expr("percentile(logprob, 1.0D / 3.0D)"), 6).as("c_tail"))
    lp.crossJoin(broadcast(cuts))
      .join(q, "doc_id")
      .select(col("doc_id"), col("logprob"),
        when(col("logprob") >= col("c_head"), lit("head"))
          .when(col("logprob") >= col("c_tail"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"),
        col("quality_score"),
        (col("logprob") >= col("c_tail") && col("quality_score") >= 0.5)
          .as("keep"))
      .orderBy("doc_id")
  }

  /** Row-local spelling of [[textQuality]]'s quality_score — the same
    * rounded ratio thresholds as ONE expression over `textCol`, usable on
    * a stream (no join, no state). Kept textually parallel to the batch
    * column build so the two cannot drift. */
  def qualityScoreExpr(textCol: String): String = {
    val t = s"split(trim($textCol), '\\\\s+')"
    s"""round((CASE WHEN size($t) >= 20 THEN 0.5D ELSE 0.0D END) +
         (CASE WHEN round(size(filter($t, x -> ${sparkSetContains("x", stopwords)}))
                 / cast(size($t) AS DOUBLE) + 1e-9, 4) > 0.01
               THEN 0.3D ELSE 0.0D END) +
         (CASE WHEN round((length($textCol) -
                   length(regexp_replace($textCol, '[.,!?;:]', '')))
                 / cast(length($textCol) AS DOUBLE) + 1e-9, 4) < 0.1
               THEN 0.2D ELSE 0.0D END)
         + 1e-9, 2)"""
  }

  /** Serving-shape CCNet gate: train on the batch corpus, then FREEZE the
    * bigram conditional model (≤ BigramK rows), the top-VocabK unigram
    * floor table, the corpus total and the two tercile cut points, and
    * return them as (logprob-expression, c_head, c_tail). The expression
    * scores `textCol` row-locally — pair logprobs via map-literal
    * lookups with the same two-level backoff and scaled-BIGINT summation
    * as [[bigramLogprob]] — so each arriving document is gated with no
    * join and no streaming state (the IVF/BPE serving shape;
    * StreamingSpec proves stream ≡ batch verdicts). The map literal is
    * bounded by the model caps, not the corpus, which is what makes the
    * frozen gate shippable: 100 TB of training text and 1 MB produce the
    * same ≤(BigramK+VocabK)-entry artifact. */
  def ccnetServeModel(spark: SparkSession, dir: String,
      textCol: String): (String, Double, Double) = {
    val p = lmParts(spark, dir)
    def esc(s: String) = "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    val bg = p.bgModel.collect().map(r =>
      s"${esc(r.getString(0) + " " + r.getString(1))}, ${r.getDouble(2)}D")
    val uni = p.uniTop.collect().map(r =>
      s"${esc(r.getString(0))}, ${r.getLong(1).toDouble}D")
    val total = p.total.collect()(0).getLong(0)
    val cuts = bigramLogprob(spark, dir)
      .agg(Num.r(expr("percentile(logprob, 2.0D / 3.0D)"), 6).as("c_head"),
        Num.r(expr("percentile(logprob, 1.0D / 3.0D)"), 6).as("c_tail"))
      .collect()(0)
    val bgMap = if (bg.isEmpty) "map()" else bg.mkString("map(", ", ", ")")
    val uniMap = if (uni.isEmpty) "map()" else uni.mkString("map(", ", ", ")")
    val t = s"split(trim($textCol), '\\\\s+')"
    // tokens are whitespace-split, so ' ' is an unambiguous pair-key glue
    val lpExpr = s"""IF(size($t) >= 2,
         round(cast(aggregate(
             transform(sequence(2, size($t)), i ->
               coalesce(
                 element_at($bgMap,
                   concat(element_at($t, i - 1), ' ', element_at($t, i))),
                 round(log10(0.4D) +
                   log10(coalesce(element_at($uniMap, element_at($t, i)),
                                  0.5D)
                         / cast(${total}L AS DOUBLE)) + 1e-8, 6))),
             0L, (a, x) -> a + cast(round(x * 1000000) AS BIGINT)) AS DOUBLE)
           / 1000000.0 / (size($t) - 1) + 1e-9, 4),
         0.0D)"""
    (lpExpr, cuts.getDouble(0), cuts.getDouble(1))
  }

  /** Edit-distance similarity over the distinct source labels — the
    * small-domain string-similarity shape (typo clustering). */
  private def editDistance(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables(spark, dir, "documents").select("source").distinct()
    s.as("a").join(s.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        levenshtein(col("a.source"), col("b.source")).cast("long").as("dist"))
      .filter(col("dist") <= 2)
      .orderBy("src_a", "src_b")
  }

  /** Repetition filter (Gopher-style): fraction of duplicate word
    * 3-grams within the doc — high values flag boilerplate/spam. */
  private def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"$toks AS t")
      .selectExpr("doc_id",
        """CASE WHEN size(t) >= 3
             THEN transform(sequence(0, size(t) - 3),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
             ELSE array() END AS grams""")
      .selectExpr("doc_id",
        "cast(size(grams) AS BIGINT) AS n_grams",
        "cast(size(array_distinct(grams)) AS BIGINT) AS n_distinct",
        """round(CASE WHEN size(grams) > 0
             THEN 1.0 - size(array_distinct(grams)) / cast(size(grams) AS DOUBLE)
             ELSE 0.0 END + 1e-9, 4) AS rep_ratio""")
      .orderBy("doc_id")

  /** The Gopher rule suite (Rae et al. 2021, Appendix A1.1) as ONE pass
    * over `documents`: every document gets the standard per-rule
    * pass/fail vector — word count in [50, 100k], mean word length in
    * [3, 10], symbol-to-word ratio (# / ellipsis) ≤ 0.1, ≤ 90% of lines
    * bullet-led, ≤ 30% of lines ellipsis-ended, ≥ 80% of words with an
    * alphabetic character, ≥ 2 of the 8 Gopher stop words present — plus
    * the conjunction, the canonical pretraining-filter report that
    * q_repetition / q_content_flags / q_text_quality only cover
    * piecemeal. Engine-portability notes: "word contains a letter" is
    * spelled lower(w) <> upper(w) (case-variance — avoids regex-in-
    * lambda dialect gaps); stop-word PRESENCE (distinct, not
    * occurrences) is a nested filter over the literal 8-word list; all
    * ratios are epsilon-rounded BEFORE thresholding so both engines
    * compare identical values. Scale shape: one narrow projection, no
    * joins, no shuffles except the output sort. */
  private val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  /** Gopher quality rules: the published length/stopword/symbol-ratio
    * document filters, one column per rule plus the verdict. */
  private def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val stops = gopherStops.map(s => s"'$s'").mkString(", ")
    Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"$toks AS t", "split(text, '\n') AS lines",
        "text")
      .selectExpr("doc_id",
        "size(t) AS n_words",
        "length(regexp_replace(text, '\\\\s', '')) AS word_chars",
        """(length(text) - length(replace(text, '#', ''))) +
           size(regexp_extract_all(text, '\\.\\.\\.', 0)) AS n_symbols""",
        "size(lines) AS n_lines",
        "size(filter(lines, l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS n_bullet",
        "size(filter(lines, l -> right(l, 3) = '...' OR right(l, 1) = '…')) AS n_ellipsis",
        "size(filter(t, w -> lower(w) <> upper(w))) AS n_alpha",
        s"size(filter(array($stops), s -> size(filter(t, w -> w = s)) > 0)) AS n_stop")
      .selectExpr("doc_id",
        "cast(n_words AS BIGINT) AS n_words",
        """round(CASE WHEN n_words > 0
             THEN word_chars / cast(n_words AS DOUBLE) ELSE 0.0 END
           + 1e-9, 4) AS mean_word_len""",
        """round(CASE WHEN n_words > 0
             THEN n_symbols / cast(n_words AS DOUBLE) ELSE 0.0 END
           + 1e-9, 4) AS symbol_ratio""",
        """round(CASE WHEN n_lines > 0
             THEN n_bullet / cast(n_lines AS DOUBLE) ELSE 0.0 END
           + 1e-9, 4) AS bullet_ratio""",
        """round(CASE WHEN n_lines > 0
             THEN n_ellipsis / cast(n_lines AS DOUBLE) ELSE 0.0 END
           + 1e-9, 4) AS ellipsis_ratio""",
        """round(CASE WHEN n_words > 0
             THEN n_alpha / cast(n_words AS DOUBLE) ELSE 0.0 END
           + 1e-9, 4) AS alpha_ratio""",
        "cast(n_stop AS BIGINT) AS n_stop")
      .selectExpr("*",
        "n_words BETWEEN 50 AND 100000 AS r_word_count",
        "mean_word_len BETWEEN 3 AND 10 AS r_word_len",
        "symbol_ratio <= 0.1 AS r_symbol",
        "bullet_ratio <= 0.9 AS r_bullet",
        "ellipsis_ratio <= 0.3 AS r_ellipsis",
        "alpha_ratio >= 0.8 AS r_alpha",
        "n_stop >= 2 AS r_stopwords")
      .selectExpr("*",
        """r_word_count AND r_word_len AND r_symbol AND r_bullet AND
           r_ellipsis AND r_alpha AND r_stopwords AS pass_all""")
      .orderBy("doc_id")
  }

  private val gopherRulesSql = s"""
    WITH gbase AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t,
             string_split(text, chr(10)) AS lines, text
      FROM documents),
    gm AS (
      SELECT doc_id,
        len(t) AS n_words,
        length(regexp_replace(text, '\\s', '', 'g')) AS word_chars,
        (length(text) - length(replace(text, '#', ''))) +
          len(regexp_extract_all(text, '\\.\\.\\.')) AS n_symbols,
        len(lines) AS n_lines,
        len(list_filter(lines, l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS n_bullet,
        len(list_filter(lines, l -> right(l, 3) = '...' OR right(l, 1) = '…')) AS n_ellipsis,
        len(list_filter(t, w -> lower(w) <> upper(w))) AS n_alpha,
        len(list_filter([${gopherStops.map(s => s"'$s'").mkString(", ")}],
          s -> len(list_filter(t, w -> w = s)) > 0)) AS n_stop
      FROM gbase),
    gr AS (
      SELECT doc_id,
        CAST(n_words AS BIGINT) AS n_words,
        round(CASE WHEN n_words > 0
          THEN word_chars / CAST(n_words AS DOUBLE) ELSE 0.0 END
          + 1e-9, 4) AS mean_word_len,
        round(CASE WHEN n_words > 0
          THEN n_symbols / CAST(n_words AS DOUBLE) ELSE 0.0 END
          + 1e-9, 4) AS symbol_ratio,
        round(CASE WHEN n_lines > 0
          THEN n_bullet / CAST(n_lines AS DOUBLE) ELSE 0.0 END
          + 1e-9, 4) AS bullet_ratio,
        round(CASE WHEN n_lines > 0
          THEN n_ellipsis / CAST(n_lines AS DOUBLE) ELSE 0.0 END
          + 1e-9, 4) AS ellipsis_ratio,
        round(CASE WHEN n_words > 0
          THEN n_alpha / CAST(n_words AS DOUBLE) ELSE 0.0 END
          + 1e-9, 4) AS alpha_ratio,
        CAST(n_stop AS BIGINT) AS n_stop
      FROM gm)
    SELECT *,
      (n_words BETWEEN 50 AND 100000) AS r_word_count,
      (mean_word_len BETWEEN 3 AND 10) AS r_word_len,
      (symbol_ratio <= 0.1) AS r_symbol,
      (bullet_ratio <= 0.9) AS r_bullet,
      (ellipsis_ratio <= 0.3) AS r_ellipsis,
      (alpha_ratio >= 0.8) AS r_alpha,
      (n_stop >= 2) AS r_stopwords,
      ((n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3 AND 10)
        AND (symbol_ratio <= 0.1) AND (bullet_ratio <= 0.9)
        AND (ellipsis_ratio <= 0.3) AND (alpha_ratio >= 0.8)
        AND (n_stop >= 2)) AS pass_all
    FROM gr
    ORDER BY doc_id"""

  /** PII detection + redaction — the privacy-scrub stage a pretraining
    * pipeline runs before anything ships: emails, dashed/dotted phone
    * numbers and IPv4 literals are counted on the RAW text, then
    * replaced by typed sentinels (<EMAIL>/<PHONE>/<IP>) in one row-local
    * codegen'd regexp chain — no UDF, no join, no shuffle beyond the
    * output sort. Patterns restrict to the RE2 ∩ Java regex subset
    * (character classes, bounded repetition, \b) so both engines match
    * identically; the redacted text itself is certified via its md5
    * fingerprint rather than shipping megabytes of clean text through
    * the gate. Synthetic-lake note: testdata carries no PII, so
    * real-table rows report zeros — semantics are proven on planted PII
    * in PropertySpec. */
  private[graft] val PiiEmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PiiPhoneRe =
    "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  private[graft] val PiiIpRe =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private def sqlReLit(re: String): String =
    "'" + re.replace("\\", "\\\\") + "'"

  private[graft] def piiRedactOf(docs: DataFrame): DataFrame = {
    val (e, p, ip) =
      (sqlReLit(PiiEmailRe), sqlReLit(PiiPhoneRe), sqlReLit(PiiIpRe))
    // redaction order: emails first (their dotted domains must not be
    // eaten by the IP pattern), phones second, IPs last
    val clean = s"regexp_replace(regexp_replace(regexp_replace(text, " +
      s"$e, '<EMAIL>'), $p, '<PHONE>'), $ip, '<IP>')"
    docs.selectExpr("doc_id",
        "cast(length(text) AS BIGINT) AS raw_len",
        s"cast(size(regexp_extract_all(text, $e, 0)) AS BIGINT) AS n_emails",
        s"cast(size(regexp_extract_all(text, $p, 0)) AS BIGINT) AS n_phones",
        s"cast(size(regexp_extract_all(text, $ip, 0)) AS BIGINT) AS n_ipv4",
        s"$clean AS clean")
      .selectExpr("doc_id", "raw_len", "n_emails", "n_phones", "n_ipv4",
        "cast(length(clean) AS BIGINT) AS clean_len",
        "md5(clean) AS clean_fp")
      .orderBy("doc_id")
  }

  /** PII redaction (documents): email/phone/IP patterns replaced by
    * typed placeholders in one row-local expression. */
  private def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedactOf(Tables(spark, dir, "documents"))

  private val piiRedactSql = {
    val clean = s"regexp_replace(regexp_replace(regexp_replace(text, " +
      s"'$PiiEmailRe', '<EMAIL>', 'g'), '$PiiPhoneRe', '<PHONE>', 'g'), " +
      s"'$PiiIpRe', '<IP>', 'g')"
    s"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS raw_len,
           CAST(len(regexp_extract_all(text, '$PiiEmailRe')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '$PiiPhoneRe')) AS BIGINT)
             AS n_phones,
           CAST(len(regexp_extract_all(text, '$PiiIpRe')) AS BIGINT)
             AS n_ipv4,
           CAST(length($clean) AS BIGINT) AS clean_len,
           md5($clean) AS clean_fp
    FROM documents
    ORDER BY doc_id"""
  }

  /** Content-pattern flags (C4-style cleanup signals): URL/email
    * mentions and the digit character ratio. */
  private def contentFlags(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr(
        "doc_id",
        "cast(size(regexp_extract_all(text, 'https?://[^ ]+', 0)) AS BIGINT) AS n_urls",
        "cast(size(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+', 0)) AS BIGINT) AS n_emails",
        """round(CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text, '[0-9]', '')))
               / cast(length(text) AS DOUBLE)
             ELSE 0.0 END + 1e-9, 4) AS digit_ratio""")
      .orderBy("doc_id")

  private val WIN_K = 8 // char k-gram length
  private val WIN_W = 4 // winnowing window (hashes per window)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken — the MOSS
    * algorithm): hash every char k-gram of the normalized text, keep the
    * minimum hash of each sliding window of W hashes, dedupe. Guarantees
    * any match of length ≥ k+W−1 shares a fingerprint, with ~2/(W+1)
    * selection density. Output: per-doc fingerprint count + an
    * order-independent digest of the fingerprint set. */
  private def winnow(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr("doc_id",
        "regexp_replace(lower(text), '[^a-z0-9]', '') AS norm")
      .selectExpr("doc_id",
        s"""CASE WHEN length(norm) >= $WIN_K
             THEN transform(sequence(0, length(norm) - $WIN_K),
               i -> md5_60(substring(norm, i + 1, $WIN_K)))
             ELSE array() END AS hashes""")
      .selectExpr("doc_id",
        s"""CASE WHEN size(hashes) = 0 THEN array()
             WHEN size(hashes) <= $WIN_W THEN array(array_min(hashes))
             ELSE array_distinct(transform(sequence(0, size(hashes) - $WIN_W),
               j -> array_min(slice(hashes, j + 1, $WIN_W))))
           END AS fps""")
      .selectExpr("doc_id",
        "cast(size(fps) AS BIGINT) AS n_fps",
        """md5(concat_ws(',', transform(array_sort(fps),
             x -> cast(x AS STRING)))) AS fp_digest""")
      .orderBy("doc_id")

  private val winnowSql = s"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS norm
      FROM documents),
    hashed AS (
      SELECT doc_id,
             CASE WHEN length(norm) >= $WIN_K
               THEN list_transform(range(0, length(norm) - $WIN_K + 1),
                 i -> CAST(concat('0x', substr(md5(substr(norm, i + 1, $WIN_K)), 1, 15)) AS BIGINT))
               ELSE [] END AS hashes
      FROM norm),
    winnowed AS (
      SELECT doc_id,
             CASE WHEN len(hashes) = 0 THEN []
               WHEN len(hashes) <= $WIN_W THEN [list_min(hashes)]
               ELSE list_distinct(list_transform(range(0, len(hashes) - $WIN_W + 1),
                 j -> list_min(list_slice(hashes, j + 1, j + $WIN_W))))
             END AS fps
      FROM hashed)
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fps,
           md5(array_to_string(list_sort(fps), ',')) AS fp_digest
    FROM winnowed
    ORDER BY doc_id"""

  /** Exact dedup: hash-groupBy on the content fingerprint, canonical row =
    * min doc_id, with the duplicate count per content group. At scale this
    * is one shuffle on a 60-bit key with map-side partial aggregation. */
  private def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("fp", expr("md5(lower(trim(text)))"))
      .groupBy("fp")
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .select("canonical_id", "n_copies", "fp")
      .orderBy("canonical_id")

  /** Dataset profiling: per-column null counts, ranges, exact distinct
    * cardinality — the data-quality sweep a pipeline runs before
    * training. One pass over the table, long-form output. */
  private def profile(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_text"),
        countDistinct(col("lang")).as("ndv_lang"),
        countDistinct(col("source")).as("ndv_source"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        Num.r(avg("n_chars"), 4).as("avg_chars"))
  }

  /** Flagship LLM-training-data pipeline, end-to-end in ONE plan:
    * quality scoring → language filter (keep 'en') → exact dedup
    * (canonical = min doc_id per content fingerprint) → deterministic
    * 80/10/10 split assignment → per-(split, source) corpus accounting.
    * Every stage is the engine's own operator re-used verbatim, so the
    * oracle gate proves the COMPOSITION, not just the pieces.
    *
    * Scale shape: one narrow pass computes tokens/quality/lang/fp per doc
    * (all codegen'd built-ins, no UDFs), one shuffle on fp for the dedup
    * (`min_by` groupBy — map-side partial, no window, no join-back), one
    * shuffle for the final small aggregate. A 100 TB corpus flows through
    * exactly two exchanges. */
  private def pipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val scoreCols = langMarkers.map { case (l, ms) =>
      s"size(filter($toks, t -> ${sparkSetContains("t", ms)})) AS s_$l"
    }
    val base = Tables(spark, dir, "documents").selectExpr(Seq(
      "doc_id", "source",
      s"cast(size($toks) AS BIGINT) AS n_tokens",
      s"""round(size(filter($toks, t -> ${sparkSetContains("t", stopwords)}))
          / cast(size($toks) AS DOUBLE) + 1e-9, 4) AS stopword_ratio""",
      """round((length(text) - length(regexp_replace(text, '[.,!?;:]', '')))
          / cast(length(text) AS DOUBLE) + 1e-9, 4) AS punct_ratio""",
      "md5(lower(trim(text))) AS fp") ++ scoreCols: _*)
    val best = langMarkers.map(_._1)
      .foldLeft(lit(0))((acc, l) => greatest(acc, col(s"s_$l")))
    val pred = langMarkers.reverse.foldLeft(lit("und")) {
      case (acc, (l, _)) =>
        when(col(s"s_$l") === col("best") && col("best") > 0, lit(l))
          .otherwise(acc)
    }
    val scored = base.withColumn("best", best)
      .withColumn("pred_lang", pred)
      .withColumn("quality_score",
        Num.r(when(col("n_tokens") >= 20, lit(0.5)).otherwise(lit(0.0)) +
          when(col("stopword_ratio") > 0.01, lit(0.3)).otherwise(lit(0.0)) +
          when(col("punct_ratio") < 0.1, lit(0.2)).otherwise(lit(0.0)), 2))
    val filtered = scored
      .filter(col("quality_score") >= 0.8 && col("pred_lang") === "en")
    val kept = filtered.groupBy("fp")
      .agg(min_by(
        struct(col("doc_id"), col("source"), col("n_tokens"),
          col("quality_score")), col("doc_id")).as("r"))
      .select("r.*")
    kept.selectExpr("*",
        """CASE
             WHEN md5_60(cast(doc_id AS STRING)) % 10 < 8 THEN 'train'
             WHEN md5_60(cast(doc_id AS STRING)) % 10 = 8 THEN 'val'
             ELSE 'test'
           END AS split""")
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        Num.r(avg("quality_score"), 4).as("avg_quality"))
      .orderBy("split", "source")
  }

  private def pipelineE2eSql: String = {
    val scores = langMarkers.map { case (l, ms) =>
      s"len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t IN ${sqlSet(ms)})) AS s_$l"
    }.mkString(",\n               ")
    val best = s"greatest(${langMarkers.map(m => "s_" + m._1).mkString(", ")}, 0)"
    val pred = langMarkers.map { case (l, _) =>
      s"WHEN s_$l = best AND best > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    s"""
      WITH base AS (
        SELECT doc_id, source,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
               round(len(list_filter(string_split_regex(trim(text), '\\s+'),
                       t -> t IN ${sqlSet(stopwords)}))
                 / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) + 1e-9, 4) AS stopword_ratio,
               round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                 / CAST(length(text) AS DOUBLE) + 1e-9, 4) AS punct_ratio,
               md5(lower(trim(text))) AS fp,
               $scores
        FROM documents),
      withbest AS (SELECT *, $best AS best FROM base),
      scored AS (
        SELECT *, $pred AS pred_lang,
               round((CASE WHEN n_tokens >= 20 THEN 0.5 ELSE 0.0 END
                    + CASE WHEN stopword_ratio > 0.01 THEN 0.3 ELSE 0.0 END
                    + CASE WHEN punct_ratio < 0.1 THEN 0.2 ELSE 0.0 END) + 1e-9, 2)
                 AS quality_score
        FROM withbest),
      filtered AS (
        SELECT * FROM scored
        WHERE quality_score >= 0.8 AND pred_lang = 'en'),
      kept AS (
        SELECT * FROM filtered
        QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
      assigned AS (
        SELECT *,
               CASE
                 WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 8 THEN 'train'
                 WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 = 8 THEN 'val'
                 ELSE 'test'
               END AS split
        FROM kept)
      SELECT split, source, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             round(avg(quality_score) + 1e-9, 4) AS avg_quality
      FROM assigned
      GROUP BY split, source
      ORDER BY split, source"""
  }

  /** TF-IDF: top-3 highest-scoring terms per document. The corpus is
    * exploded ONCE: tf is a (doc_id, term) groupBy with map-side partial
    * aggregation, and df derives from tf itself — tf rows are unique per
    * (doc, term), so `tf.groupBy(term).count` IS the document frequency,
    * with no second explode pass and no distinct. The df join is left
    * to AQE: df is VOCABULARY-sized — sublinear in the corpus but
    * unbounded — so a static `broadcast(df)` hint is a cliff at 100 TB
    * (the 8 GB / 512M-row broadcast cap, plus driver+executor residency
    * for a table the planner never measured). With no hint the static
    * plan keys the join on `term` (scale-safe at any vocabulary), and
    * AQE's runtime size check converts it to a broadcast join exactly
    * when the MEASURED df fits (it does at every tested SF) — the
    * broadcast is now a measured decision instead of an assumption.
    * The corpus size still joins in as a broadcast 1-row aggregate
    * (no driver collect). The per-doc top-3 ranks by the ROUNDED score
    * (both engines see identical ordering keys) and Spark executes the
    * rank≤3 filter as a WindowGroupLimit — a per-partition heap, not a
    * full per-doc sort. */
  private def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val terms = docs
      .selectExpr("doc_id", s"explode($toks) AS tok")
      .selectExpr("doc_id", "lower(tok) AS term")
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score",
        Num.rExp(col("tf") * log(col("n_docs") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("score"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** Okapi BM25 (k₁ = 1.2, b = 0.75): score every document against a
    * fixed query-term set and return the top 20. The standard retrieval
    * scorer behind search-based data curation (and the lexical half of
    * hybrid RAG retrieval). Uses the +1 idf form
    * ln(1 + (N − df + 0.5)/(df + 0.5)) so scores stay positive at any
    * df. Per-term scores round to 6 dp before the per-doc sum (both
    * engines sum identical addends), and the top-20 cut orders by
    * (rounded score DESC, doc_id) — engine-deterministic.
    * Scale shape: the corpus explodes ONCE; doc lengths and corpus
    * stats are map-side-combinable aggregates; df is vocabulary-sized
    * and broadcast; (N, avgdl) ride a 1-row broadcast cross join. The
    * final LIMIT is a distributed top-K heap (TakeOrderedAndProject),
    * never a global sort. Constants in the oracle are e-notation so both
    * dialects read them as DOUBLE, not DECIMAL. */
  private def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(20)

  /** The BM25 scorer without the top-k cut, shared with the hybrid RRF
    * fusion in [[SimilarityQueries]]. */
  private[queries] def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val queryTerms = Seq("hash", "join", "vector")
    val terms = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"explode($toks) AS tok")
      .selectExpr("doc_id", "lower(tok) AS term")
    val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tf = terms.filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    // literals written as PARSED decimals (2.2, 0.25), not compile-time
    // arithmetic (1.2 + 1.0 rounds differently from parsing "2.2")
    val score = idf * col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    tf.join(broadcast(df), "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), Num.rExp(score, 6).as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), Num.r(sum("s"), 6).as("score"))
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai & Lafferty
    * SIGIR'01, μ = 2000): log P(q|d) = Σ_t ln((tf + μ·P(t|C)) / (dl + μ))
    * over the same query terms as [[bm25Scores]] — the other classic
    * lexical scorer (language-modeling family next to BM25's
    * probabilistic-relevance family). Every query term contributes to
    * every document (smoothing ⇒ no zero probabilities), so scoring
    * starts from the doc-length table and LEFT-joins tf — a doc missing
    * a term still pays the background cost. P(t|C) = ctf/|C| is an exact
    * integer ratio broadcast with the corpus stats; per-term logs round
    * before the per-doc sum (identical addends both engines).
    * Scale shape: identical to BM25 — one corpus explode, broadcast
    * model tables, top-20 via a distributed heap. */
  private def dirichletQl(spark: SparkSession, dir: String): DataFrame = {
    val queryTerms = Seq("hash", "join", "vector")
    val mu = 2000.0
    val terms = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"explode($toks) AS tok")
      .selectExpr("doc_id", "lower(tok) AS term")
    val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val ctot = terms.agg(count(lit(1)).as("c_tokens"))
    val ctf = terms.filter(col("term").isin(queryTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("ctf"))
    val tf = terms.filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val ql = dl.crossJoin(broadcast(
        ctf.crossJoin(broadcast(ctot))
          .select(col("term"), col("ctf"), col("c_tokens"))))
      .join(tf, Seq("doc_id", "term"), "left")
      .select(col("doc_id"),
        Num.rExp(log(
          (coalesce(col("tf"), lit(0L)) +
            lit(mu) * col("ctf") / col("c_tokens")) /
          (col("dl") + lit(mu))), 6).as("s"))
    ql.groupBy("doc_id")
      .agg(Num.r(sum("s"), 6).as("log_ql"))
      .orderBy(col("log_ql").desc, col("doc_id")).limit(20)
  }

  private val dirichletQlSql = """
    WITH terms AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
    ctot AS (SELECT count(*) AS c_tokens FROM terms),
    ctf AS (SELECT term, count(*) AS ctf FROM terms
            WHERE term IN ('hash', 'join', 'vector') GROUP BY 1),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms
           WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),
    scored AS (
      SELECT dl.doc_id,
             round(ln((coalesce(tf.tf, 0) + 2000e0 * ctf.ctf / c_tokens)
                      / (dl.dl + 2000e0)) + 1e-8, 6) AS s
      FROM dl CROSS JOIN ctot CROSS JOIN ctf
      LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = ctf.term)
    SELECT doc_id, round(sum(s) + 1e-9, 6) AS log_ql
    FROM scored
    GROUP BY doc_id
    ORDER BY log_ql DESC, doc_id
    LIMIT 20"""

  /** CTE chain producing (doc_id, n_terms, score) — the oracle twin of
    * [[bm25Scores]], shared with the hybrid-RRF oracle. */
  private[queries] val bm25CoreSql = """
    terms AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms
           WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    bm25scored AS (
      SELECT tf.doc_id,
             round(ln(1e0 + (n_docs - df + 5e-1) / (df + 5e-1))
                   * tf * 22e-1
                   / (tf + 12e-1 * (25e-2 + 75e-2 * dl.dl / avgdl))
                   + 1e-8, 6) AS s
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
    bm25agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
             round(sum(s) + 1e-9, 6) AS score
      FROM bm25scored
      GROUP BY doc_id)"""

  private val bm25Sql = s"""
    WITH $bm25CoreSql
    SELECT doc_id, n_terms, score
    FROM bm25agg
    ORDER BY score DESC, doc_id
    LIMIT 20"""

  private val tfidfSql = """
    WITH terms AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * ln(n_docs / CAST(df.df AS DOUBLE)) + 1e-8, 6) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rnk
      FROM scored)
    SELECT doc_id, term, tf, score, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk"""

  /** Temperature-based mixture reweighting (the standard multilingual
    * pre-training trick): per-language sampling rates ∝ n^(1/2) so
    * low-resource languages are up-weighted relative to their natural
    * share, targeting a 50%-of-corpus budget. Selection is DETERMINISTIC:
    * a doc is kept iff its portable 60-bit hash mod 1e6 clears the
    * language's integerized rate threshold — same docs chosen on any
    * cluster, any partitioning, any engine. Scale shape: pass 1 is a
    * map-side-partial count per lang (5 rows); rates are computed on that
    * tiny table and BROADCAST back for pass 2's filter+count — the corpus
    * is scanned twice but never shuffled by doc, and the wire carries
    * only per-lang partials. sqrt (not pow) because IEEE 754 requires
    * sqrt correctly rounded — identical bits on JVM and C libm. */
  /** Temperature-scaled multilingual sampling (the XLM-R / mT5 recipe,
    * Conneau et al. ACL'20 §3): sampling distribution qᵢ ∝ pᵢ^α with
    * α = 0.3 over the per-language corpus shares pᵢ — flattens the
    * head languages and boosts the tail without ever equalizing
    * (α = 1 is proportional, α = 0 uniform). Reports each language's
    * corpus share, its temperature-scaled sampling share, and the
    * boost factor qᵢ/pᵢ (the per-language oversampling rate a data
    * loader applies). One count aggregate over the corpus; all the
    * temperature math lives on the |langs|-row table and its 1-row
    * normalization fold. */
  private def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum("n_docs").as("total"))
    val shares = counts.crossJoin(broadcast(tot))
      .withColumn("p", col("n_docs") / col("total").cast("double"))
      .withColumn("pa", pow(col("p"), 0.3))
    shares
      .withColumn("q", col("pa")
        / sum("pa").over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("lang"), col("n_docs"),
        Num.r(col("p"), 6).as("share"),
        Num.rExp(col("q"), 6).as("sample_share"),
        Num.rExp(col("q") / col("p"), 4).as("boost"))
      .orderBy("lang")
  }

  private val temperatureMixSql = """
    WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM counts),
    shares AS (
      SELECT lang, n_docs,
             n_docs / CAST(total AS DOUBLE) AS p,
             pow(n_docs / CAST(total AS DOUBLE), 0.3) AS pa
      FROM counts CROSS JOIN tot)
    SELECT lang, n_docs,
           round(p + 1e-9, 6) AS share,
           round(pa / sum(pa) OVER () + 1e-8, 6) AS sample_share,
           round((pa / sum(pa) OVER ()) / p + 1e-8, 4) AS boost
    FROM shares
    ORDER BY lang"""

  /** Mixture reweighting: per-language sampling rates from sqrt-scaled
    * counts — the corpus-balance knob for training mixes. */
  private def mixReweight(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").as("total"), sum(sqrt(col("n"))).as("sum_w"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("rate",
        Num.r(least(lit(1.0),
          lit(0.5) * col("total") * (sqrt(col("n")) / col("sum_w")) / col("n")), 6))
      .withColumn("thr", round(col("rate") * 1e6).cast("long"))
      .select("lang", "n", "rate", "thr")
    docs
      .selectExpr("lang",
        "md5_60(cast(doc_id AS STRING)) % 1000000 AS hmod")
      .join(broadcast(rates), "lang")
      .groupBy("lang")
      .agg(max("n").as("n_docs"),
        max("rate").as("rate"),
        sum(when(col("hmod") < col("thr"), 1L).otherwise(0L)).cast("long")
          .as("n_selected"))
      .orderBy("lang")
  }

  private val mixReweightSql = """
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, sum(sqrt(n)) AS sum_w
            FROM counts),
    rates AS (
      SELECT lang, n,
             round(least(1.0, 0.5 * total * (sqrt(n) / sum_w) / n) + 1e-9, 6)
               AS rate
      FROM counts CROSS JOIN tot),
    r2 AS (SELECT *, CAST(round(rate * 1e6) AS BIGINT) AS thr FROM rates),
    sel AS (
      SELECT d.lang,
             CAST(sum(CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < thr
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
      FROM documents d JOIN r2 USING (lang)
      GROUP BY 1)
    SELECT r2.lang, r2.n AS n_docs, r2.rate, sel.n_selected
    FROM r2 JOIN sel USING (lang)
    ORDER BY lang"""

  /** Sequence packing (concat-and-chunk): per source, documents are laid
    * end-to-end in doc_id order and cut into 2048-token training
    * sequences; each doc is attributed to the sequence where it STARTS.
    * Pure integer arithmetic end to end — bit-identical cross-engine with
    * no float discipline needed. Scale shape: one shuffle on source, the
    * running total is a single in-partition window pass (sources are
    * independent so a 1000-executor cluster packs 1000 sources at once),
    * and the per-sequence rollup re-aggregates with map-side partials.
    * Skew guard at 100 TB: a giant source serializes its own cumsum —
    * shard hot sources on a coarse doc_id prefix first if that bites. */
  private def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val SeqLen = 2048L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables(spark, dir, "documents")
      .selectExpr("source", "doc_id", s"cast(size($toks) AS BIGINT) AS n_tokens")
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("seq_id",
        floor((col("cum") - col("n_tokens")) / lit(SeqLen.toDouble)).cast("long"))
      .groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("n_tokens"),
        max("cum").as("cum_tokens"))
      .orderBy("source", "seq_id")
  }

  private val packSequencesSql = """
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      FROM documents),
    cums AS (
      SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks)
    SELECT source,
           CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(max(cum) AS BIGINT) AS cum_tokens
    FROM cums
    GROUP BY 1, 2
    ORDER BY source, seq_id"""

  /** Exact-k stratified sampling: EXACTLY min(k, n) docs per language,
    * chosen as the k lowest portable-hash values — "give me 50 eval docs
    * per language, same 50 on every run, every cluster, every engine".
    * Hash-ranked min-k beats rate-based sampling when the sample size
    * must be exact, and stays deterministic where reservoir sampling
    * isn't. Scale shape: Spark executes the row_number ≤ k filter as
    * WindowGroupLimit — every map task keeps a k-row heap per language
    * BEFORE the shuffle, so the exchange carries ≤ k·tasks rows per
    * stratum, never the corpus (plan-asserted in PlanSpec). */
  private def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val K = 50
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("h"), col("doc_id"))
    Tables(spark, dir, "documents")
      .selectExpr("lang", "doc_id",
        "md5_60(cast(doc_id AS STRING)) AS h")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K)
      .select(col("lang"), col("doc_id"), col("rnk"))
      .orderBy("lang", "rnk")
  }

  private val sampleStratifiedSql = """
    WITH hashed AS (
      SELECT lang, doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM documents),
    ranked AS (
      SELECT lang, doc_id,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rnk
      FROM hashed)
    SELECT lang, doc_id, rnk
    FROM ranked WHERE rnk <= 50
    ORDER BY lang, rnk"""

  /** Sliding-window chunking: 32-token chunks on a 24-token stride
    * (8-token overlap) — the chunk table an embedding/RAG pipeline builds
    * before encoding. Pure per-row work: the chunk starts come from
    * `sequence`/`explode` inside the row (no join, no shuffle except the
    * output sort), trailing partial chunks kept, all integer arithmetic
    * so both engines emit identical rows. Spark's `sequence(0, stop, s)`
    * and DuckDB's `generate_series(0, stop, s)` are both
    * inclusive-of-stop, which this relies on. */
  private def chunkSliding(spark: SparkSession, dir: String): DataFrame = {
    val Size = 32
    val Stride = 24
    Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"cast(size($toks) AS INT) AS n")
      .selectExpr("doc_id", "n",
        s"explode(sequence(0, greatest(n - 1, 0), $Stride)) AS start")
      .selectExpr("doc_id",
        "cast(start AS BIGINT) AS start",
        s"cast(least($Size, n - start) AS BIGINT) AS chunk_len")
      .orderBy("doc_id", "start")
  }

  private val chunkSlidingSql = """
    WITH toks AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS n
      FROM documents),
    starts AS (
      SELECT doc_id, n,
             unnest(generate_series(0, greatest(n - 1, 0), 24)) AS start
      FROM toks)
    SELECT doc_id, CAST(start AS BIGINT) AS start,
           CAST(least(32, n - start) AS BIGINT) AS chunk_len
    FROM starts
    ORDER BY doc_id, start"""

  /** Hashing-trick features: every token mapped to one of 256 buckets by
    * the portable 60-bit hash, per-doc bucket counts in long (sparse)
    * form — the fixed-width featurization that needs NO vocabulary
    * build, so the plan is explode → one (doc, bucket) aggregate with
    * map-side partials; nothing grows with vocab size at 100 TB. */
  private def featureHash(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"explode($toks) AS tok")
      .selectExpr("doc_id",
        "md5_60(tok) % 256 AS bucket")
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("doc_id", "bucket")

  private val featureHashSql = """
    WITH t AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents)
    SELECT doc_id,
           CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 256 AS bucket,
           count(*) AS n
    FROM t GROUP BY 1, 2
    ORDER BY doc_id, bucket"""

  /** DSIR data selection (Xie et al., NeurIPS'23 "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much more likely its HASHED-bigram features are
    * under a target-domain LM than under the raw-corpus LM, and keep the
    * top-K — the importance-weighting counterpart of the classifier
    * quality filter (the per-feature log-ratio sum IS the log-odds of a
    * naive-Bayes target-vs-raw classifier, the fastText-filter family).
    * Target domain here: the `lang = 'en'` slice; raw: the full corpus.
    *
    * Scale shape: the hashing trick bounds BOTH models at exactly
    * [[DsirBuckets]] rows at any corpus size — no vocabulary is ever
    * materialized. The feature stream is read exactly TWICE: one
    * array-local bigram explode → ONE map-side-combinable conditional
    * aggregate builds the raw and target censuses together, and both
    * corpus totals fold from the B-row census itself (512 rows, not a
    * corpus pass — a naive four-scan spelling of censuses + totals
    * measured 1.66 s at sf0.1 vs this shape's ~1.0 s); then the B-row
    * broadcast log-ratio model joins the second read for one per-doc
    * aggregate → a distributed top-K heap (TakeOrderedAndProject) for
    * the selection cut. Docs with fewer than two tokens have no features
    * and cannot be selected. Determinism: per-bucket log-ratios are
    * rounded then summed as scaled BIGINTs; the selection order is total
    * (weight desc, doc_id). The per-doc weight is the per-feature MEAN
    * ratio, removing the length bias a raw sum would carry (the paper
    * scores fixed-length chunks; documents here vary in length).
    *
    * Cost adjudication (sf0.1): ~1.5 s, ~12× q_bigram_logprob's 0.13 s
    * for the same two-pass explode shape — the delta is md5 on every
    * feature occurrence twice (q_feature_hash pays 0.57 s for ONE md5
    * pass). md5 is the oracle-portability tax: it is the only hash both
    * engines compute bit-identically. A production run would swap the
    * bucket expression to xxhash64 (codegen'd, ~10× cheaper, same
    * fixed-B model shape) — a one-line change that forfeits only the
    * cross-engine differential check, never the plan shape. */
  private val DsirBuckets = 512
  private val DsirK = 100
  /** DSIR data selection: hashed-bigram importance weights
    * (target-vs-raw bucket log-ratios) score documents, top-K selected
    * with ranks. */
  private def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val p = lmParts(spark, dir)
    val feats = p.bigrams.selectExpr("doc_id", "lang",
      s"md5_60(concat(prev, ' ', cur)) % $DsirBuckets AS bucket")
    // ONE hashing pass, not three: `feats` (the bigram md5 stream) used
    // to feed the census, the totals AND the per-doc scoring as
    // separate plan subtrees, so the corpus was exploded and hashed
    // once per branch. The fix is the guide-§8 proxy shape: collapse to
    // per-doc bucket counts (doc_id, lang, bucket, cnt — a few bytes
    // per row, never text) and MATERIALIZE that proxy once with an
    // eager localCheckpoint; every branch then reads the materialized
    // blocks. (Plain ReuseExchange was tried first and is not reliable
    // here: AQE's stage-reuse cache races the eagerly-submitted
    // broadcast stages, and the executed plan kept re-deriving the
    // scan+hash pass in 2 of 3 branches.) The weighted re-aggregations
    // below are exactly the original per-instance sums: census counts
    // feature instances (Σ cnt), and the per-doc score sums the
    // integer-scaled lr once per instance (Σ round(lr·1e6)·cnt over
    // buckets ≡ Σ round(lr·1e6) over instances, exact integer
    // arithmetic). Same materialize-between-passes cost class as
    // [[graft.operators.GlobalRank]], and the blocks hold the proxy,
    // not the corpus.
    // Lifecycle (vs the releaseGeneration discipline on the cluster-label
    // checkpoints): this proxy CANNOT be released here — the query
    // contract returns a lazy DataFrame whose plan still references the
    // checkpointed blocks, and there is no post-action hook inside fn.
    // ContextCleaner reclamation is sufficient instead: the blocks hold
    // the (doc_id, lang, bucket, cnt) proxy (≤ a few bytes/doc·bucket,
    // never text), each construction's blocks are dropped when its
    // DataFrame becomes unreachable, and the bench's per-rep
    // constructions bound residency at reps × proxy size — MBs, not the
    // corpus. releaseGeneration exists for the repeated ingest LOOP,
    // where an unreleased per-round artifact accumulates unboundedly;
    // a per-query proxy has no loop to accumulate across.
    val g = feats.groupBy("doc_id", "lang", "bucket")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val census = g.groupBy("bucket").agg(
      sum("cnt").as("cr"),
      sum(when(col("lang") === "en", col("cnt")).otherwise(lit(0L))).as("ct"))
    // totals from g directly rather than census.agg: both spell the
    // same sums, but this keeps the broadcast-totals branch a single
    // aggregate over the checkpointed proxy instead of stacking it on
    // a second copy of the census exchange (A/B at sf0.1: 1.31 s via
    // census.agg vs 0.93 s this way — the sequential
    // totals→model→scoring broadcast chain is latency-bound, so one
    // less exchange in the chain is wall-clock off every query)
    val totals = g.groupBy().agg(
      sum("cnt").as("nr"),
      sum(when(col("lang") === "en", col("cnt")).otherwise(lit(0L))).as("nt"))
    val model = census
      .crossJoin(broadcast(totals))
      .select(col("bucket"), Num.rExp(
        log10((col("ct") + lit(1.0)) / (col("nt") + lit(DsirBuckets))) -
          log10((col("cr") + lit(1.0)) / (col("nr") + lit(DsirBuckets))),
        6).as("lr"))
    val perDoc = g.join(broadcast(model), "bucket")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_feats"),
        Num.r(sum(round(col("lr") * 1e6).cast("long") * col("cnt")) / 1e6
          / sum("cnt"), 4).as("avg_lr"))
    val wSel = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_lr").desc, col("doc_id"))
    val sel = perDoc.orderBy(col("avg_lr").desc, col("doc_id")).limit(DsirK)
      .withColumn("sel_rank", row_number().over(wSel).cast("long"))
    p.docs.select("doc_id", "lang").join(broadcast(sel), "doc_id")
      .select(col("sel_rank"), col("doc_id"), col("lang"), col("n_feats"),
        col("avg_lr"))
      .orderBy("sel_rank")
  }

  private val dsirSelectSql = s"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    bg AS (
      SELECT doc_id, lang, t[i] AS prev, t[i+1] AS cur
      FROM t, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2),
    f AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(prev || ' ' || cur), 1, 15) AS BIGINT)
               % $DsirBuckets AS bucket
      FROM bg),
    raw AS (SELECT bucket, count(*) AS cr FROM f GROUP BY bucket),
    tgt AS (SELECT bucket, count(*) AS ct FROM f WHERE lang = 'en'
            GROUP BY bucket),
    nrt AS (SELECT count(*) AS nr FROM f),
    ntt AS (SELECT count(*) AS nt FROM f WHERE lang = 'en'),
    model AS (
      SELECT r.bucket,
             round(log10((coalesce(g.ct, 0) + 1.0) / (nt + $DsirBuckets)) -
                   log10((r.cr + 1.0) / (nr + $DsirBuckets)) + 1e-8, 6) AS lr
      FROM raw r LEFT JOIN tgt g USING (bucket)
      CROSS JOIN nrt CROSS JOIN ntt),
    per AS (
      SELECT f.doc_id, count(*) AS n_feats,
             round(CAST(sum(CAST(round(lr * 1000000) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / count(*) + 1e-9, 4) AS avg_lr
      FROM f JOIN model USING (bucket)
      GROUP BY f.doc_id),
    sel AS (
      SELECT doc_id, n_feats, avg_lr,
             row_number() OVER (ORDER BY avg_lr DESC, doc_id) AS sel_rank
      FROM per ORDER BY avg_lr DESC, doc_id LIMIT $DsirK)
    SELECT CAST(s.sel_rank AS BIGINT) AS sel_rank, s.doc_id, d.lang,
           s.n_feats, s.avg_lr
    FROM sel s JOIN documents d USING (doc_id)
    ORDER BY sel_rank"""

  /** Supervised quality classifier (the fastText-filter stage of GPT-3 /
    * LLaMA-style curation — Brown et al. NeurIPS'20 §2.2 train a linear
    * classifier on quality labels and keep high-scoring documents; CCNet
    * ships the same shape): multinomial naive Bayes over HASHED unigram
    * features, trained on the hash-assigned train split with the
    * heuristic quality gate (`quality_score >= 0.8`) as the label, then
    * scored on the HELD-OUT split — the classifier never sees its eval
    * docs. The per-feature weight is the add-one-smoothed class
    * log-likelihood ratio, so the per-doc score is the naive-Bayes
    * log-odds; `q_dsir_select`'s importance ratio is the UNSUPERVISED
    * cousin (target-vs-raw), this is the supervised one (labeled
    * high-vs-low), and together they bracket the classifier-filter
    * family.
    *
    * Scale shape: the hashing trick bounds the model at exactly
    * [[NbBuckets]] rows at any corpus size — no vocabulary. Training is
    * ONE map-side-combinable conditional aggregate over the train-split
    * feature stream; class totals fold from the B-row census (not a
    * corpus pass); the dense B-row model (every bucket gets a weight via
    * the range⋈census left join, so unseen-bucket smoothing is in the
    * model, not the scorer) and the 1-row prior broadcast into a single
    * per-doc scoring aggregate. Determinism: weights rounded to 6 dp and
    * summed as scaled BIGINTs; the train/held split is the content-hash
    * split of `q_split_assign` (never rand()). */
  private val NbBuckets = 256

  /** doc_id → (heuristic-gate label, hash-split membership). Reads the
    * UNORDERED quality scores: this frame is materialized by nbParts,
    * and a checkpoint boundary would otherwise execute textQuality's
    * trailing orderBy (range exchange + global sort) for nothing. */
  private def nbLabeled(spark: SparkSession, dir: String): DataFrame =
    textQualityUnordered(spark, dir)
      .select(col("doc_id"),
        (col("quality_score") >= 0.8).as("label"),
        (expr("md5_60(cast(doc_id AS STRING)) % 10") < 8).as("is_train"),
        col("n_tokens"))

  private case class NbParts(feats: DataFrame, model: DataFrame, prior: DataFrame)

  /** Labeled hashed-feature stream plus the fitted dense B-row model
    * (now carrying the prior) — shared by the batch scorer and the
    * serving twin.
    *
    * TWO corpus explodes, not three, and no separate prior pass: the
    * totals branch used to re-run the full explode + md5 stream just to
    * COUNT tokens, and the prior paid a fourth (explode-free) label
    * scan. Both fold into ONE doc-level stats aggregate: per-doc
    * `n_tokens` (size of the token array — exactly the count the
    * explode would recount, since explode emits one row per element
    * and the doc_id join drops nothing) gives np/nn, and the doc
    * counts give dp/dn. The stats row rides the model's broadcast
    * cross join, and the prior folds into the model rows themselves,
    * so the scorer no longer needs its own prior broadcast (one less
    * 1-row exchange in the latency-bound totals→model→scoring chain —
    * the dsirSelect finding).
    *
    * Deliberately NOT collapsed onto a materialized per-doc
    * bucket-count proxy (the q_dsir_select shape): tried in r19
    * (eager localCheckpoint, wall 0.68→1.12 s) and re-tried in r20
    * with lazy RDD blocks and a task-CPU instrument — at a ×10
    * synthetic corpus the proxy shape measured 3.7× the task CPU
    * (4.83 vs 1.30 s) and 2.6× the wall: serializing + re-reading a
    * docs×buckets proxy costs more than the unigram explode it saves.
    * The trade reverses only when the duplicated pass itself is
    * expensive (dsir's bigram-concat+md5); unigram explode+hash is
    * cheap enough that duplicated-but-parallel wins at every measured
    * scale. */
  private def nbParts(spark: SparkSession, dir: String): NbParts = {
    val labFull = nbLabeled(spark, dir)
    val lab = labFull.select("doc_id", "label", "is_train")
    val feats = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"explode($toks) AS tok")
      .selectExpr("doc_id", s"md5_60(tok) % $NbBuckets AS bucket")
      .join(lab, "doc_id")
    val census = feats.filter(col("is_train")).groupBy("bucket").agg(
      count(when(col("label"), lit(1))).as("cp"),
      count(when(!col("label"), lit(1))).as("cn"))
    // token totals (np/nn) and doc counts (dp/dn) in one 1-row scan:
    // np ≡ Σ cp because every train-split token contributes exactly one
    // census row — sum(n_tokens) over train docs with label IS that sum
    val stats = labFull.filter(col("is_train")).agg(
      sum(when(col("label"), col("n_tokens")).otherwise(lit(0L))).as("np"),
      sum(when(!col("label"), col("n_tokens")).otherwise(lit(0L))).as("nn"),
      count(when(col("label"), lit(1))).as("dp"),
      count(when(!col("label"), lit(1))).as("dn"))
    val model = spark.range(NbBuckets).select(col("id").as("bucket"))
      .join(census, Seq("bucket"), "left")
      .na.fill(0, Seq("cp", "cn"))
      .crossJoin(broadcast(stats))
      .select(col("bucket"), Num.rExp(
        log10((col("cp") + lit(1.0)) / (col("np") + lit(NbBuckets))) -
          log10((col("cn") + lit(1.0)) / (col("nn") + lit(NbBuckets))),
        6).as("lw"),
        Num.rExp(
          log10((col("dp") + lit(1.0)) / (col("dn") + lit(1.0))), 6)
          .as("prior"))
    // 1-row prior frame for the serving twin's collect — derived from
    // the model rows (the prior column is constant across them), never
    // evaluated inside the batch query path
    val prior = model.agg(min("prior").as("prior"))
    NbParts(feats, model, prior)
  }

  /** Held-out docs scored by the train-split NB model; shared by the
    * classifier, AUC and calibration queries (and the streaming twin).
    * The prior arrives ON the model rows (constant across buckets, so
    * min() inside the per-doc aggregate reads it back exactly). */
  private[graft] def nbScoreHeldOut(spark: SparkSession, dir: String): DataFrame = {
    val p = nbParts(spark, dir)
    p.feats.filter(!col("is_train"))
      .join(broadcast(p.model), "bucket")
      .groupBy("doc_id", "label")
      .agg(count(lit(1)).as("n_feats"),
        sum(round(col("lw") * 1e6).cast("long")).as("s"),
        min("prior").as("prior0"))
      .select(col("doc_id"), col("label"), col("n_feats"),
        Num.r(col("prior0") + col("s") / 1e6, 4).as("score"))
      .withColumn("pred", col("score") > 0)
  }

  /** NB quality classifier: held-out documents scored by the trained
    * hashed-token naive-Bayes model. */
  private def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    nbScoreHeldOut(spark, dir).orderBy("doc_id")

  /** The frozen NB quality classifier as ONE row-local expression for
    * streaming ingest: the dense 256-weight model and the prior are
    * baked into a map literal, so each arriving document scores with a
    * per-token map lookup fold — no join, no streaming state (the
    * CCNet/BPE serving pattern). The artifact is [[NbBuckets]]-bounded
    * by construction at any training-corpus size. Weights fold as
    * scaled BIGINTs exactly as the batch scorer sums them, so streamed
    * scores equal batch scores bit-for-bit (proven in StreamingSpec). */
  def nbServeModel(spark: SparkSession, dir: String, textCol: String): String = {
    val p = nbParts(spark, dir)
    val m = p.model.collect().map(r => s"${r.getLong(0)}L, ${r.getDouble(1)}D")
      .mkString("map(", ", ", ")")
    val prior = p.prior.collect()(0).getDouble(0)
    val t = s"split(trim($textCol), '\\\\s+')"
    s"""round(${prior}D + cast(aggregate(
         transform($t, tk -> element_at($m, md5_60(tk) % $NbBuckets)),
         0L, (a, x) -> a + cast(round(x * 1000000) AS BIGINT)) AS DOUBLE)
       / 1000000.0 + 1e-9, 4)"""
  }

  /** Shared oracle CTE chain: label + split, hashed features, census,
    * dense model, prior, held-out scores — mirrors [[nbScoreHeldOut]]. */
  private val nbScoredCtes = s"""
    labq AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             round(len(list_filter(string_split_regex(trim(text), '\\s+'),
                 t -> t IN ${sqlSet(stopwords)}))
               / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
               + 1e-9, 4) AS stopword_ratio,
             round((length(text) -
                 length(regexp_replace(text, '[.,!?;:]', '', 'g')))
               / CAST(length(text) AS DOUBLE) + 1e-9, 4) AS punct_ratio
      FROM documents),
    lab AS (
      SELECT doc_id,
             round((CASE WHEN n_tokens >= 20 THEN 0.5 ELSE 0.0 END) +
                   (CASE WHEN stopword_ratio > 0.01 THEN 0.3 ELSE 0.0 END) +
                   (CASE WHEN punct_ratio < 0.1 THEN 0.2 ELSE 0.0 END)
                   + 1e-9, 2) >= 0.8 AS label,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 10 < 8 AS is_train
      FROM labq),
    feats AS (
      SELECT t.doc_id, l.label, l.is_train,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
               % $NbBuckets AS bucket
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents) t
      JOIN lab l USING (doc_id)),
    census AS (
      SELECT bucket,
             count(*) FILTER (label) AS cp,
             count(*) FILTER (NOT label) AS cn
      FROM feats WHERE is_train GROUP BY bucket),
    tot AS (SELECT sum(cp) AS np, sum(cn) AS nn FROM census),
    model AS (
      SELECT b.bucket,
             round(log10((coalesce(c.cp, 0) + 1.0) / (np + $NbBuckets)) -
                   log10((coalesce(c.cn, 0) + 1.0) / (nn + $NbBuckets))
                   + 1e-8, 6) AS lw
      FROM (SELECT unnest(range($NbBuckets)) AS bucket) b
      LEFT JOIN census c USING (bucket) CROSS JOIN tot),
    prior AS (
      SELECT round(log10((count(*) FILTER (label) + 1.0) /
                         (count(*) FILTER (NOT label) + 1.0)) + 1e-8, 6)
               AS prior
      FROM lab WHERE is_train),
    scored AS (
      SELECT f.doc_id, f.label, count(*) AS n_feats,
             round(p.prior +
               CAST(sum(CAST(round(lw * 1000000) AS BIGINT)) AS DOUBLE)
               / 1000000.0 + 1e-9, 4) AS score
      FROM feats f JOIN model USING (bucket) CROSS JOIN prior p
      WHERE NOT f.is_train
      GROUP BY f.doc_id, f.label, p.prior)"""

  private val qualityClassifierSql = s"""
    WITH $nbScoredCtes
    SELECT doc_id, label, n_feats, score, score > 0 AS pred
    FROM scored
    ORDER BY doc_id"""

  /** Held-out AUC of the NB quality classifier via the tie-corrected
    * Mann–Whitney rank-sum (AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻)),
    * plus threshold-0 accuracy. Scores are 4-dp-rounded first, so tie
    * groups are identical across engines; average ranks are exact
    * half-integers, making the rank-sum order-independent. The global
    * rank window is EVAL-SET-sized (the 20% held-out split of a
    * labeled sample, not the corpus); at 100 TB the same AUC folds
    * from a per-score-bin (label × count) histogram — the 4-dp rounding
    * already IS that binning, so this exact form doubles as the oracle
    * of the binned path. */
  private def classifierAuc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = nbScoreHeldOut(spark, dir)
      .withColumn("rank_lo", rank().over(Window.orderBy("score")))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("score")))
      .withColumn("avg_rank", col("rank_lo") + (col("cnt") - 1) / 2.0)
    ranked.agg(
        count(when(col("label"), lit(1))).as("n_pos"),
        count(when(!col("label"), lit(1))).as("n_neg"),
        sum(when(col("label"), col("avg_rank"))).as("rsum"),
        avg(when(col("pred") === col("label"), 1.0).otherwise(0.0)).as("acc"))
      .select(col("n_pos"), col("n_neg"),
        Num.r((col("rsum") - col("n_pos") * (col("n_pos") + 1) / 2.0) /
          (col("n_pos") * col("n_neg").cast("double")), 4).as("auc"),
        Num.r(col("acc"), 4).as("accuracy"))
  }

  private val classifierAucSql = s"""
    WITH $nbScoredCtes,
    ranked AS (
      SELECT *, rank() OVER (ORDER BY score) AS rank_lo,
             count(*) OVER (PARTITION BY score) AS cnt
      FROM scored)
    SELECT count(*) FILTER (label) AS n_pos,
           count(*) FILTER (NOT label) AS n_neg,
           round((sum(CASE WHEN label THEN rank_lo + (cnt - 1) / 2.0 END) -
                  (count(*) FILTER (label)) *
                  ((count(*) FILTER (label)) + 1) / 2.0)
                 / ((count(*) FILTER (label)) *
                    CAST(count(*) FILTER (NOT label) AS DOUBLE))
                 + 1e-9, 4) AS auc,
           round(avg(CASE WHEN (score > 0) = label THEN 1e0 ELSE 0e0 END)
                 + 1e-9, 4) AS accuracy
    FROM ranked"""

  /** Reliability table for the classifier: deterministic score deciles
    * (NTILE over (score, doc_id)) with each bin's empirical positive
    * rate — monotone pos_rate across bins is the calibration signal a
    * curation pass reads before picking its keep-threshold (same
    * decile idiom as `q_quality_deciles`). */
  private def classifierCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    calibrationDecileAgg(nbScoreHeldOut(spark, dir)
      .withColumn("decile",
        ntile(10).over(Window.orderBy(col("score"), col("doc_id"))).cast("long")))
  }

  /** The calibration table's aggregation over a decile-binned score
    * frame — ONE definition shared by the exact-NTILE form and the
    * GlobalRank scaled twin, so the "twins emit identical rows"
    * contract is structural, not a copy that can drift. */
  private def calibrationDecileAgg(binned: DataFrame): DataFrame =
    binned.groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("label"), lit(1))).as("n_pos"),
        Num.r(avg(when(col("label"), 1.0).otherwise(0.0)), 4).as("pos_rate"),
        min("score").as("min_score"),
        max("score").as("max_score"))
      .orderBy("decile")

  private val classifierCalibrationSql = s"""
    WITH $nbScoredCtes,
    binned AS (
      SELECT *, ntile(10) OVER (ORDER BY score, doc_id) AS decile
      FROM scored)
    SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_docs,
           count(*) FILTER (label) AS n_pos,
           round(avg(CASE WHEN label THEN 1e0 ELSE 0e0 END) + 1e-9, 4)
             AS pos_rate,
           min(score) AS min_score, max(score) AS max_score
    FROM binned
    GROUP BY decile
    ORDER BY decile"""

  /** Decile curation table: rank every document into quality deciles
    * (deterministic NTILE over (score, doc_id)) and report each decile's
    * population and score/length profile — what a curation pass reads to
    * pick its keep-threshold. This exact form is the ORACLE twin of the
    * scale path [[qualityDecilesScaled]] (GlobalRank two-pass rank —
    * no partition-less NTILE window); both share one aggregation body. */
  private def qualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality_score"), col("doc_id"))
    qualityDecileAgg(textQuality(spark, dir)
      .withColumn("decile", ntile(10).over(w).cast("long")))
  }

  /** See [[calibrationDecileAgg]] — the shared twin-agg discipline. */
  private def qualityDecileAgg(binned: DataFrame): DataFrame =
    binned.groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        min("quality_score").as("min_score"),
        max("quality_score").as("max_score"),
        Num.r(avg("n_tokens"), 2).as("avg_tokens"))
      .orderBy("decile")

  private val qualityDecilesSql = s"""
    WITH base AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             round(len(list_filter(string_split_regex(trim(text), '\\s+'),
                 t -> t IN ${sqlSet(stopwords)}))
               / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
               + 1e-9, 4) AS stopword_ratio,
             round((length(text) -
                 length(regexp_replace(text, '[.,!?;:]', '', 'g')))
               / CAST(length(text) AS DOUBLE) + 1e-9, 4) AS punct_ratio
      FROM documents),
    scored AS (
      SELECT doc_id, n_tokens,
             round((CASE WHEN n_tokens >= 20 THEN 0.5 ELSE 0.0 END) +
                   (CASE WHEN stopword_ratio > 0.01 THEN 0.3 ELSE 0.0 END) +
                   (CASE WHEN punct_ratio < 0.1 THEN 0.2 ELSE 0.0 END)
                   + 1e-9, 2) AS quality_score
      FROM base),
    ranked AS (
      SELECT *, ntile(10) OVER (ORDER BY quality_score, doc_id) AS decile
      FROM scored)
    SELECT decile, count(*) AS n_docs,
           min(quality_score) AS min_score,
           max(quality_score) AS max_score,
           round(avg(n_tokens) + 1e-9, 2) AS avg_tokens
    FROM ranked
    GROUP BY decile
    ORDER BY decile"""

  /** Distributed twin of [[qualityDeciles]] — identical output (it
    * shares the exact-NTILE oracle SQL), but the binning is the scale
    * path the exact form's comment promised: a two-pass global rank
    * (range repartition → per-partition offsets, a bounded one-row-per-
    * partition collect → broadcast + map-side bin arithmetic,
    * [[graft.operators.GlobalRank]]) instead of a partition-less
    * `ntile(10)` window that would pull the whole corpus into ONE task.
    * PlanSpec pins the plan: no Window operator anywhere. */
  private def qualityDecilesScaled(spark: SparkSession,
      dir: String): DataFrame = {
    val parts = spark.sessionState.conf.numShufflePartitions
    qualityDecileAgg(graft.operators.GlobalRank
      .withNtile(textQuality(spark, dir), "decile", 10,
        Seq(col("quality_score"), col("doc_id")), parts))
  }

  /** Distributed twin of [[classifierCalibration]] — same output and
    * oracle, deciles via [[graft.operators.GlobalRank]] instead of the
    * partition-less NTILE window (see [[qualityDecilesScaled]]). */
  private def classifierCalibrationScaled(spark: SparkSession,
      dir: String): DataFrame = {
    val parts = spark.sessionState.conf.numShufflePartitions
    calibrationDecileAgg(graft.operators.GlobalRank
      .withNtile(nbScoreHeldOut(spark, dir), "decile", 10,
        Seq(col("score"), col("doc_id")), parts))
  }

  /** Top-3 terms per document by term frequency (token asc on ties) —
    * per-group top-k, the keyword-extraction primitive. The rank-≤-k
    * filter compiles to a WindowGroupLimit (pinned in PlanSpec): each
    * partition keeps only 3 candidate rows per doc BEFORE the window
    * sort, so the exchange carries O(k·docs), not the token stream. */
  private def topkPerDoc(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"explode($toks) AS tok")
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("n").desc, col("tok"))
    tf.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("doc_id", "rnk")
  }

  private val topkPerDocSql = """
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS n
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) AS tok
            FROM documents)
      GROUP BY doc_id, tok)
    SELECT doc_id, tok, n,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY n DESC, tok) AS rnk
    FROM tf
    QUALIFY rnk <= 3
    ORDER BY doc_id, rnk"""

  /** Pointwise mutual information over token co-occurrence, bounded to
    * the top-20 tokens by document frequency so the pair space is ≤190
    * per doc regardless of corpus size (the vocab cap is what keeps the
    * self-join broadcastable at 100 TB — same pattern as the unigram
    * LM). log determinism via the rExp nudge on both engines. */
  private val PmiVocab = 20
  /** PMI token pairs: pointwise mutual information over per-doc
    * distinct co-occurrence for the df-top vocabulary. */
  private def pmiPairs(spark: SparkSession, dir: String): DataFrame = {
    // per-doc distinct tokens via array_distinct BEFORE the explode:
    // doc_id is the documents table's key (one row per doc at every
    // SF — and at 100 TB, by the lake's ingest contract), so
    // `.distinct()` on (doc_id, tok) can never merge across rows and
    // the per-row array dedup is exactly equivalent — WITHOUT the
    // corpus-wide exchange a global distinct plans (guide §2.4:
    // a distinct on data that is already unique per group is an
    // accidental shuffle; the dedup is array-local, so dfreq's count
    // aggregates map-side partials straight off the scan)
    val dt = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"explode(array_distinct($toks)) AS tok")
    val dfreq = dt.groupBy("tok").agg(count(lit(1)).as("df"))
    // vocab cap as a distributed top-K heap (TakeOrderedAndProject)
    val top = dfreq.orderBy(col("df").desc, col("tok")).limit(PmiVocab)
    val nDocs = Tables(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val kept = dt.join(broadcast(top), Seq("tok"))
    val a = kept.select(col("doc_id"), col("tok").as("tok_a"), col("df").as("df_a"))
    val b = kept.select(col("doc_id"), col("tok").as("tok_b"), col("df").as("df_b"))
    a.join(b, Seq("doc_id"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_ab"),
        first("df_a").as("df_a"), first("df_b").as("df_b"))
      .crossJoin(broadcast(nDocs))
      .filter(col("n_ab") >= 5)
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        Num.rExp(log(col("n_ab").cast("double") * col("n_docs") /
          (col("df_a") * col("df_b"))), 4).as("pmi"))
      .orderBy("tok_a", "tok_b")
  }

  private val pmiPairsSql = s"""
    WITH dt AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents)),
    dfreq AS (
      SELECT tok, count(*) AS df FROM dt GROUP BY tok),
    top AS (
      SELECT tok, df FROM dfreq
      QUALIFY row_number() OVER (ORDER BY df DESC, tok) <= $PmiVocab),
    kept AS (
      SELECT dt.doc_id, dt.tok, top.df FROM dt JOIN top USING (tok)),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab,
             first(a.df) AS df_a, first(b.df) AS df_b
      FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tok_a, tok_b, n_ab,
           round(ln(CAST(n_ab AS DOUBLE) * n_docs / (df_a * df_b))
                 + 1e-8, 4) AS pmi
    FROM pairs, n
    WHERE n_ab >= 5
    ORDER BY tok_a, tok_b"""

  /** TextRank keyword scores: PageRank (d = 0.85, 10 iterations) over
    * the token co-occurrence graph, restricted to the same top-20
    * document-frequency vocab as [[pmiPairs]].
    *
    * Scale shape: the DISTRIBUTED work is exactly the PMI plan — one
    * distinct + one vocab-bounded pair count. What comes back to the
    * driver is the aggregated EDGE TABLE, ≤ V² = 400 rows by
    * construction at any corpus size — a model, not row data (same
    * contract as the IVF centroid collect). The power iterations then
    * run as plain driver arithmetic over that model: for a ≤20-node
    * graph, 10 distributed 400-row shuffles would be pure overhead.
    * Determinism: edge weights are integer-valued (exact sums in any
    * order); contribution sums run in sorted (dst, src) order and the
    * ≤1e-13 cross-engine FP drift is swamped by the 1e-9 rounding
    * nudge. */
  private val TrIters = 10
  /** TextRank keywords: co-occurrence edges (vocab-capped, <=400 rows
    * by construction) power-iterated on the driver as a fixed-size
    * model. */
  private def textrank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // per-doc distinct via array_distinct before the explode — same
    // equivalence argument as [[pmiPairs]] (doc_id is the table key, so
    // the global distinct could never merge across rows). That turns dt
    // into a PURE MAP over the scan, which retires the old
    // `.persist()`: the cache existed to amortize the distinct's
    // corpus-wide exchange across the two model collects below, but a
    // persist of the exploded corpus is itself O(corpus) executor
    // storage at 100 TB (guide §5: cache only when recomputing beats
    // the memory pressure) — two narrow scan passes are the cheaper
    // trade at any scale, and the second pass prunes to the ≤20-token
    // vocab before shuffling anything.
    val dt = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"explode(array_distinct($toks)) AS tok")
    val dfreq = dt.groupBy("tok").agg(count(lit(1)).as("df"))
    // vocab cap as a distributed top-K heap (TakeOrderedAndProject)
    val top = dfreq.orderBy(col("df").desc, col("tok")).limit(PmiVocab)
      .select("tok")
    val nodes = top.orderBy("tok").as[String].collect()
    val kept = dt.filter(col("tok").isin(nodes.toSeq: _*))
    val a = kept.select(col("doc_id"), col("tok").as("src"))
    val b = kept.select(col("doc_id"), col("tok").as("dst"))
    val edges = a.join(b, Seq("doc_id")).filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("w"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val n = nodes.length.toDouble
    val wdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val orderedEdges = edges.sortBy(e => (e._2, e._1))
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to TrIters) {
      val contrib = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      for ((src, dst, wt) <- orderedEdges)
        contrib(dst) = contrib.getOrElse(dst, 0.0) + wt / wdeg(src) * pr(src)
      pr = nodes.map(v => v -> (0.15 / n + 0.85 * contrib.getOrElse(v, 0.0))).toMap
    }
    nodes.toSeq.map(v => (v, pr(v))).toDF("tok", "score")
      .select(col("tok"), Num.r(col("score"), 6).as("textrank"))
      .orderBy("tok")
  }

  private def textrankSql: String = {
    val iters = (1 to TrIters).map { i =>
      s"""pr$i AS (
      SELECT nodes.tok,
             0.15 / nn.n + 0.85 * COALESCE(c.s, 0.0) AS score
      FROM nodes
      LEFT JOIN (
        SELECT e.dst, sum(e.w / wdeg.wd * pr${i - 1}.score) AS s
        FROM pr${i - 1}
        JOIN edges e ON e.src = pr${i - 1}.tok
        JOIN wdeg ON wdeg.src = pr${i - 1}.tok
        GROUP BY e.dst) c ON c.dst = nodes.tok,
      nn)"""
    }.mkString(",\n    ")
    s"""
    WITH dt AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents)),
    dfreq AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
    top AS (
      SELECT tok FROM dfreq
      QUALIFY row_number() OVER (ORDER BY df DESC, tok) <= $PmiVocab),
    kept AS (SELECT dt.doc_id, dt.tok FROM dt JOIN top USING (tok)),
    edges AS (
      SELECT a.tok AS src, b.tok AS dst, CAST(count(*) AS DOUBLE) AS w
      FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok <> b.tok
      GROUP BY 1, 2),
    wdeg AS (SELECT src, sum(w) AS wd FROM edges GROUP BY src),
    nodes AS (SELECT tok FROM top),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    pr0 AS (SELECT tok, 1.0 / nn.n AS score FROM nodes, nn),
    $iters
    SELECT tok, round(score + 1e-9, 6) AS textrank
    FROM pr$TrIters
    ORDER BY tok"""
  }

  /** Per-document Shannon entropy of the token distribution (nats) —
    * low entropy flags repetitive/template docs, the complement of the
    * unigram-LM score. One explode → (doc, tok) aggregate; the doc
    * total is a window over the aggregated tf table, and per-term
    * −p·ln p values are quantized to scaled BIGINTs before summing so
    * the doc score is independent of summation order (same discipline
    * as q_unigram_logprob). */
  private def entropy(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"explode($toks) AS tok")
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    tf.withColumn("n", sum("tf").over(wDoc))
      .withColumn("term", Num.rExp(
        -(col("tf") / col("n")) * log(col("tf") / col("n")), 6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct"),
        Num.r(sum(round(col("term") * 1e6).cast("long")) / 1e6, 4)
          .as("entropy"))
      .orderBy("doc_id")
  }

  private val entropySql = """
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) AS tok
            FROM documents)
      GROUP BY doc_id, tok),
    terms AS (
      SELECT doc_id,
             round(-(tf / CAST(n AS DOUBLE)) * ln(tf / CAST(n AS DOUBLE))
                   + 1e-8, 6) AS term
      FROM (SELECT *, sum(tf) OVER (PARTITION BY doc_id) AS n FROM tf))
    SELECT doc_id, count(*) AS n_distinct,
           round(CAST(sum(CAST(round(term * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
                 + 1e-9, 4) AS entropy
    FROM terms
    GROUP BY doc_id
    ORDER BY doc_id"""

  /** Zipf exponent of the corpus: OLS slope of ln(freq) on ln(rank)
    * over the aggregated vocabulary (natural text ≈ −1; synthetic or
    * boilerplate-heavy corpora deviate). The log inputs are quantized
    * to integer micro-units and the OLS moment sums accumulate as EXACT
    * integers (decimal(38,0) here, HUGEINT in the oracle), so the sums
    * are partition-order-independent; the only float ops left are the
    * final slope/intercept divisions over identical scalars. The
    * regression runs on the vocab table — distinct tokens,
    * Zipf-bounded — never the token stream. */
  private def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val freqs = Tables(spark, dir, "documents")
      .selectExpr(s"explode($toks) AS tok")
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val d38 = "decimal(38,0)"
    // every vocab row needs its exact rank (the regression's x-axis), so
    // no top-K heap applies — rank via the two-pass distributed path
    // (GlobalRank), not a partition-less row_number window that would
    // sort the whole vocabulary in one task
    val (ranked, _) = graft.operators.GlobalRank.withRank(
      freqs, "rnk", Seq(col("freq").desc, col("tok")),
      spark.sessionState.conf.numShufflePartitions)
    ranked
      .select(
        round((log(col("rnk").cast("double")) + lit(1e-8)) * 1e6)
          .cast("long").as("qx"),
        round((log(col("freq").cast("double")) + lit(1e-8)) * 1e6)
          .cast("long").as("qy"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("qx")).as("sxl"), sum(col("qy")).as("syl"),
        sum((col("qx") * col("qy")).cast(d38)).as("sxyd"),
        sum((col("qx") * col("qx")).cast(d38)).as("sxxd"))
      .select(col("n_vocab"),
        col("n_vocab").cast("double").as("n"),
        col("sxl").cast("double").as("sx"),
        col("syl").cast("double").as("sy"),
        col("sxyd").cast("double").as("sxy"),
        col("sxxd").cast("double").as("sxx"))
      .withColumn("slope_raw",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
      .select(col("n_vocab"),
        Num.r(col("slope_raw"), 4).as("zipf_slope"),
        Num.r((col("sy") - col("slope_raw") * col("sx")) / col("n") / 1e6, 4)
          .as("zipf_intercept"))
  }

  private val zipfSlopeSql = """
    WITH freqs AS (
      SELECT tok, count(*) AS freq
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
            FROM documents)
      GROUP BY tok),
    pts AS (
      SELECT CAST(round((ln(CAST(row_number() OVER (ORDER BY freq DESC, tok)
                                 AS DOUBLE)) + 1e-8) * 1e6) AS BIGINT) AS qx,
             CAST(round((ln(CAST(freq AS DOUBLE)) + 1e-8) * 1e6) AS BIGINT)
               AS qy
      FROM freqs),
    aggs AS (
      SELECT count(*) AS n_vocab,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(qx) AS DOUBLE) AS sx,
             CAST(sum(qy) AS DOUBLE) AS sy,
             CAST(sum(qx * qy) AS DOUBLE) AS sxy,
             CAST(sum(qx * qx) AS DOUBLE) AS sxx
      FROM pts),
    fit AS (
      SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_raw
      FROM aggs)
    SELECT n_vocab,
           round(slope_raw + 1e-9, 4) AS zipf_slope,
           round((sy - slope_raw * sx) / n / 1e6 + 1e-9, 4) AS zipf_intercept
    FROM fit"""

  /** Chi-squared contingency cells for lang × source independence: the
    * margins are window sums over the AGGREGATED |langs|×|sources|
    * table, expected counts and contributions are per-row arithmetic on
    * exact integers — the classic "is my metadata correlated" data-audit
    * check, one aggregate regardless of corpus size. */
  private def chi2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables(spark, dir, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("observed"))
    cells
      .withColumn("row_n", sum("observed").over(Window.partitionBy("lang")))
      .withColumn("col_n", sum("observed").over(Window.partitionBy("source")))
      .withColumn("n", sum("observed").over(Window.partitionBy()))
      .withColumn("expected",
        col("row_n") * col("col_n") / col("n").cast("double"))
      .select(col("lang"), col("source"), col("observed"),
        Num.r(col("expected"), 4).as("expected"),
        Num.r(pow(col("observed") - col("expected"), 2) / col("expected"), 6)
          .as("contrib"))
      .orderBy("lang", "source")
  }

  private val chi2Sql = """
    WITH cells AS (
      SELECT lang, source, count(*) AS observed
      FROM documents GROUP BY lang, source),
    m AS (
      SELECT *,
             sum(observed) OVER (PARTITION BY lang) AS row_n,
             sum(observed) OVER (PARTITION BY source) AS col_n,
             sum(observed) OVER () AS n
      FROM cells),
    e AS (
      SELECT lang, source, observed,
             row_n * col_n / CAST(n AS DOUBLE) AS expected
      FROM m)
    SELECT lang, source, observed,
           round(expected + 1e-9, 4) AS expected,
           round(pow(observed - expected, 2) / expected + 1e-9, 6) AS contrib
    FROM e
    ORDER BY lang, source"""

  /** Heaps'-law vocabulary-growth curve — cumulative distinct token
    * types vs cumulative tokens, measured at 20 equal-width doc_id
    * checkpoints, plus the fitted growth exponent β of V = k·Nᵝ
    * (log-log regression slope over the checkpoints). The corpus-scaling
    * diagnostic that pairs with [[zipfSlope]] (rank-frequency) and the
    * Good-Turing count-of-counts spectrum: sublinear β is what makes a
    * capped vocabulary/tokenizer viable as the corpus grows.
    *
    * Scale shape: "distinct types seen so far" is NOT computed as a
    * running distinct (which cannot distribute) — each type is charged
    * to the checkpoint bucket of its FIRST occurrence (min(bucket) per
    * token: one map-side-combinable aggregate over the token stream),
    * and the cumulative curve then lives on ≤ 20 bucket rows, where a
    * single-partition window costs nothing. 100 TB cost: one explode
    * and two hash aggregates of the token stream; nothing else scales
    * with the corpus. */
  private def heaps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents")
    val step = docs.agg(
      expr("CAST(ceil((max(doc_id) + 1) / 20.0) AS BIGINT)").as("step"))
    val toksDf = docs.selectExpr("doc_id", s"explode($toks) AS token")
      .crossJoin(broadcast(step))
      .withColumn("bucket", expr("doc_id div step"))
    val tokensPerBucket = toksDf.groupBy("bucket")
      .agg(count(lit(1)).as("n_tokens"))
    // a type's first bucket = bucket of its min doc_id (bucket is
    // monotone in doc_id, so min commutes with the bucketing)
    val typesPerBucket = toksDf.groupBy("token")
      .agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new_types"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    tokensPerBucket.join(typesPerBucket, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_new_types"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("cum_types", sum("n_new_types").over(w))
      .withColumn("heaps_beta", Num.r(
        regr_slope(log(col("cum_types")), log(col("cum_tokens")))
          .over(Window.partitionBy()), 4))
      .orderBy("bucket")
  }

  private val heapsSql = """
    WITH step AS (
      SELECT CAST(ceil((max(doc_id) + 1) / 20.0) AS BIGINT) AS step
      FROM documents),
    toks AS (
      SELECT doc_id // step AS bucket, token
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) AS token
            FROM documents), step),
    tpb AS (SELECT bucket, count(*) AS n_tokens FROM toks GROUP BY bucket),
    fo AS (SELECT token, min(bucket) AS bucket FROM toks GROUP BY token),
    npb AS (SELECT bucket, count(*) AS n_new_types FROM fo GROUP BY bucket),
    cur AS (
      SELECT t.bucket, t.n_tokens,
             coalesce(n.n_new_types, 0) AS n_new_types,
             CAST(sum(t.n_tokens) OVER w AS BIGINT) AS cum_tokens,
             CAST(sum(coalesce(n.n_new_types, 0)) OVER w AS BIGINT)
               AS cum_types
      FROM tpb t LEFT JOIN npb n USING (bucket)
      WINDOW w AS (ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT bucket, n_tokens, n_new_types, cum_tokens, cum_types,
           round(regr_slope(ln(cum_types), ln(cum_tokens)) OVER ()
                 + 1e-9, 4) AS heaps_beta
    FROM cur
    ORDER BY bucket"""

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * 100 docs drawn with probability ∝ length, deterministically — the
    * importance-sampling primitive behind quality- or domain-weighted
    * data mixing. u = portable-hash uniform in (0,1], key =
    * −ln(u)/w QUANTIZED to integer nanounits so the global top-k ranks
    * on exact integers (no float-tie divergence), and the top-k itself
    * is orderBy+limit → TakeOrderedAndProject (per-partition heap).
    * Rerunnable on any cluster: no rand() anywhere. */
  private def weightedSample(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .selectExpr("doc_id", "n_chars",
        // u ∈ (0,1]: (h60 + 1) / 2^60 over the portable 60-bit hash
        """round(
             -ln((md5_60(cast(doc_id AS STRING)) + 1)
                 / 1152921504606846976.0)
             / n_chars + 1e-8, 6) AS skey""")
      .orderBy(col("skey"), col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("n_chars"), col("skey"))

  private val weightedSampleSql = """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             round(
               -ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1)
                   / 1152921504606846976.0)
               / n_chars + 1e-8, 6) AS skey
      FROM documents)
    SELECT doc_id, n_chars, skey
    FROM keyed
    ORDER BY skey, doc_id
    LIMIT 100"""

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_weighted_sample", weightedSample, Some(weightedSampleSql)),
    QueryDef("q_entropy", entropy, Some(entropySql)),
    QueryDef("q_zipf", zipfSlope, Some(zipfSlopeSql)),
    QueryDef("q_heaps", heaps, Some(heapsSql)),
    QueryDef("q_chi2", chi2, Some(chi2Sql)),
    QueryDef("q_textrank", textrank, Some(textrankSql)),
    QueryDef("q_feature_hash", featureHash, Some(featureHashSql)),
    QueryDef("q_dsir_select", dsirSelect, Some(dsirSelectSql)),
    QueryDef("q_quality_classifier", qualityClassifier, Some(qualityClassifierSql)),
    QueryDef("q_classifier_auc", classifierAuc, Some(classifierAucSql)),
    QueryDef("q_classifier_calibration", classifierCalibration,
      Some(classifierCalibrationSql)),
    QueryDef("q_classifier_calibration_scaled", classifierCalibrationScaled,
      Some(classifierCalibrationSql)),
    QueryDef("q_quality_deciles", qualityDeciles, Some(qualityDecilesSql)),
    QueryDef("q_quality_deciles_scaled", qualityDecilesScaled,
      Some(qualityDecilesSql)),
    QueryDef("q_topk_per_doc", topkPerDoc, Some(topkPerDocSql)),
    QueryDef("q_pmi_pairs", pmiPairs, Some(pmiPairsSql)),
    QueryDef("q_tfidf", tfidf, Some(tfidfSql)),
    QueryDef("q_bm25", bm25, Some(bm25Sql)),
    QueryDef("q_countmin", countMin, Some(countMinSql)),
    QueryDef("q_span_corrupt", spanCorrupt, Some(spanCorruptSql)),
    QueryDef("q_dirichlet_ql", dirichletQl, Some(dirichletQlSql)),
    QueryDef("q_chunk_sliding", chunkSliding, Some(chunkSlidingSql)),
    QueryDef("q_mix_reweight", mixReweight, Some(mixReweightSql)),
    QueryDef("q_temperature_mix", temperatureMix, Some(temperatureMixSql)),
    QueryDef("q_pack_sequences", packSequences, Some(packSequencesSql)),
    QueryDef("q_sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    QueryDef("q_pipeline_e2e", pipelineE2e, Some(pipelineE2eSql)),
    QueryDef("q_profile", profile, Some("""
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
             count(DISTINCT lang) AS ndv_lang,
             count(DISTINCT source) AS ndv_source,
             min(n_chars) AS min_chars,
             max(n_chars) AS max_chars,
             round(avg(n_chars) + 1e-9, 4) AS avg_chars
      FROM documents""")),
    QueryDef("q_token_count", tokenCount, Some("""
      SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
             n_chars
      FROM documents
      ORDER BY doc_id""")),
    QueryDef("q_text_quality", textQuality, Some(s"""
      WITH base AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
               round(length(text) / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) + 1e-9, 4) AS mean_tok_len,
               round(len(list_filter(string_split_regex(trim(text), '\\s+'),
                       t -> t IN ${sqlSet(stopwords)}))
                 / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) + 1e-9, 4) AS stopword_ratio,
               round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                 / CAST(length(text) AS DOUBLE) + 1e-9, 4) AS punct_ratio
        FROM documents)
      SELECT *,
             round((CASE WHEN n_tokens >= 20 THEN 0.5 ELSE 0.0 END
                  + CASE WHEN stopword_ratio > 0.01 THEN 0.3 ELSE 0.0 END
                  + CASE WHEN punct_ratio < 0.1 THEN 0.2 ELSE 0.0 END) + 1e-9, 2)
               AS quality_score
      FROM base
      ORDER BY doc_id""")),
    QueryDef("q_lang_id", langId, Some(langIdSql)),
    QueryDef("q_fingerprint", fingerprint, Some("""
      SELECT doc_id,
             md5(lower(trim(text))) AS fp,
             CAST(concat('0x', substr(md5(lower(trim(text))), 1, 15)) AS BIGINT) AS fp60
      FROM documents
      ORDER BY doc_id""")),
    QueryDef("q_split_assign", splitAssign, Some("""
      WITH assigned AS (
        SELECT doc_id, source,
               CASE
                 WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 8 THEN 'train'
                 WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 = 8 THEN 'val'
                 ELSE 'test'
               END AS split
        FROM documents)
      SELECT source, split, count(*) AS n
      FROM assigned
      GROUP BY source, split
      ORDER BY source, split""")),
    QueryDef("q_epoch_shards", epochShards(2, 8), Some("""
      WITH assigned AS (
        SELECT CAST(e.epoch AS BIGINT) AS epoch, doc_id, source, n_chars,
               CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(e.epoch AS VARCHAR))), 1, 15)) AS BIGINT) % 8 AS shard
        FROM documents
        CROSS JOIN (SELECT 0 AS epoch UNION ALL SELECT 1) e)
      SELECT epoch, shard, count(*) AS n_docs,
             CAST(sum(CAST(floor((n_chars + 3) / 4.0) AS BIGINT)) AS BIGINT) AS n_tokens_est,
             count(DISTINCT source) AS n_sources,
             min(doc_id) AS first_doc
      FROM assigned
      GROUP BY epoch, shard
      ORDER BY epoch, shard""")),
    QueryDef("q_vocab", vocab, Some("""
      SELECT t AS token, count(*) AS freq
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
            FROM documents)
      GROUP BY t
      ORDER BY freq DESC, token
      LIMIT 50""")),
    QueryDef("q_bpe_pairs", bpePairs, Some(bpePairsSql)),
    QueryDef("q_bpe_merges", bpeMerges, Some(s"""
      SELECT merge_rank, lhs, rhs, n
      FROM read_parquet('$BpeMergesToken/*.parquet')
      ORDER BY merge_rank""")),
    QueryDef("q_bpe_tokenize", bpeTokenize, Some(bpeTokenizeSql)),
    QueryDef("q_unigram_pieces", unigramPieces, Some(unigramPiecesSql)),
    QueryDef("q_unigram_tokenize", unigramTokenize, Some(unigramTokenizeSql)),
    QueryDef("q_tok_fertility", tokFertility, Some(tokFertilitySql)),
    QueryDef("q_text_normalize", textNormalize, Some(textNormalizeSql)),
    QueryDef("q_count_of_counts", countOfCounts, Some(countOfCountsSql)),
    QueryDef("q_unigram_logprob", unigramLogprob, Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents),
      freqs AS (SELECT token, count(*) AS freq FROM toks GROUP BY token),
      topv AS (SELECT token, freq FROM (
                 SELECT token, freq,
                        row_number() OVER (ORDER BY freq DESC, token) AS rnk
                 FROM freqs) WHERE rnk <= $VocabK),
      tot AS (SELECT count(*) AS total FROM toks),
      lp AS (SELECT t.doc_id,
                    round(log10(coalesce(CAST(v.freq AS DOUBLE), 0.5) / total)
                      + 1e-8, 6) AS lp
             FROM toks t LEFT JOIN topv v USING (token) CROSS JOIN tot)
      SELECT doc_id,
             count(*) AS n_tokens,
             round(CAST(sum(CAST(round(lp * 1000000) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / count(*) + 1e-9, 4) AS logprob
      FROM lp
      GROUP BY doc_id
      ORDER BY doc_id""")),
    QueryDef("q_bigram_logprob", bigramLogprob, Some(s"""
      WITH $bigramLpdCtes
      SELECT doc_id, n_bigrams, logprob
      FROM lpd
      ORDER BY doc_id""")),
    QueryDef("q_minkprob", minkProb, Some(s"""
      WITH $bigramLpdCtes,
      ranked AS (
        SELECT doc_id, lp,
               row_number() OVER (PARTITION BY doc_id ORDER BY lp, i) AS rk,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM lp),
      sel AS (
        SELECT doc_id, CAST(max(n) AS BIGINT) AS n_bigrams,
               CAST(count(*) AS BIGINT) AS k_used,
               round(CAST(sum(CAST(round(lp * 1000000) AS BIGINT)) AS DOUBLE)
                     / 1000000.0 / count(*) + 1e-9, 4) AS mink_score
        FROM ranked
        WHERE rk <= greatest(1, (n + 4) // 5)
        GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(s.n_bigrams, 0) AS n_bigrams,
             coalesce(s.k_used, 0) AS k_used,
             coalesce(s.mink_score, 0.0) AS mink_score
      FROM documents d LEFT JOIN sel s USING (doc_id)
      ORDER BY d.doc_id""")),
    QueryDef("q_lm_interp", jmInterpLogprob, Some(s"""
      WITH $bigramLpdCtes,
      bgp AS (SELECT b.prev, b.cur, CAST(b.c2 AS DOUBLE) / u.freq AS p_bg
              FROM bgtop b JOIN uni u ON u.token = b.prev),
      lpj AS (SELECT g.doc_id,
                     round(log10(0.7 * coalesce(m.p_bg, 0.0) +
                       0.3 * (coalesce(CAST(v.freq AS DOUBLE), 0.5) / total))
                       + 1e-8, 6) AS lp
              FROM bg g LEFT JOIN bgp m ON m.prev = g.prev AND m.cur = g.cur
                LEFT JOIN topv v ON v.token = g.cur
                CROSS JOIN tot),
      perj AS (SELECT doc_id, count(*) AS n_bigrams,
                      round(CAST(sum(CAST(round(lp * 1000000) AS BIGINT))
                          AS DOUBLE) / 1000000.0 / count(*) + 1e-9, 4)
                        AS logprob
               FROM lpj GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             coalesce(p.logprob, 0.0) AS logprob
      FROM documents d LEFT JOIN perj p USING (doc_id)
      ORDER BY d.doc_id""")),
    QueryDef("q_kneser_ney", knLogprob, Some(s"""
      WITH $bigramLpdCtes,
      bgc AS (SELECT prev, cur, count(*) AS c2 FROM bg GROUP BY prev, cur),
      ntypes AS (SELECT count(*) AS n_types FROM bgc),
      lam AS (SELECT b.prev, max(u.freq) AS c1_lam, count(*) AS n1p_prev
              FROM bgc b JOIN topv u ON u.token = b.prev
              GROUP BY b.prev),
      cont AS (SELECT b.cur, count(*) AS n1p_cur
               FROM bgc b JOIN topv u ON u.token = b.cur
               GROUP BY b.cur),
      bgm2 AS (SELECT b.prev, b.cur, b.c2, u.freq AS c1
               FROM bgtop b JOIN uni u ON u.token = b.prev),
      lpk AS (SELECT g.doc_id,
                     round(log10(
                       CASE WHEN m.c2 IS NOT NULL THEN
                         (m.c2 - 0.75) / m.c1 +
                         coalesce(0.75 * l.n1p_prev / l.c1_lam, 0.75 / m.c1)
                           * (coalesce(CAST(ct.n1p_cur AS DOUBLE), 0.5)
                              / n_types)
                       WHEN l.n1p_prev IS NOT NULL THEN
                         0.75 * l.n1p_prev / l.c1_lam
                           * (coalesce(CAST(ct.n1p_cur AS DOUBLE), 0.5)
                              / n_types)
                       ELSE coalesce(CAST(ct.n1p_cur AS DOUBLE), 0.5)
                              / n_types END)
                       + 1e-8, 6) AS lp
              FROM bg g
              LEFT JOIN bgm2 m ON m.prev = g.prev AND m.cur = g.cur
              LEFT JOIN lam l ON l.prev = g.prev
              LEFT JOIN cont ct ON ct.cur = g.cur
              CROSS JOIN ntypes),
      perk AS (SELECT doc_id, count(*) AS n_bigrams,
                      round(CAST(sum(CAST(round(lp * 1000000) AS BIGINT))
                          AS DOUBLE) / 1000000.0 / count(*) + 1e-9, 4)
                        AS logprob
               FROM lpk GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             coalesce(p.logprob, 0.0) AS logprob
      FROM documents d LEFT JOIN perk p USING (doc_id)
      ORDER BY d.doc_id""")),
    QueryDef("q_trigram_logprob", trigramLogprob, Some(s"""
      WITH $bigramLpdCtes,
      tg AS (
        SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
        FROM t, unnest(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3),
      bgc AS (SELECT prev, cur, count(*) AS c2 FROM bg GROUP BY prev, cur),
      tgtop AS (SELECT w1, w2, w3, c3 FROM (
                  SELECT w1, w2, w3, count(*) AS c3
                  FROM tg GROUP BY w1, w2, w3)
                ORDER BY c3 DESC, w1, w2, w3 LIMIT $TrigramK),
      tgm AS (SELECT g.w1, g.w2, g.w3,
                     round(log10(CAST(g.c3 AS DOUBLE) / b.c2) + 1e-8, 6)
                       AS lp_tg
              FROM tgtop g JOIN bgc b ON b.prev = g.w1 AND b.cur = g.w2),
      lp3 AS (SELECT g.doc_id,
                     coalesce(m.lp_tg,
                       round(log10(0.4) + bm.lp_bg + 1e-8, 6),
                       round(log10(0.4) + log10(0.4) +
                         log10(coalesce(CAST(v.freq AS DOUBLE), 0.5) / total)
                         + 1e-8, 6)) AS lp
              FROM tg g
              LEFT JOIN tgm m
                ON m.w1 = g.w1 AND m.w2 = g.w2 AND m.w3 = g.w3
              LEFT JOIN bgm bm ON bm.prev = g.w2 AND bm.cur = g.w3
              LEFT JOIN topv v ON v.token = g.w3
              CROSS JOIN tot),
      per3 AS (SELECT doc_id, count(*) AS n_trigrams,
                      round(CAST(sum(CAST(round(lp * 1000000) AS BIGINT))
                          AS DOUBLE) / 1000000.0 / count(*) + 1e-9, 4)
                        AS logprob
               FROM lp3 GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(coalesce(p.n_trigrams, 0) AS BIGINT) AS n_trigrams,
             coalesce(p.logprob, 0.0) AS logprob
      FROM documents d LEFT JOIN per3 p USING (doc_id)
      ORDER BY d.doc_id""")),
    QueryDef("q_ccnet_filter", ccnetFilter, Some(s"""
      WITH $bigramLpdCtes,
      q AS (
        SELECT doc_id,
               round((CASE WHEN n_tokens >= 20 THEN 0.5 ELSE 0.0 END) +
                     (CASE WHEN stopword_ratio > 0.01 THEN 0.3 ELSE 0.0 END) +
                     (CASE WHEN punct_ratio < 0.1 THEN 0.2 ELSE 0.0 END)
                     + 1e-9, 2) AS quality_score
        FROM (
          SELECT doc_id,
                 len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
                 round(len(list_filter(string_split_regex(trim(text), '\\s+'),
                     t -> t IN ${sqlSet(stopwords)}))
                   / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                   + 1e-9, 4) AS stopword_ratio,
                 round((length(text) -
                     length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                   / CAST(length(text) AS DOUBLE) + 1e-9, 4) AS punct_ratio
          FROM documents)),
      cuts AS (
        SELECT ${Num.sqlR("quantile_cont(logprob, 2.0/3.0)", 6)} AS c_head,
               ${Num.sqlR("quantile_cont(logprob, 1.0/3.0)", 6)} AS c_tail
        FROM lpd)
      SELECT l.doc_id, l.logprob,
             CASE WHEN l.logprob >= c.c_head THEN 'head'
                  WHEN l.logprob >= c.c_tail THEN 'middle'
                  ELSE 'tail' END AS ppl_bucket,
             q.quality_score,
             (l.logprob >= c.c_tail AND q.quality_score >= 0.5) AS keep
      FROM lpd l
      CROSS JOIN cuts c
      JOIN q ON q.doc_id = l.doc_id
      ORDER BY l.doc_id""")),
    QueryDef("q_edit_distance", editDistance, Some("""
      WITH s AS (SELECT DISTINCT source FROM documents)
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(levenshtein(a.source, b.source) AS BIGINT) AS dist
      FROM s a JOIN s b ON a.source < b.source
      WHERE levenshtein(a.source, b.source) <= 2
      ORDER BY src_a, src_b""")),
    QueryDef("q_repetition", repetition, Some("""
      WITH grams AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                 THEN list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                 ELSE [] END AS grams
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
              FROM documents))
      SELECT doc_id,
             CAST(len(grams) AS BIGINT) AS n_grams,
             CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
             round(CASE WHEN len(grams) > 0
               THEN 1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)
               ELSE 0.0 END + 1e-9, 4) AS rep_ratio
      FROM grams
      ORDER BY doc_id""")),
    QueryDef("q_content_flags", contentFlags, Some("""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
             CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) AS BIGINT) AS n_emails,
             round(CASE WHEN length(text) > 0
               THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / CAST(length(text) AS DOUBLE)
               ELSE 0.0 END + 1e-9, 4) AS digit_ratio
      FROM documents
      ORDER BY doc_id""")),
    QueryDef("q_gopher_rules", gopherRules, Some(gopherRulesSql)),
    QueryDef("q_pii_redact", piiRedact, Some(piiRedactSql)),
    QueryDef("q_winnow", winnow, Some(winnowSql)),
    QueryDef("q_dedup_exact", dedupExact, Some("""
      SELECT min(doc_id) AS canonical_id, count(*) AS n_copies,
             md5(lower(trim(text))) AS fp
      FROM documents
      GROUP BY fp
      ORDER BY canonical_id""")),
  )
}
