package graft.sources

import org.apache.spark.sql.SparkSession

/** One persisted artifact the engine derives from a lake dir.
  * `source` is the lake table it is built from (`documents` or
  * `embeddings`); `ensure` is its idempotent trainer (a no-op when the
  * artifact already covers the source); `ladder` is set for the
  * append-maintained slice-ladder artifacts only — the ones
  * [[Maintenance.runAll]] merges and collects trash for. */
final case class Artifact(name: String, source: String,
    ensure: (SparkSession, String) => Unit,
    ladder: Option[String => SliceLadder] = None)

/** The ONE list of persisted artifacts. Every tool's set-up trains
  * through [[ensureAll]] and [[Maintenance]] iterates the ladder rows,
  * so adding an artifact is one row here. Rows are in dependency order:
  * IVF centroids before the inverted file that assigns against them,
  * each signature index (and the shingle index) before the cluster
  * labels trained over it. Names are the ones the benchmark reports
  * (`sources.train_ms.<name>`); a ladder row's first word is its
  * maintenance leg name. */
object Artifacts {
  import graft.queries.{DedupQueries => D, MultimodalQueries => M,
    SimilarityQueries => S, TextQueries => T}

  val all: Seq[Artifact] = Seq(
    Artifact("shingle_index", "documents",
      D.trainShingleIndex(_, _), Some(D.shingleIndex)),
    Artifact("ivf_centroids", "embeddings", S.trainIvfCentroids),
    Artifact("ivf_assignments", "embeddings",
      S.trainIvfAssignments(_, _), Some(S.ivfAssignIndex)),
    Artifact("pq_codes", "embeddings", S.trainPqCodes),
    Artifact("bpe_merges", "documents", T.trainBpeMerges),
    Artifact("unigram_pieces", "documents", T.trainUnigramPieces),
    Artifact("text_cluster_labels", "documents", D.Text.trainClusterLabels),
    Artifact("audio_sig_index", "documents",
      (s, d) => M.Audio.index(d).train(s), Some(M.Audio.index)),
    Artifact("video_sig_index", "documents",
      (s, d) => M.Video.index(d).train(s), Some(M.Video.index)),
    Artifact("image_sig_index", "documents",
      (s, d) => M.Image.index(d).train(s), Some(M.Image.index)),
    Artifact("image_cluster_labels", "documents",
      M.Image.trainClusterLabels),
    Artifact("video_cluster_labels", "documents",
      M.Video.trainClusterLabels),
    Artifact("audio_cluster_labels", "documents",
      M.Audio.trainClusterLabels))

  /** Where `kind`'s artifact for lake `dir` lives, at scheme `version`
    * (bumped when the training code changes, so a stale artifact is
    * never reused): `<root>/<kind>/<version>/<name>-<tag>`, where
    * `<root>` is the `target` dir of the working directory (the
    * repository root when run through sbt or perfbench).
    * The tag is the first 8 hex digits of the MD5 of the ABSOLUTE dir,
    * so two lakes that share a basename never share an artifact; the
    * basename is kept for readability. Callers append their file name. */
  def path(kind: String, version: String, dir: String): String = {
    val f = new java.io.File(dir)
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(f.getAbsolutePath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    s"$root/$kind/$version/${f.getName}-$tag"
  }

  private val root = new java.io.File("target").getAbsolutePath

  /** Resolve the artifact-path tokens an oracle SQL string carries (the
    * IVF centroids, PQ codebooks, BPE merges, unigram pieces and every
    * modality's cluster labels) to lake `dir`'s artifact paths. */
  def resolveTokens(sql: String, dir: String): String =
    (Seq(S.IvfCentroidsToken -> S.ivfModelPath(dir),
      S.PqCodebooksToken -> S.pqModelPath(dir),
      T.BpeMergesToken -> T.bpeModelPath(dir),
      T.UnigramPiecesToken -> T.unigramModelPath(dir)) ++
      Seq(D.Text, M.Image, M.Audio, M.Video).map(m =>
        D.clusterLabelsToken(m.kind) -> D.clusterModelPath(dir, m.kind)))
      .foldLeft(sql) { case (s, (token, path)) => s.replace(token, path) }

  /** Train every artifact whose source table exists in `dir` — a
    * documents-only corpus gets the documents-derived artifacts and no
    * error for the missing embeddings. Rows are independent past their
    * order: one failure does not stop the rows after it, and every
    * failure is rethrown once at the end (a row that depends on a failed
    * one fails too, and is named too). */
  def ensureAll(spark: SparkSession, dir: String): Unit = {
    val present = all.filter(a =>
      Connectors.pathExists(spark, s"$dir/${a.source}.parquet"))
    runIsolated("artifact", present)(_.name)(_.ensure(spark, dir))(
      done => s"${done.size} other artifact(s) ensured")
  }

  /** Run `f` on every item; a failing item never stops the ones after
    * it. Each failure is wrapped as "`kind` '`name`' failed", and all of
    * them are thrown ONCE at the end, after every item had its turn, as
    * one exception whose message names each failed item with its root
    * cause (`done` describes what the other items completed); the full
    * traces ride as suppressed exceptions. Returns every result when
    * nothing failed. */
  private[sources] def runIsolated[T, A](kind: String, items: Seq[T])(
      name: T => String)(f: T => A)(done: Seq[A] => String): Seq[A] = {
    val outcomes = items.map { t =>
      try Right(f(t))
      catch { case scala.util.control.NonFatal(e) =>
        Left(new RuntimeException(s"$kind '${name(t)}' failed", e)) }
    }
    val errors = outcomes.collect { case Left(e) => e }
    val results = outcomes.collect { case Right(a) => a }
    if (errors.nonEmpty) {
      // the per-item root causes belong in the MESSAGE: schedulers and
      // test reports routinely print only getMessage, and a composite
      // that says "1 leg failed" without the why costs a log dive per
      // incident (suppressed exceptions still carry the full traces)
      val causes = errors.map { e =>
        // bounded walk: a deserialized/hand-built cause CYCLE must not
        // hang the error-reporting path itself (20 levels is far past
        // any real chain; on a cycle the 20th element stands in for the
        // root, which still names the failure)
        val root = Iterator.iterate(e: Throwable)(_.getCause)
          .take(20).takeWhile(_ != null).toSeq.last
        s"${e.getMessage}: ${root.getClass.getSimpleName}: ${root.getMessage}"
      }.mkString("; ")
      val ex = new RuntimeException(
        s"${errors.size} $kind(s) failed (${done(results)}): $causes")
      errors.foreach(ex.addSuppressed)
      throw ex
    }
    results
  }
}
