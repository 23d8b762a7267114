package graft

import java.nio.file.{Files, Paths}
import graft.queries.{DedupQueries, MultimodalQueries, SimilarityQueries,
  TextQueries}
import graft.sources.Artifacts

/** The artifact table's set-up contract, the one every tool relies on:
  * `ensureAll` trains what the lake has a source table for, one bad
  * artifact never skips the rest, and a second call rewrites nothing. */
class ArtifactsSpec extends SparkSpec with TempLakes {
  /** A private lake (artifacts are keyed by the dir's absolute path, so
    * nothing here collides with other suites' sf0.001 artifacts) holding
    * a copy of sf0.001's documents, plus an `embeddings.parquet` of
    * garbage bytes when asked. */
  private def lake(tag: String, garbageEmbeddings: Boolean): String = {
    val dir = tempLake(s"graft_artifacts_$tag")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(s"$dir/documents.parquet"))
    if (garbageEmbeddings)
      Files.write(Paths.get(s"$dir/embeddings.parquet"),
        Array.tabulate[Byte](4096)(i => (i * 31 + 7).toByte))
    dir
  }

  /** The `_SUCCESS` witness of each row that is not a slice ladder
    * (ladder rows witness through their committed bound). */
  private def witness(dir: String): Map[String, String] = Map(
    "ivf_centroids" -> SimilarityQueries.ivfModelPath(dir),
    "pq_codes" -> SimilarityQueries.pqCodesPath(dir),
    "bpe_merges" -> TextQueries.bpeModelPath(dir),
    "unigram_pieces" -> TextQueries.unigramModelPath(dir),
    "text_cluster_labels" -> DedupQueries.clusterModelPath(dir, "text"),
    "image_cluster_labels" -> DedupQueries.clusterModelPath(dir, "media"),
    "video_cluster_labels" -> DedupQueries.clusterModelPath(dir, "video"),
    "audio_cluster_labels" -> DedupQueries.clusterModelPath(dir, "audio")
  ).map { case (k, v) => k -> s"$v/_SUCCESS" }

  private def trained(dir: String)(a: graft.sources.Artifact): Boolean =
    a.ladder match {
      case Some(mk) => mk(dir).bound(spark).isDefined
      case None => new java.io.File(witness(dir)(a.name)).exists()
    }

  /** Every directory this lake's artifacts live in. */
  private def roots(dir: String): Seq[java.io.File] =
    (Artifacts.all.flatMap(_.ladder).map(mk => new java.io.File(mk(dir).base)) ++
      witness(dir).values.map(w => new java.io.File(w).getParentFile.getParentFile))
      .distinct

  /** Every `_SUCCESS` file under the lake's artifact dirs → its mtime. */
  private def successStamps(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    roots(dir).flatMap(walk).filter(_.getName == "_SUCCESS")
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  private def cleanUp(dir: String): Unit = {
    Artifacts.all.flatMap(_.ladder).foreach(mk => mk(dir).drop(spark))
    roots(dir).foreach(r => org.apache.commons.io.FileUtils.deleteQuietly(r))
    DedupQueries.clearShingleCache()
    MultimodalQueries.clearMediaSigCache()
  }

  test("artifact paths are byte-identical to the ones already on disk") {
    // artifacts trained by earlier builds stay valid only while every
    // path function keeps its exact string: root, kind, version, the
    // lake's basename and the 8-hex MD5 tag of its absolute path
    val d = "/root/testdata/sf0.001"
    val root = new java.io.File("target").getAbsolutePath
    val paths = Seq(
      DedupQueries.shingleIndexBase(d) ->
        s"$root/shingles/v2-df1000/sf0.001-a1e8d12c",
      DedupQueries.clusterModelPath(d, "media") ->
        s"$root/clusters/v1/sf0.001-a1e8d12c/labels-media.parquet",
      SimilarityQueries.ivfModelPath(d) ->
        s"$root/ivf/v2-nl16/sf0.001-a1e8d12c/centroids.parquet",
      SimilarityQueries.ivfAssignBase(d) ->
        s"$root/ivf-assign/v1-m2-nl16/sf0.001-a1e8d12c",
      SimilarityQueries.pqModelPath(d) ->
        s"$root/pq/v1/sf0.001-a1e8d12c/codebooks.parquet",
      TextQueries.bpeModelPath(d) ->
        s"$root/bpe/v1/sf0.001-a1e8d12c/merges.parquet",
      TextQueries.unigramModelPath(d) ->
        s"$root/unigram/v1/sf0.001-a1e8d12c/pieces.parquet",
      MultimodalQueries.Image.index(d).base ->
        s"$root/media-sigs/v1-a1/sf0.001-a1e8d12c",
      MultimodalQueries.Audio.index(d).base ->
        s"$root/media-sigs/v1-fp48/sf0.001-a1e8d12c",
      MultimodalQueries.Video.index(d).base ->
        s"$root/media-sigs/v1-vsc63/sf0.001-a1e8d12c")
    paths.foreach { case (got, want) => assert(got == want) }
  }

  test("every non-ladder row has a witness in this spec") {
    assert(Artifacts.all.filter(_.ladder.isEmpty).map(_.name).toSet ==
      witness("x").keySet)
    assert(Artifacts.all.map(_.name).distinct.size == Artifacts.all.size)
  }

  test("ensureAll on a documents-only lake trains every documents row, skips the embeddings rows, and a second call rewrites nothing") {
    val dir = lake("docs", garbageEmbeddings = false)
    try {
      Artifacts.ensureAll(spark, dir)
      val (docs, emb) = Artifacts.all.partition(_.source == "documents")
      assert(emb.map(_.name).toSet ==
        Set("ivf_centroids", "ivf_assignments", "pq_codes"))
      docs.foreach(a => assert(trained(dir)(a), s"${a.name} not trained"))
      emb.foreach(a => assert(!trained(dir)(a), s"${a.name} trained"))
      val before = successStamps(dir)
      assert(before.size >= docs.size, s"too few witnesses: $before")
      Thread.sleep(1100) // past coarse (1 s) mtime granularity
      Artifacts.ensureAll(spark, dir)
      assert(successStamps(dir) == before,
        "a second ensureAll rewrote an artifact")
    } finally cleanUp(dir)
  }

  test("one bad artifact does not skip the rest: garbage embeddings fail their rows once, every documents row still trains") {
    val dir = lake("garbage", garbageEmbeddings = true)
    try {
      val ex = intercept[RuntimeException](Artifacts.ensureAll(spark, dir))
      assert(ex.getMessage.contains("artifact 'ivf_centroids' failed"),
        ex.getMessage)
      // the rows that fail are exactly the embeddings-sourced ones: the
      // centroids on the garbage bytes, and the two that need them
      assert(ex.getSuppressed.map(_.getMessage).toSet ==
        Artifacts.all.filter(_.source == "embeddings")
          .map(a => s"artifact '${a.name}' failed").toSet)
      Artifacts.all.filter(_.source == "documents").foreach(a =>
        assert(trained(dir)(a), s"${a.name} skipped after the failure"))
    } finally cleanUp(dir)
  }
}
