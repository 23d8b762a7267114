package graft

import java.io.File
import org.scalatest.{Outcome, TestSuite}
import graft.queries.{DedupQueries, MultimodalQueries, SimilarityQueries,
  TextQueries}

/** Lakes a test makes for itself. The engine keeps every artifact of a
  * lake under one shared root, in dirs keyed by the lake's absolute path
  * ([[graft.sources.Artifacts.path]]), so a temp lake's artifacts outlive
  * the lake unless someone deletes them. A dir handed out by [[tempLake]]
  * or registered with [[ownLake]] has its artifact dirs — found through
  * the engine's own path functions — and the lake itself deleted when the
  * test ends, pass or fail. */
trait TempLakes extends TestSuite {
  private val owned = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** A fresh, empty lake dir under the system temp dir. */
  def tempLake(prefix: String): String =
    ownLake(java.nio.file.Files.createTempDirectory(prefix).toString)

  /** A fresh lake holding a copy of sf0.001's `tables`. */
  def tempLakeOf(prefix: String, tables: String*): String = {
    val dir = tempLake(prefix)
    tables.foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
      java.nio.file.Paths.get(s"$dir/$t.parquet")))
    dir
  }

  /** Register `dir` as a lake the running test owns. */
  def ownLake(dir: String): String = { owned.add(dir); dir }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally if (!owned.isEmpty) {
      // the session caches hold checkpointed reads of these lakes
      DedupQueries.clearShingleCache()
      MultimodalQueries.clearMediaSigCache()
      while (!owned.isEmpty) {
        val dir = owned.poll()
        (TempLakes.artifactDirs(dir) :+ dir).foreach(d =>
          org.apache.commons.io.FileUtils.deleteQuietly(new File(d)))
      }
    }
}

object TempLakes {
  /** Every dir the engine keeps artifacts of lake `dir` in. */
  def artifactDirs(dir: String): Seq[String] = {
    def parent(p: String) = new File(p).getParent
    Seq(DedupQueries.shingleIndexBase(dir),
      parent(DedupQueries.clusterModelPath(dir, "text")),
      parent(SimilarityQueries.ivfModelPath(dir)),
      SimilarityQueries.ivfAssignBase(dir),
      parent(SimilarityQueries.pqModelPath(dir)),
      parent(TextQueries.bpeModelPath(dir)),
      parent(TextQueries.unigramModelPath(dir))) ++
      Seq(MultimodalQueries.Image, MultimodalQueries.Audio,
        MultimodalQueries.Video).map(_.index(dir).base)
  }
}
