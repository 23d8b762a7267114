package graft.perfbench

import java.io.File
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** Relocates the engine's persisted artifacts into the benchmark's own
  * work directory.
  *
  * The engine builds every artifact path under one fixed absolute root
  * (see `SimilarityQueries.ivfModelPath` and its siblings) and does all
  * artifact I/O through Hadoop's `file:` filesystem. The benchmark puts
  * `core-site.xml` on the classpath so that `file:` resolves to
  * [[ArtifactLocalFs]], which rewrites any path under that root to the
  * same relative path under [[ArtifactFs.target]]. Paths outside the root
  * pass through unchanged, so the lake, checkpoints and Spark's own
  * scratch files are untouched. The engine's code runs as shipped.
  *
  * Clearing the engine's per-lake directories under that root before and
  * after a run would not be enough: the root is an absolute path outside
  * the checkout the benchmark runs from, and the benchmark reads and
  * writes only inside its checkout.
  */
object ArtifactFs {
  @volatile private var mapping: Option[(String, String)] = None

  /** Route `root`/… to `target`/… from now on. Both end without '/'. */
  def install(root: String, target: String): Unit =
    mapping = Some((root.stripSuffix("/"), target.stripSuffix("/")))

  /** The local path `p` is stored at. */
  def map(p: String): String = mapping match {
    case Some((root, to)) => swapPrefix(p, root, to)
    case None => p
  }

  /** The engine-side path of the stored file at `p`. */
  def unmap(p: String): String = mapping match {
    case Some((root, to)) => swapPrefix(p, to, root)
    case None => p
  }

  private def swapPrefix(p: String, from: String, to: String): String =
    if (p == from || p.startsWith(from + "/")) to + p.substring(from.length) else p
}

/** `RawLocalFileSystem` resolves every operation's path through
  * `pathToFile`, so rewriting there covers open, create, rename, delete,
  * list, mkdirs and status alike. Statuses are built from the stored
  * file, so their paths are mapped back: Spark's file index and
  * partition discovery must see the paths the engine asked for. */
class ArtifactRawFs extends RawLocalFileSystem {
  override def pathToFile(path: Path): File = {
    val f = super.pathToFile(path)
    val mapped = ArtifactFs.map(f.getPath)
    if (mapped eq f.getPath) f else new File(mapped)
  }

  private def engineSide(s: FileStatus): FileStatus = {
    val uri = s.getPath.toUri
    val p = ArtifactFs.unmap(uri.getPath)
    if (p ne uri.getPath) s.setPath(new Path(uri.getScheme, uri.getAuthority, p))
    s
  }

  override def getFileStatus(p: Path): FileStatus = engineSide(super.getFileStatus(p))
  override def getFileLinkStatus(p: Path): FileStatus =
    engineSide(super.getFileLinkStatus(p))
  override def listStatus(p: Path): Array[FileStatus] =
    super.listStatus(p).map(engineSide)
}

/** The checksummed `file:` filesystem over [[ArtifactRawFs]]. */
class ArtifactLocalFs extends LocalFileSystem(new ArtifactRawFs)
