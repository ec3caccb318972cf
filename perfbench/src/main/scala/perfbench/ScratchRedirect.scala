package perfbench

import java.io.File
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** graft derives its layouts under a fixed absolute root
  * (`graft.operators.Lake.scratch`). The benchmark must read and write
  * only inside its own checkout, so the session's `file:` filesystem
  * maps that root onto a directory of the checkout. Every local path
  * operation of Hadoop's raw local filesystem resolves through
  * `pathToFile`, so remapping there moves reads, writes, listings,
  * renames and deletes alike. Statuses are handed back under the
  * original root, so a listing's children stay under the path that
  * was listed (Spark's file index relies on that). Paths outside the
  * root are untouched.
  *
  * Configured by `perfbench.scratch.from` and `perfbench.scratch.to`. */
final class ScratchRedirectRawFs extends RawLocalFileSystem {
  @volatile private var from: String = ""
  @volatile private var to: String = ""

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    from = conf.get("perfbench.scratch.from", "")
    to = conf.get("perfbench.scratch.to", "")
  }

  override def pathToFile(path: Path): File = {
    val f = super.pathToFile(path)
    val s = f.getPath
    if (from.nonEmpty && (s == from || s.startsWith(from + "/")))
      new File(to + s.substring(from.length))
    else f
  }

  private def back(st: FileStatus): FileStatus = {
    val p = st.getPath.toUri.getPath
    if (to.nonEmpty && (p == to || p.startsWith(to + "/")))
      st.setPath(makeQualified(new Path(from + p.substring(to.length))))
    st
  }

  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(back)
  override def getFileStatus(f: Path): FileStatus = back(super.getFileStatus(f))
  override def getFileLinkStatus(f: Path): FileStatus = back(super.getFileLinkStatus(f))
}

final class ScratchRedirectFs extends LocalFileSystem(new ScratchRedirectRawFs)
