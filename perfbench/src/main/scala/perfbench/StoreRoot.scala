package perfbench

import java.io.File
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The engine writes its persisted stores under fixed `/tmp/graft_*`
  * workspaces. A benchmark run may only write inside its checkout, so the
  * session's `file:` file system is this one: the local file system with
  * every path under `/tmp/graft_` moved into the run's work directory.
  * Every other path is left as it is, and the statuses it hands back name
  * the paths the caller asked for, so Spark's file listings line up with
  * the table locations it holds.
  */
final class StoreRootFs extends LocalFileSystem(new StoreRootFs.Raw)

object StoreRoot {

  /** The Hadoop conf key that names the directory stores land in. */
  val ConfKey = "perfbench.store.root"
  val Prefix = "/tmp/graft_"

  /** Session confs that install the redirect, with stores under `root`. */
  def confs(root: String): Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[StoreRootFs].getName,
    s"spark.hadoop.$ConfKey" -> root)

  /** `path` under `root` when it names a store workspace. */
  def redirect(path: String, root: String): String =
    if (path.startsWith(Prefix)) root + "/" + path.stripPrefix("/tmp/") else path

  /** The inverse of [[redirect]]. */
  def restore(path: String, root: String): String =
    if (path.startsWith(root + "/graft_")) "/tmp/" + path.stripPrefix(root + "/") else path

  /** Files below `root` (checksum files left out) and their bytes. */
  def usage(root: String): (Int, Long) = {
    def walk(f: File): Seq[File] =
      Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(if (f.isFile) Seq(f) else Nil)
    val fs = walk(new File(root)).filterNot(_.getName.endsWith(".crc"))
    (fs.size, fs.map(_.length).sum)
  }
}

object StoreRootFs {
  final class Raw extends RawLocalFileSystem {
    @volatile private var root: String = _

    override def initialize(uri: URI, conf: Configuration): Unit = {
      super.initialize(uri, conf)
      root = conf.get(StoreRoot.ConfKey)
    }

    override def pathToFile(path: Path): File = {
      val f = super.pathToFile(path)
      if (root == null) f else new File(StoreRoot.redirect(f.getPath, root))
    }

    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(restore)
    override def getFileStatus(f: Path): FileStatus = restore(super.getFileStatus(f))
    override def getFileLinkStatus(f: Path): FileStatus = restore(super.getFileLinkStatus(f))

    private def restore(st: FileStatus): FileStatus = {
      val uri = st.getPath.toUri
      val path = if (root == null) uri.getPath else StoreRoot.restore(uri.getPath, root)
      if (path == uri.getPath) st
      else new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner, st.getGroup,
        new Path(uri.getScheme, uri.getAuthority, path))
    }
  }
}
