package perfbench

import java.io.File
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Keeps the program's staging inside the benchmark's checkout.
  *
  * `graft.sources.Stage` roots every staging path at one fixed absolute
  * directory (the program's `target/stage` where it was first checked
  * out), so a checkout elsewhere would write outside itself. The
  * benchmark does not change that code; like a bind mount, it maps the
  * fixed root onto `target/stage` under the working directory at the
  * local-filesystem layer, for the `FileSystem` and the `FileContext`
  * sides alike. The program still writes, lists, renames and reads back
  * every staged file itself. When the two roots are the same directory
  * nothing is installed. */
object StageRedirect {
  /** The program's fixed staging root, read off `Stage` itself. */
  val programRoot: String =
    graft.sources.Stage.forInput("n", "d").stripSuffix("/n/d")

  /** Where the staging lands: `target/stage` under the working directory. */
  val localRoot: String = new File("target/stage").getAbsolutePath

  private def under(p: String, root: String) = p == root || p.startsWith(root + "/")

  def isProgram(f: File): Boolean = under(f.getPath, programRoot)

  def map(f: File): File =
    if (isProgram(f)) new File(localRoot + f.getPath.substring(programRoot.length)) else f

  /** A status read through the mapping carries the program's path again,
    * so listings and base-path checks see only the program's names. */
  def unmap(st: FileStatus): FileStatus = {
    val p = st.getPath.toUri.getPath
    if (!under(p, localRoot)) st
    else new MappedStatus(st, new Path(st.getPath.toUri.getScheme, null,
      programRoot + p.substring(localRoot.length)))
  }

  /** Points the session's local filesystem at the redirecting adapters.
    * Call before the first job: cached filesystem instances are dropped
    * so every later lookup builds an adapter. */
  def install(spark: SparkSession): Unit =
    if (programRoot != localRoot) {
      // the raw layer creates missing parents along the program's path,
      // so the mapped root must exist before the first write
      new File(localRoot).mkdirs()
      val impls = Seq(
        "fs.file.impl" -> classOf[StageRedirectFileSystem].getName,
        "fs.AbstractFileSystem.file.impl" -> classOf[StageRedirectFs].getName)
      // the context's Hadoop conf, and the session's spark.hadoop.* keys
      // that every query's Hadoop conf is derived from
      impls.foreach { case (k, v) =>
        spark.sparkContext.hadoopConfiguration.set(k, v)
        spark.conf.set(s"spark.hadoop.$k", v)
      }
      FileSystem.closeAll()
    }
}

/** The program's fork-free raw local filesystem with the staging root
  * mapped (see [[StageRedirect]]). Every raw operation resolves its path
  * through `pathToFile`. */
class StageRedirectRawFileSystem extends graft.sources.FastRawLocalFileSystem {
  override def pathToFile(path: Path): File = StageRedirect.map(super.pathToFile(path))

  private def staged(p: Path) = StageRedirect.isProgram(super.pathToFile(p))

  override def getFileStatus(p: Path): FileStatus = {
    val st = super.getFileStatus(p)
    if (staged(p)) StageRedirect.unmap(st) else st
  }

  override def getFileLinkStatus(p: Path): FileStatus = {
    val st = super.getFileLinkStatus(p)
    if (staged(p)) StageRedirect.unmap(st) else st
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    val sts = super.listStatus(p)
    if (staged(p)) sts.map(StageRedirect.unmap) else sts
  }
}

/** A status under another path. Owner, group and permission stay lazy,
  * read from the real status only when asked for. */
final class MappedStatus(real: FileStatus, path: Path) extends FileStatus(
    real.getLen, real.isDirectory, real.getReplication, real.getBlockSize,
    real.getModificationTime, real.getAccessTime, null, null, null, path) {
  override def getPermission: FsPermission = real.getPermission
  override def getOwner: String = real.getOwner
  override def getGroup: String = real.getGroup
}

/** `fs.file.impl`: checksummed local FS over the redirecting raw layer. */
class StageRedirectFileSystem extends LocalFileSystem(new StageRedirectRawFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext side. */
class StageRedirectFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new StageRedirectRawFileSystem, conf, "file", false)
