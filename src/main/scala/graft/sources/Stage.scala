package graft.sources

import java.io.{File, IOException, UncheckedIOException}
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.util.Using

import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager

/** The one staging-path scheme. Every path the engine stages to (registry
  * queries that write-then-read, `Outbound`, `Bucketing`,
  * `DocCollection`, tests) is built under [[root]]:
  * `target/stage` under the working directory, resolved once per JVM, so
  * a checkout or a copy of it stages inside itself and never in another.
  *
  * [[forInput]] keys the path on the input dir: one stage per
  * (query, corpus), stable across runs, so two sessions at DIFFERENT
  * scale factors never overwrite each other's stage mid-read (the r13
  * fixed-path hazard). It is the form for stages an ORACLE reads back by
  * path after the JVM ends (q_s13/q_s14's DuckDB twins), so it is kept.
  *
  * [[work]] additionally suffixes the owning process id: unique per
  * (query, corpus, process), the form for write-then-reread scratch that
  * nothing outside this process reads. Each work dir handed out is
  * deleted when the JVM exits: lazy frames over it (registry queries
  * that Verify, Bench or a host writes later) stay readable for the
  * whole run, so no scope can own its lifetime.
  */
object Stage {
  val root: String = new File("target/stage").getAbsolutePath

  /** The input dir as one path segment. A leading `_`/`.` run is dropped:
    * Spark's file listing treats such a name as hidden and skips it. */
  private def tag(dir: String): String =
    dir.stripSuffix("/").replaceAll("[^A-Za-z0-9._-]", "_")
      .replaceFirst("^[_.]+", "")

  def forInput(name: String, dir: String): String =
    s"$root/$name/${tag(dir)}"

  private val workDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def work(name: String, dir: String): String = {
    val path = s"${forInput(name, dir)}_p${ProcessHandle.current().pid()}"
    workDirs.add(path)
    path
  }

  /** Deletes every work dir handed out so far. Runs once at JVM exit,
    * after Spark's own hook has stopped the context (Hadoop runs higher
    * priorities first; Spark's hook sits at FileSystem's + 30), so no
    * running query still writes into a dir being removed. A dir that
    * cannot be removed is left as it is; the others are still removed. */
  private[graft] def removeWorkDirs(): Unit =
    workDirs.forEach { p =>
      try Using.resource(Files.walk(Paths.get(p))) { tree =>
        tree.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      } catch { case _: IOException | _: UncheckedIOException => () }
    }

  ShutdownHookManager.get().addShutdownHook(() => removeWorkDirs(),
    FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)
}
