package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{Bucketing, DocCollection, Stage}

/** Run in a child JVM by the work-dir cleanup test below: stages one
  * work dir and one `forInput` dir, removes the work dirs with a direct
  * call, then stages a second work dir and exits, leaving that one to
  * the shutdown hook. */
object StageExitProbe {
  private def touch(dir: String): String = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "part-0"), Array[Byte](1, 2, 3))
    dir
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val direct = touch(Stage.work(name, "direct"))
    val kept = touch(Stage.forInput(name, "kept"))
    Stage.removeWorkDirs()
    println(s"after-call ${new File(direct).exists} ${new File(kept).exists}")
    println(s"at-exit ${touch(Stage.work(name, "at_exit"))}")
  }
}

/** Run in a child JVM by the Bucketing staging test below: stages one
  * bucketed table with no `CacheScope` open and prints its dir, leaving
  * it to the JVM-exit cleanup. */
object BucketedExitProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[1]", 1).getOrCreate()
    val staged = Bucketing.stageBucketed(spark.range(10).toDF(), "exit_probe", 2, Seq("id"))
    println(s"staged ${new File(new java.net.URI(staged.inputFiles.head)).getParent}")
  }
}

class StageSpec extends SparkSuite {

  /** A plain path or a `file:` URI, under the staging root. */
  private def under(path: String): Boolean = {
    val p = if (path.startsWith("file:")) new java.net.URI(path).getPath else path
    p.startsWith(Stage.root + "/")
  }

  test("Stage.root is target/stage under the working directory") {
    assert(Stage.root == new File("target/stage").getAbsolutePath)
    assert(Stage.forInput("q", "/data/sf0.01") == s"${Stage.root}/q/data_sf0.01")
    assert(Stage.work("q", "/data/sf0.01") ==
      s"${Stage.root}/q/data_sf0.01_p${ProcessHandle.current().pid()}")
  }

  test("a stage dir's name never starts with _ or . (Spark lists such names as hidden)") {
    val pid = ProcessHandle.current().pid()
    for (dir <- Seq("/root/testdata/sf0.01", "/data/sf0.01/", "./target/sf1x",
        "../sf10x", ".hidden/sf", "_sf", "sf0.1")) {
      for (path <- Seq(Stage.forInput("q", dir), Stage.work("q", dir))) {
        val name = new File(path).getName
        assert(!name.startsWith("_") && !name.startsWith("."), s"$dir -> $path")
        assert(new File(path).getParent == s"${Stage.root}/q", s"$dir -> $path")
      }
    }
    assert(Stage.forInput("q", "/root/testdata/sf0.01").endsWith("/q/root_testdata_sf0.01"))
    assert(Stage.work("q", "../sf10x").endsWith(s"/q/sf10x_p$pid"))
  }

  test("work dirs are removed by the cleanup and at JVM exit; forInput stages are kept") {
    val name = s"stage_spec_${System.nanoTime()}"
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val proc = new ProcessBuilder(java, "-cp", System.getProperty("java.class.path"),
        "graft.StageExitProbe", name)
      .directory(new File(".").getAbsoluteFile)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.mkString("\n"))
    val base = new File(Stage.root, name)
    try {
      assert(out.contains("after-call false true"), out.mkString("\n"))
      val atExit = out.collectFirst { case l if l.startsWith("at-exit ") => l.drop(8) }
      assert(atExit.exists(p => under(p) && !new File(p).exists), out.mkString("\n"))
      assert(new File(base, "kept/part-0").exists, "the forInput stage must outlive the JVM")
      assert(base.list().toSet == Set("kept"), base.list().mkString(", "))
    } finally {
      Option(new File(base, "kept").listFiles).foreach(_.foreach(_.delete()))
      new File(base, "kept").delete()
      base.delete()
    }
  }

  test("no source file names this checkout's absolute path") {
    val checkout = new File(".").getCanonicalPath
    val hits = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        new String(Files.readAllBytes(p), "UTF-8").contains(checkout)).toList
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("Outbound, DocCollection and Bucketing stage under Stage.root") {
    assert(under(Outbound.sharedStagePath(sf)))
    assert(under(DocCollection.stageFixture(spark, sf)))
    CacheScope.scoped {
      val staged = Bucketing.stageBucketed(
        spark.range(100).withColumn("k", col("id") % 7), "stage_spec", 4, Seq("k"))
      assert(staged.inputFiles.nonEmpty && staged.inputFiles.forall(under),
        staged.inputFiles.mkString(", "))
      // a Stage.work dir: named for this process
      val dir = new File(new java.net.URI(staged.inputFiles.head)).getParentFile
      assert(dir.getParent == s"${Stage.root}/bucketed" &&
        dir.getName.endsWith(s"_p${ProcessHandle.current().pid()}"), dir)
    }
    // staged with no scope open, the dir is gone once its JVM has exited
    val out = ChildJvm.run("graft.BucketedExitProbe", Nil)
    val dir = out.collectFirst { case l if l.startsWith("staged ") => l.drop(7) }
    assert(dir.exists(d => under(d) && !new File(d).exists), out.mkString("\n"))
  }

  test("q_s13/q_s14 oracles read the gate dir's Stage.forInput path") {
    for (q <- Seq("q_s13_binary_ingest", "q_s14_file_provenance")) {
      val gate = Stage.forInput(q, "/root/testdata/sf0.01")
      assert(SparkEntry.oracleSql(q).contains(s"'$gate/part-*.parquet'"),
        SparkEntry.oracleSql(q))
    }
  }
}
