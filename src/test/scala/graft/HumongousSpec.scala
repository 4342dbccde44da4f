package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.sun.management.HotSpotDiagnosticMXBean
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Runs `q_flagship_curation` once under a JFR recording of every
  * allocation made outside a TLAB, then prints one line per humongous
  * allocation (at least half a G1 region, header included) that is a
  * Spark page or broadcast chunk: `humongous <site> <bytes> <callers>`,
  * and last `threshold <bytes> events <n>`. A page is what
  * `TaskMemoryManager.allocatePage` allocates, except the pointer
  * arrays `MemoryConsumer.allocateArray` asks it for: those are sized by
  * the rows a sorter or hash map holds, not by `spark.buffer.pageSize`.
  * [[HumongousSpec]] starts it in a fresh JVM on G1. */
object HumongousProbe {
  private val sites = Seq(
    "org.apache.spark.memory.TaskMemoryManager.allocatePage",
    "org.apache.spark.broadcast.TorrentBroadcast$.blockifyObject")
  private val rowSized = "org.apache.spark.memory.MemoryConsumer.allocateArray"

  def main(args: Array[String]): Unit = {
    val threshold = ManagementFactory
      .getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
      .getVMOption("G1HeapRegionSize").getValue.toLong / 2
    val rec = new Recording()
    rec.enable("jdk.ObjectAllocationOutsideTLAB").withStackTrace()
    rec.start()
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    CacheScope.scoped {
      SparkEntry.queries("q_flagship_curation")(spark, args(0)).count()
    }
    rec.stop()
    val file = Files.createTempFile(Files.createDirectories(
      Paths.get(sources.Stage.root)), "humongous", ".jfr")
    rec.dump(file)
    rec.close()
    spark.stop()
    val events = RecordingFile.readAllEvents(file).asScala
    Files.delete(file)
    for (e <- events if e.getLong("allocationSize") >= threshold;
         frames = Option(e.getStackTrace).fold(Seq.empty[String])(
           _.getFrames.asScala.toSeq.map(f =>
             f.getMethod.getType.getName + "." + f.getMethod.getName));
         i = frames.indexWhere(sites.contains)
         if i >= 0 && !frames.lift(i + 1).contains(rowSized))
      println(s"humongous ${frames(i)} ${e.getLong("allocationSize")} " +
        frames.slice(i + 1, i + 5).mkString("<"))
    println(s"threshold $threshold events ${events.size}")
  }
}

/** Spark's pages and broadcast chunks stay out of G1's humongous regions
  * in a session from [[GraftSession.builder]] (see its scaladoc). */
class HumongousSpec extends SparkSuite {

  test("no page or broadcast chunk of a flagship run is a humongous object") {
    // a smaller heap (1 MB regions, the smallest G1 has), on G1 whatever the box
    val out = ChildJvm.run("graft.HumongousProbe", Seq("-Xmx2g", "-XX:+UseG1GC"), sf)
    val events = out.collectFirst {
      case l if l.startsWith("threshold ") => l.split(" ")(3).toLong
    }.getOrElse(fail(out.takeRight(40).mkString("\n")))
    val humongous = out.filter(_.startsWith("humongous "))
    info(s"$events allocations outside TLABs, ${humongous.size} humongous " +
      "from a page or a broadcast chunk")
    assert(events > 0)
    assert(humongous.isEmpty, humongous.groupBy(identity)
      .map { case (l, ls) => s"${ls.size} × $l" }.mkString("\n"))
  }

  test("the benchmark's 4 GB heap gets 512 KB pages and broadcast chunks") {
    val s = GraftSession.bufferSizes(4L << 30, 2L << 20)
    assert(s == GraftSession.BufferSizes(512L << 10, 512L << 10))
  }

  test("the keys are set for a local master only, from this JVM") {
    for (m <- Seq("yarn", "spark://host:7077", "local-cluster[2,1,1024]"))
      assert(GraftSession.bufferConf(m).isEmpty, m)
    val local = GraftSession.bufferConf("local[4]")
    val conf = spark.sparkContext.getConf
    for (k <- Seq("spark.buffer.pageSize", "spark.broadcast.blockSize"))
      assert(conf.getOption(k) == local.get(k), k)
    assert(local.isEmpty == ManagementFactory.getGarbageCollectorMXBeans
      .asScala.forall(!_.getName.startsWith("G1")))
  }
}
