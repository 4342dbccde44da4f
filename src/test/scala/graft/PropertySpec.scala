package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, forAllNoShrink, propBoolean}

import graft.functions.TopKDoubles
import graft.sources.JobConfig

/** Property-based invariants for the driver-independent pure logic. */
object PropertySpec extends Properties("graft") {

  private val agg = new TopKDoubles(5)

  property("TopKDoubles.reduce keeps k largest, sorted desc") =
    forAll { (xs: List[Double]) =>
      val got = xs.foldLeft(agg.zero)(agg.reduce)
      got == xs.sorted(Ordering[Double].reverse).take(5)
    }

  property("TopKDoubles.merge is order-insensitive and equals global top-k") =
    forAll { (a: List[Double], b: List[Double]) =>
      val pa = a.foldLeft(agg.zero)(agg.reduce)
      val pb = b.foldLeft(agg.zero)(agg.reduce)
      val want = (a ++ b).sorted(Ordering[Double].reverse).take(5)
      agg.merge(pa, pb) == want && agg.merge(pb, pa) == want
    }

  property("JobConfig splits arbitrary env/db/table names") =
    forAll { (db0: String, tbl0: String) =>
      val db = "d" + db0.filter(_.isLetterOrDigit)
      val tbl = "t" + tbl0.filter(_.isLetterOrDigit)
      val c = JobConfig.fromJobName(s"env-$db-$tbl-job", "20240101", "/o")
      c.database == db && c.targetTable == tbl
    }

  // heaps from 512 MB to 256 GB, any byte count and the powers of two;
  // every G1 region size a HotSpot JVM accepts (1 MB to 512 MB)
  private val heaps = Gen.frequency(
    3 -> Gen.choose(512L << 20, 256L << 30),
    1 -> Gen.choose(29, 38).map(1L << _))
  private val regions = Gen.choose(20, 29).map(1L << _)

  property("bufferSizes: 8192 pages cover the heap; buffers stay under " +
      "G1's humongous threshold wherever the page table allows it") =
    // unshrunk: shrinking would leave the generators' domain
    forAllNoShrink(heaps, regions) { (heap, region) =>
      import GraftSession.{ArrayHeaderBytes => hdr, PageTableSize => pages}
      val s = GraftSession.bufferSizes(heap, region)
      def small(bytes: Long) = bytes + hdr < region / 2
      // the smallest page, 8-byte aligned, that (a) allows
      val least = ((heap + pages - 1) / pages + 7) / 8 * 8
      Prop.all(
        (pages * s.pageBytes >= heap) :| "(a) page table covers the heap",
        (!small(least) || small(s.pageBytes)) :| "(b) page under the threshold",
        small(s.blockBytes) :| "(b) chunk under the threshold",
        (s.blockBytes <= (4L << 20)) :| "chunk at most Spark's 4 MB",
        (s.pageBytes % 8 == 0 && s.blockBytes % 8 == 0) :| "8-byte aligned")
    }
}
