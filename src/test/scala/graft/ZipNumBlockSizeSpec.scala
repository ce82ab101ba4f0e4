package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ClusterOps
import graft.sources.zipnum.{ZipNumFormat, ZipNumIndex, ZipNumReader}
import graft.sources.zipnum.ZipNumIndex.Slice
import graft.util.KeyOrder

/** Block size is a write-side choice only: one seeded CDX set written with
  * the reference's 3000 lines per block and with the writer's default
  * ([[ZipNumFormat.DefaultLinesPerBlock]]) serves the same lines for exact,
  * prefix and wide bounds through every read API, and the default
  * cluster's full blocks hold exactly the default. */
class ZipNumBlockSizeSpec extends AnyFunSuite with SparkTestSession {

  private lazy val conf = spark.sparkContext.hadoopConfiguration

  /** ~10k sorted CDX-11 lines: zipf-ish captures per host and path, so
    * key runs of one urlkey cross block boundaries at every size. */
  private lazy val lines: IndexedSeq[String] = {
    val r = new java.util.SplittableRandom(2024L)
    (0 until 2900).flatMap { i =>
      val host = s"h${i % 173}"
      val path = s"p/${i % 7}/x${i * 31 % 977}.html"
      Seq.fill(1 + r.nextInt(6)) {
        val ts = f"2024${1 + r.nextInt(12)}%02d${1 + r.nextInt(28)}%02d" +
          f"${r.nextInt(24)}%02d${r.nextInt(60)}%02d${r.nextInt(60)}%02d"
        s"example,$host)/$path $ts http://$host.example/$path text/html " +
          s"${if (r.nextInt(9) == 0) 404 else 200} D${r.nextInt(1 << 20)} - - " +
          s"${200 + r.nextInt(500)} ${r.nextLong(1L << 33)} crawl-${i % 5}.warc.gz"
      }
    }.sorted(KeyOrder)
  }

  /** The reference layout (3000) and the writer's default, the latter
    * built without a `linesPerBlock` argument. */
  private lazy val (reference, default) = {
    val rdd = spark.sparkContext.parallelize(lines.reverse, 5)
    val interior = IndexedSeq(1, 2, 3).map(q =>
      lines(lines.size * q / 4).takeWhile(_ != ' '))
    def dir(name: String) = SparkTestSession.tmpDir(s"zipnum-lpb-$name").toString + "/c"
    val (ref, dflt) = (dir("3000"), dir("default"))
    ClusterOps.build(spark, rdd, ref, interior, linesPerBlock = 3000)
    ClusterOps.build(spark, rdd, dflt, interior)
    (ref, dflt)
  }

  test("the reference's 3000-line blocks and the default serve identical " +
      "lines through ClusterOps.range, localLines and format(\"zipnum\")") {
    assert(lines.size > 9000 && lines.size < 11000, lines.size)
    val keys = lines.map(_.takeWhile(_ != ' ')).distinct
    val k = keys(keys.size / 3)
    val host = k.substring(0, k.indexOf(')'))
    val lo = keys.size * 2 / 3
    // one urlkey, one host prefix, ~1% of the keys
    val bounds = Seq(("exact", k, k + "!"),
      ("prefix", host, host.dropRight(1) + (host.last + 1).toChar),
      ("wide", keys(lo), keys(lo + 50)))
    bounds.foreach { case (kind, start, end) =>
      val want = lines.filter(l => KeyOrder.gteq(l, start) && KeyOrder.lt(l, end))
      assert(want.nonEmpty, s"$kind [$start, $end) selects nothing")
      Seq(reference, default).foreach { dir =>
        val what = s"$dir $kind [$start, $end)"
        assert(ClusterOps.range(conf, Some(start), Some(end), Seq(dir)).toSeq == want,
          s"range, $what")
        assert(ZipNumReader.localLines(conf, dir, Some(start), Some(end)).toSeq == want,
          s"localLines, $what")
        val pred = kind match {
          case "exact" => col("urlkey") === start
          case "prefix" => col("urlkey").startsWith(start)
          case _ => col("urlkey") >= start && col("urlkey") < end
        }
        val scanned = spark.read.format("zipnum").load(dir).where(pred).collect()
          .map(_.toSeq.map(v => if (v == null) "-" else v.toString).mkString(" "))
          .toSeq.sorted(KeyOrder)
        // no key is a prefix of another key's line, so the urlkey predicates
        // select exactly the bounds' lines
        assert(scanned == want, s"format(zipnum), $what")
      }
    }
  }

  test("the default cluster's full blocks hold DefaultLinesPerBlock lines, " +
      "and its summary has a line per block") {
    val blocks = ZipNumIndex.load(default, conf).blocks
    val sizes = blocks.map(b => ZipNumReader.readSlice(conf,
      Slice(s"$default/${b.part}.gz", b.offset, b.length, 1), None, None).size)
    assert(sizes.sum == lines.size)
    // each of the 4 ~2.5k-line shards is cut into full blocks and one partial
    assert(sizes.max == ZipNumFormat.DefaultLinesPerBlock, sizes)
    assert(blocks.map(_.part).distinct.size == 4)
    assert(blocks.size <= lines.size / ZipNumFormat.DefaultLinesPerBlock + 4)
    assert(ZipNumIndex.load(reference, conf).blocks.size == 4)
  }
}
