package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.FsTools
import graft.server.{GzRangeClient, GzRangeServer}
import graft.sources.warc.GzipMembers

/** Property-based invariants of the round-16 plumbing (deterministic
  * seeds — same samples every run, like [[PropertySpec]]): fs-cat's
  * range semantics and the gz-range client's rotation algebra. */
class FsAndGzRangePropertySpec extends AnyFunSuite {

  private def forAll[A](g: Gen[A], n: Int = 100)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong))
        .foreach(f)
    }

  private val conf = new Configuration()

  test("fs-cat: any in-bounds (offset, length) returns exactly that " +
      "slice; offset→EOF returns the suffix") {
    val dir = SparkTestSession.tmpDir("catprop")
    val gen = for {
      data <- Gen.nonEmptyListOf(Gen.chooseNum(0, 255)).map(_.map(_.toByte))
      off <- Gen.chooseNum(0, data.length)
      len <- Gen.chooseNum(0, data.length - off)
    } yield (data.toArray, off, len)
    var i = 0
    forAll(gen) { case (data, off, len) =>
      val f = dir.resolve(s"d$i.bin"); i += 1
      Files.write(f, data)
      def cat(spec: String*): Array[Byte] = {
        val bos = new ByteArrayOutputStream()
        FsTools.catRange(conf, spec, bos)
        bos.toByteArray
      }
      assert(cat(f.toString, off.toString, len.toString).toSeq ==
        data.slice(off, off + len).toSeq)
      assert(cat(f.toString, off.toString).toSeq == data.drop(off).toSeq)
    }
  }

  test("gz-range client rotation algebra: payload stream is preserved " +
      "in order, every rotated file opens with the header, and a file " +
      "exceeds maxFileBytes only when one header+member alone does") {
    val root = SparkTestSession.tmpDir("gzprop")
    def gz(s: String): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("UTF-8")); g.finish(); bos.toByteArray
    }
    val gen = for {
      sizes <- Gen.nonEmptyListOf(Gen.chooseNum(1, 200))
      budget <- Gen.chooseNum(60, 500)
    } yield (sizes.take(12), budget)
    var run = 0
    forAll(gen, n = 25) { case (sizes, budget) =>
      val members = sizes.zipWithIndex
        .map { case (sz, j) => gz(s"m$run-$j-" + "x" * sz) }
      val src = root.resolve(s"src$run.warc.gz")
      Files.write(src, members.flatten.toArray)
      val server = GzRangeServer.start(root.toString)
      try {
        val base = s"http://127.0.0.1:${server.getAddress.getPort}"
        val date = java.time.Instant.parse("2012-01-01T00:00:00Z")
        val outDir = SparkTestSession.tmpDir(s"gzpropout$run")
        val client = new GzRangeClient(outDir.toString, "p",
          maxFileBytes = budget.toLong,
          headerFor = Some(n => GzRangeClient.warcinfoHeader(n, date)))
        var off = 0L
        members.foreach { m =>
          client.fetchAndAppend(base, src.getFileName.toString, off,
            m.length.toLong)
          off += m.length
        }
        val files = client.close()
        // 1. ordered payload preservation (headers filtered by prefix)
        val payloads = files.flatMap { f =>
          GzipMembers.iterate(new java.io.FileInputStream(f))
            .map(mm => new String(mm.payload, "UTF-8")).toSeq
            .filterNot(_.startsWith("WARC/1.0"))
        }
        assert(payloads == members.indices
          .map(j => s"m$run-$j-" + "x" * sizes(j)))
        // 2. every file opens with its own warcinfo
        files.foreach { f =>
          val first = GzipMembers.iterate(new java.io.FileInputStream(f))
            .map(mm => new String(mm.payload, "UTF-8")).toSeq.head
          assert(first.startsWith("WARC/1.0\r\nWARC-Type: warcinfo"))
          assert(first.contains(
            s"WARC-Filename: ${new java.io.File(f).getName}"))
        }
        // 3. size bound: rotation triggers BEFORE an append would pass
        //    the budget, so an oversized file implies a single
        //    header+member pair that alone exceeds it. The header is
        //    per-file (its own name is embedded, and deflate length
        //    shifts a byte or two with content), so bound per file
        //    with THAT file's exact header length.
        files.foreach { f =>
          val sz = new java.io.File(f).length
          val maxSingle = GzRangeClient.warcinfoHeader(
            new java.io.File(f).getName, date).length.toLong +
            members.map(_.length).max
          assert(sz <= math.max(budget.toLong, maxSingle),
            s"file $f is $sz bytes, budget $budget, maxSingle $maxSingle")
        }
      } finally server.stop(0)
      run += 1
    }
  }
}
