package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ArchiveRepackage
import graft.sources.IndirectScans
import graft.sources.warc.GzipMembers

class IndirectScanSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def tmpDir(p: String) =
    SparkTestSession.tmpDir(p)

  private def gzBytes(s: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(s.getBytes("UTF-8")); g.close()
    bos.toByteArray
  }

  test("S8: pointer lines dereference to pointed files' lines, gzip-aware") {
    val dir = tmpDir("deref")
    Files.writeString(dir.resolve("plain.txt"), "p1\np2\n")
    Files.write(dir.resolve("zipped.gz"), gzBytes("z1\nz2\nz3\n"))
    val pointers = Seq(
      dir.resolve("plain.txt").toString,
      dir.resolve("zipped.gz").toString).toDS()
    val got = IndirectScans.dereferenceLines(pointers).collect().toSet
    assert(got == Set("p1", "p2", "z1", "z2", "z3"))
  }

  test("S9: (path, offset, length) member ranges stream exactly their lines") {
    val dir = tmpDir("gzrange")
    val m1 = gzBytes("a1\na2\n")
    val m2 = gzBytes("b1\n")
    val m3 = gzBytes("c1\nc2\n")
    val f = dir.resolve("members.gz")
    Files.write(f, m1 ++ m2 ++ m3)
    val ranges = Seq(
      IndirectScans.MemberRange(f.toString, 0, m1.length),
      IndirectScans.MemberRange(f.toString, (m1.length + m2.length).toLong,
        m3.length)).toDS()
    val (lines, bad) = IndirectScans.gzipMemberRangeLines(spark, ranges)
    assert(lines.collect().toSet == Set("a1", "a2", "c1", "c2"))
    assert(bad.value == 0L)
  }

  test("S10: --skip-bad counts corrupt extents, keeps the good ones") {
    val dir = tmpDir("gzbad")
    val m1 = gzBytes("good\n")
    val f = dir.resolve("members.gz")
    Files.write(f, m1)
    val ranges = Seq(
      IndirectScans.MemberRange(f.toString, 0, m1.length),
      IndirectScans.MemberRange(f.toString, 3, 10) // mid-member garbage
    ).toDS()
    val (lines, bad) = IndirectScans.gzipMemberRangeLines(spark, ranges,
      skipBad = true)
    assert(lines.collect().toSeq == Seq("good"))
    assert(bad.value == 1L)
  }

  test("S8: a multi-member .gz dereferences ALL members (the JDK gzip " +
      "stream used to silently stop at a boundary when available()==0)") {
    val dir = tmpDir("derefmm")
    val f = dir.resolve("multi.gz")
    Files.write(f, gzBytes("m1a\nm1b\n") ++ gzBytes("m2a\n") ++
      gzBytes("m3a\nm3b\n"))
    val got = IndirectScans.dereferenceLines(Seq(f.toString).toDS())
      .collect().toSet
    assert(got == Set("m1a", "m1b", "m2a", "m3a", "m3b"))
  }

  test("gzip member-boundary regression guard: even a zero-available() " +
      "stream with a 1-byte inflater buffer reads EVERY member (JDK-7036144 " +
      "is fixed on this JVM; this test screams if a JDK regresses it)") {
    import graft.util.IoUtil
    val bytes = gzBytes("a\n") ++ gzBytes("b\n") ++ gzBytes("c\n")
    // a stream whose available() is the InputStream default (0) — the
    // shape of many wrapped FS streams; bufSize=1 minimizes the
    // inflater's post-trailer read-ahead, the historical worst case
    def zeroAvail() = new java.io.InputStream {
      private val in = new java.io.ByteArrayInputStream(bytes)
      override def read(): Int = in.read()
      override def read(b: Array[Byte], o: Int, l: Int): Int = in.read(b, o, l)
    }
    val raw = new IoUtil.LfLineIterator(
      new java.util.zip.GZIPInputStream(zeroAvail(), 1)).toSeq
    assert(raw == Seq("a", "b", "c"))
    // and through BoundedInputStream (the ZipNum readSlice shape), whose
    // available() is now honest (>=1 while the bounded region has bytes)
    val viaBounded = new IoUtil.LfLineIterator(new java.util.zip.GZIPInputStream(
      new IoUtil.BoundedInputStream(zeroAvail(), bytes.length.toLong), 1)).toSeq
    assert(viaBounded == Seq("a", "b", "c"))
  }

  test("K11: repackage copies raw members into new archives, TMP committed") {
    val src = tmpDir("rpksrc")
    val out = tmpDir("rpkout")
    val m1 = gzBytes("rec one\n")
    val m2 = gzBytes("rec two\n")
    val m3 = gzBytes("rec three\n")
    val f = src.resolve("src.warc.gz")
    Files.write(f, m1 ++ m2 ++ m3)
    // pick members 3 and 1, in that order, into one new archive
    val tasks = Seq(
      ArchiveRepackage.CopyTask(f.toString, (m1.length + m2.length).toLong,
        m3.length, "out-00000.warc.gz", 0),
      ArchiveRepackage.CopyTask(f.toString, 0, m1.length,
        "out-00000.warc.gz", 1)).toDS()
    val (files, bytes) = ArchiveRepackage.repackage(spark, tasks, out.toString)
    assert(files == 1L && bytes == (m1.length + m3.length).toLong)
    val written = Files.readAllBytes(out.resolve("out-00000.warc.gz"))
    val members = GzipMembers.iterate(
      new java.io.ByteArrayInputStream(written)).toSeq
    assert(members.map(m => new String(m.payload, "UTF-8")) ==
      Seq("rec three\n", "rec one\n"))
    assert(!Files.exists(out.resolve("out-00000.warc.gz.TMP")))
  }

  test("K11: 100k members per destination stream through a bounded writer") {
    // the writer is a streaming pass over Spark's shuffle-sorted iterator:
    // per-task memory is one 64 KiB copy buffer regardless of member
    // count — a destination's task list is never materialized on the heap
    val src = tmpDir("rpkbig-src")
    val out = tmpDir("rpkbig-out")
    val m = gzBytes("x\n")
    val f = src.resolve("src.warc.gz")
    Files.write(f, m)
    val n = 100000
    val srcPath = f.toString
    val mLen = m.length.toLong
    val tasks = spark.range(n.toLong).as[Long].map(i =>
      ArchiveRepackage.CopyTask(srcPath, 0, mLen, "big-0.warc.gz", i))
    val (files, bytes) = ArchiveRepackage.repackage(spark, tasks, out.toString)
    assert(files == 1L && bytes == n.toLong * m.length)
    assert(Files.readAllBytes(out.resolve("big-0.warc.gz")).length ==
      n * m.length)
  }
}
