package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, Path,
  RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zipnum.{ZipNumFormat, ZipNumIndex, ZipNumReader}
import graft.util.{IoUtil, KeyOrder}

/**
 * The bounded LF line reader ([[IoUtil.LfLineIterator]] with `from` /
 * `until`) against the reader it replaced: the old unbounded iterator and
 * the old whole-line `filter` of `ZipNumReader.readSlice`, kept verbatim
 * below as the oracle. On streams sorted in [[KeyOrder]] (the contract of
 * every bounded caller) the two must return the same lines, whatever the
 * read sizes, line lengths, encodings and bounds.
 */
class LfLineReaderSpec extends AnyFunSuite {

  // ---- the oracle: the reader before bounds, verbatim -----------------

  final class OldLfLineIterator(in: InputStream) extends Iterator[String] {
    private val buf = new Array[Byte](64 * 1024)
    private var len = 0
    private var pos = 0
    private var eof = false
    private val line = new java.io.ByteArrayOutputStream(256)
    private var nextLine: String = _

    private def fill(): Unit = {
      len = in.read(buf); pos = 0
      if (len < 0) eof = true
    }

    @annotation.tailrec
    private def advance(): Unit = {
      if (eof) {
        nextLine = if (line.size() > 0) {
          val s = new String(line.toByteArray, UTF_8); line.reset(); s
        } else null
        return
      }
      if (pos >= len) { fill(); advance() }
      else {
        var i = pos
        while (i < len && buf(i) != '\n') i += 1
        line.write(buf, pos, i - pos)
        if (i < len) {
          pos = i + 1
          if (line.size() > 0) {
            nextLine = new String(line.toByteArray, UTF_8); line.reset()
          } else advance()
        } else { pos = len; advance() }
      }
    }

    override def hasNext: Boolean = {
      if (nextLine == null && !(eof && line.size() == 0)) advance()
      nextLine != null
    }
    override def next(): String = {
      if (!hasNext) throw new NoSuchElementException
      val l = nextLine; nextLine = null; l
    }
  }

  private def oracle(in: InputStream, start: Option[String],
                     end: Option[String]): List[String] = {
    val it = new OldLfLineIterator(in)
    val trimmed = (start, end) match {
      case (None, None) => it
      case _ =>
        val lo = start.orNull
        val hi = end.orNull
        it.filter(l => (lo == null || graft.util.KeyOrder.gteq(l, lo)) &&
          (hi == null || graft.util.KeyOrder.lt(l, hi)))
    }
    trimmed.toList
  }

  // ---- generated streams ----------------------------------------------

  /** Reads of at most `most` bytes, each of a random size. */
  private final class Chunky(bytes: Array[Byte], most: Int, r: Random)
      extends InputStream {
    private val in = new ByteArrayInputStream(bytes)
    override def read(): Int = in.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      in.read(b, off, math.min(len, 1 + r.nextInt(most)))
  }

  private def utf8(s: String) = s.getBytes(UTF_8)

  /** Line pieces: mostly ASCII (tab and CR among them: data, not
    * separators), some multi-byte UTF-8, some invalid UTF-8 (a stray
    * continuation byte, a truncated lead, 0xFF, an encoded surrogate). */
  private val pieces: IndexedSeq[Array[Byte]] =
    Seq("a", "b", "k", "z", "0", "9", " ", ",", ")", "/", "\t", "\r", "~")
      .map(utf8).toIndexedSeq ++
    Seq("é", "�", "😀", "中").map(utf8) ++
    Seq(Array(0x80), Array(0xC3), Array(0xFF), Array(0xED, 0xA0, 0x80))
      .map(_.map(_.toByte))

  private def genLine(r: Random): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val n = 1 + r.nextInt(12)
    (0 until n).foreach { _ =>
      val p = if (r.nextInt(4) > 0) pieces(r.nextInt(13)) else pieces(r.nextInt(pieces.length))
      out.write(p)
    }
    out.toByteArray
  }

  private def decode(b: Array[Byte]) = new String(b, UTF_8)

  /** Sorted lines (by KeyOrder on the decoded text, with ties), one of
    * them longer than the 64 KiB window when `long`. */
  private def genLines(r: Random, n: Int, long: Boolean): IndexedSeq[Array[Byte]] = {
    val base = (0 until n).map(_ => genLine(r))
    val withLong =
      if (long) base :+ (Array.fill(70000 + r.nextInt(1000))('m'.toByte) ++ genLine(r))
      else base
    val withTies = withLong ++ withLong.filter(_ => r.nextInt(8) == 0)
    withTies.sortBy(decode)(KeyOrder)
  }

  /** LF-joined, with stray empty lines; the last line is unterminated
    * when `open`. */
  private def join(r: Random, lines: Seq[Array[Byte]], open: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    lines.zipWithIndex.foreach { case (l, i) =>
      if (r.nextInt(10) == 0) out.write('\n')
      out.write(l)
      if (!open || i < lines.length - 1) out.write('\n')
    }
    out.toByteArray
  }

  /** Bounds that probe the reader: none, a line itself (ties), a line's
    * prefix, and a prefix plus a tab, U+FFFD, U+1F600 or a lone
    * surrogate (the last falls back to decoded compares). */
  private def genBound(r: Random, lines: IndexedSeq[Array[Byte]]): Option[String] = {
    val line = decode(lines(r.nextInt(lines.length)))
    val prefix = line.take(r.nextInt(line.length + 1))
    r.nextInt(8) match {
      case 0 => None
      case 1 | 2 => Some(line)
      case 3 => Some(prefix)
      case 4 => Some(prefix + "\t")
      case 5 => Some(prefix + "�")
      case 6 => Some(prefix + "😀")
      case _ => Some(prefix + (if (r.nextBoolean()) "\uD800" else "\uDC00x"))
    }
  }

  test("bounded reader == old reader + filter on sorted streams: window " +
      "straddles, a line past the window, empty lines, interior CR, an " +
      "unterminated last line, non-ASCII and invalid UTF-8, odd bounds") {
    val r = new Random(20261019L)
    (0 until 400).foreach { c =>
      val long = c % 10 == 0
      val lines = genLines(r, 20 + r.nextInt(if (c % 3 == 0) 3000 else 200), long)
      val bytes = join(r, lines, open = c % 2 == 0)
      val most = Seq(1 << 17, 65536, 4096, 7)(if (bytes.length < 20000) c % 4 else c % 3)
      val (start, end) = (genBound(r, lines), genBound(r, lines))
      val got = new IoUtil.LfLineIterator(new Chunky(bytes, most, r), start, end).toList
      val want = oracle(new ByteArrayInputStream(bytes), start, end)
      assert(got == want, s"case $c: start=$start end=$end")
    }
  }

  test("unbounded reader == old reader on unsorted streams") {
    val r = new Random(7L)
    (0 until 100).foreach { c =>
      val lines = r.shuffle(genLines(r, 50 + r.nextInt(1500), long = c % 10 == 0))
      val bytes = join(r, lines, open = c % 2 == 1)
      val got = new IoUtil.LfLineIterator(new Chunky(bytes, 1 << 17, r)).toList
      assert(got == oracle(new ByteArrayInputStream(bytes), None, None), s"case $c")
    }
  }

  test("named edges: a line longer than the window, CR inside, ties at " +
      "both bounds, a lone-surrogate bound, an unterminated last line") {
    val long = "k" * 70000
    val bytes = utf8(s"\n\na\r\nb\nb\nb\n$long\n${long}x\nzé")
    def read(s: Option[String], e: Option[String]) =
      new IoUtil.LfLineIterator(new ByteArrayInputStream(bytes), s, e).toList
    assert(read(None, None) == List("a\r", "b", "b", "b", long, long + "x", "zé"))
    assert(read(Some("b"), Some(long)) == List("b", "b", "b"))
    assert(read(Some(long), Some("z")) == List(long, long + "x"))
    assert(read(Some("b\uDC00"), None) == List(long, long + "x", "zé"))
    assert(read(Some("z"), Some("z\uD800")) == List("zé"))
  }

  test("until in the first block of a multi-block slice: fewer compressed " +
      "bytes pulled than the slice holds, and the stream is closed") {
    val r = new Random(3L)
    val lines = (0 until 6 * 3000).map(i =>
      f"key$i%06d ${r.nextLong()}%016x${r.nextLong()}%016x")
    val members = lines.grouped(3000)
      .map(b => ZipNumFormat.gzipMember(utf8(b.mkString("", "\n", "\n")))).toSeq
    val f = SparkTestSession.tmpFile("slice", ".gz")
    Files.write(f, members.reduce(_ ++ _))
    val slice = ZipNumIndex.Slice(f.toString, 0, members.map(_.length.toLong).sum,
      members.length)
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    CountingLocalFs.opened.clear()
    val got = ZipNumReader.readSlice(conf, slice, Some("key000010"),
      Some("key000020")).toList
    assert(got == lines.slice(10, 20))
    val Seq(stream) = CountingLocalFs.opened.toSeq
    assert(stream.closed)
    assert(stream.pulled < slice.length / 4,
      s"${stream.pulled} of ${slice.length} compressed bytes pulled")
  }
}

/** The local file system, recording each stream it opens. */
final class CountingLocalFs extends RawLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = new CountingLocalFs.Counting(super.open(f, bufferSize))
    CountingLocalFs.opened += in
    new FSDataInputStream(in)
  }
}

object CountingLocalFs {
  val opened = ArrayBuffer.empty[Counting]

  /** Counts the bytes read through it and notes its close. */
  final class Counting(in: FSDataInputStream) extends FSInputStream {
    var pulled = 0L
    var closed = false
    override def read(): Int = { val b = in.read(); if (b >= 0) pulled += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len); if (n > 0) pulled += n; n
    }
    override def seek(p: Long): Unit = in.seek(p)
    override def getPos: Long = in.getPos
    override def seekToNewSource(p: Long): Boolean = false
    override def close(): Unit = { closed = true; in.close() }
  }
}
