package graft.util

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Stream plumbing shared by the scan operators. */
object IoUtil {

  /** Copy `in` to `out` until EOF (closes neither); returns bytes
    * copied. The one buffered copy loop — callers that need a length
    * check compare the return value. */
  def copy(in: InputStream, out: java.io.OutputStream): Long = {
    val buf = new Array[Byte](1 << 16)
    var total = 0L
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); total += n; n = in.read(buf) }
    total
  }

  /** Reads at most `limit` bytes from `in` (does not close it). */
  final class BoundedInputStream(in: InputStream, limit: Long)
      extends InputStream {
    private var remaining = limit
    override def read(): Int =
      if (remaining <= 0) -1
      else { val b = in.read(); if (b >= 0) remaining -= 1; b }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      if (remaining <= 0) return -1
      val n = in.read(buf, off, math.min(len.toLong, remaining).toInt)
      if (n > 0) remaining -= n
      n
    }
    // Honest available(): the base InputStream default is a constant 0,
    // which historically made JDK GZIPInputStream truncate multi-member
    // streams at a member boundary (JDK-7036144). That JDK bug is fixed
    // since Java 9 — readTrailer now probes the next header with a real
    // read (verified by IndirectScanSpec's zero-available() regression
    // test) — so this override is defensive accuracy, not a bug fix:
    // report at least 1 while the bounded region has bytes, 0 at its end.
    override def available(): Int =
      if (remaining <= 0) 0
      else math.max(1, math.min(in.available().toLong, remaining).toInt)
  }

  /** Splits an InputStream's bytes into UTF-8 lines on LF ONLY — interior
    * CR is data (the reference's LFOnlyLineReader semantics, SURVEY §2 S2).
    * Empty lines are dropped. Lines decode straight from the 64 KiB
    * window, which grows only for a line longer than itself.
    *
    * Optional [[KeyOrder]] whole-line bounds, for input sorted in that
    * order: lines below `from` are skipped undecoded (`dropWhile`), and
    * the iterator ends before the first line >= `until` (`takeWhile`),
    * reading no further. An ASCII bound compares on raw bytes: unsigned
    * byte order equals KeyOrder against any line, since the first
    * differing byte is ASCII or starts a char >= U+0080 (U+FFFD if the
    * bytes are invalid). Any other bound compares on the decoded line. */
  final class LfLineIterator(in: InputStream, from: Option[String] = None,
                             until: Option[String] = None)
      extends Iterator[String] {
    private var buf = new Array[Byte](64 * 1024)
    private var len = 0    // bytes in the window
    private var start = 0  // where the current line starts
    private var pos = 0    // where the LF scan resumes
    private var done = false
    private var lo = from.orNull
    private val hi = until.orNull
    private val loBytes = from.map(asciiOrNull).orNull
    private val hiBytes = until.map(asciiOrNull).orNull
    private var decoded: String = _
    private var nextLine: String = _

    private def advance(): Unit =
      while (nextLine == null && !done) {
        var i = pos
        while (i < len && buf(i) != '\n') i += 1
        if (i < len) {
          if (i > start) accept(i - start)
          start = i + 1; pos = start
        } else {
          // refill behind the line so far, moved to the window's start
          System.arraycopy(buf, start, buf, 0, len - start)
          len -= start; start = 0; pos = len
          if (len == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * len)
          val n = in.read(buf, len, buf.length - len)
          if (n > 0) len += n
          else if (n < 0) { done = true; if (len > 0) accept(len) }
        }
      }

    /** The line `buf[start, start+n)` against the bounds. */
    private def accept(n: Int): Unit = {
      decoded = null
      if (lo != null) {
        if (compare(n, lo, loBytes) < 0) return
        lo = null
      }
      if (hi != null && compare(n, hi, hiBytes) >= 0) done = true
      else nextLine = if (decoded != null) decoded else new String(buf, start, n, UTF_8)
    }

    private def compare(n: Int, bound: String, ascii: Array[Byte]): Int =
      if (ascii != null)
        java.util.Arrays.compareUnsigned(buf, start, start + n, ascii, 0, ascii.length)
      else {
        decoded = new String(buf, start, n, UTF_8)
        KeyOrder.compare(decoded, bound)
      }

    override def hasNext: Boolean = {
      if (nextLine == null) advance()
      nextLine != null
    }
    override def next(): String = {
      if (!hasNext) throw new NoSuchElementException
      val l = nextLine; nextLine = null; l
    }
  }

  private def asciiOrNull(s: String): Array[Byte] =
    if (s.forall(_ < 0x80)) s.getBytes(UTF_8) else null

  /** The non-empty lines of a whole file, as [[LfLineIterator]] splits them. */
  def readLines(p: Path, conf: Configuration): IndexedSeq[String] = {
    val in = p.getFileSystem(conf).open(p)
    try new LfLineIterator(in).toIndexedSeq finally in.close()
  }

  /** Iterator that invokes `close` once exhausted. */
  final class AutoCloseIterator[T](it: Iterator[T], close: () => Unit)
      extends Iterator[T] {
    private var closed = false
    override def hasNext: Boolean = {
      val h = it.hasNext
      if (!h && !closed) { closed = true; close() }
      h
    }
    override def next(): T = it.next()
  }
}
