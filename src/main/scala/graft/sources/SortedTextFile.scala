package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.util.IoUtil

/**
 * Binary search in a sorted text file (SURVEY §2 Q7 — the FileSearchTool
 * surface; the reference's SortedTextFile lives in webarchive-commons and
 * also backs the ALL.summary search). Seek-based bisection over byte
 * offsets: O(log n) seeks to land within a 4 KiB window of the first
 * matching line, then a linear scan — no index required beyond sortedness.
 * The file must be sorted in [[graft.util.KeyOrder]] byte order (the
 * contract ZipNum summary pruning relies on too): the scan skips lines
 * below the start key undecoded and stops at the first line >= the end.
 */
final class SortedTextFile(path: String, conf: Configuration) {

  private val p = new Path(path)
  private val fs = p.getFileSystem(conf)
  private val fileLen = fs.getFileStatus(p).getLen

  /** Lines from the first line >= key (whole-line byte-wise compare, the
    * reference's String.compareTo ordering). The stream closes on
    * exhaustion; a caller that abandons the iterator mid-way should use
    * [[range]], which closes on its own bound. */
  def iterateFrom(key: String): Iterator[String] = range(key, None)

  /** Lines in [start, end) — inclusive/exclusive, like ClusterRange. The
    * reader stops at the first line >= `end` and the stream closes there. */
  def range(start: String, end: Option[String]): Iterator[String] = {
    val in = fs.open(p)
    var lo = 0L
    var hi = fileLen
    while (hi - lo > 4096) {
      val mid = (lo + hi) / 2
      in.seek(mid)
      skipPartialLine(in)
      readLine(in) match {
        case Some(l) if graft.util.KeyOrder.lt(l, start) => lo = mid
        case _ => hi = mid
      }
    }
    in.seek(lo)
    if (lo > 0) skipPartialLine(in)
    new IoUtil.AutoCloseIterator(
      new IoUtil.LfLineIterator(in, Some(start), end), () => in.close())
  }

  private def skipPartialLine(in: java.io.InputStream): Unit = {
    var b = in.read()
    while (b >= 0 && b != '\n') b = in.read()
  }

  private def readLine(in: java.io.InputStream): Option[String] = {
    val buf = new java.io.ByteArrayOutputStream(256)
    var b = in.read()
    if (b < 0) return None
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    Some(new String(buf.toByteArray, "UTF-8"))
  }
}

/**
 * `NAME START END` range-partition spec (SURVEY §2 Q6;
 * /root/reference/src/main/java/org/archive/hadoop/cdx/SplitFile.java:8-53).
 * Feeds MergeClusterRanges-style jobs and the boundary partitioner.
 */
object SplitFile {

  final case class SplitRange(name: String, start: String, end: String)

  /** Parse spec lines; empty START/END mean unbounded ("" sorts first). */
  def parse(lines: Seq[String]): Seq[SplitRange] =
    lines.filter(_.nonEmpty).map { l =>
      l.split("\t| ", -1) match {
        case Array(n, s, e) => SplitRange(n, s, e)
        case other => throw new IllegalArgumentException(
          s"split line needs NAME START END: '$l' (${other.length} fields)")
      }
    }

  def load(path: String, conf: Configuration): Seq[SplitRange] =
    // CR-strip like Boundaries.fromSplitFile: a CRLF spec file would
    // otherwise carry '\r' in every END field and silently skew ranges
    parse(IoUtil.readLines(new Path(path), conf).map(_.stripSuffix("\r")))

  /** Interior boundaries for [[graft.operators.BoundaryPartitioner]]: each
    * range's START except the global minimum. */
  def interiorBoundaries(ranges: Seq[SplitRange]): IndexedSeq[String] = {
    val starts = ranges.map(_.start).sorted(graft.util.KeyOrder)
    starts.drop(1).toIndexedSeq
  }
}
