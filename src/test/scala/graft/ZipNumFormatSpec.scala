package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zipnum.{ZipNumFormat, ZipNumIndex}
import graft.sources.zipnum.ZipNumFormat.Block

/** Byte-level and planning-level checks of the ZipNum format
  * (/root/reference/src/main/java/org/archive/hadoop/mapreduce/
  * ZipNumAllShardRecordWriter.java:110-152 for the member layout;
  * /root/reference/src/main/java/org/archive/hadoop/cdx/CDXCluster.java:31-35
  * and ClusterRange.java:57-62 for pruning). */
class ZipNumFormatSpec extends AnyFunSuite {

  test("gzipMember → reader decode chain roundtrip, incl. interior CR") {
    val lines = Seq(
      "com,a)/ 20120101000000 http://a.com/ text/html 200 D - - 1 0 f.gz",
      "com,b)/x 20120102000000 http://b.com/x text/html 302 D http://b.com/y\rz - 2 10 f.gz")
    val payload = lines.map(_ + "\n").mkString.getBytes("UTF-8")
    val member = ZipNumFormat.gzipMember(payload)
    assert(ZipNumFormatSpec.memberLines(member) == lines)
  }

  test("member is readable by a stock GZIPInputStream (SL field is ignorable)") {
    val payload = "hello zipnum\n".getBytes("UTF-8")
    val member = ZipNumFormat.gzipMember(payload)
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(member))
    assert(new String(in.readAllBytes(), "UTF-8") == "hello zipnum\n")
  }

  test("SL extra-field byte layout: 20-byte header, LE length = deflated+8") {
    val payload = ("x" * 1000 + "\n").getBytes("UTF-8")
    val m = ZipNumFormat.gzipMember(payload)
    // fixed header prefix
    assert((m(0) & 0xff) == 0x1f && (m(1) & 0xff) == 0x8b, "gzip magic")
    assert(m(2) == 8, "CM deflate")
    assert(m(3) == 4, "FLG = FEXTRA only")
    assert(m.slice(4, 8).forall(_ == 0), "MTIME zero")
    assert((m(10) & 0xff) == 8 && m(11) == 0, "XLEN = 8")
    assert(m(12) == 'S'.toByte && m(13) == 'L'.toByte, "subfield id")
    assert(m(14) == 4 && m(15) == 0, "subfield length 4")
    def le32(off: Int): Long =
      (m(off) & 0xffL) | ((m(off + 1) & 0xffL) << 8) |
        ((m(off + 2) & 0xffL) << 16) | ((m(off + 3) & 0xffL) << 24)
    val slLen = le32(16)
    assert(slLen == m.length - 20,
      "SL value = member length minus the 20-byte header (deflated + footer)")
    // footer ISIZE = payload length
    assert(le32(m.length - 4) == payload.length)
  }

  test("concatenated members stream as one GZIPInputStream") {
    val a = ZipNumFormat.gzipMember("one\n".getBytes("UTF-8"))
    val b = ZipNumFormat.gzipMember("two\n".getBytes("UTF-8"))
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(a ++ b))
    assert(new String(in.readAllBytes(), "UTF-8") == "one\ntwo\n")
  }

  /** `lines` sorted CDX-11 lines shaped like the benchmark's merged
    * (global-CDX) cluster, seeded: SURT keys of several captures each,
    * 14-digit timestamps, base32 digests cut to 3 chars as the global-CDX
    * merge writes them, 9-10 digit offsets. */
  private def cdxBlock(seed: Long, lines: Int): Seq[String] = {
    val r = new java.util.SplittableRandom(seed)
    def pick(n: Int) = r.nextInt(n)
    Iterator.from(0).flatMap { i =>
      val host = s"h${i / 12 % 997}-${i / 12 % 13}"
      val path = s"p/${i % 3}/x${i * 31 % 100000}.html"
      Iterator.fill(1 + pick(8)) {
        val ts = f"202403${1 + pick(28)}%02d${pick(24)}%02d${pick(60)}%02d" +
          f"${pick(60)}%02d"
        val status = if (pick(10) == 0) "404" else "200"
        val digest = Seq.fill(3)("ABCDEFGHIJKLMNOPQRSTUVWXYZ234567".charAt(pick(32)))
          .mkString
        s"example,$host)/$path $ts http://$host.example/$path text/html " +
          s"$status $digest - - ${200 + pick(500)} " +
          s"${100000000 + pick(Int.MaxValue - 100000000)} " +
          s"crawl-${"ab".charAt(pick(2))}-${f"${pick(8)}%05d"}.warc.gz"
      }
    }.take(lines).toSeq.sorted
  }

  /** The byte budget of level [[ZipNumFormat.DeflateLevel]] on one
    * `lines`-line block: at most 2% over a raw level-9 deflate plus the
    * 28 framing bytes, and the member inflates back to the payload. */
  private def checkLevel7Budget(lines: Int): Unit = {
    val payload = cdxBlock(seed = 11L, lines = lines)
      .map(_ + "\n").mkString.getBytes("UTF-8")
    val member = ZipNumFormat.gzipMember(payload)
    val level9 = {
      val d = new java.util.zip.Deflater(9, /*nowrap=*/ true)
      try {
        d.setInput(payload); d.finish()
        val buf = new Array[Byte](payload.length + 1024)
        var n = 0
        while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
        n
      } finally d.`end`()
    }
    // 28 framing bytes: the 20-byte SL header and the 8-byte footer. On
    // this block a level-6 member is 75,921 B against level 9's
    // 72,974 B + 28 (+4.0%), so a drop to any level of 1-6 fails here.
    val budget = 1.02 * (level9 + 28)
    assert(member.length <= budget,
      s"member ${member.length} B > 1.02 x (level-9 $level9 B + 28)")
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(member))
    assert(java.util.Arrays.equals(in.readAllBytes(), payload))
    val sl = (16 until 20).map(i => (member(i) & 0xffL) << (8 * (i - 16))).sum
    assert(sl + 20 == member.length,
      "SL = the member's length past its 20-byte header")
  }

  test("level-7 byte budget: a 3,000-line CDX block costs at most 2% more " +
      "than a raw level-9 deflate plus the member framing") {
    checkLevel7Budget(3000)
  }

  test("level-7 byte budget holds on a DefaultLinesPerBlock-line block") {
    checkLevel7Budget(ZipNumFormat.DefaultLinesPerBlock)
  }

  test("summaryKey = first two fields, tabs escaped") {
    assert(ZipNumFormat.summaryKey("com,a)/ 20120101000000 http://a.com/ rest") ==
      "com,a)/ 20120101000000")
    assert(ZipNumFormat.summaryKey("no-space-line") == "no-space-line")
    assert(ZipNumFormat.summaryKey("key\twith 2012 tab x") == "key%09with 2012")
  }

  test("summary line format roundtrip") {
    val b = Block("com,a)/ 20120101000000", "part-a-00001", 12345L, 678L)
    assert(ZipNumFormat.parseSummaryLine(ZipNumFormat.formatSummaryLine(b)) == b)
  }

  /** The summary parse before it became one pass: split on tabs (which
    * drops trailing empty fields), take the last three fields from the
    * end, rejoin the front as the key. */
  private def splitParse(line: String): Block = {
    val parts = line.split('\t')
    require(parts.length >= 4, s"bad summary line: $line")
    val n = parts.length
    Block(parts.take(n - 3).mkString("\t"), parts(n - 3),
      parts(n - 2).toLong, parts(n - 1).toLong)
  }

  test("parseSummaryLine == the split-based parse on generated lines: " +
      "literal tabs in keys, %09, U+FFFD, U+1F600, and malformed lines " +
      "throw IllegalArgumentException in both") {
    import scala.util.{Failure, Success, Try}
    val r = new java.util.SplittableRandom(16L)
    val keyBits = IndexedSeq("com,a)/", "org,b)/p", " 20120101000000", "\t",
      "%09", "\uFFFD", "\uD83D\uDE00", "", "x y", "-1", "\t\t")
    val numbers = IndexedSeq("0", "7", "12345", "9223372036854775807",
      "9223372036854775808", "-5", "+5", "00042", "", "x", "1.5", " 1",
      "\u0661", "12a")
    def pick(xs: IndexedSeq[String]) = xs(r.nextInt(xs.size))
    def line(): String = {
      val key = Seq.fill(r.nextInt(5))(pick(keyBits)).mkString
      val fields = Seq(key, s"part-a-0000${r.nextInt(4)}", pick(numbers),
        pick(numbers))
      // drop fields from the front or the back, or add tabs at the end
      val kept = r.nextInt(6) match {
        case 0 => fields.drop(1 + r.nextInt(3))
        case 1 => fields.dropRight(1 + r.nextInt(3))
        case _ => fields
      }
      kept.mkString("\t") + "\t" * (if (r.nextInt(4) == 0) 1 + r.nextInt(2) else 0)
    }
    val lines = Seq("", "\t", "\t\t\t", "\t\t\t\t", "k\tp\t1\t2\t",
      "k\tp\t1\t", "\tp\t1\t2", "k\t\t1\t2", "k\tp\t\t2", "k\tp\t1\t\t2",
      "a\tb\tk\tp\t1\t2") ++ Seq.fill(5000)(line())
    var ok = 0
    lines.foreach { l =>
      (Try(ZipNumFormat.parseSummaryLine(l)), Try(splitParse(l))) match {
        case (Success(a), Success(b)) => assert(a == b, l); ok += 1
        case (Failure(a), Failure(b)) =>
          assert(a.isInstanceOf[IllegalArgumentException], s"$l: $a")
          assert(b.isInstanceOf[IllegalArgumentException], s"$l: $b")
        case (a, b) => fail(s"${l.replace("\t", "<TAB>")}: one-pass $a, split $b")
      }
    }
    // the generator must reach both outcomes in earnest
    assert(ok > 1000 && lines.size - ok > 1000, s"$ok of ${lines.size} parsed")
  }

  // ---- pruning ----

  private def idx(keys: String*): ZipNumIndex.ClusterIndex = {
    var off = 0L
    val blocks = keys.toIndexedSeq.map { k =>
      val b = Block(k, "part-a-00000", off, 100L); off += 100; b
    }
    ZipNumIndex.ClusterIndex("/c", blocks)
  }

  test("prune: start lands mid-block → previous block included") {
    val c = idx("a 1", "d 1", "g 1", "k 1")
    // key "e" lives in the block whose firstKey is "d 1"
    assert(c.prune(Some("e"), Some("h")).map(_.firstKey) == Seq("d 1", "g 1"))
  }

  test("prune: inclusive start, exclusive end on block boundaries") {
    val c = idx("a 1", "d 1", "g 1", "k 1")
    assert(c.prune(Some("d"), Some("g")).map(_.firstKey) == Seq("a 1", "d 1"))
    // start EXACTLY on a firstKey: the previous block stays selected —
    // a run of records sharing key "d 1" may span the block boundary, so
    // "a 1"'s tail can hold in-range records (r18 data-loss fix; the
    // reference positions at the last summary entry strictly below start)
    assert(c.prune(Some("d 1"), Some("k 1")).map(_.firstKey) ==
      Seq("a 1", "d 1", "g 1"))
  }

  test("prune: unbounded sides and empty range") {
    val c = idx("a 1", "d 1", "g 1")
    assert(c.prune(None, None).size == 3)
    assert(c.prune(Some("z"), None).map(_.firstKey) == Seq("g 1"))
    assert(c.prune(None, Some("a")).isEmpty)
    assert(c.prune(None, Some("a 1")).isEmpty)
  }

  test("slices: contiguous blocks coalesce, gaps and shard changes split") {
    val blocks = IndexedSeq(
      Block("a", "p0", 0, 100), Block("b", "p0", 100, 100),
      Block("c", "p0", 300, 100), // gap
      Block("d", "p1", 0, 100))
    val s = ZipNumIndex.ClusterIndex("/c", blocks).slices(blocks)
    assert(s.map(x => (x.shardPath, x.offset, x.length, x.nBlocks)) == Seq(
      ("/c/p0.gz", 0L, 200L, 2), ("/c/p0.gz", 300L, 100L, 1),
      ("/c/p1.gz", 0L, 100L, 1)))
  }

  test("slices: maxSliceBytes bounds a slice") {
    val blocks = IndexedSeq(
      Block("a", "p0", 0, 100), Block("b", "p0", 100, 100),
      Block("c", "p0", 200, 100))
    val s = ZipNumIndex.ClusterIndex("/c", blocks).slices(blocks, maxSliceBytes = 200)
    assert(s.map(_.nBlocks) == Seq(2, 1))
  }
}

object ZipNumFormatSpec {
  /** A member's lines through the reader's decode chain (gzip stream +
    * LF-only line split, as `ZipNumReader.readSliceWithCloser` reads). */
  def memberLines(member: Array[Byte]): Seq[String] = {
    val gz = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(member), 64 * 1024)
    try new graft.util.IoUtil.LfLineIterator(gz).toList finally gz.close()
  }
}
