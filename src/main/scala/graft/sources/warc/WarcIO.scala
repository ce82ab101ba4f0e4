package graft.sources.warc

import java.io.InputStream
import java.util.zip.{CRC32, Inflater}

/**
 * W/ARC member-level IO (SURVEY §1.3, §3.4). The reference treats a W/ARC
 * as a series of gzip members, one record per member, and measures each
 * member's COMPRESSED extent to enable range repackaging
 * (/root/reference/src/main/java/org/archive/hadoop/jobs/ArchiveFileExtractor.java:173-181);
 * that member walk lived in webarchive-commons, so it is re-implemented
 * here from the gzip spec (RFC 1952): parse each member header, inflate
 * raw deflate while tracking consumed bytes, verify the ISIZE footer.
 */
object GzipMembers {

  /** One gzip member: byte extent within the file + inflated payload. */
  final case class Member(offset: Long, length: Long, payload: Array[Byte])

  /** Iterate members of a (possibly multi-member) gzip stream. Throws on a
    * corrupt member — callers wanting `-soft` semantics catch per-member
    * via [[iterateSoft]].
    *
    * One walk per stream, not per member: a single `Inflater` is `reset`
    * between members and reads its input IN PLACE from one 64 KiB buffer
    * (after a member ends, `getRemaining` says where the next one starts,
    * so nothing is copied back), and output grows one reusable buffer
    * that each payload is copied out of once, at its exact size. Archive
    * members are typically a few hundred compressed bytes, so per-member
    * buffers and inflaters would cost more than the inflating itself.
    * The inflater is ended when the walk is exhausted or throws; a walk
    * abandoned half-way leaves it to the GC's cleaner. */
  def iterate(in: InputStream): Iterator[Member] = new Iterator[Member] {
    private val inf = new Inflater(true)
    private val crc = new CRC32
    private val buf = new Array[Byte](1 << 16)
    private var pos = 0  // next unread byte of buf
    private var lim = 0  // end of the valid bytes in buf
    private var out = new Array[Byte](1 << 16)
    private var offset = 0L
    private var nextMember: Member = _
    private var done = false

    /** Refill `buf` from the stream; false at EOF. */
    private def fill(): Boolean = {
      val n = in.read(buf)
      pos = 0; lim = math.max(n, 0)
      n > 0
    }

    private def readByte(): Int = {
      require(pos < lim || fill(), "unexpected EOF in gzip member")
      val b = buf(pos) & 0xff
      pos += 1
      b
    }

    private def advance(): Unit = {
      if (done || nextMember != null) return
      try {
        if (pos == lim && !fill()) { done = true; inf.end(); return }
        nextMember = member()
      } catch { case e: Throwable => done = true; inf.end(); throw e }
    }

    private def member(): Member = {
      val start = offset
      val headerLen = parseHeader()
      // raw deflate, input read in place from buf
      inf.reset()
      var len = 0
      while (!inf.finished()) {
        if (inf.needsInput) {
          require(pos < lim || fill(), "truncated deflate stream")
          inf.setInput(buf, pos, lim - pos)
          pos = lim
        }
        if (len == out.length) out = java.util.Arrays.copyOf(out, grown(len))
        val m = inf.inflate(out, len, out.length - len)
        len += m
        if (m == 0 && inf.needsDictionary())
          throw new IllegalStateException("deflate dictionary unsupported")
      }
      // the tail of the last input window belongs to the footer / next member
      pos -= inf.getRemaining
      val deflateLen = inf.getBytesRead
      val crcRead = le32()
      val isize = le32()
      // verify CRC32, not only ISIZE (r19 review): a bit-flipped LITERAL
      // deflate block inflates cleanly with the right length, so without
      // the CRC a silently corrupt payload — and its digest — would flow
      // through as valid, where the reference's GZIPInputStream-based
      // stack rejects the member
      crc.reset()
      crc.update(out, 0, len)
      require(crcRead == crc.getValue, s"gzip CRC mismatch at offset $start")
      require(isize == (len & 0xffffffffL),
        s"gzip ISIZE mismatch at offset $start")
      val total = headerLen + deflateLen + 8
      offset += total
      Member(start, total, java.util.Arrays.copyOf(out, len))
    }

    /** RFC 1952 header: magic, CM, FLG, MTIME, XFL, OS + optional FEXTRA /
      * FNAME / FCOMMENT / FHCRC. Returns the header's byte length. */
    private def parseHeader(): Long = {
      var n = 0L
      def rb(): Int = { n += 1; readByte() }
      val m0 = rb(); val m1 = rb()
      require(m0 == 0x1f && m1 == 0x8b, f"bad gzip magic $m0%02x$m1%02x")
      val cm = rb()
      require(cm == 8, s"unsupported compression method $cm")
      val flg = rb()
      (0 until 6).foreach(_ => rb()) // MTIME, XFL, OS
      if ((flg & 4) != 0) { // FEXTRA (e.g. our SL subfield)
        val xlen = rb() | (rb() << 8)
        (0 until xlen).foreach(_ => rb())
      }
      if ((flg & 8) != 0) while (rb() != 0) () // FNAME, NUL-terminated
      if ((flg & 16) != 0) while (rb() != 0) () // FCOMMENT
      if ((flg & 2) != 0) { rb(); rb() } // FHCRC
      n
    }

    /** Little-endian uint32 from the stream (the footer's CRC32 / ISIZE). */
    private def le32(): Long = {
      var v = 0L
      var i = 0
      while (i < 4) { v |= readByte().toLong << (8 * i); i += 1 }
      v
    }

    override def hasNext: Boolean = { advance(); nextMember != null }
    override def next(): Member = {
      if (!hasNext) throw new NoSuchElementException
      val m = nextMember; nextMember = null; m
    }
  }

  /** Per-member fault tolerance: a corrupt member stops the file scan (the
    * stream cannot be resynchronized without an index) but reports how
    * many members were recovered; `onBad` observes the failure. */
  def iterateSoft(in: InputStream, onBad: Throwable => Unit): Iterator[Member] =
    soften(iterate(in), onBad)

  /** The `-soft` wrapper itself, format-agnostic (gzip member walks and
    * [[PlainWarc]] record walks share it). */
  def soften(it: Iterator[Member], onBad: Throwable => Unit): Iterator[Member] =
    new Iterator[Member] {
      private var failed = false
      override def hasNext: Boolean =
        !failed && (try it.hasNext catch {
          case e: Exception => onBad(e); failed = true; false
        })
      override def next(): Member = it.next()
    }

  /** Doubled capacity for a payload buffer holding `len` bytes. */
  private def grown(len: Int): Int = {
    if (len >= MaxArray) throw new OutOfMemoryError("gzip member payload over 2 GiB")
    math.min(MaxArray.toLong, 2L * len).toInt
  }
  private val MaxArray = Int.MaxValue - 8
}

/**
 * Record walk over an UNCOMPRESSED .warc — the other storage form the
 * reference's reader stack accepts (webarchive-commons dispatches by
 * magic; most archives gzip per record, but plain WARCs exist in test
 * rigs, proxies, and hand-repaired files). Emits the same
 * [[GzipMembers.Member]] shape: `offset`/`length` are the record's RAW
 * byte extent including its trailing separator newlines, so extents tile
 * the file and range repackaging raw-copies records exactly as it copies
 * gzip members.
 */
object PlainWarc {

  /** Bound on the header-block scan: a real WARC header block is
    * hundreds of bytes; a stream that hasn't produced the blank-line
    * separator within this many is a misrouted binary or damage, and
    * must fail EARLY and bounded instead of buffering the whole input. */
  val MaxHeadBytes: Int = 1 << 20

  /** Iterate records: head block through the first blank line (CRLF per
    * spec, bare LF tolerated — same tolerance as [[WarcRecords.parse]]),
    * the mandatory Content-Length body, then the record-separator
    * newlines. Throws on structural damage (no blank line, missing or
    * overrunning Content-Length, a 'WARC/'-less head, a separator-less
    * first MiB) — wrap with [[GzipMembers.soften]] for `-soft`
    * semantics. */
  def iterate(in: InputStream): Iterator[GzipMembers.Member] =
    new Iterator[GzipMembers.Member] {
      private val buf = new java.io.BufferedInputStream(in, 1 << 16)
      private var offset = 0L
      private var nextMember: GzipMembers.Member = _
      private var done = false

      private def advance(): Unit = {
        if (done || nextMember != null) return
        // peek: EOF cleanly ends the walk (trailing newlines already
        // consumed by the previous record's separator scan)
        buf.mark(1)
        if (buf.read() < 0) { done = true; return }
        buf.reset()
        val start = offset
        val rec = new java.io.ByteArrayOutputStream(8192)
        // head: bytes until \r\n\r\n or \n\n (rolling 4-byte window —
        // no per-byte buffer copies). Two bounds keep a misrouted
        // multi-GB binary (anything without the gzip magic lands here)
        // from buffering unboundedly before failing: the 'WARC/' prefix
        // is checked as soon as 5 bytes exist, and a head that hasn't
        // found its separator within 1 MiB fails early — real WARC
        // header blocks are hundreds of bytes.
        var sepLen = 0
        var win = 0          // last 4 bytes, newest in the low byte
        var b = buf.read()
        while (sepLen == 0 && b >= 0) {
          rec.write(b)
          if (rec.size() == 5) {
            val h = rec.toByteArray
            require(h(0) == 'W' && h(1) == 'A' && h(2) == 'R' &&
              h(3) == 'C' && h(4) == '/',
              s"record at $start does not start with WARC/")
          }
          require(rec.size() <= MaxHeadBytes,
            s"record at $start: no header/block separator within " +
              s"$MaxHeadBytes bytes — damaged or not a WARC")
          win = ((win << 8) | (b & 0xff)) & 0xffffffff
          if (rec.size() >= 4 && win == 0x0d0a0d0a) sepLen = 4
          else if (rec.size() >= 2 && (win & 0xffff) == 0x0a0a) sepLen = 2
          if (sepLen == 0) b = buf.read()
        }
        require(sepLen > 0, s"no header/block separator in record at $start")
        val head = new String(rec.toByteArray, 0, rec.size() - sepLen,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        require(head.startsWith("WARC/"),
          s"record at $start does not start with WARC/ " +
            s"(got '${head.take(12)}')")
        val len = head.split("\n").map(_.stripSuffix("\r"))
          .find(_.toLowerCase.startsWith("content-length:"))
          .flatMap(_.split(":", 2)(1).trim.toLongOption)
          .getOrElse(throw new IllegalArgumentException(
            s"record at $start has no Content-Length"))
        require(len >= 0 && len <= Int.MaxValue.toLong - rec.size(),
          s"bad Content-Length $len at $start")
        val body = new Array[Byte](len.toInt)
        var got = 0
        while (got < body.length) {
          val r = buf.read(body, got, body.length - got)
          require(r > 0, s"record at $start truncated: " +
            s"Content-Length $len, got $got")
          got += r
        }
        rec.write(body)
        // record separator: consume trailing CR/LF bytes greedily (spec
        // says exactly \r\n\r\n; bare-LF and missing-at-EOF tolerated).
        // Greed is safe: the next record starts with 'W'.
        var more = true
        while (more) {
          buf.mark(1)
          val c = buf.read()
          if (c == '\r' || c == '\n') rec.write(c)
          else { if (c >= 0) buf.reset(); more = false }
        }
        val bytes = rec.toByteArray
        offset += bytes.length
        nextMember = GzipMembers.Member(start, bytes.length.toLong, bytes)
      }

      override def hasNext: Boolean = { advance(); nextMember != null }
      override def next(): GzipMembers.Member = {
        if (!hasNext) throw new NoSuchElementException
        val m = nextMember; nextMember = null; m
      }
    }

  /** Magic sniff: gzip (1f 8b) → member walk; "WARC/" → plain walk. */
  def isPlainWarc(b0: Int, b1: Int): Boolean = b0 == 'W' && b1 == 'A'
}

/** Minimal WARC record model + parser (header block + payload). The full
  * parser lives in webarchive-commons for the reference; this covers the
  * fields the CDX/WAT jobs actually consume. */
object WarcRecords {

  final case class WarcRecord(
      warcType: String,
      targetUri: Option[String],
      date: Option[String],          // ISO, e.g. 2012-01-03T08:45:08Z
      contentType: Option[String],   // of the WARC block
      headers: Map[String, String],
      payload: Array[Byte]) {

    /** 14-digit timestamp from the WARC-Date. */
    def timestamp14: Option[String] =
      date.map(_.filter(_.isDigit)).filter(_.length >= 14).map(_.take(14))

    /** For response records with an HTTP block: (status, Content-Type). */
    def httpStatusAndMime: (Option[Int], Option[String]) =
      WarcRecords.httpStatusAndMime(payload)
  }

  /** What [[httpHead]] reads of an HTTP response head; `bodyStart` is -1
    * when no blank line ends the head. */
  final case class HttpHead(status: Option[Int], mime: Option[String],
                            bodyStart: Int, chunked: Boolean) {

    /** The entity body of `block`, the block this head was read from:
      * the bytes after the head's blank line, DE-chunked when chunked —
      * the digest convention (webarchive-commons' payload digest) covers
      * the entity, not the headers or the framing — and kept raw when
      * the framing is damaged (a half-decoded digest is neither stable
      * nor honest). Without a status or a blank line, the whole block. */
    def entity(block: Array[Byte]): Array[Byte] =
      if (status.isEmpty || bodyStart < 0) block
      else {
        val raw = java.util.Arrays.copyOfRange(block, bodyStart, block.length)
        if (chunked) dechunk(raw).getOrElse(raw) else raw
      }
  }

  private val NoHttpHead = HttpHead(None, None, -1, chunked = false)

  /** Status + Content-Type of a leading HTTP response block, if any. */
  def httpStatusAndMime(payload: Array[Byte]): (Option[Int], Option[String]) = {
    val h = httpHead(payload)
    (h.status, h.mime)
  }

  /** The one walk over the HTTP response head that WARC and ARC records
    * both store ahead of the entity, line by line to its blank line.
    * Tolerances, matching what archived HTTP actually contains: bare-LF
    * lines (pre-1.1 servers and some proxies emit LF-only; a blank line
    * ends the head whether it is CRLF or bare LF, so on an all-CRLF head
    * the body starts after the first `\r\n\r\n`), a status line with no
    * reason phrase ("HTTP/1.1 200"), mixed-case header names, and
    * parameters after the media type ("text/html; charset=..."). The
    * status and the mime (the first Content-Type) are read as if the
    * block ended at 4 KiB, a line crossing that mark cut there; the body
    * start and the first Transfer-Encoding are found however long the
    * head is. */
  def httpHead(block: Array[Byte]): HttpHead = {
    if (!startsWithAscii(block, 0, block.length, "HTTP/")) return NoHttpHead
    val window = math.min(block.length, 4096)
    def lineEnd(from: Int): Int = {
      var i = from
      while (i < block.length && block(i) != '\n') i += 1
      i
    }
    // a line's end without its trailing '\r'
    def noCr(from: Int, to: Int): Int =
      if (to > from && block(to - 1) == '\r') to - 1 else to
    def text(from: Int, until: Int): String = new String(block, from,
      until - from, java.nio.charset.StandardCharsets.ISO_8859_1)
    val eol = lineEnd(0)
    val status = text(0, noCr(0, math.min(eol, window))).split(" ").lift(1)
      .flatMap(_.toIntOption)
    var mime: Option[String] = None
    var mimeSeen, teSeen, chunked = false
    var bodyStart = -1
    var from = eol + 1
    while (bodyStart < 0 && from < block.length) {
      val to = lineEnd(from)
      val until = noCr(from, to)
      if (until == from) { // the blank line ends the head
        if (to < block.length) bodyStart = to + 1
        from = block.length
      } else {
        val inWindow = noCr(from, math.min(to, window))
        if (!mimeSeen && from < window &&
            startsWithAscii(block, from, inWindow, "content-type:")) {
          mimeSeen = true
          mime = Some(text(from + 13, inWindow).trim.split(";")(0).trim)
            .filter(_.nonEmpty)
        }
        if (!teSeen &&
            startsWithAscii(block, from, until, "transfer-encoding:")) {
          teSeen = true
          chunked = text(from + 18, until).toLowerCase.contains("chunked")
        }
        from = to + 1
      }
    }
    HttpHead(status, mime, bodyStart, chunked)
  }

  /** Whether `b[from, until)` starts with the ASCII `prefix`, where a
    * lower-case letter of `prefix` matches either case. */
  private def startsWithAscii(b: Array[Byte], from: Int, until: Int,
                              prefix: String): Boolean = {
    if (until - from < prefix.length) return false
    var i = 0
    while (i < prefix.length) {
      val p = prefix.charAt(i)
      val c = b(from + i)
      if (c != p && !(p >= 'a' && p <= 'z' && c == p - 32)) return false
      i += 1
    }
    true
  }

  /** WARC magic test with leading-NUL tolerance: NUL-padded rewrites
    * and disk damage prepend 0x00 runs to otherwise-intact records, and
    * the dispatch must still route them to the WARC parser (which
    * strips head NULs) instead of the ARC fallback. */
  def looksLikeWarc(payload: Array[Byte]): Boolean = {
    var i = 0
    while (i < payload.length && payload(i) == 0) i += 1
    i + 5 <= payload.length && payload(i) == 'W' && payload(i + 1) == 'A' &&
      payload(i + 2) == 'R' && payload(i + 3) == 'C' && payload(i + 4) == '/'
  }

  /** Parse one member payload as a WARC record: "WARC/1.x" version line,
    * CRLF headers, blank line, payload block. The spec mandates CRLF,
    * but LF-only WARC headers exist in the wild (hand-built or
    * re-written archives) and the reference's reader accepts
    * LF-terminated lines — so the head/block separator is the FIRST of
    * `\r\n\r\n` or `\n\n` (in a conformant head `\n\n` cannot occur
    * before the CRLF separator: every header `\n` is followed by `\r`
    * or ends the head), and header lines split on LF with trailing-CR
    * strip, which is byte-identical on conformant records. */
  def parse(bytes: Array[Byte]): Option[WarcRecord] = {
    val sep = headEnd(bytes)
    if (sep < 0) None else parseHead(bytes, sep)
  }

  /** Start of the head/block separator (see [[parse]]), or -1; its
    * length is 4 when it starts with '\r', else 2. One pass: each '\n'
    * either starts a `\n\n` or is second in a `\r\n\r\n`. */
  private def headEnd(b: Array[Byte]): Int = {
    var k = 0
    while (k < b.length) {
      if (b(k) == '\n') {
        if (k >= 1 && k + 2 < b.length && b(k - 1) == '\r' &&
            b(k + 1) == '\r' && b(k + 2) == '\n') return k - 1
        if (k + 1 < b.length && b(k + 1) == '\n') return k
      }
      k += 1
    }
    -1
  }

  /** [[parse]] of a payload whose separator [[headEnd]] found at `sep`. */
  private def parseHead(bytes: Array[Byte], sep: Int): Option[WarcRecord] = {
    val sepLen = if (bytes(sep) == '\r') 4 else 2
    // mid-header NULs: disk damage and NUL-padded rewrites spatter the
    // HEAD with 0x00 bytes (leading runs before the version line,
    // interior bytes inside header text). NUL is meaningless in the
    // WARC header grammar, so stripping it from the head recovers the
    // record; the payload stays raw. (webarchive-commons' lax readers
    // tolerate the same class.)
    val head = new String(bytes, 0, sep,
      java.nio.charset.StandardCharsets.UTF_8).replace("\u0000", "")
    val rawLines = head.split("\n").map(_.stripSuffix("\r"))
    if (!rawLines.head.startsWith("WARC/")) return None
    // LWS folding (the WARC header grammar inherits it): a line starting
    // with SP/HTAB continues the previous header's value — dropping it
    // would truncate folded WARC-Target-URIs and the like
    val lines = rawLines.tail.foldLeft(List.empty[String]) { (acc, l) =>
      if (l.nonEmpty && (l.head == ' ' || l.head == '\t') && acc.nonEmpty)
        (acc.head + " " + l.trim) :: acc.tail
      else l :: acc
    }.reverse
    val headers = lines.flatMap { l =>
      val i = l.indexOf(':')
      if (i < 0) None else Some(l.substring(0, i).trim -> l.substring(i + 1).trim)
    }.toMap
    // case-insensitive fields: when names differ only in case, the last
    // in the map's order wins (as in a lower-cased copy of the map)
    var warcType, targetUri, date, contentType, contentLength: String = null
    headers.foreach { case (k, v) =>
      k.toLowerCase match {
        case "warc-type" => warcType = v
        case "warc-target-uri" => targetUri = v
        case "warc-date" => date = v
        case "content-type" => contentType = v
        case "content-length" => contentLength = v
        case _ => ()
      }
    }
    // Respect Content-Length: a spec-conformant record ends with \r\n\r\n
    // INSIDE the member, after the block — without the truncation those
    // separator bytes would pollute payload digests.
    val avail = bytes.length - (sep + sepLen)
    val blockLen = Option(contentLength).flatMap(_.toIntOption)
      .filter(l => l >= 0 && l <= avail).getOrElse(avail)
    Some(WarcRecord(
      warcType = Option(warcType).getOrElse("unknown"),
      targetUri = Option(targetUri).map(_.stripPrefix("<").stripSuffix(">")),
      date = Option(date),
      contentType = Option(contentType),
      headers = headers,
      payload = java.util.Arrays.copyOfRange(bytes, sep + sepLen,
        sep + sepLen + blockLen)))
  }

  /** ALL records in one member payload — most members hold exactly one
    * record, but some writers concatenate several per gzip member (a
    * real-archive damage/variation class the reference tolerates via
    * webarchive-commons). The walk reuses [[PlainWarc]]'s record
    * splitter; records past the first require Content-Length (nothing
    * else bounds them). On ANY structural damage the whole payload
    * falls back to single-record [[parse]] semantics — never a
    * half-walked prefix silently standing in for the member. */
  def parseAll(bytes: Array[Byte]): Seq[WarcRecord] = {
    val sep = headEnd(bytes)
    if (sep < 0) return Seq.empty
    def single = parseHead(bytes, sep).toSeq
    // fast path — almost every member holds ONE record: if the first
    // record's declared extent (head + separator + Content-Length)
    // covers the payload up to separator-newline slack, there is no
    // second record to find and the PlainWarc walk (a second full pass
    // over the member) is skipped. Members without a Content-Length
    // can't bound a second record either → single by construction.
    // The length is the first raw head line's, as PlainWarc reads it.
    val sepLen = if (bytes(sep) == '\r') 4 else 2
    val head = new String(bytes, 0, sep,
      java.nio.charset.StandardCharsets.ISO_8859_1).replace("\u0000", "")
    var len: Option[Long] = None
    var from = 0
    while (from <= head.length) {
      val nl = head.indexOf('\n', from)
      val to = if (nl < 0) head.length else nl
      if (head.regionMatches(true, from, "content-length:", 0, 15)) {
        len = head.substring(from + 15, to).trim.toLongOption
        from = head.length + 1
      } else from = to + 1
    }
    len match {
      case None => single
      case Some(l) if l < 0 || sep + sepLen + l >= bytes.length - 4 =>
        single
      case Some(_) =>
        try {
          val records = PlainWarc.iterate(
            new java.io.ByteArrayInputStream(bytes)).toVector
          if (records.length <= 1) single
          else records.flatMap(m => parse(m.payload))
        } catch { case _: Exception => single }
    }
  }

  /** Decode a `Transfer-Encoding: chunked` HTTP body into the entity it
    * frames (RFC 9112 §7.1) — 20 years of crawled HTTP store the raw
    * chunked stream in the record block, and payload digests / text
    * extraction want the ENTITY, not the framing. Tolerances matching
    * archived reality: bare-LF line endings, chunk extensions after
    * `;`, trailer section optional/truncated. Returns None on framing
    * damage (bad hex, chunk overrunning the body) — the caller keeps
    * the raw bytes, never a half-decoded hybrid. */
  def dechunk(body: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(body.length)
    var i = 0
    var result: Option[Array[Byte]] = null
    def readLine(): Option[String] = {
      val start = i
      while (i < body.length && body(i) != '\n') i += 1
      if (i >= body.length) None
      else {
        val s = new String(body, start, i - start,
          java.nio.charset.StandardCharsets.ISO_8859_1).stripSuffix("\r")
        i += 1
        Some(s)
      }
    }
    while (result == null) {
      readLine() match {
        case None => result = None
        case Some(line) =>
          val sizeStr = line.split(";")(0).trim   // drop chunk extensions
          // parse as Long and range-check the VALUE (not the digit
          // count): a leading-zeros size like "0000000a" is valid
          // framing and must de-chunk, not fall into the raw-bytes
          // damage lane; 16 hex digits still fit an unsigned-ish Long
          // parse, anything longer is framing damage
          val size =
            if (sizeStr.nonEmpty && sizeStr.length <= 16 &&
                sizeStr.forall(c => Character.digit(c, 16) >= 0)) {
              // parseUnsignedLong: 16 hex digits >= 2^63 (e.g. 16 'f's)
              // must classify as damage, not throw out of the task —
              // the unsigned parse never throws for valid hex digits
              // and yields a negative bit-pattern we range-check away
              val v = java.lang.Long.parseUnsignedLong(sizeStr, 16)
              if (v >= 0 && v <= Int.MaxValue) v.toInt else -1
            } else -1
          if (size < 0) result = None
          else if (size == 0)
            // terminal chunk; trailers (if any) are ignored — a
            // truncated trailer section is still a complete entity
            result = Some(out.toByteArray)
          else if (i + size > body.length) result = None
          else {
            out.write(body, i, size)
            i += size
            // chunk-data terminator: CRLF, bare LF, or EOF
            if (i < body.length) {
              if (body(i) == '\r' && i + 1 < body.length && body(i + 1) == '\n')
                i += 2
              else if (body(i) == '\n') i += 1
              else result = None
            }
          }
      }
    }
    result
  }

  /** The `charset=` parameter of a Content-Type value, unquoted. */
  def charsetParam(contentType: String): Option[String] =
    contentType.split(";").drop(1).map(_.trim)
      .find(_.toLowerCase.startsWith("charset="))
      .map(_.substring("charset=".length).trim
        .stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty)

  /** Charset-tolerant text decode — the header's declared charset is
    * wrong often enough in 20-year archives that trusting it blindly
    * yields mojibake or decoder crashes. Order: BOM (authoritative over
    * any declaration), declared charset decoded STRICTLY (malformed
    * input rejects the charset rather than inserting U+FFFD), strict
    * UTF-8, then ISO-8859-1 (total: every byte sequence decodes).
    * Returns (text, charsetActuallyUsed). */
  def decodeText(body: Array[Byte], declared: Option[String]): (String, String) = {
    import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
    if (body.length >= 3 && body(0) == 0xEF.toByte && body(1) == 0xBB.toByte &&
        body(2) == 0xBF.toByte)
      return (new String(body, 3, body.length - 3, StandardCharsets.UTF_8),
        "utf-8")
    if (body.length >= 2 && body(0) == 0xFE.toByte && body(1) == 0xFF.toByte)
      return (new String(body, 2, body.length - 2, StandardCharsets.UTF_16BE),
        "utf-16be")
    if (body.length >= 2 && body(0) == 0xFF.toByte && body(1) == 0xFE.toByte)
      return (new String(body, 2, body.length - 2, StandardCharsets.UTF_16LE),
        "utf-16le")
    def strict(cs: Charset): Option[String] =
      try {
        val dec = cs.newDecoder()
          .onMalformedInput(CodingErrorAction.REPORT)
          .onUnmappableCharacter(CodingErrorAction.REPORT)
        Some(dec.decode(java.nio.ByteBuffer.wrap(body)).toString)
      } catch { case _: java.nio.charset.CharacterCodingException => None }
    val declaredCs = declared.flatMap { n =>
      // unsupported / misspelled charset names are DATA, not errors
      try Some(Charset.forName(n)) catch { case _: Exception => None }
    }
    declaredCs.flatMap(cs => strict(cs).map((_, cs.name.toLowerCase)))
      .orElse(strict(StandardCharsets.UTF_8).map((_, "utf-8")))
      .getOrElse(
        (new String(body, StandardCharsets.ISO_8859_1), "iso-8859-1"))
  }

  /** SHA1 digest in Base32 (RFC 4648, A-Z2-7) — the CDX digest convention. */
  def sha1Base32(bytes: Array[Byte]): String = {
    val sha = Sha1.get.digest(bytes)
    val sb = new java.lang.StringBuilder(32)
    var buffer = 0L
    var bits = 0
    sha.foreach { b =>
      buffer = (buffer << 8) | (b & 0xffL); bits += 8
      while (bits >= 5) {
        bits -= 5
        sb.append(Base32.charAt(((buffer >> bits) & 0x1f).toInt))
      }
    }
    sb.toString
  }

  /** One SHA-1 engine per thread: `digest` resets it after each use. */
  private val Sha1 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("SHA-1"))
  private val Base32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
}

/**
 * Legacy ARC record model + parser. The reference streams ARC inputs
 * through webarchive-commons' ARCReader — its jobs accept either format
 * (/root/reference/src/main/java/org/archive/hadoop/jobs/CDXGenerator.java:143-170
 * via ProducerUtils; ArchiveFileExtractor.java:129-163 synthesizes the
 * filedesc:// lead record when repackaging into `.arc.gz`) — so the
 * format itself is re-derived here from the public ARC file spec: one
 * gzip member per record, each record a space-separated URL-record line
 * (v1: `URL IP-address Archive-date Content-type Archive-length`; v2
 * adds `Result-code Checksum Location Offset Filename` before the
 * length), LF, then `Archive-length` bytes of content. The first record
 * of a file is the `filedesc://` file header whose content is the
 * version block.
 */
object ArcRecords {

  final case class ArcRecord(
      url: String,
      ip: String,
      date14: String,               // Archive-date, already 14-digit
      mime: String,                 // Content-type captured at crawl time
      statusFromHeader: Option[Int], // v2 Result-code, if present
      declaredLength: Long,
      content: Array[Byte]) {

    /** The file-header record (version block payload). */
    def isFiledesc: Boolean = url.startsWith("filedesc://")

    /** For records whose content is a raw HTTP response. */
    def httpStatusAndMime: (Option[Int], Option[String]) =
      WarcRecords.httpStatusAndMime(content)
  }

  /** Parse one gzip-member payload as an ARC record. None when the
    * member is not ARC-shaped (wrong field count, non-numeric length,
    * malformed date) — callers use that to dispatch W/ARC by content.
    * Content is truncated to the declared Archive-length when the member
    * carries trailing bytes (the record/member separator newline), and
    * capped at what the member actually holds. */
  def parse(bytes: Array[Byte]): Option[ArcRecord] = {
    var nl = 0
    while (nl < bytes.length && bytes(nl) != '\n') nl += 1
    if (nl == 0 || nl >= bytes.length) return None
    val line = new String(bytes, 0, nl,
      java.nio.charset.StandardCharsets.UTF_8)
    val f = line.split(" ")
    if (f.length != 5 && f.length != 10) return None
    val url = f(0)
    val date = f(2)
    if (url.isEmpty || date.length != 14 || !date.forall(_.isDigit))
      return None
    f.last.toLongOption match {
      case None => None
      case Some(declared) if declared < 0 => None
      case Some(declared) =>
        val avail = bytes.length - (nl + 1)
        val len = math.min(declared, avail.toLong).toInt
        Some(ArcRecord(
          url = url, ip = f(1), date14 = date, mime = f(3),
          statusFromHeader =
            if (f.length == 10) f(4).toIntOption else None,
          declaredLength = declared,
          content = java.util.Arrays.copyOfRange(bytes, nl + 1, nl + 1 + len)))
    }
  }

  /** Synthesized `filedesc://` lead-record payload (ungzipped) for a new
    * ARC file — the ArchiveFileExtractor.java:129-133 ARC_PATTERN shape.
    * The reference hard-codes Archive-length 76 whatever the block
    * actually measures (a latent header/content mismatch); here the
    * length is computed from the version block it declares. */
  def filedescPayload(filename: String, date14: String): Array[Byte] = {
    val block = "1 0 InternetArchive\n" +
      "URL IP-address Archive-date Content-type Archive-length\n\n"
    (s"filedesc://$filename 0.0.0.0 $date14 text/plain ${block.length}\n" +
      block).getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }
}
