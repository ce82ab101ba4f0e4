package graft

import java.io.ByteArrayInputStream
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.warc.{ArcRecords, GzipMembers, WarcRecords}
import graft.operators.WarcExtract

class WarcSpec extends AnyFunSuite with SparkTestSession {

  /** Standard gzip member (GZIPOutputStream — no SL field) for generality. */
  private def gz(payload: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(payload); g.close()
    bos.toByteArray
  }

  private def warcResponse(uri: String, date: String, body: String): Array[Byte] = {
    val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
    (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: $date\r\nContent-Length: ${http.length}\r\n\r\n" + http)
      .getBytes("UTF-8")
  }

  private def warcinfo: Array[Byte] =
    "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Type: application/warc-fields\r\n\r\nsoftware: graft\r\n"
      .getBytes("UTF-8")

  test("gzip member walk: offsets/lengths tile the file; payload exact") {
    val p1 = warcinfo
    val p2 = warcResponse("http://example.com/a", "2012-01-03T08:45:08Z", "hello")
    val m1 = gz(p1); val m2 = gz(p2)
    // mix in an SL-header member (our writer's format) for header variety
    val p3 = "plain lines\n".getBytes("UTF-8")
    val m3 = graft.sources.zipnum.ZipNumFormat.gzipMember(p3)
    val file = m1 ++ m2 ++ m3
    val members = GzipMembers.iterate(new ByteArrayInputStream(file)).toSeq
    assert(members.map(m => (m.offset, m.length)) == Seq(
      (0L, m1.length.toLong), (m1.length.toLong, m2.length.toLong),
      ((m1.length + m2.length).toLong, m3.length.toLong)))
    assert(members(0).payload.toSeq == p1.toSeq)
    assert(members(1).payload.toSeq == p2.toSeq)
    assert(members(2).payload.toSeq == p3.toSeq)
  }

  test("gzip member CRC mismatch is damage, never a silently corrupt " +
      "payload") {
    // a flipped byte in a LITERAL deflate block inflates cleanly with the
    // right length — only the CRC catches it (r19 review); flipping the
    // stored CRC simulates exactly that detectable-corruption class
    val good = gz(warcResponse("http://c.org/x", "2012-01-03T08:45:08Z",
      "body"))
    val bad = good.clone()
    bad(bad.length - 8) = (bad(bad.length - 8) ^ 0x01).toByte // CRC byte 0
    intercept[IllegalArgumentException] {
      GzipMembers.iterate(new ByteArrayInputStream(bad)).toVector
    }
    // the -soft walk counts it as a bad member and stops cleanly
    var nBad = 0
    val soft = GzipMembers.iterateSoft(
      new ByteArrayInputStream(bad), _ => nBad += 1).toVector
    assert(soft.isEmpty && nBad == 1)
    // the untouched member still walks
    assert(GzipMembers.iterate(new ByteArrayInputStream(good))
      .toVector.length == 1)
  }

  test("gzip member walk: ANY single-byte flip either throws or leaves " +
      "the payload byte-identical — never a silently different payload") {
    // the invariant the CRC check buys: corruption is loud or harmless
    // (harmless = the flip hit ignorable header metadata like MTIME/OS,
    // which doesn't touch payload bytes). A flip that silently changed
    // the payload would need a CRC32 collision (~2^-32 per flip).
    val payload = "WARC/1.0\r\nWARC-Type: response\r\n\r\nhello flip"
      .getBytes("UTF-8")
    val good = gz(payload)
    var threw = 0
    var harmless = 0
    (0 until good.length).foreach { i =>
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x41).toByte
      try {
        val ms = GzipMembers.iterate(new ByteArrayInputStream(bad)).toVector
        assert(ms.length == 1 &&
          java.util.Arrays.equals(ms.head.payload, payload),
          s"flip at byte $i yielded a silently different payload")
        harmless += 1
      } catch { case _: Exception => threw += 1 }
    }
    // sanity: the deflate+footer region dominates, so most flips throw
    assert(threw > good.length / 2 && threw + harmless == good.length)
  }

  test("warc record parse: headers, uri, date14, http status/mime") {
    val rec = WarcRecords.parse(
      warcResponse("http://example.com/x", "2012-01-03T08:45:08Z", "body")).get
    assert(rec.warcType == "response")
    assert(rec.targetUri.contains("http://example.com/x"))
    assert(rec.timestamp14.contains("20120103084508"))
    val (status, mime) = rec.httpStatusAndMime
    assert(status.contains(200) && mime.contains("text/html"))
  }

  test("spec-conformant record: trailing CRLF separators excluded from payload") {
    // real WARCs terminate each record with \r\n\r\n INSIDE the member;
    // Content-Length bounds the block, so digests must not include them
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nbody"
    val conformant = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: http://a.org/\r\nWARC-Date: 2012-01-03T08:45:08Z\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n" + http + "\r\n\r\n")
      .getBytes("UTF-8")
    val rec = WarcRecords.parse(conformant).get
    assert(new String(rec.payload, "UTF-8") == http,
      "payload must stop at Content-Length")
  }

  test("LF-only WARC headers parse identically to their CRLF form") {
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nbody"
    def rec(nl: String) = WarcRecords.parse(
      (s"WARC/1.0${nl}WARC-Type: response${nl}" +
        s"WARC-Target-URI: http://a.org/${nl}WARC-Date: 2012-01-03T08:45:08Z${nl}" +
        s"Content-Length: ${http.length}${nl}${nl}" + http).getBytes("UTF-8")).get
    val (crlf, lf) = (rec("\r\n"), rec("\n"))
    assert(lf.warcType == crlf.warcType && lf.targetUri == crlf.targetUri &&
      lf.date == crlf.date && lf.headers == crlf.headers)
    assert(new String(lf.payload, "UTF-8") == http &&
      java.util.Arrays.equals(lf.payload, crlf.payload))
  }

  test("folded WARC header values are unfolded, not dropped") {
    val http = "HTTP/1.1 200 OK\r\n\r\nok"
    val rec = WarcRecords.parse(
      ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: http://example.org/very/long\r\n\t/folded/path\r\n" +
        s"WARC-Date: 2012-01-03T08:45:08Z\r\nContent-Length: ${http.length}\r\n\r\n" +
        http).getBytes("UTF-8")).get
    // LWS-folded continuation joins with a single space (header grammar)
    assert(rec.targetUri.contains("http://example.org/very/long /folded/path"))
    assert(rec.timestamp14.contains("20120103084508"))
  }

  test("http block tolerances: bare-LF headers, no reason phrase, case, params") {
    import WarcRecords.httpStatusAndMime
    // bare-LF header lines (pre-1.1 servers / proxies): mime must still parse
    val lf = "HTTP/1.0 200\nContent-type: Text/HTML; charset=iso-8859-1\n\nbody"
    assert(httpStatusAndMime(lf.getBytes("ISO-8859-1")) ==
      (Some(200), Some("Text/HTML")))
    // no reason phrase + folded continuation line + parameter after type
    val folded = "HTTP/1.1 404\r\nCONTENT-TYPE: text/plain;\r\n charset=utf-8\r\n\r\nx"
    assert(httpStatusAndMime(folded.getBytes("ISO-8859-1")) ==
      (Some(404), Some("text/plain")))
    // junk status line / non-HTTP block / empty media type never throw
    assert(httpStatusAndMime("HTTP/1.1 abc\r\n\r\n".getBytes("ISO-8859-1")) ==
      (None, None))
    assert(httpStatusAndMime("<html>".getBytes("ISO-8859-1")) == (None, None))
    assert(httpStatusAndMime("HTTP/1.1 200\r\nContent-Type: \r\n\r\n"
      .getBytes("ISO-8859-1")) == (Some(200), None))
    // the entity body follows the head's blank line, bare LF or CRLF:
    // the CDX digest covers it and payloadRows returns it, in a WARC
    // response, a mixed head de-chunked, and an ARC record
    val dir = SparkTestSession.tmpDir("lfhead")
    val (w, a) = (dir.resolve("lf-00000.warc.gz"), dir.resolve("lf-00000.arc.gz"))
    def response(uri: String, http: String) = gz((
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"WARC-Date: 2012-01-03T08:45:08Z\r\nContent-Length: ${http.length}" +
        "\r\n\r\n" + http).getBytes("ISO-8859-1"))
    Files.write(w, response("http://a.org/lf",
      "HTTP/1.0 200 OK\nContent-Type: text/html\n\nlf body") ++
      response("http://a.org/chunked", "HTTP/1.1 200 OK\r\n" +
        "Transfer-Encoding: chunked\nContent-Type: text/plain\n\n" +
        "7\r\nchunked\r\n5\r\n body\r\n0\r\n\r\n"))
    val arcHttp = "HTTP/1.0 404 Not Found\nContent-Type: text/html\n\narc body"
    Files.write(a, gz(("http://a.org/arc 1.2.3.4 20050101000001 text/html " +
      s"${arcHttp.length}\n$arcHttp").getBytes("ISO-8859-1")))
    val entity = Map("http://a.org/lf" -> "lf body",
      "http://a.org/chunked" -> "chunked body", "http://a.org/arc" -> "arc body")
    val cdx = WarcExtract.extract(spark, Seq(w.toString, a.toString)).rows
      .collect()
    assert(cdx.map(r => (r.original_url, r.statuscode, r.mimetype)).toSet ==
      Set(("http://a.org/lf", Some(200), "text/html"),
        ("http://a.org/chunked", Some(200), "text/plain"),
        ("http://a.org/arc", Some(404), "text/html")))
    cdx.foreach(r => assert(r.digest ==
      WarcRecords.sha1Base32(entity(r.original_url).getBytes("ISO-8859-1")),
      r.original_url))
    val payloads = WarcExtract.payloadRows(spark, Seq(w.toString)).rows
      .collect().map(p => p.original_url -> new String(p.payload, "ISO-8859-1"))
    assert(payloads.toMap == entity - "http://a.org/arc")
  }

  private def arcHttp(url: String, date14: String, body: String,
                      status: String = "200 OK"): Array[Byte] = {
    val http = s"HTTP/1.1 $status\r\nContent-Type: text/html\r\n\r\n$body"
    (s"$url 1.2.3.4 $date14 text/html ${http.length}\n" + http)
      .getBytes("UTF-8")
  }

  test("arc record parse: v1 and v2 URL-record lines, filedesc, lengths") {
    val v1 = ArcRecords.parse(
      arcHttp("http://a.org/x", "20050101000001", "hello")).get
    assert(v1.url == "http://a.org/x" && v1.date14 == "20050101000001")
    assert(v1.mime == "text/html" && v1.statusFromHeader.isEmpty)
    val (st, mime) = v1.httpStatusAndMime
    assert(st.contains(200) && mime.contains("text/html"))

    val v2 = ArcRecords.parse(
      ("http://b.org/ 1.2.3.4 20050101000002 text/plain 404 - - 120 f.arc.gz 3\nabc")
        .getBytes("UTF-8")).get
    assert(v2.statusFromHeader.contains(404) && v2.mime == "text/plain")
    assert(new String(v2.content, "UTF-8") == "abc")

    val fd = ArcRecords.parse(
      ArcRecords.filedescPayload("f.arc.gz", "20050101000000")).get
    assert(fd.isFiledesc)
    // synthesized header's declared length matches its version block
    assert(fd.content.length == fd.declaredLength)

    // trailing member separator newline excluded by Archive-length
    val trail = ArcRecords.parse(
      "http://c.org/ 1.2.3.4 20050101000003 text/plain 3\nxyz\n"
        .getBytes("UTF-8")).get
    assert(new String(trail.content, "UTF-8") == "xyz")

    // non-ARC shapes are rejected, not misparsed
    assert(ArcRecords.parse("not an arc line\ncontent".getBytes("UTF-8")).isEmpty)
    assert(ArcRecords.parse(warcinfo).isEmpty)
  }

  test("extract dispatches ARC members: filedesc skipped, CDX fields exact") {
    val dir = SparkTestSession.tmpDir("arc")
    val f = dir.resolve("test-00000.arc.gz")
    val fd = gz(ArcRecords.filedescPayload("test-00000.arc.gz", "20050101000000"))
    val m1 = gz(arcHttp("http://example.com/a", "20050101000001", "aaa"))
    val m2 = gz(arcHttp("http://WWW.Example.com/B/", "20050101000002", "bbb",
      status = "404 Not Found"))
    // non-HTTP record: mime from the URL line, no statuscode
    val m3 = gz("http://example.com/t 1.2.3.4 20050101000003 text/plain 3\nraw"
      .getBytes("UTF-8"))
    Files.write(f, fd ++ m1 ++ m2 ++ m3)
    val rows = WarcExtract.extract(spark, Seq(f.toString))
      .rows.collect().sortBy(_.timestamp)
    assert(rows.length == 3, "filedesc must not produce a row")
    assert(rows(0).urlkey == "com,example)/a")
    assert(rows(0).statuscode.contains(200) && rows(0).mimetype == "text/html")
    assert(rows(0).digest == WarcRecords.sha1Base32("aaa".getBytes("UTF-8")))
    assert(rows(0).offset == fd.length.toLong &&
      rows(0).compressed_size == m1.length.toLong)
    assert(rows(1).urlkey == "com,example)/b")
    assert(rows(1).statuscode.contains(404))
    assert(rows(2).statuscode.isEmpty && rows(2).mimetype == "text/plain")
    assert(rows(2).digest == WarcRecords.sha1Base32("raw".getBytes("UTF-8")))
  }

  test("revisit records extract with warc/revisit mime and the payload digest") {
    val dir = SparkTestSession.tmpDir("revisit")
    val origDigest = WarcRecords.sha1Base32("original body".getBytes("UTF-8"))
    val revisit = ("WARC/1.0\r\nWARC-Type: revisit\r\n" +
      "WARC-Target-URI: http://a.org/r\r\n" +
      "WARC-Date: 2012-01-05T00:00:00Z\r\n" +
      s"WARC-Payload-Digest: sha1:$origDigest\r\n" +
      "Content-Length: 0\r\n\r\n").getBytes("UTF-8")
    val f = dir.resolve("r.warc.gz")
    Files.write(f, gz(revisit) ++
      gz(warcResponse("http://a.org/r", "2012-01-03T08:45:08Z", "original body")))
    val rows = WarcExtract.extract(spark, Seq(f.toString))
      .rows.collect().sortBy(_.timestamp)
    assert(rows.length == 2)
    // the revisit row: CDX mime convention, NO local payload to hash —
    // digest is the ORIGINAL capture's, straight from the WARC header,
    // so exact-dedup and revisit-resolution join on equal digests
    assert(rows(1).mimetype == "warc/revisit")
    assert(rows(1).statuscode.isEmpty)
    assert(rows(1).digest == origDigest)
    assert(rows(0).digest == origDigest, "original and revisit digests join")
  }

  test("ARC repackage: synthesized filedesc lead + raw member copy re-extracts") {
    // the ArchiveFileExtractor shape for .arc.gz outputs: a new archive
    // gets a synthesized filedesc:// lead record, then byte-copied members
    val dir = SparkTestSession.tmpDir("arcrepack")
    val src = dir.resolve("src.arc.gz")
    val m1 = gz(arcHttp("http://a.org/1", "20050101000001", "one"))
    val m2 = gz(arcHttp("http://b.org/2", "20050101000002", "two"))
    val m3 = gz(arcHttp("http://c.org/3", "20050101000003", "three"))
    Files.write(src, m1 ++ m2 ++ m3)
    val header = gz(ArcRecords.filedescPayload("out.arc.gz", "20060101000000"))
    import spark.implicits._
    val tasks = Seq(
      graft.operators.ArchiveRepackage.CopyTask(
        src.toString, 0L, m1.length.toLong, "out.arc.gz", 0L),
      graft.operators.ArchiveRepackage.CopyTask(
        src.toString, (m1.length + m2.length).toLong, m3.length.toLong,
        "out.arc.gz", 1L)).toDS()
    graft.operators.ArchiveRepackage.repackage(
      spark, tasks, dir.toString, header = Some(header))
    val outFile = dir.resolve("out.arc.gz")
    // lead member is the filedesc record, at offset 0
    val members = GzipMembers.iterate(
      new ByteArrayInputStream(Files.readAllBytes(outFile))).toSeq
    assert(members.length == 3)
    assert(ArcRecords.parse(members.head.payload).exists(_.isFiledesc))
    // re-extraction sees exactly the two copied records
    val rows = WarcExtract.extract(spark, Seq(outFile.toString))
      .rows.collect().sortBy(_.timestamp)
    assert(rows.map(_.urlkey).toSeq == Seq("org,a)/1", "org,c)/3"))
  }

  test("mixed-format input: ARC and WARC members in one scan") {
    val dir = SparkTestSession.tmpDir("mixed")
    val fa = dir.resolve("a.arc.gz")
    val fw = dir.resolve("w.warc.gz")
    Files.write(fa, gz(arcHttp("http://arc.org/1", "20050101000001", "A")))
    Files.write(fw, gz(warcResponse("http://warc.org/2",
      "2012-01-03T08:45:08Z", "W")))
    val rows = WarcExtract.extract(spark, Seq(fa.toString, fw.toString))
      .rows.collect().sortBy(_.timestamp)
    assert(rows.map(_.urlkey).toSeq == Seq("org,arc)/1", "org,warc)/2"))
  }

  test("multi-record gzip member: every concatenated record yields a " +
      "CDX row; all share the member's extent") {
    val r1 = warcResponse("http://m.org/a", "2012-01-03T08:45:08Z", "aaa")
    val r2 = warcResponse("http://m.org/b", "2012-01-03T08:45:09Z", "bbb")
    // parseAll: both records come back from one payload
    val both = WarcRecords.parseAll(r1 ++ "\r\n\r\n".getBytes ++ r2)
    assert(both.flatMap(_.targetUri) ==
      Seq("http://m.org/a", "http://m.org/b"))
    // single-record payload keeps parse() semantics (incl. tolerance for
    // a missing Content-Length, which the multi-record walk requires)
    val noLen = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://m.org/c\r\n" +
      "WARC-Date: 2012-01-03T08:45:10Z\r\n\r\nHTTP/1.1 200 OK\r\n\r\nccc")
      .getBytes("UTF-8")
    assert(WarcRecords.parseAll(noLen).flatMap(_.targetUri) ==
      Seq("http://m.org/c"))
    // end-to-end: a file whose middle member holds TWO records
    val dir = SparkTestSession.tmpDir("warcmulti")
    val f = dir.resolve("multi-00000.warc.gz")
    Files.write(f,
      gz(warcResponse("http://m.org/x", "2012-01-03T08:00:00Z", "xxx")) ++
      gz(r1 ++ "\r\n\r\n".getBytes ++ r2))
    val rows = WarcExtract.extract(spark, Seq(f.toString))
      .rows.collect().sortBy(_.timestamp)
    assert(rows.length == 3)
    assert(rows.map(_.urlkey).toSeq ==
      Seq("org,m)/x", "org,m)/a", "org,m)/b"))
    // the two concatenated records share the member's byte extent
    assert(rows(1).offset == rows(2).offset &&
      rows(1).compressed_size == rows(2).compressed_size)
    // but carry their OWN digests
    assert(rows(1).digest == WarcRecords.sha1Base32("aaa".getBytes("UTF-8")))
    assert(rows(2).digest == WarcRecords.sha1Base32("bbb".getBytes("UTF-8")))
    // WAT generation walks the SAME multi-record members (r19: watRows
    // used single-record parse and silently dropped the second record)
    val wat = WarcExtract.watRows(spark, Seq(f.toString)).collect()
    assert(wat.length == 3)
    assert(wat.map(_.getString(0)).sorted.toSeq ==
      Seq("org,m)/a", "org,m)/b", "org,m)/x"))
  }

  test("plain .warc walk: extents tile the file, records parse, damage " +
      "is soft-skippable, magic dispatch picks the right walk") {
    import graft.sources.warc.PlainWarc
    val sep = "\r\n\r\n".getBytes("US-ASCII")
    val r1 = warcResponse("http://p.org/a", "2012-01-03T08:45:08Z", "aaa")
    // bare-LF record (hand-repaired archives): LF head separator AND a
    // single trailing LF as the record separator
    val body = "bbb"
    val r2 = (s"WARC/1.0\nWARC-Type: response\n" +
      s"WARC-Target-URI: http://p.org/b\nWARC-Date: 2012-01-04T00:00:00Z\n" +
      s"Content-Length: ${12 + 4 + body.length}\n\n" +
      s"HTTP/1.1 200\r\n\r\n$body").getBytes("UTF-8")
    val file = r1 ++ sep ++ r2 ++ "\n".getBytes
    val members = PlainWarc.iterate(
      new ByteArrayInputStream(file)).toVector
    assert(members.length == 2)
    // extents tile the whole file
    assert(members(0).offset == 0L &&
      members(0).length == (r1.length + 4).toLong)
    assert(members(1).offset == (r1.length + 4).toLong)
    assert(members.map(_.length).sum == file.length.toLong)
    // records parse from the member payloads like any gzip member's
    val rec1 = WarcRecords.parse(members(0).payload).get
    assert(rec1.targetUri.contains("http://p.org/a"))
    val rec2 = WarcRecords.parse(members(1).payload).get
    assert(rec2.targetUri.contains("http://p.org/b"))
    assert(new String(rec2.payload, "UTF-8").endsWith("bbb"))
    // damaged tail (not a WARC record): hard walk throws, soft recovers
    val damaged = file ++ "garbage with no separator at all".getBytes
    assertThrows[IllegalArgumentException](
      PlainWarc.iterate(new ByteArrayInputStream(damaged)).toVector)
    var bad = 0
    val soft = graft.sources.warc.GzipMembers.soften(
      PlainWarc.iterate(new ByteArrayInputStream(damaged)), _ => bad += 1)
    assert(soft.toVector.length == 2 && bad == 1)
    // extract() dispatches by magic: same rows from plain and gzip files
    val dir = SparkTestSession.tmpDir("plainwarc")
    val fp = dir.resolve("p-00000.warc"); Files.write(fp, file)
    val fg = dir.resolve("g-00000.warc.gz")
    Files.write(fg, gz(r1) ++ gz(r2))
    def rows(p: java.nio.file.Path) =
      WarcExtract.extract(spark, Seq(p.toString)).rows.collect()
        .map(r => (r.urlkey, r.timestamp, r.mimetype, r.digest)).toSet
    assert(rows(fp) == rows(fg))
  }

  test("dechunk: extensions, bare-LF endings, trailers; damage → None") {
    def ch(s: String) = s.getBytes("ISO-8859-1")
    // canonical CRLF framing with a chunk extension
    assert(WarcRecords.dechunk(ch("5;ext=a\r\nhello\r\n6\r\n world\r\n0\r\n\r\n"))
      .map(new String(_, "UTF-8")) == Some("hello world"))
    // bare-LF framing (archived pre-1.1 proxies)
    assert(WarcRecords.dechunk(ch("5\nhello\n0\n\n"))
      .map(new String(_, "UTF-8")) == Some("hello"))
    // trailer section present / truncated right after the 0 chunk
    assert(WarcRecords.dechunk(ch("3\r\nabc\r\n0\r\nX-T: 1\r\n\r\n"))
      .map(new String(_, "UTF-8")) == Some("abc"))
    assert(WarcRecords.dechunk(ch("3\r\nabc\r\n0\r\n"))
      .map(new String(_, "UTF-8")) == Some("abc"))
    // leading-zero chunk sizes are VALID framing (value, not digit
    // count, decides) — incl. one padded past 7 digits and a zero-padded
    // terminal chunk
    assert(WarcRecords.dechunk(ch("0000000a\r\nhello worl\r\n1\r\nd\r\n00\r\n\r\n"))
      .map(new String(_, "UTF-8")) == Some("hello world"))
    // damage: non-hex size, chunk overruns body, missing terminator
    // line, size line too long even for a Long, value past Int range
    assert(WarcRecords.dechunk(ch("zz\r\nabc\r\n0\r\n\r\n")).isEmpty)
    assert(WarcRecords.dechunk(ch("ff\r\nabc\r\n0\r\n\r\n")).isEmpty)
    assert(WarcRecords.dechunk(ch("3\r\nabcXY0\r\n\r\n")).isEmpty)
    assert(WarcRecords.dechunk(ch(("0" * 17 + "3") + "\r\nabc\r\n0\r\n\r\n")).isEmpty)
    assert(WarcRecords.dechunk(ch("ffffffffff\r\nabc\r\n0\r\n\r\n")).isEmpty)
    // 16 hex digits >= 2^63: must classify as damage, not throw
    // (Long.parseLong would NumberFormatException here)
    assert(WarcRecords.dechunk(ch("ffffffffffffffff\r\nabc\r\n0\r\n\r\n")).isEmpty)
    assert(WarcRecords.dechunk(ch("8000000000000000\r\nabc\r\n0\r\n\r\n")).isEmpty)
  }

  test("chunked response: digest covers the DE-CHUNKED entity (equals " +
      "the plain form's digest); damaged framing keeps raw bytes") {
    val dir = SparkTestSession.tmpDir("warcchunk")
    val plain = warcResponse("http://c.org/p", "2012-01-03T08:45:08Z", "doc body")
    def chunked(framed: String): Array[Byte] = {
      val http = "HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=not-a-charset\r\n" +
        s"Transfer-Encoding: chunked\r\n\r\n$framed"
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://c.org/c\r\n" +
        s"WARC-Date: 2012-01-03T08:45:09Z\r\nContent-Length: ${http.length}\r\n\r\n" +
        http).getBytes("UTF-8")
    }
    val good = chunked("4;x=1\r\ndoc \r\n4\r\nbody\r\n0\r\n\r\n")
    val bad = chunked("zz\r\ndoc body\r\n0\r\n\r\n")
    val f = dir.resolve("chunk-00000.warc.gz")
    Files.write(f, gz(plain) ++ gz(good) ++ gz(bad))
    val rows = WarcExtract.extract(spark, Seq(f.toString))
      .rows.collect().sortBy(_.timestamp)
    assert(rows.length == 3)
    // de-chunked digest == the plain body's digest; charset param stripped
    assert(rows(1).digest == rows(0).digest)
    assert(rows(1).mimetype == "text/html")
    // damaged framing: digest of the RAW stored bytes, never half-decoded
    assert(rows(2).digest == WarcRecords.sha1Base32(
      "zz\r\ndoc body\r\n0\r\n\r\n".getBytes("UTF-8")))
  }

  test("decodeText: BOM beats declaration; bad declarations fall back") {
    // declared us-ascii but bytes are UTF-8 (the classic server lie):
    // strict decode rejects the declaration, strict UTF-8 wins
    val utf8 = "café 世界".getBytes("UTF-8")
    assert(WarcRecords.decodeText(utf8, Some("us-ascii")) ==
      (("café 世界", "utf-8")))
    // unsupported charset name is data, not an error
    assert(WarcRecords.decodeText("plain".getBytes("UTF-8"),
      Some("not-a-charset"))._1 == "plain")
    // UTF-8 BOM overrides a wrong declaration
    val bom = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      "xé".getBytes("UTF-8")
    assert(WarcRecords.decodeText(bom, Some("iso-8859-1")) == (("xé", "utf-8")))
    // bytes invalid in BOTH declared and UTF-8 → latin-1 total fallback
    val latin = Array(0xE9.toByte, 0x20.toByte, 0xFF.toByte)
    val (txt, cs) = WarcRecords.decodeText(latin, Some("utf-8"))
    assert(cs == "iso-8859-1" && txt == "é ÿ")
    // declared charset that DOES decode strictly is honored
    assert(WarcRecords.decodeText("café".getBytes("ISO-8859-1"),
      Some("ISO-8859-1")) == (("café", "iso-8859-1")))
    // charsetParam: quoted + parameter soup
    assert(WarcRecords.charsetParam("text/html; boundary=x; charset=\"UTF-8\"")
      .contains("UTF-8"))
    assert(WarcRecords.charsetParam("text/html").isEmpty)
  }

  test("sha1Base32 matches the known digest of an empty payload") {
    // sha1("") = da39a3ee5e6b4b0d3255bfef95601890afd80709
    assert(WarcRecords.sha1Base32(Array.emptyByteArray) ==
      "3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ")
  }

  test("extract: response records only, CDX fields populated") {
    val dir = SparkTestSession.tmpDir("warc")
    val f = dir.resolve("test-00000.warc.gz")
    Files.write(f, gz(warcinfo) ++
      gz(warcResponse("http://example.com/a", "2012-01-03T08:45:08Z", "aaa")) ++
      gz(warcResponse("http://WWW.Example.com/B/", "2012-01-04T09:00:00Z", "bbb")))
    val ex = WarcExtract.extract(spark, Seq(f.toString))
    val rows = ex.rows.collect().sortBy(_.timestamp)
    assert(rows.length == 2)
    assert(rows(0).urlkey == "com,example)/a")
    assert(rows(1).urlkey == "com,example)/b")
    assert(rows(0).statuscode.contains(200))
    assert(rows(0).mimetype == "text/html")
    assert(rows(0).digest == WarcRecords.sha1Base32("aaa".getBytes("UTF-8")))
    assert(rows(0).offset == gz(warcinfo).length.toLong)
    assert(ex.badMembers.value == 0L)
  }

  test("payloadRows: binary entities byte-exact, chunked bodies " +
      "de-chunked to the same bytes, revisits/warcinfo skipped") {
    val dir = SparkTestSession.tmpDir("pay")
    val f = dir.resolve("media-00000.warc.gz")
    // a binary entity with interior \r\n\r\n and gzip-magic bytes: the
    // header split must stop at the FIRST separator, not the body's
    val entity = Array[Byte](0x1f, 0x8b.toByte, 'B', 'M', 0, 13, 10, 13,
      10, 0x7f, 0x80.toByte, 0xff.toByte, 1, 2, 3)
    def resp(uri: String, chunked: Boolean): Array[Byte] = {
      val body =
        if (!chunked) entity
        else {
          val (a, b) = entity.splitAt(5)
          f"${a.length}%x;x=1\r\n".getBytes("US-ASCII") ++ a ++
            "\r\n".getBytes ++ f"${b.length}%x\r\n".getBytes("US-ASCII") ++
            b ++ "\r\n0\r\n\r\n".getBytes("US-ASCII")
        }
      val head = ("HTTP/1.1 200 OK\r\nContent-Type: image/bmp\r\n" +
        (if (chunked) "Transfer-Encoding: chunked\r\n" else "") +
        "\r\n").getBytes("US-ASCII")
      val http = head ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        "WARC-Date: 2021-06-01T00:00:00Z\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes("US-ASCII") ++
        http
    }
    val revisit = ("WARC/1.0\r\nWARC-Type: revisit\r\n" +
      "WARC-Target-URI: http://example.com/r\r\n" +
      "WARC-Date: 2021-06-01T00:00:01Z\r\nContent-Length: 0\r\n\r\n")
      .getBytes("US-ASCII")
    Files.write(f, gz(warcinfo) ++
      gz(resp("http://example.com/plain", chunked = false)) ++
      gz(resp("http://example.com/chunk", chunked = true)) ++
      gz(revisit) ++
      Array.fill[Byte](24)(0x2b)) // corrupt tail, soft-skipped + counted
    val ex = WarcExtract.payloadRows(spark, Seq(f.toString), soft = true)
    val rows = ex.rows.collect().sortBy(_.original_url)
    assert(rows.length == 2, "warcinfo and revisit skipped by type")
    assert(ex.badMembers.value == 1L, "--skip-bad count observable")
    assert(rows.forall(_.mimetype == "image/bmp"))
    assert(rows(0).payload.sameElements(entity), "chunked de-chunks exactly")
    assert(rows(1).payload.sameElements(entity), "plain body exact")
    assert(rows(0).urlkey == "com,example)/chunk")
  }

  test("extract -soft: corrupt member counted, good prefix recovered") {
    val dir = SparkTestSession.tmpDir("warcbad")
    val good = gz(warcResponse("http://ok.org/", "2012-01-03T08:45:08Z", "ok"))
    val corrupt = gz(warcinfo).take(20) // truncated member
    val f = dir.resolve("bad-00000.warc.gz")
    Files.write(f, good ++ corrupt)
    val ex = WarcExtract.extract(spark, Seq(f.toString), soft = true)
    assert(ex.rows.collect().length == 1)
    assert(ex.badMembers.value == 1L)
    // non-soft: the same file fails the job
    val hard = WarcExtract.extract(spark, Seq(f.toString))
    assertThrows[org.apache.spark.SparkException](hard.rows.collect())
  }

  test("extractToFiles: per-input .cdx side files via TMP->rename") {
    val dir = SparkTestSession.tmpDir("warcout")
    val f = dir.resolve("in-00001.warc.gz")
    Files.write(f,
      gz(warcResponse("http://b.org/x", "2012-01-03T08:45:08Z", "x")) ++
      gz(warcResponse("http://a.org/y", "2012-01-04T08:45:08Z", "y")))
    val n = WarcExtract.extractToFiles(spark, Seq(f.toString),
      dir.toString, soft = false)
    assert(n == 2L)
    val out = Files.readAllLines(dir.resolve("in-00001.warc.gz.cdx"))
    assert(out.size == 2)
    // sorted by (urlkey, timestamp)
    assert(out.get(0).startsWith("org,a)/y 20120104084508 http://a.org/y text/html 200 "))
    assert(out.get(1).startsWith("org,b)/x 20120103084508 http://b.org/x text/html 200 "))
  }

  test("metadataRows: one output family selected, payload + geometry exact") {
    val dir = SparkTestSession.tmpDir("warcmeta")
    val f = dir.resolve("m.warc.gz")
    val m1 = gz(warcinfo)
    val m2 = gz(warcResponse("http://a.org/", "2012-01-03T08:45:08Z", "x"))
    Files.write(f, m1 ++ m2)
    val rows = WarcExtract.metadataRows(spark, Seq(f.toString))
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("warc_type") == "warcinfo")
    assert(r.getAs[String]("payload").contains("software: graft"))
    assert(r.getAs[Long]("offset") == 0L &&
      r.getAs[Long]("length") == m1.length.toLong)
    // the other family selects the other records
    assert(WarcExtract.metadataRows(spark, Seq(f.toString), "response")
      .count() == 1)
  }

  test("PlainWarc: misrouted binary fails at 5 bytes; separator-less " +
      "head fails at the 1 MiB bound, not EOF") {
    // a binary payload without the gzip magic routes here — it must
    // fail on the first 5 bytes, not after buffering the whole input
    val binary = new java.io.ByteArrayInputStream(
      Array.fill[Byte](1 << 22)(0x13))
    val e1 = intercept[IllegalArgumentException](
      graft.sources.warc.PlainWarc.iterate(binary).hasNext)
    assert(e1.getMessage.contains("WARC/"))
    // a 'WARC/' head that never produces its blank-line separator must
    // fail at MaxHeadBytes, bounded
    val longHead = ("WARC/1.0\r\n" + "X: y\r\n" * (1 << 18)).getBytes("UTF-8")
    val e2 = intercept[IllegalArgumentException](
      graft.sources.warc.PlainWarc.iterate(
        new java.io.ByteArrayInputStream(longHead)).hasNext)
    assert(e2.getMessage.contains("separator within"))
  }

  test("item-metadata JSON payloads inside WARC resource records: the " +
      "string-or-list value convention normalizes both ways") {
    // the q67/q42 fixture carries these two shapes — same keys, one
    // record scalar-valued, the next list-valued (the ItemMetadata.java
    // convention); the walk must hand the exact payload to the parser,
    // and the parser must normalize both
    def resource(uri: String, body: String): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: $uri\r\n" +
        "WARC-Date: 2020-01-01T00:00:00Z\r\n" +
        "Content-Type: application/json\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n" + body).getBytes("UTF-8")
    val scalarBody =
      """{"metadata":{"identifier":"item-0","mediatype":"texts","collection":["web","wide"]},"item_size":"42","doc":0}"""
    val listBody =
      """{"metadata":{"identifier":"item-7","mediatype":["texts","data"],"collection":"web"},"item_size":"43","doc":7}"""
    for ((body, wantMedia, wantColl, wantSize) <- Seq(
        (scalarBody, "texts", Seq("web", "wide"), 42L),
        (listBody, "texts", Seq("web"), 43L))) {
      val rec = WarcRecords.parse(resource("http://d.org/x", body)).get
      assert(rec.warcType == "resource")
      assert(new String(rec.payload, "UTF-8") == body)
      val item = graft.model.ItemMetadata
        .parseOne(new String(rec.payload, "UTF-8")).get
      assert(item.mediatype.contains(wantMedia))
      assert(item.collection == wantColl)
      assert(item.item_size.contains(wantSize))
    }
    // the LIST mediatype keeps its full value list in properties even
    // though the typed head takes the first element
    val li = graft.model.ItemMetadata.parseOne(listBody).get
    assert(li.properties("mediatype") == Seq("texts", "data"))
  }

  test("mid-header NULs: leading runs and interior bytes strip out of " +
      "the head; payload stays raw; dispatch still routes to WARC") {
    val clean = warcResponse("http://nul.org/x", "2012-01-03T08:45:08Z", "nnn")
    // leading NUL run (NUL-padded rewrite) + a NUL spattered into the
    // header text (disk damage) — payload untouched
    val sep = clean.indexOfSlice("\r\n\r\n".getBytes("US-ASCII"))
    val damagedHead = new String(clean.take(sep), "ISO-8859-1")
      .replace("WARC-Type: response", "WARC-Type: resp\u0000onse")
      .getBytes("ISO-8859-1")
    val damaged = Array.fill[Byte](5)(0) ++ damagedHead ++ clean.drop(sep)
    assert(WarcRecords.looksLikeWarc(damaged))
    val rec = WarcRecords.parse(damaged).get
    assert(rec.warcType == "response")
    assert(rec.targetUri.contains("http://nul.org/x"))
    assert(rec.timestamp14.contains("20120103084508"))
    val (status, mime) = rec.httpStatusAndMime
    assert(status.contains(200) && mime.contains("text/html"))
    // end-to-end: the damaged member still yields its CDX row
    val dir = SparkTestSession.tmpDir("warcnul")
    val f = dir.resolve("nul-00000.warc.gz")
    Files.write(f, gz(warcinfo) ++ gz(damaged))
    val rows = WarcExtract.extract(spark, Seq(f.toString)).rows.collect()
    assert(rows.length == 1)
    assert(rows(0).urlkey == "org,nul)/x")
    assert(rows(0).digest == WarcRecords.sha1Base32("nnn".getBytes("UTF-8")))
  }

  test("re-zipped member boundaries: arbitrary-chunk recompression " +
      "heals via the whole-stream record walk, whole-file extents") {
    // a valid plain WARC stream (records + CRLF separators), then
    // decompress+re-gzip chunked every 100 bytes: NO member boundary
    // aligns with a record boundary any more
    val sep = "\r\n\r\n".getBytes("US-ASCII")
    // conformant warcinfo (the healed whole-stream walk is
    // Content-Length-framed, like any plain WARC walk)
    val info = ("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      "Content-Type: application/warc-fields\r\nContent-Length: 16\r\n\r\n" +
      "software: graft\n").getBytes("UTF-8")
    val plain = info ++ sep ++
      warcResponse("http://a.org/1", "2012-01-03T08:45:08Z", "aaa") ++ sep ++
      warcResponse("http://b.org/2", "2012-01-04T09:00:00Z", "bbb") ++ sep
    val rezipped = plain.grouped(100).map(gz).reduce(_ ++ _)
    val dir = SparkTestSession.tmpDir("warcrz")
    val f = dir.resolve("rezip-00000.warc.gz")
    Files.write(f, rezipped)
    val rows = WarcExtract.extract(spark, Seq(f.toString), soft = true)
      .rows.collect().sortBy(_.timestamp)
    assert(rows.length == 2, s"healed rows: ${rows.length}")
    assert(rows(0).urlkey == "org,a)/1" && rows(1).urlkey == "org,b)/2")
    assert(rows(0).digest == WarcRecords.sha1Base32("aaa".getBytes("UTF-8")))
    // member boundaries are meaningless -> the copyable extent is the file
    assert(rows.forall(r => r.offset == 0L &&
      r.compressed_size == Files.size(f)))
    // the equal-count tie-break: ONE record cut mid-payload into two
    // members — the first member parses "successfully" with a payload
    // TRUNCATED to the member (wrong digest), so member walk and
    // healed walk both count 1; the healed row must win (correct
    // digest over the full body)
    val one = warcResponse("http://cut.org/x", "2012-01-05T10:00:00Z",
      "the-full-body-content") ++ sep
    val cutAt = one.length - 15 // inside the HTTP body
    val f2 = dir.resolve("cut-00000.warc.gz")
    Files.write(f2, gz(one.take(cutAt)) ++ gz(one.drop(cutAt)))
    val cutRows = WarcExtract.extract(spark, Seq(f2.toString), soft = true)
      .rows.collect()
    assert(cutRows.length == 1)
    assert(cutRows(0).digest ==
      WarcRecords.sha1Base32("the-full-body-content".getBytes("UTF-8")),
      "healed digest must cover the FULL body, not the first member's cut")
    assert(cutRows(0).offset == 0L &&
      cutRows(0).compressed_size == Files.size(f2))
    // properly-zipped control: same records, one member each, extents
    // stay PER-MEMBER (the healing pass must not engage)
    val g = dir.resolve("aligned-00000.warc.gz")
    Files.write(g, gz(warcinfo) ++
      gz(warcResponse("http://a.org/1", "2012-01-03T08:45:08Z", "aaa")) ++
      gz(warcResponse("http://b.org/2", "2012-01-04T09:00:00Z", "bbb")))
    val ctrl = WarcExtract.extract(spark, Seq(g.toString))
      .rows.collect().sortBy(_.timestamp)
    assert(ctrl.length == 2 && ctrl(0).offset > 0L &&
      ctrl(0).compressed_size < Files.size(g))
  }
}
