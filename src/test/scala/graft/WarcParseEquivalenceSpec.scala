package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.warc.{PlainWarc, WarcRecords}
import graft.sources.warc.WarcRecords.WarcRecord

/** The single-scan, head-bounded WARC/HTTP parsers against the earlier
  * split-based ones, kept below verbatim as the oracle, on generated
  * records: bare-LF and mixed heads, status lines without a reason
  * phrase, `Content-Type:` text after the HTTP blank line, heads longer
  * than 4096 bytes, leading and interior NULs, folded headers, odd
  * Content-Length lines and multi-record members.
  *
  * The entity body is compared on all-CRLF heads only. Two classes
  * differ from the oracle's `\r\n\r\n` split on purpose: bare-LF and
  * mixed heads, whose body now starts after a bare-LF blank line too
  * (the oracle digested the head with it), and a `transfer-encoding:`
  * that is not a header name (`X-Crawler-Transfer-Encoding: chunked`, a
  * value naming it), which the oracle's head-wide substring search took
  * for chunked framing. */
class WarcParseEquivalenceSpec extends AnyFunSuite {

  private object Oracle {
    def httpStatusAndMime(payload: Array[Byte]): (Option[Int], Option[String]) = {
      val text = new String(payload, 0, math.min(payload.length, 4096),
        ISO_8859_1)
      if (!text.startsWith("HTTP/")) (None, None)
      else {
        val lines = text.split("\n").map(_.stripSuffix("\r"))
        val status = lines.head.split(" ").lift(1).flatMap(_.toIntOption)
        val mime = lines.tail.takeWhile(_.nonEmpty)
          .find(_.toLowerCase.startsWith("content-type:"))
          .map(_.split(":", 2)(1).trim.split(";")(0).trim)
          .filter(_.nonEmpty)
        (status, mime)
      }
    }

    /** The entity body: the block after the first `\r\n\r\n` when the
      * status parses, de-chunked when the head names chunked. */
    def entity(payload: Array[Byte]): Array[Byte] =
      if (httpStatusAndMime(payload)._1.isEmpty) payload
      else httpBody(payload)

    def httpBody(payload: Array[Byte]): Array[Byte] = {
      val sep = "\r\n\r\n".getBytes(ISO_8859_1)
      var i = 0
      while (i <= payload.length - sep.length) {
        var j = 0
        while (j < sep.length && payload(i + j) == sep(j)) j += 1
        if (j == sep.length) {
          val raw = java.util.Arrays.copyOfRange(payload, i + 4, payload.length)
          val head = new String(payload, 0, i, ISO_8859_1).toLowerCase
          val te = head.indexOf("transfer-encoding:")
          val chunked = te >= 0 && {
            val eol = head.indexOf('\n', te)
            head.substring(te, if (eol < 0) head.length else eol)
              .contains("chunked")
          }
          return if (chunked) WarcRecords.dechunk(raw).getOrElse(raw) else raw
        }
        i += 1
      }
      payload
    }

    def parse(bytes: Array[Byte]): Option[WarcRecord] = {
      val sep4 = indexOf(bytes, "\r\n\r\n".getBytes)
      val sep2 = indexOf(bytes, "\n\n".getBytes,
        end = if (sep4 >= 0) sep4 + 2 else bytes.length)
      val (sep, sepLen) =
        if (sep4 >= 0 && (sep2 < 0 || sep4 < sep2)) (sep4, 4)
        else if (sep2 >= 0) (sep2, 2)
        else return None
      val head = new String(bytes, 0, sep, UTF_8).replace("\u0000", "")
      val rawLines = head.split("\n").map(_.stripSuffix("\r"))
      if (!rawLines.head.startsWith("WARC/")) return None
      val lines = rawLines.tail.foldLeft(List.empty[String]) { (acc, l) =>
        if (l.nonEmpty && (l.head == ' ' || l.head == '\t') && acc.nonEmpty)
          (acc.head + " " + l.trim) :: acc.tail
        else l :: acc
      }.reverse
      val headers = lines.flatMap { l =>
        val i = l.indexOf(':')
        if (i < 0) None else Some(l.substring(0, i).trim -> l.substring(i + 1).trim)
      }.toMap
      val ci = headers.map { case (k, v) => k.toLowerCase -> v }
      val avail = bytes.length - (sep + sepLen)
      val blockLen = ci.get("content-length").flatMap(_.toIntOption)
        .filter(l => l >= 0 && l <= avail).getOrElse(avail)
      Some(WarcRecord(
        warcType = ci.getOrElse("warc-type", "unknown"),
        targetUri = ci.get("warc-target-uri").map(_.stripPrefix("<").stripSuffix(">")),
        date = ci.get("warc-date"),
        contentType = ci.get("content-type"),
        headers = headers,
        payload = java.util.Arrays.copyOfRange(bytes, sep + sepLen,
          sep + sepLen + blockLen)))
    }

    def parseAll(bytes: Array[Byte]): Seq[WarcRecord] = {
      def single = parse(bytes).toSeq
      val sep4 = indexOf(bytes, "\r\n\r\n".getBytes)
      val sep2 = indexOf(bytes, "\n\n".getBytes,
        end = if (sep4 >= 0) sep4 + 2 else bytes.length)
      val (sep, sepLen) =
        if (sep4 >= 0 && (sep2 < 0 || sep4 < sep2)) (sep4, 4)
        else if (sep2 >= 0) (sep2, 2)
        else return single
      val head = new String(bytes, 0, sep, ISO_8859_1).replace("\u0000", "")
      val len = head.split("\n").map(_.stripSuffix("\r"))
        .find(_.toLowerCase.startsWith("content-length:"))
        .flatMap(_.split(":", 2)(1).trim.toLongOption)
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

    private def indexOf(hay: Array[Byte], needle: Array[Byte],
                        end: Int = Int.MaxValue): Int = {
      var i = 0
      val limit = math.min(hay.length, end) - needle.length
      while (i <= limit) {
        var j = 0
        while (j < needle.length && hay(i + j) == needle(j)) j += 1
        if (j == needle.length) return i
        i += 1
      }
      -1
    }
  }

  /** Everything a record carries, payload and header order included. */
  private def view(r: WarcRecord) = (r.warcType, r.targetUri, r.date,
    r.contentType, r.headers.toList, r.payload.toSeq)

  private def nl(r: Random): String = r.nextInt(4) match {
    case 0 => "\n"
    case _ => "\r\n"
  }

  private def http(r: Random): Array[Byte] = {
    val sb = new StringBuilder
    val status = Seq("HTTP/1.1 200 OK", "HTTP/1.0 404", "HTTP/1.1 abc",
      "HTTP/1.1  200", "HTTP/1.1 301 Moved Permanently", "http/1.1 200",
      "HTTP/1.1 200\r", "HTTP/1.1")(r.nextInt(8))
    val lineEnd = nl(r)
    sb ++= status ++= lineEnd
    (0 until r.nextInt(4)).foreach(i => sb ++= s"X-H$i: v$i" ++= nl(r))
    if (r.nextInt(5) == 0) // push the head past the 4 KiB window
      (0 until 40 + r.nextInt(40)).foreach(i =>
        sb ++= s"X-Pad-$i: ${"p" * 90}" ++= lineEnd)
    r.nextInt(7) match {
      case 0 => ()
      case 1 => sb ++= "content-TYPE: Text/HTML; charset=utf-8" ++= nl(r)
      case 2 => sb ++= "Content-Type: " ++= lineEnd
      case 3 => sb ++= "Content-Type: text/plain;" ++= lineEnd ++=
        " charset=x" ++= lineEnd
      case 4 => sb ++= "Content-Type:image/png" ++= nl(r) ++=
        "Content-Type: text/second" ++= lineEnd
      case _ => sb ++= "Content-Type: text/html" ++= lineEnd
    }
    if (r.nextInt(6) != 0) sb ++= nl(r)
    sb ++= Seq("", "body", "Content-Type: evil/after-blank\r\n\r\nx",
      "\n\nContent-Type: evil/after-blank-lf\n", "x" * 5000)(r.nextInt(5))
    sb.toString.getBytes(ISO_8859_1)
  }

  private def warc(r: Random, exactLength: Boolean): Array[Byte] = {
    val block = if (r.nextInt(4) == 0) "plain block".getBytes(UTF_8) else http(r)
    val sb = new StringBuilder
    sb ++= "\u0000" * (if (r.nextInt(5) == 0) 1 + r.nextInt(3) else 0)
    sb ++= "WARC/1.0" ++= nl(r)
    val fields = scala.collection.mutable.ArrayBuffer(
      s"WARC-Type: ${Seq("response", "resource", "revisit", "warcinfo")(r.nextInt(4))}",
      s"WARC-Target-URI: ${if (r.nextBoolean()) "<http://a.org/x>" else "http://b.org/é"}",
      "WARC-Date: 2012-01-03T08:45:08Z",
      "Content-Type: application/http; msgtype=response",
      "WARC-Payload-Digest: sha1:AAAA")
    if (r.nextInt(4) == 0) fields += "WARC-Extra: folded\t" // folding follows
    if (r.nextInt(4) == 0) // names differing only in case
      fields ++= Seq("warc-TYPE: resource", "WARC-DATE: 2013-02-03T00:00:00Z",
        "warc-target-uri: http://c.org/", "content-type: text/other")
        .filter(_ => r.nextBoolean())
    val len = if (exactLength) block.length.toString else r.nextInt(6) match {
      case 0 => "-3"
      case 1 => "abc"
      case 2 => (block.length + 9).toString
      case 3 => (block.length / 2).toString
      case _ => block.length.toString
    }
    r.nextInt(6) match {
      case 0 if !exactLength => ()
      case 1 => fields += s"content-length: $len"
      case 2 => fields += s"Content-Length : $len"
      case 3 if !exactLength => fields += s"Content-Length: $len" ;
        fields += "content-length: 1"
      case _ => fields += s"Content-Length: $len"
    }
    val shuffled = r.shuffle(fields)
    shuffled.foreach { f =>
      sb ++= f ++= nl(r)
      if (f.endsWith("\t")) sb ++= "  continued value" ++= nl(r)
    }
    if (r.nextInt(8) == 0) sb.insert(sb.length / 2, '\u0000')
    sb ++= nl(r)
    val head = sb.toString.getBytes(UTF_8)
    head ++ block ++ (if (r.nextBoolean()) "\r\n\r\n" else "").getBytes(UTF_8)
  }

  private def member(r: Random): Array[Byte] =
    if (r.nextInt(4) == 0)
      (0 until 2 + r.nextInt(2)).map(_ => warc(r, exactLength = true))
        .reduce(_ ++ _) ++ (if (r.nextInt(4) == 0) "WARC/1.0\r\nbroken"
          .getBytes(UTF_8) else Array.emptyByteArray)
    else warc(r, exactLength = false)

  /** Byte soup from separator-rich tokens. */
  private def soup(r: Random): Array[Byte] = {
    val tokens = Seq("\r", "\n", "\r\n", "\u0000", ":", " ", "\t", "a", "WARC/1.0",
      "HTTP/1.1 200", "Content-Length: 4", "content-type: x/y", "ÿ")
    (0 until r.nextInt(40)).map(_ => tokens(r.nextInt(tokens.length)))
      .mkString.getBytes(ISO_8859_1)
  }

  /** An HTTP block whose head ends every line with CRLF: status lines
    * with and without a reason phrase, NULs, heads past 4 KiB, chunked
    * (`Transfer-Encoding` in any case, intact and damaged framing) and
    * plain bodies, bodies holding `\r\n\r\n`, heads with no blank line. */
  private def crlfHttp(r: Random): Array[Byte] = {
    val sb = new StringBuilder
    sb ++= Seq("HTTP/1.1 200 OK", "HTTP/1.0 404", "HTTP/1.1 abc",
      "HTTP/1.1 200\r", "HTTP/1.1", "HTTP/1.1 200 O\u0000K",
      "http/1.1 200")(r.nextInt(7)) ++= "\r\n"
    var chunked = false
    (0 until r.nextInt(5)).foreach { _ =>
      sb ++= (r.nextInt(8) match {
        case 0 => chunked = true; "Transfer-Encoding: chunked"
        case 1 => chunked = true; "TRANSFER-encoding: gzip, Chunked"
        case 2 => "Transfer-Encoding: identity"
        case 3 => "Content-Type: text/html; charset=utf-8"
        case 4 => "X-N\u0000ul: \u0000v"
        case 5 => "X-Folded: a\r\n b"
        case 6 => s"X-Pad: ${"p" * (2000 + r.nextInt(3000))}"
        case _ => "Server: x\ry"
      }) ++= "\r\n"
    }
    val blank = r.nextInt(8) != 0
    if (blank) sb ++= "\r\n"
    sb ++= (r.nextInt(6) match {
      case 0 => ""
      case 1 => "body\r\n\r\nmore"
      case 2 => "5\r\nhello\r\n6;x=1\r\n world\r\n0\r\n\r\n"
      case 3 => "5\r\nhel" // framing cut short
      case 4 => "zz\r\nabc\r\n0\r\n\r\n"
      // bare-LF framing after the blank line only: without one it
      // would be a bare-LF head line
      case _ => if (chunked && blank) "3\nabc\n0\n\n" else "x" * 5000
    })
    sb.toString.getBytes(ISO_8859_1)
  }

  test("the entity body matches the \\r\\n\\r\\n split on all-CRLF heads") {
    val r = new Random(13L)
    var dechunked = 0
    (1 to 3000).foreach { _ =>
      val b = crlfHttp(r)
      val want = Oracle.entity(b)
      val head = WarcRecords.httpHead(b)
      assert(head.entity(b).toSeq == want.toSeq,
        new String(b, ISO_8859_1).take(300))
      if (head.chunked && head.status.isDefined && head.bodyStart >= 0 &&
          WarcRecords.dechunk(b.drop(head.bodyStart)).isDefined) dechunked += 1
    }
    assert(dechunked > 100, s"only $dechunked de-chunked bodies generated")
  }

  test("a bare-LF head and a non-header transfer-encoding differ on purpose") {
    def bytes(s: String) = s.getBytes(ISO_8859_1)
    def entity(b: Array[Byte]) = WarcRecords.httpHead(b).entity(b).toSeq
    val lf = bytes("HTTP/1.0 200 OK\nContent-Type: text/html\n\nbody")
    assert(entity(lf) == bytes("body").toSeq)
    assert(Oracle.entity(lf).toSeq == lf.toSeq) // the head was digested
    // an already de-chunked body under a renamed header stays as it is;
    // the substring search de-chunked it to nothing
    val renamed = bytes("HTTP/1.1 200 OK\r\n" +
      "X-Crawler-Transfer-Encoding: chunked\r\n\r\n0\r\n\r\nabc")
    assert(entity(renamed) == bytes("0\r\n\r\nabc").toSeq)
    assert(Oracle.entity(renamed).isEmpty)
  }

  test("httpStatusAndMime matches the full-window split on generated blocks") {
    val r = new Random(11L)
    (1 to 3000).foreach { _ =>
      val b = if (r.nextInt(4) == 0) soup(r) else http(r)
      assert(WarcRecords.httpStatusAndMime(b) == Oracle.httpStatusAndMime(b),
        new String(b, ISO_8859_1).take(200))
    }
  }

  test("the content-type after the blank line and past 4 KiB is ignored") {
    import WarcRecords.httpStatusAndMime
    val after = "HTTP/1.1 200 OK\r\n\r\nContent-Type: text/evil\r\n"
    assert(httpStatusAndMime(after.getBytes(ISO_8859_1)) == (Some(200), None))
    val long = "HTTP/1.1 200\n" + ("X-Pad: " + "p" * 100 + "\n") * 40 +
      "Content-Type: text/late\n\n"
    assert(httpStatusAndMime(long.getBytes(ISO_8859_1)) == (Some(200), None))
  }

  test("parse and parseAll match the separate-scan parsers on generated " +
      "members") {
    val r = new Random(12L)
    var multi = 0
    (1 to 3000).foreach { _ =>
      val b = r.nextInt(5) match {
        case 0 => soup(r)
        case _ => member(r)
      }
      val what = new String(b, ISO_8859_1).take(300)
      assert(WarcRecords.parse(b).map(view) == Oracle.parse(b).map(view), what)
      val all = Oracle.parseAll(b)
      if (all.size > 1) multi += 1
      assert(WarcRecords.parseAll(b).map(view) == all.map(view), what)
    }
    assert(multi > 50, s"only $multi multi-record members generated")
  }
}
