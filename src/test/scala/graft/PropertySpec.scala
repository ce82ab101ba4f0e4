package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Cdx, CdxRecord}
import graft.operators.{BoundaryPartitioner, SortedMerge}
import graft.sources.zipnum.ZipNumFormat

/** Property-based invariants of the format/parse/partition core
  * (deterministic seeds — same 200 samples every run). */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong))
        .foreach(f)
    }

  private val token: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val ts14: Gen[String] =
    Gen.chooseNum(19960101000000L, 20261231235959L).map(_.toString)

  private val record: Gen[CdxRecord] = for {
    host <- token; path <- token
    ts <- ts14
    mime <- Gen.oneOf("text/html", "warc/revisit", "application/pdf")
    status <- Gen.option(Gen.chooseNum(100, 599))
    digest <- token
    // redirect may contain raw spaces and interior CRs — the reason the
    // CDX parser exists (CDXLoader.java:42-46)
    redirect <- Gen.option(Gen.oneOf(
      token, token.map(t => s"http://r.org/$t x y"),
      token.map(t => s"http://r.org/a\rb$t")))
    flags <- Gen.option(Gen.oneOf("A-", "I", "AIF"))
    size <- Gen.option(Gen.chooseNum(0L, 1L << 40))
    offset <- Gen.option(Gen.chooseNum(0L, 1L << 40))
    fname <- token
  } yield CdxRecord(s"org,$host)/$path", ts, s"http://$host.org/$path",
    mime, status, digest, redirect, flags, size, offset, s"$fname.warc.gz")

  test("CDX format → parse is the identity on arbitrary records") {
    forAll(record) { r =>
      assert(Cdx.parseLine(Cdx.formatLine(r)).contains(r))
    }
  }

  test("ARC render → parse is the identity on arbitrary records") {
    import graft.sources.warc.ArcRecords
    val arcGen = for {
      host <- token; path <- token
      ts <- ts14
      mime <- Gen.oneOf("text/html", "text/plain", "image/gif")
      v2 <- Gen.oneOf(false, true)
      status <- Gen.chooseNum(100, 599)
      // arbitrary bytes incl. newlines/NULs — Archive-length must bound
      // the content, not any delimiter scan
      content <- Gen.listOf(Gen.chooseNum(0, 255)).map(_.map(_.toByte).toArray)
    } yield (s"http://$host.org/$path", ts, mime, v2, status, content)
    forAll(arcGen) { case (url, ts, mime, v2, status, content) =>
      val line =
        if (v2) s"$url 1.2.3.4 $ts $mime $status - - 99 f.arc.gz ${content.length}"
        else s"$url 1.2.3.4 $ts $mime ${content.length}"
      // trailing member-separator newline, as on-disk records carry
      val payload = (line + "\n").getBytes("UTF-8") ++ content ++ Array('\n'.toByte)
      val r = ArcRecords.parse(payload)
      assert(r.isDefined, line)
      assert(r.get.url == url && r.get.date14 == ts && r.get.mime == mime)
      assert(r.get.declaredLength == content.length.toLong)
      assert(r.get.content.toSeq == content.toSeq,
        "content must stop at Archive-length")
      assert(r.get.statusFromHeader == (if (v2) Some(status) else None))
    }
  }

  test("record parsers and the PII scrubber never throw on arbitrary bytes") {
    import graft.sources.warc.{ArcRecords, WarcRecords}
    val junk: Gen[Array[Byte]] = Gen.frequency(
      3 -> Gen.listOf(Gen.chooseNum(0, 255)).map(_.map(_.toByte).toArray),
      // prefix-shaped junk: looks like a record long enough to reach the
      // deeper parse paths before going wrong
      1 -> Gen.listOf(Gen.chooseNum(0, 255)).map(bs =>
        "WARC/1.0\r\nContent-Length: 999999\r\n\r\n".getBytes("UTF-8") ++
          bs.map(_.toByte)),
      1 -> Gen.listOf(Gen.chooseNum(0, 255)).map(bs =>
        "http://a.org/x 1.2.3.4 20120101000000 text/html ".getBytes("UTF-8") ++
          bs.map(_.toByte)),
      1 -> Gen.listOf(Gen.chooseNum(0, 255)).map(bs =>
        "HTTP/1.1 ".getBytes("UTF-8") ++ bs.map(_.toByte)))
    forAll(junk) { bytes =>
      WarcRecords.parse(bytes)              // Option, never a throw
      ArcRecords.parse(bytes)
      WarcRecords.httpStatusAndMime(bytes)
      graft.functions.PiiScrubCodegen.scrubAll(
        org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes))
    }
  }

  test("gzipMember → the reader's decode chain is the identity on arbitrary line sets") {
    val lines = Gen.listOf(Gen.nonEmptyListOf(
      Gen.frequency(9 -> Gen.alphaNumChar, 1 -> Gen.const('\r')))
      .map(_.mkString))
    forAll(lines) { ls =>
      val payload = ls.map(_ + "\n").mkString.getBytes("UTF-8")
      assert(ZipNumFormatSpec.memberLines(
        ZipNumFormat.gzipMember(payload)) == ls)
    }
  }

  test("surt: query-parameter order never changes the key") {
    val params = Gen.listOfN(3, token).map(_.zipWithIndex
      .map { case (t, i) => s"p$i=$t" })
    forAll(Gen.zip(token, params)) { case (host, ps) =>
      val keys = ps.permutations.take(6).map { perm =>
        graft.functions.Surt.surt(
          s"http://$host.org/x?${perm.mkString("&")}")
      }.toSet
      assert(keys.size == 1)
    }
  }

  test("boundary partitioner: monotone in the key, index in range") {
    val boundaries = Gen.listOfN(5, token).map(_.distinct.sorted)
    forAll(Gen.zip(boundaries, Gen.listOf(token))) { case (bs, keys) =>
      val p = new BoundaryPartitioner(bs.toIndexedSeq)
      val parts = keys.sorted.map(p.getPartition(_))
      assert(parts == parts.sorted, "monotone")
      assert(parts.forall(i => i >= 0 && i < p.numPartitions))
    }
  }

  test("k-way merge of sorted inputs equals sorted concatenation") {
    val lists = Gen.listOf(Gen.listOf(token).map(_.sorted))
    forAll(lists) { ls =>
      val merged = SortedMerge.mergeIterators(ls.map(_.iterator)).toSeq
      assert(merged == ls.flatten.sorted)
    }
  }
}
