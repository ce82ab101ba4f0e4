package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.SplittableRandom

/** Seeded input generators. The program only ever sees the files these
  * write; the same seed always writes the same bytes. */
object Gen {

  // ------------------------------------------------------------ W/ARC corpus

  /** Shape of the archive-ingest corpus: two crawls of `filesPerCrawl`
    * files each. The last file of crawl `a` is an ARC file; the last file
    * of crawl `b` ends in a corrupt gzip tail. `hotUrls` URLs are captured
    * `hotCapturesPerCrawl` times by each crawl on one shared day, so the
    * global-CDX day cap (limit 111 admits 112) drops rows. */
  final case class CorpusSpec(recordsPerFile: Int = 20000,
                              filesPerCrawl: Int = 8,
                              hotUrls: Int = 4,
                              hotCapturesPerCrawl: Int = 70)

  /** Counts the corpus must produce, in closed form. */
  final case class CorpusCounts(records: Long, jsonResources: Long,
                                dayCapDropped: Long, badMembers: Long) {
    /** Rows the global-CDX merge keeps: JSON resources carry no HTTP
      * status and are dropped; the day cap drops the hot surplus. */
    def merged: Long = records - jsonResources - dayCapDropped
  }

  val DayCapAdmits = 112

  /** Record kind of the j-th record of a WARC file, by fixed shares. */
  private def kind(j: Int): String = (j % 25) match {
    case 0 => "json"
    case 1 | 2 => "revisit"
    case 3 | 4 => "404"
    case k if k % 5 == 0 => "chunked"
    case _ => "200"
  }

  def expectedCounts(s: CorpusSpec): CorpusCounts = {
    val warcFiles = 2 * s.filesPerCrawl - 1 // one file of crawl a is ARC
    val hot = 2L * s.hotUrls * s.hotCapturesPerCrawl
    CorpusCounts(
      records = 2L * s.filesPerCrawl * s.recordsPerFile + hot,
      jsonResources = warcFiles.toLong * ((s.recordsPerFile + 24) / 25),
      dayCapDropped =
        s.hotUrls.toLong * math.max(0, 2 * s.hotCapturesPerCrawl - DayCapAdmits),
      badMembers = 1)
  }

  private val Day0 = java.time.LocalDate.of(2024, 3, 1)
  private val HotDay = 7 // crawl a covers days 0-9, crawl b days 5-14

  private val IsoSeconds =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")

  private def warcDate(day: Int, second: Int): String =
    Day0.plusDays(day).atStartOfDay().plusSeconds(second).format(IsoSeconds)

  private def arcDate(day: Int, second: Int): String =
    warcDate(day, second).filter(_.isDigit)

  private def host(i: Int): String = s"h${i % 997}-${i / 997}.example"

  /** URL of pool entry `u`: a host and a path, lower-case and without a
    * `www.` prefix, so distinct URLs keep distinct SURT keys. */
  private def poolUrl(u: Int): String = s"http://${host(u / 3)}/p/${u % 3}/x$u.html"
  private def hotUrl(h: Int): String = s"http://hot$h.example/index.html"

  private def text(r: SplittableRandom, n: Int): String = {
    val words = Array("wayback", "crawl", "archive", "capture", "record",
      "index", "shard", "block", "summary", "merge", "the", "of", "and")
    val sb = new java.lang.StringBuilder(n + 16)
    while (sb.length < n) {
      sb.append(words(r.nextInt(words.length)))
      if (r.nextInt(7) == 0) sb.append(r.nextInt(100000))
      sb.append(' ')
    }
    sb.toString
  }

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val z = new java.util.zip.GZIPOutputStream(bos)
    z.write(b); z.close()
    bos.toByteArray
  }

  private def warcRecord(kind: String, uri: String, date: String,
                         r: SplittableRandom): Array[Byte] = {
    val body = text(r, 200 + r.nextInt(1000)).getBytes(UTF_8)
    def rec(tpe: String, ctype: String, block: Array[Byte],
            extra: String = ""): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: $tpe\r\nWARC-Target-URI: $uri\r\n" +
        s"WARC-Date: $date\r\nContent-Type: $ctype\r\n$extra" +
        s"Content-Length: ${block.length}\r\n\r\n").getBytes(US_ASCII) ++
        block ++ "\r\n\r\n".getBytes(US_ASCII)
    def http(status: String, headers: String, entity: Array[Byte]) =
      rec("response", "application/http; msgtype=response",
        (s"HTTP/1.1 $status\r\nContent-Type: text/html\r\n$headers\r\n")
          .getBytes(US_ASCII) ++ entity)
    kind match {
      case "json" =>
        rec("resource", "application/json",
          s"""{"url":"$uri","n":${r.nextInt(1000)}}""".getBytes(UTF_8))
      case "revisit" =>
        rec("revisit", "message/http", Array.emptyByteArray,
          s"WARC-Payload-Digest: sha1:${"A" * 32}\r\n")
      case "404" => http("404 Not Found", "", body.take(120))
      case "chunked" =>
        val (a, b) = body.splitAt(body.length / 2)
        val chunked = new java.io.ByteArrayOutputStream()
        Seq(a, b).foreach { c =>
          chunked.write(f"${c.length}%x\r\n".getBytes(US_ASCII))
          chunked.write(c); chunked.write("\r\n".getBytes(US_ASCII))
        }
        chunked.write("0\r\n\r\n".getBytes(US_ASCII))
        http("200 OK", "Transfer-Encoding: chunked\r\n", chunked.toByteArray)
      case _ => http("200 OK", "", body)
    }
  }

  private def arcRecord(uri: String, date14: String,
                        r: SplittableRandom): Array[Byte] = {
    val entity = text(r, 200 + r.nextInt(1000)).getBytes(UTF_8)
    val content = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
      .getBytes(US_ASCII) ++ entity
    (s"$uri 10.0.0.1 $date14 text/html ${content.length}\n")
      .getBytes(US_ASCII) ++ content ++ "\n".getBytes(US_ASCII)
  }

  /** Write the corpus into `dir`; returns the file paths, crawl `a` first.
    * Each crawl captures every pool URL twice (and so at most four times a
    * day across both crawls), which keeps every group but the hot ones
    * under the day cap. Files are written in parallel, one seeded stream
    * each. */
  def warcCorpus(dir: File, seed: Long, s: CorpusSpec): Seq[String] = {
    dir.mkdirs()
    val perCrawl = s.filesPerCrawl * s.recordsPerFile
    val files = for (c <- Seq("a", "b"); f <- 0 until s.filesPerCrawl)
      yield (c, f)
    val paths = files.map { case (c, f) =>
      val arc = c == "a" && f == s.filesPerCrawl - 1
      new File(dir, f"crawl-$c-$f%05d." + (if (arc) "arc.gz" else "warc.gz"))
    }
    java.util.stream.IntStream.range(0, files.size).parallel().forEach { idx =>
      val (c, f) = files(idx)
      val file = paths(idx)
      val r = new SplittableRandom(seed * 1000003L + idx)
      val dayBase = if (c == "a") 0 else 5
      val arc = file.getName.endsWith(".arc.gz")
      val out = new BufferedOutputStream(new FileOutputStream(file), 1 << 16)
      try {
        if (arc) out.write(gz(graft.sources.warc.ArcRecords
          .filedescPayload(file.getName, arcDate(dayBase, 0))))
        else out.write(gz(("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
          "Content-Type: application/warc-fields\r\nContent-Length: 15\r\n" +
          "\r\nsoftware: gen\r\n\r\n\r\n").getBytes(US_ASCII)))
        // pool URL of record j in this file: record positions of a crawl
        // map two-to-one onto the pool, so each URL appears twice a crawl
        val pos0 = f * s.recordsPerFile
        (0 until s.recordsPerFile).foreach { j =>
          val u = ((pos0 + j).toLong * 7919L % perCrawl).toInt / 2
          val day = dayBase + r.nextInt(10)
          val sec = r.nextInt(86400)
          val rec =
            if (arc) arcRecord(poolUrl(u), arcDate(day, sec), r)
            else warcRecord(kind(j), poolUrl(u), warcDate(day, sec), r)
          out.write(gz(rec))
        }
        if (f == 0) (0 until s.hotUrls).foreach { h =>
          (0 until s.hotCapturesPerCrawl).foreach { k =>
            val sec = (if (c == "a") 0 else 40000) + k * 60 + h
            out.write(gz(warcRecord("200", hotUrl(h), warcDate(HotDay, sec), r)))
          }
        }
        if (c == "b" && f == s.filesPerCrawl - 1)
          out.write(Array.fill[Byte](32)(0x19)) // corrupt tail, skipped by -soft
      } finally out.close()
    }
    paths.map(_.getAbsolutePath)
  }

  // ------------------------------------------------------------ CDX lines

  /** Shape of the lookup cluster's input: `hosts` hosts with Zipf-skewed
    * shares of `lines` (host rank r gets a share proportional to
    * 1/(r+1), uncapped, so the largest host holds about a tenth of the
    * lines), 1-3 paths and 5-15 URLs per host, several captures per URL. */
  final case class CdxSpec(lines: Int = 300000, hosts: Int = 20000)

  /** The lookup cluster's generated keys: every distinct urlkey in byte
    * order, and every host's `tld,host)/` prefix in rank order, largest
    * host first. */
  final case class CdxKeys(keys: IndexedSeq[String], hosts: IndexedSeq[String])

  /** Write at most `spec.lines` CDX-11 lines, unsorted, in `files` files.
    * Keys are ASCII, so String order is the byte order the cluster is
    * sorted by. */
  def cdxLines(dir: File, seed: Long, spec: CdxSpec, files: Int = 8): CdxKeys = {
    dir.mkdirs()
    val r = new SplittableRandom(seed)
    val w = (0 until spec.hosts).map(i => 1.0 / (i + 1))
    val total = w.sum
    val perHost = w.map(x => math.max(1, (x / total * spec.lines).toInt))
    val keys = scala.collection.mutable.ArrayBuffer.empty[String]
    val hosts = scala.collection.mutable.ArrayBuffer.empty[String]
    val outs = (0 until files).map(i => new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(new FileOutputStream(
        new File(dir, f"cdx-$i%03d.cdx")), UTF_8), 1 << 16))
    var written = 0
    try {
      var h = 0
      while (h < spec.hosts && written < spec.lines) {
        val name = s"${(h * 7919) % 100003}s${h % 13}"
        val tld = Seq("com", "org", "net")(h % 3)
        hosts += s"$tld,$name)/"
        val paths = 1 + r.nextInt(3)
        val n = math.min(perHost(h), spec.lines - written)
        (0 until n).foreach { k =>
          val p = k % paths
          val urlkey = s"$tld,$name)/d$p/page${k % (paths * 5)}"
          val url = s"http://$name.$tld/d$p/page${k % (paths * 5)}"
          val ts = f"20${10 + r.nextInt(14)}%02d${1 + r.nextInt(12)}%02d" +
            f"${1 + r.nextInt(28)}%02d${r.nextInt(24)}%02d${r.nextInt(60)}%02d" +
            f"${r.nextInt(60)}%02d"
          val status = if (r.nextInt(10) == 0) "404" else "200"
          val digest = (0 until 32).map(_ =>
            "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567".charAt(r.nextInt(32))).mkString
          outs(written % files).write(s"$urlkey $ts $url text/html $status " +
            s"$digest - - ${200 + r.nextInt(5000)} ${r.nextInt(Int.MaxValue)} " +
            s"crawl-${r.nextInt(100)}.warc.gz\n")
          if (k < paths * 5) keys += urlkey
          written += 1
        }
        h += 1
      }
    } finally outs.foreach(_.close())
    CdxKeys(keys.distinct.sorted.toIndexedSeq, hosts.toIndexedSeq)
  }

  // ------------------------------------------------------------ lookups

  /** One lookup: `[start, end)` over whole CDX lines. `kind` picks the
    * urlkey predicate the scan API uses for the same rows. */
  final case class Lookup(kind: String, start: String, end: String)

  /** Shares of the lookup stream, out of 10: exact URL, host prefix,
    * wide range. Chosen for this benchmark, not taken from a measured
    * CDX-server query log. */
  val Shares: Seq[(String, Int)] = Seq("exact" -> 6, "prefix" -> 3, "wide" -> 1)

  /** Rank in [0, n) drawn from a 1/(rank+1) law by inverse CDF of `u`. */
  private def zipfRank(u: Double, n: Int): Int =
    math.max(0, math.min(n - 1, math.exp(u * math.log(n.toDouble)).toInt - 1))

  /** `n` lookups over the generated keys. Exact lookups and host prefixes
    * both pick their host by a 1/x law over the host ranks, so the largest
    * hosts, whose prefixes cover many blocks and whose URLs have the most
    * captures, get their share; an exact lookup then takes one of the
    * host's URLs at random. Host ranks come from a seeded golden-ratio
    * sequence rather than from independent uniforms, so that every window
    * of the stream holds close to the law's share of each rank, and the
    * few lookups on the largest hosts neither pile up nor go missing in
    * one run. Wide ranges span 1% of the keys and straddle a quartile of
    * the key space, where the cluster's shard boundaries fall. */
  def lookupStream(gen: CdxKeys, seed: Long, n: Int): IndexedSeq[Lookup] = {
    val keys = gen.keys
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val phi = (math.sqrt(5) - 1) / 2
    var ue = r.nextDouble(); var up = r.nextDouble()
    def next(u: Double) = { val v = u + phi; v - math.floor(v) }
    def lowerBound(k: String): Int = {
      var lo = 0; var hi = keys.length
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (keys(mid) < k) lo = mid + 1 else hi = mid }
      lo
    }
    val cycle = Shares.flatMap { case (k, c) => Seq.fill(c)(k) }
    (0 until n).map { i =>
      cycle(i % cycle.size) match {
        case "exact" =>
          ue = next(ue)
          val p = gen.hosts(zipfRank(ue, gen.hosts.length))
          val lo = lowerBound(p)
          val k = keys(lo + r.nextInt(lowerBound(p.dropRight(1) + (p.last + 1).toChar) - lo))
          // '!' is the byte after ' ', so the range holds exactly key k
          Lookup("exact", k, k + "!")
        case "prefix" =>
          up = next(up)
          val p = gen.hosts(zipfRank(up, gen.hosts.length))
          Lookup("prefix", p, p.dropRight(1) + (p.last + 1).toChar)
        case _ =>
          // 1% of the keys, placed so that the quartile key is inside
          val q = keys.length * (1 + r.nextInt(3)) / 4
          val span = math.max(4, keys.length / 100)
          val lo = math.max(0, q - span / 4 - r.nextInt(span / 2))
          val hi = math.min(keys.length - 1, lo + span)
          Lookup("wide", keys(lo), keys(hi))
      }
    }
  }
}
