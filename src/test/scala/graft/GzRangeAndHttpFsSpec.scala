package graft

import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.server.{GzRangeClient, GzRangeServer}
import graft.sources.warc.GzipMembers

class GzRangeAndHttpFsSpec extends AnyFunSuite with SparkTestSession
    with BeforeAndAfterAll {

  private def gz(s: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(s.getBytes("UTF-8")); g.close()
    bos.toByteArray
  }

  test("K12: server hands out member ranges; client rotates output archives") {
    val root = SparkTestSession.tmpDir("gzr")
    val m = (0 until 5).map(i => gz(s"member-$i\n"))
    Files.write(root.resolve("src.warc.gz"), m.flatten.toArray)
    val server = GzRangeServer.start(root.toString)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val outDir = SparkTestSession.tmpDir("gzrout")
      // rotate after ~2 members
      val client = new GzRangeClient(outDir.toString, "rebuilt",
        maxFileBytes = m.head.length * 2 + 1)
      var off = 0L
      m.foreach { mem =>
        client.fetchAndAppend(base, "src.warc.gz", off, mem.length.toLong)
        off += mem.length
      }
      val files = client.close()
      assert(files.size >= 2, s"expected rotation, got $files")
      val payloads = files.flatMap { f =>
        GzipMembers.iterate(new java.io.FileInputStream(f))
          .map(mm => new String(mm.payload, "UTF-8")).toSeq
      }
      assert(payloads == (0 until 5).map(i => s"member-$i\n"))
    } finally server.stop(0)
  }

  test("K12: file names with spaces and '&' survive the fetch URL") {
    val root = SparkTestSession.tmpDir("gzre")
    val m = gz("tricky\n")
    Files.write(root.resolve("a b&c.warc.gz"), m)
    val server = GzRangeServer.start(root.toString)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val outDir = SparkTestSession.tmpDir("gzreout")
      val client = new GzRangeClient(outDir.toString, "enc", 1 << 20)
      client.fetchAndAppend(base, "a b&c.warc.gz", 0, m.length.toLong)
      val files = client.close()
      val got = GzipMembers.iterate(new java.io.FileInputStream(files.head))
        .map(mm => new String(mm.payload, "UTF-8")).toSeq
      assert(got == Seq("tricky\n"))
    } finally server.stop(0)
  }

  test("K12: the server refuses path escapes — ../ traversal AND the " +
      "bare-prefix sibling trick both 500, in-root stays 200") {
    val base0 = SparkTestSession.tmpDir("gzesc")
    val root = Files.createDirectory(base0.resolve("root"))
    // a sibling whose name has the root as a PREFIX: startsWith on the
    // bare canonical path (no separator) would wrongly allow it
    val sibling = Files.createDirectory(base0.resolve("rootx"))
    Files.write(root.resolve("in.bin"), "inside".getBytes("UTF-8"))
    Files.write(base0.resolve("secret.bin"), "outside".getBytes("UTF-8"))
    Files.write(sibling.resolve("s.bin"), "sibling".getBytes("UTF-8"))
    val server = GzRangeServer.start(root.toString)
    try {
      val port = server.getAddress.getPort
      def code(file: String, len: Int): Int = {
        val enc = java.net.URLEncoder.encode(file, "UTF-8")
        val conn = java.net.URI.create(
            s"http://127.0.0.1:$port/fetch?file=$enc&offset=0&length=$len")
          .toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        try conn.getResponseCode finally conn.disconnect()
      }
      assert(code("in.bin", 6) == 200)
      assert(code("../secret.bin", 7) == 500)
      assert(code("../rootx/s.bin", 7) == 500)
      assert(code("/etc/hostname", 1) == 500) // absolute path
    } finally server.stop(0)
  }

  test("K12: per-file warcinfo header opens every rotated file with its " +
      "OWN name, and the member stream after it is intact") {
    val root = SparkTestSession.tmpDir("gzrw")
    val m = (0 until 3).map(i => gz(s"member-$i\n"))
    Files.write(root.resolve("src.warc.gz"), m.flatten.toArray)
    val server = GzRangeServer.start(root.toString)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val outDir = SparkTestSession.tmpDir("gzrwout")
      val date = java.time.Instant.parse("2012-01-01T00:00:00Z")
      // rotate per member: budget = one header + one member, so the
      // second fetch always overflows (header sizes are name-length
      // dependent but constant here — wi-0000N names)
      val hdrLen = GzRangeClient.warcinfoHeader("wi-00000.warc.gz", date).length
      val client = new GzRangeClient(outDir.toString, "wi",
        maxFileBytes = hdrLen.toLong + m.head.length + 1,
        headerFor = Some(n => GzRangeClient.warcinfoHeader(n, date)))
      var off = 0L
      m.foreach { mem =>
        client.fetchAndAppend(base, "src.warc.gz", off, mem.length.toLong)
        off += mem.length
      }
      val files = client.close()
      assert(files.size >= 2, s"expected rotation, got $files")
      files.foreach { f =>
        val members = GzipMembers.iterate(new java.io.FileInputStream(f))
          .map(mm => new String(mm.payload, "UTF-8")).toSeq
        // leading member is a warcinfo record naming THIS file
        val head = members.head
        assert(head.startsWith("WARC/1.0\r\nWARC-Type: warcinfo\r\n"), head)
        val name = new java.io.File(f).getName
        assert(head.contains(s"WARC-Filename: $name"), s"$name not in $head")
        assert(head.contains("Content-Type: application/warc-fields"))
        // determinism: same name + date → identical bytes
        assert(GzRangeClient.warcinfoHeader(name, date).toSeq ==
          GzRangeClient.warcinfoHeader(name, date).toSeq)
        // the fetched members follow, unharmed
        assert(members.tail.forall(_.startsWith("member-")))
      }
      val payloads = files.flatMap { f =>
        GzipMembers.iterate(new java.io.FileInputStream(f))
          .map(mm => new String(mm.payload, "UTF-8")).toSeq
          .filterNot(_.startsWith("WARC/1.0"))
      }
      assert(payloads == (0 until 3).map(i => s"member-$i\n"))
    } finally server.stop(0)
  }

  test("S18 shape: spark reads grafthttp:// through the seekable HTTP FS") {
    val content = (0 until 1000).map(i => s"row-$i").mkString("", "\n", "\n")
    val bytes = content.getBytes("UTF-8")
    val http = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    http.createContext("/data/t.txt", (x: HttpExchange) => {
      val range = Option(x.getRequestHeaders.getFirst("Range"))
      if (x.getRequestMethod == "HEAD") {
        x.getResponseHeaders.add("Content-Length", bytes.length.toString)
        x.sendResponseHeaders(200, -1)
      } else range match {
        case Some(r) =>
          val from = r.stripPrefix("bytes=").stripSuffix("-").toLong.toInt
          val part = java.util.Arrays.copyOfRange(bytes, from, bytes.length)
          x.getResponseHeaders.add("Content-Range",
            s"bytes $from-${bytes.length - 1}/${bytes.length}")
          x.sendResponseHeaders(206, part.length)
          x.getResponseBody.write(part)
        case None =>
          x.sendResponseHeaders(200, bytes.length)
          x.getResponseBody.write(bytes)
      }
      x.close()
    })
    http.start()
    try {
      val port = http.getAddress.getPort
      spark.sparkContext.hadoopConfiguration.set(
        "fs.grafthttp.impl", "graft.sources.HttpFileSystem")
      val df = spark.read.textFile(s"grafthttp://127.0.0.1:$port/data/t.txt")
      assert(df.count() == 1000)
      assert(df.collect().last == "row-999")
      // direct seek path: backward + small-forward
      val fs = new org.apache.hadoop.fs.Path(
        s"grafthttp://127.0.0.1:$port/data/t.txt")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new org.apache.hadoop.fs.Path(
        s"grafthttp://127.0.0.1:$port/data/t.txt"))
      in.seek(6) // "row-0\n|row-1"
      val buf = new Array[Byte](5)
      in.readFully(buf)
      assert(new String(buf, "UTF-8") == "row-1")
      in.seek(0)
      in.readFully(buf)
      assert(new String(buf, "UTF-8") == "row-0")
      in.close()
    } finally http.stop(0)
  }
}
