package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.HttpSources

/** HTTP source/ingest behavior against an in-JVM localhost server (the
  * container has no egress; these exercise the full network code path). */
class HttpSourcesSpec extends AnyFunSuite with SparkTestSession
    with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var port: Int = _
  private val payload = ("line-a\nline-b\rwith-cr\nline-c\n" * 10).getBytes("UTF-8")

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    port = server.getAddress.getPort
    server.createContext("/data.bin", (x: HttpExchange) => {
      if (x.getRequestMethod == "HEAD") {
        x.getResponseHeaders.add("Content-Length", payload.length.toString)
        x.sendResponseHeaders(200, -1)
      } else {
        x.sendResponseHeaders(200, payload.length)
        x.getResponseBody.write(payload)
      }
      x.close()
    })
    server.createContext("/cdx", (x: HttpExchange) => {
      val q = Option(x.getRequestURI.getQuery).getOrElse("")
      val body =
        if (q.contains("showNumPages=true")) {
          x.getResponseHeaders.add("X-CDX-Num-Pages", "3")
          "3\n"
        } else {
          val page = q.split("&").find(_.startsWith("page="))
            .map(_.drop(5).toInt).getOrElse(0)
          (0 until 4).map(i => s"page$page-line$i").mkString("", "\n", "\n")
        }
      val bytes = body.getBytes("UTF-8")
      x.sendResponseHeaders(200, bytes.length)
      x.getResponseBody.write(bytes)
      x.close()
    })
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  test("K13: import copies once, skips when lengths match, re-copies on drift") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("himp")
    val dest = dir.resolve("data.bin").toString
    val tasks = Seq(HttpSources.ImportTask(
      s"http://127.0.0.1:$port/data.bin", dest)).toDS()
    val r1 = HttpSources.httpImport(spark, tasks).collect().head
    assert(r1.action == "copied" && r1.bytes == payload.length.toLong)
    assert(Files.readAllBytes(Paths.get(dest)).toSeq == payload.toSeq)
    val r2 = HttpSources.httpImport(spark, tasks).collect().head
    assert(r2.action == "skipped")
    // local drift → re-copied
    Files.writeString(Paths.get(dest), "corrupted")
    val r3 = HttpSources.httpImport(spark, tasks).collect().head
    assert(r3.action == "copied")
    assert(Files.readAllBytes(Paths.get(dest)).toSeq == payload.toSeq)
    assert(!Files.exists(Paths.get(dest + ".TMP")))
  }

  test("S13: paged scan plans one partition per advertised page") {
    val base = s"http://127.0.0.1:$port/cdx?q=x"
    assert(HttpSources.numPages(base) == 3)
    val ds = HttpSources.pagedLines(spark, base)
    val got = ds.collect().toSet
    val expected = (0 until 3).flatMap(p =>
      (0 until 4).map(i => s"page$p-line$i")).toSet
    assert(got == expected)
  }

  test("S13: auth cookie rides every request, page-count probe included") {
    server.createContext("/authed", (x: HttpExchange) => {
      val ok = Option(x.getRequestHeaders.getFirst("Cookie"))
        .contains("cdx_auth_token=s3cret")
      if (!ok) { x.sendResponseHeaders(403, -1); x.close() }
      else {
        val q = Option(x.getRequestURI.getQuery).getOrElse("")
        val body = if (q.contains("showNumPages=true")) "2\n"
          else {
            val page = q.split("&").find(_.startsWith("page="))
              .map(_.drop(5).toInt).getOrElse(0)
            s"auth$page\n"
          }
        val bytes = body.getBytes("UTF-8")
        x.sendResponseHeaders(200, bytes.length)
        x.getResponseBody.write(bytes)
        x.close()
      }
    })
    val base = s"http://127.0.0.1:$port/authed"
    // without the cookie the probe is rejected outright
    intercept[Exception] { HttpSources.numPages(base) }
    val got = HttpSources.pagedLines(spark, base,
      authCookie = Some("s3cret")).collect().toSet
    assert(got == Set("auth0", "auth1"))
  }

  test("S13 service: protocol round-trip + shared-instance reuse") {
    import graft.server.HttpTextService
    val lines = IndexedSeq("l0", "l1", "l2", "l3", "l4")
    val svc = HttpTextService.serveShared(lines, pageSize = 2, spark)
    // same content + pageSize → the SAME listener (bench reps must not
    // stack one server per repetition)
    assert(HttpTextService.serveShared(lines, pageSize = 2, spark) eq svc)
    assert(HttpSources.numPages(svc.url) == 3)
    assert(HttpSources.pagedLines(spark, svc.url).collect().toSeq ==
      Seq("l0", "l1", "l2", "l3", "l4"))
    // unknown page → 404 → loader task fails rather than silently empty
    val conn = java.net.URI.create(s"${svc.url}?page=99").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try assert(conn.getResponseCode == 404) finally conn.disconnect()
  }
}
