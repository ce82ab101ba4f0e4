package graft

import java.io.{ByteArrayOutputStream, PrintStream, PrintWriter, StringWriter}
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.{FsTools, GraftCli}
import graft.operators.ClusterOps
import graft.sources.zipnum.ZipNumFormat

/** The JobDriver-parity utility verbs (fs-lsr/mv/sync/cat, the
  * http-import line grammar, summary-generate) — logic-level tests; the HTTP/range
  * library ops behind http-import and gz-range-* have their own
  * suites (HttpSourcesSpec, GzRangeAndHttpFsSpec). */
class CliSpec extends AnyFunSuite with SparkTestSession {

  private val conf = new Configuration()

  private def tmpDir(prefix: String) =
    SparkTestSession.tmpDir(prefix)

  test("fs-lsr recurses and emits BASENAME<tab>PATH per FILE only") {
    val root = tmpDir("lsr")
    Files.createDirectories(root.resolve("a/b"))
    Files.writeString(root.resolve("top.txt"), "x")
    Files.writeString(root.resolve("a/mid.txt"), "y")
    Files.writeString(root.resolve("a/b/leaf.txt"), "z")
    val sw = new StringWriter()
    FsTools.lsr(conf, root.toString, new PrintWriter(sw))
    val lines = sw.toString.split("\n").filter(_.nonEmpty).toSeq
    assert(lines.length == 3) // files only, no directory rows
    assert(lines.forall(_.contains("\t")))
    val names = lines.map(_.split("\t")(0)).sorted
    assert(names == Seq("leaf.txt", "mid.txt", "top.txt"))
    // the PATH field round-trips to the file
    lines.foreach { l =>
      val uri = java.net.URI.create(l.split("\t")(1))
      assert(Files.exists(Paths.get(uri.getPath)))
    }
  }

  test("fs-touch sets mtime (both timestamp grammars), refuses " +
      "directories, and -d bumps the parent dir via tmp create+delete") {
    val root = tmpDir("touch")
    val f = root.resolve("data.txt")
    Files.writeString(f, "x")
    // grammar 1: "yyyy-MM-dd HH:mm:ss" read as UTC
    val t1 = FsTools.parseTouchTimestamp("2012-01-15 10:30:00").get
    assert(t1 == 1326623400000L)
    // grammar 2: the HTTP date
    val t2 = FsTools.parseTouchTimestamp("Sun, 15 Jan 2012 10:30:00 GMT").get
    assert(t2 == t1)
    assert(FsTools.parseTouchTimestamp("2012-13-45 99:99:99").isEmpty)
    assert(FsTools.parseTouchTimestamp("not a date").isEmpty)
    FsTools.touch(conf, f.toString, t1, updateDir = false)
    assert(Files.getLastModifiedTime(f).toMillis == t1)
    // -d: the parent's mtime moves forward and no tmp file survives.
    // Age the dir FIRST — a freshly-created dir's mtime is already
    // "now", which would make the > t1 assertion vacuous
    Files.setLastModifiedTime(root,
      java.nio.file.attribute.FileTime.fromMillis(t1))
    FsTools.touch(conf, f.toString, t1, updateDir = true)
    assert(!Files.exists(root.resolve(".tmp_touch_latest")))
    assert(Files.getLastModifiedTime(root).toMillis > t1)
    // a REAL file carrying the marker name is never truncated/deleted:
    // the bump refuses loudly instead (data-loss guard)
    Files.writeString(root.resolve(".tmp_touch_latest"), "precious")
    intercept[IllegalArgumentException] {
      FsTools.touch(conf, f.toString, t1, updateDir = true)
    }
    assert(Files.readString(root.resolve(".tmp_touch_latest")) == "precious")
    Files.delete(root.resolve(".tmp_touch_latest"))
    // directories are refused, as the original refuses them
    intercept[IllegalArgumentException] {
      FsTools.touch(conf, root.toString, t1, updateDir = false)
    }
  }

  test("fs-mv renames into the target dir keeping basenames; a missing " +
      "source is a FAILED-MOVE and a nonzero failure count") {
    val src = tmpDir("mvsrc")
    val dst = tmpDir("mvdst")
    Files.writeString(src.resolve("one.warc.gz"), "1")
    Files.writeString(src.resolve("two.warc.gz"), "2")
    val out = new StringWriter(); val err = new StringWriter()
    val failures = FsTools.mv(conf, dst.toString,
      Iterator(s"$src/one.warc.gz", s"$src/two.warc.gz",
        s"$src/absent.warc.gz"),
      new PrintWriter(out), new PrintWriter(err))
    assert(failures == 1)
    assert(Files.exists(dst.resolve("one.warc.gz")))
    assert(Files.exists(dst.resolve("two.warc.gz")))
    assert(!Files.exists(src.resolve("one.warc.gz")))
    assert(out.toString.linesIterator.count(_.startsWith("Moved\t")) == 2)
    assert(err.toString.contains("FAILED-MOVE\t"))
  }

  test("fs-sync copies only when the target is absent (restartable), " +
      "via .TMP; malformed tuples count as bad") {
    val src = tmpDir("syncsrc")
    val dst = tmpDir("syncdst")
    Files.writeString(src.resolve("f1"), "payload-1")
    Files.writeString(src.resolve("f2"), "payload-2")
    Files.writeString(dst.resolve("f2"), "ALREADY")
    Files.writeString(src.resolve("f4"), "payload-4")
    val out = new StringWriter(); val err = new StringWriter()
    val bad = FsTools.sync(conf,
      Iterator(s"$src/f1 $dst/f1", s"$src/f2 $dst/f2",
        s"$src/absent $dst/f3",        // missing SRC: FAILED-SYNC, go on
        s"$src/f4 $dst/f4",            // ... and later tuples still copy
        "just-one-field"),
      new PrintWriter(out), new PrintWriter(err))
    assert(bad == 2) // the missing source + the malformed tuple
    assert(Files.readString(dst.resolve("f1")) == "payload-1")
    assert(Files.readString(dst.resolve("f2")) == "ALREADY") // untouched
    assert(Files.readString(dst.resolve("f4")) == "payload-4")
    assert(!Files.exists(dst.resolve("f1.TMP"))) // committed via rename
    assert(!Files.exists(dst.resolve("f3.TMP"))) // failure leaves no orphan
    assert(out.toString.linesIterator.count(_.startsWith("Copied\t")) == 2)
    assert(err.toString.contains("Target-Exists\t"))
    assert(err.toString.contains("FAILED-SYNC\t"))
    assert(err.toString.contains("Bad input line"))
  }

  test("fs-cat dumps whole file / offset to EOF / exact length; a " +
      "range past EOF is a loud short-copy error") {
    val d = tmpDir("cat")
    val f = d.resolve("data.bin")
    Files.write(f, "0123456789".getBytes("UTF-8"))
    def cat(spec: String*): String = {
      val bos = new ByteArrayOutputStream()
      FsTools.catRange(conf, spec, bos)
      bos.toString("UTF-8")
    }
    assert(cat(f.toString) == "0123456789")
    assert(cat(f.toString, "4") == "456789")
    assert(cat(f.toString, "2", "3") == "234")
    val e = intercept[java.io.IOException](cat(f.toString, "8", "5"))
    assert(e.getMessage.contains("Short copy"))
    // offset past EOF is loud on EVERY scheme (the local FS would
    // otherwise permit the seek and emit zero bytes with exit 0,
    // while HDFS throws — same user error, opposite outcomes)
    val e2 = intercept[java.io.IOException](cat(f.toString, "99"))
    assert(e2.getMessage.contains("past EOF"))
  }

  test("cluster-range needs no SparkSession: the range goes to stdout " +
      "and one prune line per cluster to stderr") {
    val d = tmpDir("crange").resolve("cluster")
    Files.createDirectories(d)
    val b0 = Seq("org,a)/ 20120101000000 x0", "org,a)/ 20120102000000 x1")
    val b1 = Seq("org,b)/ 20120101000000 y0", "org,c)/ 20120101000000 y1")
    def member(ls: Seq[String]) =
      ZipNumFormat.gzipMember(ls.mkString("", "\n", "\n").getBytes("UTF-8"))
    val (m0, m1) = (member(b0), member(b1))
    Files.write(d.resolve("part-a-00000.gz"), m0 ++ m1)
    Files.writeString(d.resolve("ALL.summary"), Seq(
      ZipNumFormat.Block(ZipNumFormat.summaryKey(b0.head), "part-a-00000",
        0, m0.length),
      ZipNumFormat.Block(ZipNumFormat.summaryKey(b1.head), "part-a-00000",
        m0.length, m1.length))
      .map(ZipNumFormat.formatSummaryLine).mkString("", "\n", "\n"))
    def run(args: String*): (String, String) = {
      val out = new ByteArrayOutputStream(); val err = new ByteArrayOutputStream()
      assert(GraftCli.run("cluster-range" +: args, new PrintStream(out),
        new PrintStream(err, true, "UTF-8")) == 0)
      (out.toString("UTF-8"), err.toString("UTF-8"))
    }
    // [start, end) trims inside the one block the summary keeps
    assert(run("org,a)/ 20120102", "org,b", d.toString) ==
      ("org,a)/ 20120102000000 x1\n", s"$d: 1/2 blocks in range\n"))
    assert(run("-", "-", d.toString) ==
      ((b0 ++ b1).mkString("", "\n", "\n"), s"$d: 2/2 blocks in range\n"))
  }

  test("cluster-build's split-file notes on stderr are pure ASCII (a " +
      "POSIX-locale stderr prints anything else as ?)") {
    val dir = tmpDir("splitnote")
    val alpha = dir.resolve("alpha.txt")
    Files.writeString(alpha, "com,a)/\ncom,m)/\n")
    val json = dir.resolve("splits.json")
    Files.writeString(json, """[3, ["x", "com,m)/", ""]]""")
    val in = dir.resolve("in.cdx")
    Files.writeString(in, "com,a)/ 20120101000000 a\ncom,z)/ 20120101000000 z\n")
    // the verb's own stderr carries the notes: System.err is not swapped
    val err = new ByteArrayOutputStream()
    Seq(alpha, json).foreach { p =>
      val out = new ByteArrayOutputStream()
      val cluster = dir.resolve(s"cluster-${p.getFileName}")
      assert(GraftCli.run(Seq("cluster-build", p.toString, in.toString,
        cluster.toString, "--shards", "2"), new PrintStream(out),
        new PrintStream(err, true, "UTF-8")) == 0)
      assert(out.toString("UTF-8") == s"built $cluster\n")
      // both files load the one boundary com,m)/: two populated shards
      assert(graft.sources.zipnum.ZipNumIndex.load(cluster.toString, conf)
        .blocks.map(_.part).distinct.size == 2)
    }
    val notes = err.toString("UTF-8").linesIterator.toSeq
    assert(notes.size == 2)
    assert(notes(0).startsWith("NOTE: split file"), notes(0))
    assert(notes(1).startsWith("WARN: splits file"), notes(1))
    notes.foreach(n => assert(n.forall(_ < 0x80), n))
  }

  test("summary-generate rebuilds ALL.summary and manifest.txt " +
      "byte-identical to the writer's") {
    val d = tmpDir("sumgen").resolve("cluster")
    val lines = (0 until 60).map(i => f"org,h$i%02d)/ 20120101000000 x$i")
    ClusterOps.build(spark, spark.sparkContext.parallelize(lines, 3),
      d.toString, interior = IndexedSeq("org,h20)/", "org,h40)/"),
      linesPerBlock = 7)
    val names = Seq("ALL.summary", "manifest.txt")
    val written = names.map(n => Files.readAllBytes(d.resolve(n)))
    assert(new String(written(1), "UTF-8").linesIterator.size == 3)
    names.foreach(n => Files.delete(d.resolve(n)))
    GraftCli.main(Array("summary-generate", d.toString))
    names.zip(written).foreach { case (n, w) =>
      assert(Files.readAllBytes(d.resolve(n)).sameElements(w), n)
    }
  }

  test("http-import line grammar: bare URL takes the basename, " +
      "NAME URL takes the name; unresolvable names fail loudly") {
    val t1 = GraftCli.importTask(
      "http://h.example/files/a-00001.warc.gz", "/tgt")
    assert(t1.url == "http://h.example/files/a-00001.warc.gz")
    assert(t1.dest == "/tgt/a-00001.warc.gz")
    val t2 = GraftCli.importTask(
      "renamed.warc.gz http://h.example/files/a-00001.warc.gz", "/tgt")
    assert(t2.dest == "/tgt/renamed.warc.gz")
    assert(t2.url == "http://h.example/files/a-00001.warc.gz")
    intercept[IllegalArgumentException](
      GraftCli.importTask("http://h.example/", "/tgt")) // no basename
  }
}
