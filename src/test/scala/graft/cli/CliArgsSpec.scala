package graft.cli

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `GraftCli.parse` and the rejections of `GraftCli.run`: each command
  * line against the verb table, no Spark session. */
class CliArgsSpec extends AnyFunSuite {

  /** One valid command line per verb, required positionals only. */
  private val minimal: Map[String, Seq[String]] = Map(
    "cdx-parse" -> Seq("in.cdx"),
    "surt" -> Seq("http://a/"),
    "cluster-build" -> Seq("-", "in", "out"),
    "cluster-merge" -> Seq("out", "a"),
    "cluster-range" -> Seq("-", "-", "c"),
    "cdx-convert" -> Seq("in", "out"),
    "cdxj-convert" -> Seq("to", "in", "out"),
    "summary-generate" -> Seq("c"),
    "warc-extract" -> Seq("out", "a.warc.gz"),
    "wat-extract" -> Seq("out", "a.warc.gz"),
    "media-decode" -> Seq("out", "a.warc.gz"),
    "file-search" -> Seq("f", "k"),
    "date-filter" -> Seq("root", "> 2024"),
    "dedup" -> Seq("corpus", "out"),
    "decontaminate" -> Seq("corpus", "eval", "out"),
    "bm25" -> Seq("corpus", "queries", "out"),
    "http-import" -> Seq("in", "tgt"),
    "gz-range-server" -> Seq("root"),
    "gz-range-client" -> Seq("http://h:8009", "tgt", "p", "manifest"),
    "fs-lsr" -> Seq("uri"),
    "fs-touch" -> Seq("uri"),
    "fs-mv" -> Seq("tgt"),
    "fs-sync" -> Seq(),
    "fs-cat" -> Seq("uri"))

  private def parse(args: String*) = GraftCli.parse(args)

  /** `run` on a command line it must reject before any work: the exit
    * status is 2, nothing goes to stdout, and stderr says `why` and then
    * gives the verb's usage line. */
  private def rejected(args: String*)(why: String): Unit = {
    val out = new ByteArrayOutputStream(); val err = new ByteArrayOutputStream()
    val status = GraftCli.run(args, new PrintStream(out),
      new PrintStream(err, true, "UTF-8"))
    val verb = args.head
    assert((status, out.size) == ((2, 0)), args)
    assert(err.toString("UTF-8").startsWith(
      s"$verb: $why\nusage: GraftCli $verb"), args)
  }

  test("every table verb is in the usage text, and each minimal command " +
      "line parses") {
    val listed = GraftCli.usage.linesIterator.collect {
      case l if l.matches("  [a-z].*") => l.trim.takeWhile(_ != ' ')
    }.toSet
    assert(listed == minimal.keySet)
    minimal.foreach { case (verb, args) =>
      assert(parse(verb +: args: _*) ==
        Right(GraftCli.Invocation(verb, args.toIndexedSeq, Map.empty)), verb)
    }
  }

  test("no verb or an unknown verb gets the whole table's usage") {
    assert(parse() == Left(GraftCli.usage))
    assert(parse("warc-extrct", "out", "a.warc.gz") ==
      Left("unknown tool: warc-extrct\n" + GraftCli.usage))
  }

  test("each verb with too few positionals exits 2 with its usage line") {
    minimal.filter(_._2.nonEmpty).foreach { case (verb, args) =>
      rejected(verb +: args.init: _*)("missing arguments")
    }
    rejected("cdxj-convert", "to", "in")("missing arguments")
  }

  test("extra positionals are rejected unless the last one repeats") {
    Seq("surt", "cdx-convert", "summary-generate", "fs-lsr", "fs-sync",
        "http-import").foreach { verb =>
      rejected(verb +: minimal(verb) :+ "extra": _*)("too many arguments")
    }
    // dedup takes at most five positionals; the last is cap:int
    rejected("dedup", "c", "o", "id", "text", "10", "0")("too many arguments")
    assert(parse("warc-extract", "out", "a", "b", "c").map(_.pos) ==
      Right(Vector("out", "a", "b", "c")))
  }

  test("unknown flags are rejected, not ignored") {
    rejected("warc-extract", "out", "in.warc.gz", "--sfot")(
      "unknown flag --sfot")
    rejected("cluster-merge", "out", "a", "b", "--globalcdx")(
      "unknown flag --globalcdx")
    rejected("cluster-build", "-", "in", "out", "--shard=4")(
      "unknown flag --shard")
    rejected("surt", "--x", "http://a/")("unknown flag --x")
    rejected("wat-extract", "out", "in.warc.gz", "--soft=no")(
      "--soft takes no value")
    rejected("cdxj-convert", "into", "in", "out")("bad to|from: into")
  }

  test("every malformed number exits 2 before any work starts") {
    val bad: Seq[(Seq[String], String)] = Seq(
      Seq("dedup", "c", "o", "id", "text", "1O000") -> "bad cap:int: 1O000",
      Seq("decontaminate", "c", "e", "o", "8", "9223372036854775808") ->
        "bad dropAt:long: 9223372036854775808",
      Seq("cluster-build", "-", "in", "out", "--shards", "x") ->
        "--shards needs a N:int value",
      Seq("cluster-build", "-", "in", "out", "--zipnum-lines=x") ->
        "--zipnum-lines needs a N:int value",
      Seq("cluster-build", "-", "in", "out", "--shards") ->
        "--shards needs a N:int value",
      Seq("cluster-merge", "out", "a", "--day-limit", "x") ->
        "--day-limit needs a N:int value",
      Seq("cluster-merge", "out", "a", "--shards=3x") ->
        "--shards needs a N:int value",
      Seq("cluster-merge", "out", "a", "--zipnum-lines", "1e3") ->
        "--zipnum-lines needs a N:int value",
      Seq("fs-cat", "uri", "x") -> "bad off:long: x",
      Seq("fs-cat", "uri", "0", "10k") -> "bad len:long: 10k",
      Seq("cdx-parse", "in", "twenty") -> "bad n:int: twenty",
      Seq("decontaminate", "c", "e", "o", "8", "1O") -> "bad dropAt:long: 1O",
      Seq("decontaminate", "c", "e", "o", "k8") -> "bad k:int: k8",
      Seq("bm25", "c", "q", "o", "10", "2.5") -> "bad gram:int: 2.5",
      Seq("gz-range-server", "root", "80O9") -> "bad port:int: 80O9",
      Seq("gz-range-client", "s", "t", "p", "m", "512MB") ->
        "bad maxMB:long: 512MB")
    bad.foreach { case (args, why) => rejected(args: _*)(why) }
  }

  test("a number below its slot's bound exits 2 before any work starts; " +
      "the bound itself parses") {
    val low: Seq[(Seq[String], String)] = Seq(
      Seq("cluster-build", "-", "in", "out", "--shards", "0") ->
        "--shards must be >= 1: 0",
      Seq("cluster-build", "-", "in", "out", "--zipnum-lines=0") ->
        "--zipnum-lines must be >= 1: 0",
      Seq("cluster-build", "-", "in", "out", "--shards", "-3") ->
        "--shards must be >= 1: -3",
      Seq("cluster-merge", "out", "a", "--shards=0") ->
        "--shards must be >= 1: 0",
      Seq("cluster-merge", "out", "a", "--zipnum-lines", "-1") ->
        "--zipnum-lines must be >= 1: -1",
      Seq("cluster-merge", "out", "a", "--day-limit", "-1") ->
        "--day-limit must be >= 0: -1")
    low.foreach { case (args, why) => rejected(args: _*)(why) }
    assert(parse("cluster-build", "-", "in", "out", "--shards", "1",
      "--zipnum-lines", "1").isRight)
    assert(parse("cluster-merge", "out", "a", "--day-limit", "0",
      "--shards=1").isRight)
    assert(GraftCli.usage.contains("[--shards N:int>=1]"))
    assert(GraftCli.usage.contains("[--day-limit N:int>=0]"))
  }

  test("a value flag reads the same as --f v and --f=v, anywhere on the " +
      "line") {
    val spaced = parse("cluster-merge", "out", "a", "--shards", "4", "b",
      "--global-cdx", "--splits", "s.json")
    assert(spaced == parse("cluster-merge", "--shards=4", "out", "a", "b",
      "--global-cdx", "--splits=s.json"))
    assert(spaced == Right(GraftCli.Invocation("cluster-merge",
      Vector("out", "a", "b"),
      Map("--shards" -> "4", "--global-cdx" -> "", "--splits" -> "s.json"))))
    assert(parse("cluster-build", "-", "in", "out", "--shards", "4") ==
      parse("cluster-build", "-", "in", "out", "--shards=4"))
  }

  test("a lone - is a positional; -d is fs-touch's flag") {
    assert(parse("fs-cat", "-").map(_.pos) == Right(Vector("-")))
    assert(parse("fs-touch", "-d", "uri", "2012-01-15 10:30:00") ==
      Right(GraftCli.Invocation("fs-touch",
        Vector("uri", "2012-01-15 10:30:00"), Map("-d" -> ""))))
    rejected("fs-lsr", "-d", "uri")("too many arguments")
  }

  test("sys.exit appears under graft/cli only in GraftCli.main") {
    val root = Paths.get("src/main/scala/graft/cli")
    // each exit site as (file, the nearest member `def` above it)
    val sites =Files.list(root).iterator().asScala.toSeq.flatMap { p =>
      val text = Files.readString(p)
      "(?:sys|System)\\.exit".r.findAllMatchIn(text)
        .map(m => p.getFileName.toString -> text.lastIndexOf("  def ", m.start))
        .map { case (f, d) => f -> text.substring(d).trim.takeWhile(_ != '(') }
    }
    assert(sites == Seq("GraftCli.scala" -> "def main"))
  }
}
