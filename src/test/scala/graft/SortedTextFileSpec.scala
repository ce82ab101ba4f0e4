package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SortedTextFile, SplitFile}

class SortedTextFileSpec extends AnyFunSuite {

  private val conf = new Configuration()
  // the loaders' NOTE/WARN lines; CliSpec checks where a verb sends them
  private val notes = new java.io.PrintStream(
    new java.io.ByteArrayOutputStream(), true, "UTF-8")

  private def mkSorted(n: Int): (String, Seq[String]) = {
    val lines = (0 until n).map(i => f"key$i%06d value-$i")
    val f = SparkTestSession.tmpFile("sorted", ".txt")
    Files.writeString(f, lines.mkString("", "\n", "\n"))
    (f.toString, lines)
  }

  test("iterateFrom finds the first line >= key at any position") {
    val (path, lines) = mkSorted(5000)
    val stf = new SortedTextFile(path, conf)
    // exact hit, mid-file
    assert(stf.iterateFrom("key002500").next() == lines(2500))
    // between keys
    assert(stf.iterateFrom("key002500x").next() == lines(2501))
    // before first / after last
    assert(stf.iterateFrom("a").next() == lines.head)
    assert(!stf.iterateFrom("z").hasNext)
    // property check across scattered probes
    (0 until 50).foreach { k =>
      val key = f"key${k * 97}%06d"
      val expected = lines.dropWhile(_ < key).headOption
      val got = stf.iterateFrom(key).take(1).toSeq.headOption
      assert(got == expected, s"probe $key")
    }
  }

  test("range is [start, end) and streams in order") {
    val (path, lines) = mkSorted(1000)
    val stf = new SortedTextFile(path, conf)
    val got = stf.range("key000100", Some("key000105")).toSeq
    assert(got == lines.slice(100, 105))
  }

  test("SplitFile parses NAME START END; boundaries drop the minimum") {
    val ranges = SplitFile.parse(Seq(
      "shard0  d", "shard1 d m", "shard2 m "))
    assert(ranges == Seq(
      SplitFile.SplitRange("shard0", "", "d"),
      SplitFile.SplitRange("shard1", "d", "m"),
      SplitFile.SplitRange("shard2", "m", "")))
    assert(SplitFile.interiorBoundaries(ranges) == IndexedSeq("d", "m"))
  }

  private def writeSplit(content: String): String = {
    val f = SparkTestSession.tmpFile("split", ".txt")
    java.nio.file.Files.writeString(f, content)
    f.toString
  }

  test("fromSplitFile alpha format: line i = shard i's START, so an " +
      "n-line file yields n partitions (first line dropped, empty or not)") {
    import graft.operators.Boundaries
    // real first key: the reference clamps keys below 'a' into shard 0
    // (AlphaPartitioner.java:34-38) — interiors are lines 2..n
    assert(Boundaries.fromSplitFile(writeSplit("a\nm\nt\n"), conf, notes) ==
      IndexedSeq("m", "t"))
    // conventional empty first line: same interiors
    assert(Boundaries.fromSplitFile(writeSplit("\nm\nt\n"), conf, notes) ==
      IndexedSeq("m", "t"))
    // one line = one shard, no interior boundaries
    assert(Boundaries.fromSplitFile(writeSplit("a\n"), conf, notes).isEmpty)
  }

  test("fromSplitFile strips CR (a CRLF split file used to yield \\r-" +
      "tainted boundaries that silently skewed shard ranges)") {
    import graft.operators.Boundaries
    assert(Boundaries.fromSplitFile(writeSplit("a\r\nm\r\nt\r\n"), conf, notes) ==
      IndexedSeq("m", "t"))
  }

  private def writeJson(content: String): String = {
    val f = SparkTestSession.tmpFile("splits", ".json")
    java.nio.file.Files.writeString(f, content)
    f.toString
  }

  test("fromJsonSplits parses the reference layout: [lineCount, [\"\", " +
      "splits..., \"\"]] — element 0 ignored, sentinels dropped " +
      "(ZipNumPartitioner.java:204-233)") {
    import graft.operators.Boundaries
    assert(Boundaries.fromJsonSplits(
      writeJson("""[12345, ["", "com,example)/", "org,example)/", ""]]"""),
      conf, notes) == IndexedSeq("com,example)/", "org,example)/"))
    // only the two sentinels: zero interior boundaries = one partition
    assert(Boundaries.fromJsonSplits(
      writeJson("""[0, ["", ""]]"""), conf, notes).isEmpty)
  }

  test("fromJsonSplits aborts loudly on malformed roots and non-string " +
      "splits; unsorted splits are rejected") {
    import graft.operators.Boundaries
    // not JSON at all
    intercept[IllegalArgumentException] {
      Boundaries.fromJsonSplits(writeJson("not json"), conf, notes)
    }
    // root is an object, not the [lineCount, splits] array
    intercept[IllegalArgumentException] {
      Boundaries.fromJsonSplits(writeJson("""{"splits": []}"""), conf, notes)
    }
    // root array too short / element 1 not an array
    intercept[IllegalArgumentException] {
      Boundaries.fromJsonSplits(writeJson("""[5]"""), conf, notes)
    }
    intercept[IllegalArgumentException] {
      Boundaries.fromJsonSplits(writeJson("""[5, "nope"]"""), conf, notes)
    }
    // splits array without its sentinels
    intercept[IllegalArgumentException] {
      Boundaries.fromJsonSplits(writeJson("""[5, []]"""), conf, notes)
    }
    // a non-string interior entry (reference getString JSONException)
    intercept[IllegalArgumentException] {
      Boundaries.fromJsonSplits(writeJson("""[5, ["", 42, ""]]"""), conf, notes)
    }
    // unsorted split points would silently mis-shard downstream
    intercept[IllegalArgumentException] {
      Boundaries.fromJsonSplits(
        writeJson("""[5, ["", "org,b)/", "com,a)/", ""]]"""), conf, notes)
    }
  }

  test("fromAnySplitFile dispatches on the .json suffix like the " +
      "reference (ZipNumPartitioner.java:164-168)") {
    import graft.operators.Boundaries
    assert(Boundaries.fromAnySplitFile(
      writeJson("""[9, ["", "m", "t", ""]]"""), conf, notes) == IndexedSeq("m", "t"))
    assert(Boundaries.fromAnySplitFile(writeSplit("a\nm\nt\n"), conf, notes) ==
      IndexedSeq("m", "t"))
  }

  test("fromSplitFile sniffs the format over EVERY line and aborts on a mix") {
    import graft.operators.Boundaries
    // all-3-field = NAME START END (unchanged)
    assert(Boundaries.fromSplitFile(
      writeSplit("shard0  d\nshard1 d m\nshard2 m \n"), conf, notes) ==
      IndexedSeq("d", "m"))
    // mixed 3-field and plain lines must fail loudly, not misparse
    intercept[IllegalArgumentException] {
      Boundaries.fromSplitFile(writeSplit("a b c\nm\nt\n"), conf, notes)
    }
  }
}
