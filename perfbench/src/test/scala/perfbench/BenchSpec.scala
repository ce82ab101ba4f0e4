package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("tail percentile: the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts the union of child intervals, clipped to the parent") {
    val spans = Seq(
      Span(0, -1, "root", 1, 0, 100),
      Span(1, 0, "a", 1, 10, 30),
      Span(2, 0, "b", 1, 20, 50),   // overlaps a: union of a and b is 40
      Span(3, 0, "c", 1, 90, 120),  // sticks out of root: only 10 count
      Span(4, 1, "a.x", 1, 12, 18)) // grandchild: charged to a, not root
    val self = Tracer.selfNs(spans)
    assert(self(0) == 100 - 40 - 10)
    assert(self(1) == 20 - 6)
    assert(self(2) == 30)
    assert(self(4) == 6)
    assert(Tracer.unionLength(Seq((0L, 5L), (3L, 8L), (10L, 12L))) == 10)
    assert(Tracer.unionLength(Nil) == 0)
  }

  private def bytesOf(dir: java.io.File): Seq[(String, Seq[Byte])] =
    dir.listFiles().sortBy(_.getName).toSeq
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)

  test("the W/ARC corpus is a function of the seed") {
    val spec = Gen.CorpusSpec(recordsPerFile = 60, filesPerCrawl = 2, hotCapturesPerCrawl = 60)
    val tmp = Files.createTempDirectory("gen").toFile
    def gen(seed: Long, name: String) = {
      val d = new java.io.File(tmp, name)
      Gen.warcCorpus(d, seed, spec)
      bytesOf(d)
    }
    val a = gen(7, "a"); val b = gen(7, "b"); val c = gen(8, "c")
    assert(a == b)
    assert(a != c)
    assert(a.map(_._1) == Seq("crawl-a-00000.warc.gz", "crawl-a-00001.arc.gz",
      "crawl-b-00000.warc.gz", "crawl-b-00001.warc.gz"))
    IO.delete(tmp)
  }

  test("closed-form corpus counts") {
    val c = Gen.expectedCounts(Gen.CorpusSpec(recordsPerFile = 100, filesPerCrawl = 2,
      hotUrls = 3, hotCapturesPerCrawl = 70))
    assert(c.records == 4 * 100 + 2 * 3 * 70)
    assert(c.jsonResources == 3 * 4) // three WARC files, j % 25 == 0
    assert(c.dayCapDropped == 3 * (140 - 112))
    assert(c.merged == c.records - c.jsonResources - c.dayCapDropped)
  }

  test("CDX lines and the lookup stream are functions of the seed") {
    val tmp = Files.createTempDirectory("gen").toFile
    val spec = Gen.CdxSpec(lines = 5000, hosts = 300)
    def gen(seed: Long, name: String) = {
      val d = new java.io.File(tmp, name)
      val keys = Gen.cdxLines(d, seed, spec, files = 2)
      (keys, bytesOf(d))
    }
    val (ka, a) = gen(3, "a"); val (kb, b) = gen(3, "b"); val (_, c) = gen(4, "c")
    assert(a == b && ka == kb)
    assert(a != c)
    assert(ka.keys == ka.keys.sorted && ka.keys.distinct == ka.keys)
    assert(ka.hosts.size == 300 && ka.hosts.distinct == ka.hosts)
    val s1 = Gen.lookupStream(ka, 3, 1000)
    assert(s1 == Gen.lookupStream(ka, 3, 1000))
    assert(s1 != Gen.lookupStream(ka, 4, 1000))
    // the largest host is asked for at about its 1/x share of prefixes
    val top = s1.count(l => l.kind == "prefix" && l.start == ka.hosts.head)
    assert(math.abs(top - 300 * math.log(2) / math.log(300)) <= 2)
    assert(s1.groupBy(_.kind).view.mapValues(_.size).toMap ==
      Map("exact" -> 600, "prefix" -> 300, "wide" -> 100))
    assert(s1.forall(l => l.start < l.end))
    IO.delete(tmp)
  }
}

class GateFamiliesSpec extends AnyFunSuite {

  test("every SparkEntry gate is listed in exactly one family, and no other name is") {
    val listed = Gates.Listed.map(_._1)
    assert(listed.diff(listed.distinct).isEmpty, "listed twice")
    assert(listed.toSet == graft.SparkEntry.queries.keySet)
    assert(Gates.Listed.map(_._2).toSet == Gates.Families.toSet)
  }

  test("the measured gates have oracles and cover every family") {
    assert(Gates.Measured.distinct == Gates.Measured)
    assert(Gates.Measured.forall(graft.SparkEntry.oracleSql.contains))
    assert(Gates.Measured.map(Gates.Family).toSet == Gates.Families.toSet)
  }
}

class DeclaredMetricsSpec extends AnyFunSuite {
  private val declared = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File("../BENCHMARK.json"))

  private def entries(key: String): Seq[(String, String)] = {
    val it = declared.get(key).elements()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  test("BENCHMARK.json declares exactly the per-layer metrics a traced run prints") {
    assert(entries("per_layer") == Main.LayerMetrics)
  }

  test("BENCHMARK.json declares the workloads and end-to-end metrics the runner has") {
    assert(entries("end_to_end").map(_._1) ==
      Seq("setup_s", "throughput_per_s", "latency_p50_ms", "bytes_per_record"))
    val names = declared.get("workloads").elements()
    assert(Iterator.continually(names).takeWhile(_.hasNext).map(_.next().get("name").asText)
      .toSeq == Main.Workloads)
  }
}
