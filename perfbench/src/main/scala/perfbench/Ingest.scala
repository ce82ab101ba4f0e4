package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.operators.{Boundaries, ClusterOps, WarcExtract}

/** archive-ingest: the paper's write path run as one batch job — W/ARC
  * files to per-file CDX (`warc-extract --soft`), one sorted ZipNum
  * cluster per crawl (`cluster-build -`), then the zero-shuffle global-CDX
  * merge (`cluster-merge --global-cdx`). */
final class Ingest(ctx: Run) extends Workload {
  import ctx._

  private val corpus = IngestInputs.files(new File(inputs, "corpus"))
  private val expected = Gen.expectedCounts(IngestInputs.Spec)
  private val warmCorpus = IngestInputs.files(new File(inputs, "warm"))
  private val warmExpected = Gen.expectedCounts(IngestInputs.WarmSpec)
  val inputBytes: Long = corpus.map(p => new File(p).length).sum

  import Ingest.Rep
  private var reps = Vector.empty[Rep]

  /** The pipeline itself: extract, build one cluster per crawl, merge. */
  private def run(spark: SparkSession, paths: Seq[String], out: String,
                  nShards: Int): (Long, Seq[String], String) = {
    val n = tracer.span("warc")(
      WarcExtract.extractToFiles(spark, paths, s"$out/cdx", soft = true))
    val clusters = Seq("a", "b").map { c =>
      val dir = s"$out/cluster-$c"
      tracer.span("build") {
        val cdx = paths.map(p => s"$out/cdx/${new File(p).getName}.cdx")
          .filter(_.contains(s"/crawl-$c-"))
        val lines = spark.read.option("lineSep", "\n").textFile(cdx: _*).rdd
        val interior = tracer.span("boundaries")(Boundaries.sample(lines, nShards))
        ClusterOps.build(spark, lines, dir, interior)
      }
      dir
    }
    val merged = s"$out/merged"
    tracer.span("merge")(
      ClusterOps.merge(spark, clusters, merged, nShards, globalCdx = true))
    (n, clusters, merged)
  }

  /** One checked pipeline run over `paths`. */
  private def pipeline(spark: SparkSession, paths: Seq[String],
                       exp: Gen.CorpusCounts, name: String, traced: Boolean): Rep = {
    val out = scratchDir(name)
    val nShards = spark.sparkContext.defaultParallelism
    val ((n, clusters, merged), wallS) = op(traced)(run(spark, paths, out, nShards))
    attempted += 4 // steps: extract, build a, build b, merge

    // checks: closed-form counts, order, shard placement, zero shuffle;
    // each step with a wrong output counts as one failed operation
    val request = tracer.spans.last.request
    attribution.drain(spark.sparkContext)
    def spanCounts(span: String) = attribution.total(
      tracer.named(span).filter(_.request == request).map(_.id))
    val wrong = Seq.newBuilder[(String, String)]
    if (n != exp.records) wrong += "extract" -> s"extracted $n records, expected ${exp.records}"
    val bad = spanCounts("warc").badMembers
    if (bad != exp.badMembers)
      wrong += "extract" -> s"$bad bad members, expected ${exp.badMembers}"
    val mergeCounts = spanCounts("merge")
    if (mergeCounts.shuffleWriteBytes + mergeCounts.shuffleReadBytes != 0)
      wrong += "merge" -> s"merge shuffled ${mergeCounts.shuffleWriteBytes} bytes"
    val bounds = Boundaries.fromClusterSummaries(clusters, nShards,
      spark.sparkContext.hadoopConfiguration)
      .map(_.takeWhile(_ != ' ')).distinct
    val (rows, problems) = ClusterCheck.verify(merged, bounds)
    problems.foreach(p => wrong += "merge" -> s"merged cluster: $p")
    if (rows != exp.merged) wrong += "merge" -> s"merged $rows rows, expected ${exp.merged}"
    wrong.result().groupMap(_._1)(_._2).foreach { case (step, msgs) =>
      fail(s"$name $step: ${msgs.mkString("; ")}")
    }
    Rep(request, wallS, n, clusters, merged, rows, traced)
  }

  def setup(spark: SparkSession, rep: Int): Unit =
    pipeline(spark, warmCorpus, warmExpected, s"warm-$rep", traced = false)

  /** Whole pipeline runs while another fits in `seconds`; at least one.
    * A traced run alternates untraced and traced runs, at least three. */
  def window(spark: SparkSession, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    reps = Vector.empty
    do {
      reps :+= pipeline(spark, corpus, expected, s"rep-${reps.size}",
        traced = trace && reps.size % 2 == 1)
    } while ((System.nanoTime() - t0) / 1e9 + Stats.median(reps.map(_.wallS)) <= seconds ||
      (trace && reps.size < 3))
  }

  def metrics(setupS: Double): Seq[(String, Double, String)] = {
    val wall = Stats.median(reps.map(_.wallS))
    val last = reps.last
    Seq(("setup_s", setupS, "s"),
      ("throughput_per_s", expected.records / wall, "1/s"),
      ("latency_p50_ms", wall * 1e3, "ms"),
      ("bytes_per_record", ClusterCheck.bytes(last.mergedDir).toDouble / last.merged, "B"))
  }

  def layerMetrics(spark: SparkSession): Seq[(String, Double, String)] = {
    attribution.drain(spark.sparkContext)
    val traced = reps.filter(_.traced)
    val requests = traced.map(_.request).toSet
    val n = traced.size.toDouble
    def spans(name: String) = tracer.named(name).filter(s => requests(s.request))
    def counts(name: String) = attribution.total(spans(name).map(_.id))
    val self = Tracer.selfNs(tracer.spans.toSeq)
    def secs(name: String) = spans(name).map(_.durNs).sum / 1e9 / n
    def selfSecs(name: String) = spans(name).map(s => self(s.id)).sum / 1e9 / n
    val all = attribution.total(tracer.spans.filter(s => requests(s.request)).map(_.id))
    val wall = traced.map(_.wallS).sum / n
    val written = traced.last.mergedDir.stripSuffix("/merged")
    val clusters = Seq("cluster-a", "cluster-b", "merged").map(d => s"$written/$d")
    Seq(
      ("warc.extract_s", secs("warc"), "s"),
      ("warc.records", traced.map(_.extracted).sum / n, "count"),
      ("warc.bad_members", counts("warc").badMembers / n, "count"),
      ("warc.input_bytes", inputBytes.toDouble, "B"),
      ("boundaries.sample_s", secs("boundaries"), "s"),
      ("boundaries.jobs", counts("boundaries").jobs / n, "count"),
      ("ingest.read_amplification", ops.filter(o => requests(o.request))
        .map(_.fs.bytesRead).sum / n / inputBytes, "ratio"),
      ("ingest.cpu_utilization", all.executorCpuNs / 1e9 / n /
        (wall * spark.sparkContext.defaultParallelism), "ratio"),
      ("build.s", selfSecs("build"), "s"),
      ("build.shuffle_write_bytes", counts("build").shuffleWriteBytes / n, "B"),
      ("build.spill_bytes", counts("build").spillBytes / n, "B"),
      ("merge.s", secs("merge"), "s"),
      ("merge.shuffle_bytes", (counts("merge").shuffleWriteBytes +
        counts("merge").shuffleReadBytes) / n, "B"),
      ("merge.records_in", traced.map(_.clusters.map(c =>
        ClusterCheck.allLines(c).length).sum).sum / n, "count"),
      ("merge.records_out", traced.map(_.merged).sum / n, "count"),
      ("zipnum.write_bytes", clusters.map(ClusterCheck.bytes).sum.toDouble, "B"),
      ("zipnum.blocks_written", clusters.map(ClusterCheck.summary(_).size).sum.toDouble,
        "count"))
  }
}

object Ingest {
  private final case class Rep(request: Int, wallS: Double, extracted: Long,
                               clusters: Seq[String], mergedDir: String,
                               merged: Long, traced: Boolean)
}

/** Generated inputs of archive-ingest: the timed corpus and a small warm-up
  * corpus of the same shape, each with its closed-form counts. */
object IngestInputs {
  val Spec = Gen.CorpusSpec()
  val WarmSpec = Gen.CorpusSpec(recordsPerFile = 1500, filesPerCrawl = 2)

  def generate(dir: File, seed: Long): Unit = {
    Gen.warcCorpus(new File(dir, "corpus"), seed, Spec)
    Gen.warcCorpus(new File(dir, "warm"), seed + 1, WarmSpec)
  }

  def files(dir: File): Seq[String] =
    dir.listFiles().map(_.getAbsolutePath).sorted.toSeq
}
