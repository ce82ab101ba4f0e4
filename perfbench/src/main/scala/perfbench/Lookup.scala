package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.{Boundaries, ClusterOps}
import graft.sources.zipnum.{ZipNumIndex, ZipNumReader}

/** cdx-lookup: one closed-loop client sends key-range lookups to one
  * cluster and waits for each reply. Every ten lookups of the stream go to
  * one API, then the next ten to the other: `ClusterOps.range` (what the
  * `cluster-range` verb calls) and a `format("zipnum")` filter. */
final class Lookup(ctx: Run) extends Workload {
  import ctx._

  private val cdxDir = new java.io.File(inputs, "cdx").getAbsolutePath
  private var clusterDir: String = _
  /** The cluster's lines in order, from one full scan at set-up. */
  private var all: Array[String] = _
  private var stream: IndexedSeq[Gen.Lookup] = _

  def setup(spark: SparkSession, rep: Int): Unit = {
    clusterDir = scratchDir(s"cluster-$rep")
    val lines = spark.read.option("lineSep", "\n").textFile(cdxDir).rdd
    val interior = Boundaries.sample(lines, spark.sparkContext.defaultParallelism)
    ClusterOps.build(spark, lines, clusterDir, interior)
    all = ClusterCheck.allLines(clusterDir)
    (1 until all.length).find(j => ClusterCheck.byteLt(all(j), all(j - 1)))
      .foreach(j => fail(s"cluster line $j is out of byte order"))
    stream = Gen.lookupStream(LookupInputs.keys(inputs), seed, 100000)
    // warm-up: one block of the stream on each API, checked
    (0 until Warm).foreach(i => lookup(spark, stream(i), i / 10 % 2 == 0, traced = false))
  }

  private def expected(l: Gen.Lookup): IndexedSeq[String] = {
    def lowerBound(k: String): Int = {
      var lo = 0; var hi = all.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ClusterCheck.byteLt(all(mid), k)) lo = mid + 1 else hi = mid
      }
      lo
    }
    all.slice(lowerBound(l.start), lowerBound(l.end)).toIndexedSeq
  }

  /** Run one lookup; returns the lines it answered with. */
  private def call(spark: SparkSession, l: Gen.Lookup,
                   viaRange: Boolean): IndexedSeq[String] =
    if (viaRange)
      ClusterOps.range(spark, Some(l.start), Some(l.end), Seq(clusterDir)).toIndexedSeq
    else {
      val df = spark.read.format("zipnum").load(clusterDir)
      val pred = l.kind match {
        case "exact" => col("urlkey") === l.start
        case "prefix" => col("urlkey").startsWith(l.start)
        case _ => col("urlkey") >= l.start && col("urlkey") < l.end
      }
      val q = df.where(pred)
      tracer.span("scan.plan")(q.queryExecution.executedPlan)
      q.collect().iterator.map(_.toSeq.map(v => if (v == null) "-" else v.toString)
        .mkString(" ")).toIndexedSeq
    }

  /** One checked lookup; returns its wall time in ms, or NaN when it
    * threw. A traced lookup is then decomposed into its driver-side
    * layers. */
  private def lookup(spark: SparkSession, l: Gen.Lookup, viaRange: Boolean,
                     traced: Boolean): Double = {
    val api = if (viaRange) "range" else "scan"
    attempted += 1
    try {
      val (got, wallS) = op(traced, api)(tracer.span(api)(call(spark, l, viaRange)))
      val want = expected(l)
      if (got != want) fail(s"$api ${l.kind} [${l.start}, ${l.end}) " +
        s"returned ${got.size} lines, expected ${want.size}")
      if (traced) tracer.span("decompose")(decompose(spark, l, api, got.size))
      wallS * 1e3
    } catch {
      case scala.util.control.NonFatal(e) =>
        fail(s"$api ${l.kind} [${l.start}, ${l.end}) threw $e")
        Double.NaN
    }
  }

  /** Latencies of the last window, per API. */
  private var lat = Map("range" -> Vector.empty[Double], "scan" -> Vector.empty[Double])
  private var decomposed = Vector.empty[(String, Map[String, Double])]

  /** The same lookup's driver-side layer work, timed one layer at a time:
    * summary load, prune plus slice planning, and reading the slices. */
  private def decompose(spark: SparkSession, l: Gen.Lookup, api: String,
                        returned: Int): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
    }
    val (idx, loadMs) = time(ZipNumIndex.load(clusterDir, conf))
    val ((pruned, slices), pruneMs) = time {
      val p = idx.prune(Some(l.start), Some(l.end)); (p, idx.slices(p))
    }
    val (_, readMs) = time(slices.foreach(s =>
      ZipNumReader.readSlice(conf, s, Some(l.start), Some(l.end)).foreach(_ => ())))
    val inflated = slices.map(s =>
      ZipNumReader.readSlice(conf, s, None, None).size.toLong).sum
    decomposed :+= api -> Map("load" -> loadMs, "prune" -> pruneMs, "read" -> readMs,
      "blocks" -> pruned.size.toDouble, "blocksTotal" -> idx.blocks.size.toDouble,
      "slices" -> slices.size.toDouble,
      "bytes" -> slices.map(_.length).sum.toDouble,
      "inflated" -> inflated.toDouble, "returned" -> returned.toDouble)
  }

  /** The timed window: lookups from the stream until `seconds` have
    * passed. In a traced run every other block of 20 lookups is traced. */
  def window(spark: SparkSession, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    val got = Vector.newBuilder[(String, Double)]
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val viaRange = i / 10 % 2 == 0
      val traced = trace && i / 20 % 2 == 1
      val ms = lookup(spark, stream(i), viaRange, traced)
      if (!ms.isNaN) got += (if (viaRange) "range" else "scan") -> ms
      i += 1
    }
    lat = got.result().groupMap(_._1)(_._2).withDefaultValue(Vector.empty)
  }

  /** Lookups of the warm-up, untimed, at the start of the stream. */
  private val Warm = 20
  /** Next lookup of the stream. */
  private var i = Warm

  def metrics(setupS: Double): Seq[(String, Double, String)] = {
    val both = lat("range") ++ lat("scan")
    Seq(("setup_s", setupS, "s"),
      ("throughput_per_s", both.size / (both.sum / 1e3), "1/s"),
      ("latency_p50_ms", Stats.median(lat("range")), "ms"),
      ("bytes_per_record", ClusterCheck.bytes(clusterDir).toDouble / all.length, "B"))
  }

  def layerMetrics(spark: SparkSession): Seq[(String, Double, String)] = {
    val r = lat("range"); val s = lat("scan")
    val att = ctx.attribution
    att.drain(spark.sparkContext)
    // Spark work of each call of `name`, its child spans included
    def perCall(name: String, f: SparkCounts => Double): Double = {
      val ids = tracer.named(name).map(_.id).toSet
      val withChildren = tracer.spans.filter(s => ids(s.id) || ids(s.parent)).map(_.id)
      if (ids.isEmpty) 0.0 else f(att.total(withChildren)) / ids.size
    }
    def mean(k: String, which: Seq[Map[String, Double]] = decomposed.map(_._2)) =
      if (which.isEmpty) 0.0 else which.map(_(k)).sum / which.size
    val rangeDec = decomposed.collect { case ("range", m) => m }
    val scanDec = decomposed.collect { case ("scan", m) => m }
    def wallMs(name: String) = {
      val sp = tracer.named(name)
      if (sp.isEmpty) 0.0 else sp.map(_.durNs).sum / 1e6 / sp.size
    }
    val driverMs = (d: Seq[Map[String, Double]]) =>
      mean("load", d) + mean("prune", d) + mean("read", d)
    val planMs = wallMs("scan.plan")
    def tail(xs: Seq[Double]) = Stats.tailPercentile(xs.size)
      .map(Stats.percentile(xs, _)).getOrElse(0.0)
    Seq(
      ("range.p50_ms", if (r.isEmpty) 0.0 else Stats.median(r), "ms"),
      ("range.tail_ms", tail(r), "ms"),
      ("range.tail_pct", Stats.tailPercentile(r.size).getOrElse(0.0), "%"),
      ("range.lookups", r.size.toDouble, "count"),
      ("scan.p50_ms", if (s.isEmpty) 0.0 else Stats.median(s), "ms"),
      ("scan.tail_ms", tail(s), "ms"),
      ("scan.tail_pct", Stats.tailPercentile(s.size).getOrElse(0.0), "%"),
      ("scan.lookups", s.size.toDouble, "count"),
      ("index.load_ms", mean("load", rangeDec), "ms"),
      ("index.prune_us", mean("prune", rangeDec) * 1e3, "us"),
      ("index.blocks_total", mean("blocksTotal"), "count"),
      ("reader.read_slice_ms", mean("read", rangeDec), "ms"),
      ("range.floor_ms", wallMs("range") - driverMs(rangeDec), "ms"),
      ("range.jobs_per_lookup", perCall("range", _.jobs.toDouble), "count"),
      ("range.tasks_per_lookup", perCall("range", _.tasks.toDouble), "count"),
      ("scan.plan_ms", planMs, "ms"),
      ("scan.partitions", mean("slices", scanDec), "count"),
      ("scan.jobs_per_lookup", perCall("scan", _.jobs.toDouble), "count"),
      ("scan.floor_ms", wallMs("scan") - planMs - driverMs(scanDec), "ms"),
      ("lookup.blocks_read", mean("blocks"), "count"),
      ("lookup.compressed_bytes", mean("bytes"), "B"),
      ("lookup.lines_inflated_per_returned",
        mean("inflated") / math.max(1e-9, mean("returned")), "ratio"),
      ("lookup.rows_returned", mean("returned"), "count"),
      ("zipnum.write_bytes", ClusterCheck.bytes(clusterDir).toDouble, "B"),
      ("zipnum.blocks_written", ClusterCheck.summary(clusterDir).size.toDouble, "count"))
  }
}

/** Generated inputs of cdx-lookup: CDX text files plus the keys and
  * host prefixes the lookup stream draws from. */
object LookupInputs {
  val Spec = Gen.CdxSpec()

  def generate(dir: java.io.File, seed: Long): Unit = {
    val gen = Gen.cdxLines(new java.io.File(dir, "cdx"), seed, Spec)
    write(new java.io.File(dir, "keys.txt"), gen.keys)
    write(new java.io.File(dir, "hosts.txt"), gen.hosts)
  }

  def keys(dir: java.io.File): Gen.CdxKeys =
    Gen.CdxKeys(read(new java.io.File(dir, "keys.txt")), read(new java.io.File(dir, "hosts.txt")))

  private def write(f: java.io.File, xs: Seq[String]): Unit =
    java.nio.file.Files.write(f.toPath, xs.mkString("\n").getBytes("UTF-8"))

  private def read(f: java.io.File): IndexedSeq[String] =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").split("\n").toIndexedSeq
}
