package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import perfbench.IO.log

/** What one benchmark run shares between its parts: the seed, the
  * generated inputs, scratch space, the span recorder and the operation
  * counts. */
final class Run(val seed: Long, val inputs: File, val work: File, val trace: Boolean) {
  val attribution = new Attribution
  // the correctness checks read Spark counts of these spans on every run
  val tracer = new Tracer(trace, always = Set("warc", "merge"))
  var attempted = 0L
  var failed = 0L

  /** Timed operations of the current window: one lookup, one pipeline
    * run, or one gate. In a traced run, `traced` picks the operations whose
    * layers are traced; the others time the same work untraced. `label`
    * names what the operation does, so that traced and untraced operations
    * of the same kind can be compared. */
  val ops = scala.collection.mutable.ArrayBuffer.empty[Run.Op]

  def op[T](traced: Boolean, label: String = "")(body: => T): (T, Double) = {
    tracer.enabled = traced
    tracer.newRequest()
    val fs0 = FsStats.snapshot()
    val t0 = System.nanoTime()
    val r = body
    val wallS = (System.nanoTime() - t0) / 1e9
    ops += Run.Op(tracer.request, label, wallS, traced, FsStats.snapshot().minus(fs0))
    (r, wallS)
  }

  def fail(msg: String): Unit = { failed += 1; System.err.println(s"FAILED: $msg") }

  def scratchDir(name: String): String = {
    val d = new File(work, s"out/$name")
    IO.delete(d)
    d.getParentFile.mkdirs()
    d.getAbsolutePath
  }
}

/** A workload: set up (several times a run), a timed window, then its
  * end-to-end metrics, or its per-layer metrics after a traced window.
  * Metrics are (name, value, unit). */
trait Workload {
  def setup(spark: SparkSession, rep: Int): Unit
  def window(spark: SparkSession, seconds: Double): Unit
  def metrics(setupS: Double): Seq[(String, Double, String)]
  def layerMetrics(spark: SparkSession): Seq[(String, Double, String)]
}

object Run {
  final case class Op(request: Int, label: String, wallS: Double, traced: Boolean,
                      fs: FsStats.Delta)
}

/** `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --inputs-key K`.
  * Generates (or reuses) the seed's inputs, sets up several times and
  * reports the median, runs the timed window, checks every answer, and
  * prints one JSON result as the last line of standard output. */
object Main {

  /** Per-layer metric names, the same for every workload; a layer a
    * workload does not exercise reports 0. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_retries" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.driver_s" -> "s", "fs.bytes_read" -> "B", "fs.bytes_written" -> "B",
    "fs.read_ops" -> "count", "trace.overhead_pct" -> "%",
    "warc.extract_s" -> "s", "warc.records" -> "count", "warc.bad_members" -> "count",
    "warc.input_bytes" -> "B", "boundaries.sample_s" -> "s", "boundaries.jobs" -> "count",
    "ingest.read_amplification" -> "ratio", "ingest.cpu_utilization" -> "ratio",
    "build.s" -> "s", "build.shuffle_write_bytes" -> "B", "build.spill_bytes" -> "B",
    "merge.s" -> "s", "merge.shuffle_bytes" -> "B", "merge.records_in" -> "count",
    "merge.records_out" -> "count", "zipnum.write_bytes" -> "B",
    "zipnum.blocks_written" -> "count",
    "range.p50_ms" -> "ms", "range.tail_ms" -> "ms", "range.tail_pct" -> "%",
    "range.lookups" -> "count", "scan.p50_ms" -> "ms", "scan.tail_ms" -> "ms",
    "scan.tail_pct" -> "%", "scan.lookups" -> "count",
    "index.load_ms" -> "ms", "index.prune_us" -> "us", "index.blocks_total" -> "count",
    "reader.read_slice_ms" -> "ms", "range.floor_ms" -> "ms",
    "range.jobs_per_lookup" -> "count", "range.tasks_per_lookup" -> "count",
    "scan.plan_ms" -> "ms", "scan.partitions" -> "count",
    "scan.jobs_per_lookup" -> "count", "scan.floor_ms" -> "ms",
    "lookup.blocks_read" -> "count", "lookup.compressed_bytes" -> "B",
    "lookup.lines_inflated_per_returned" -> "ratio", "lookup.rows_returned" -> "count",
    "battery.total_s" -> "s", "battery.geomean_ms" -> "ms", "battery.gates" -> "count") ++
    ("battery" +: Gates.Families.map("battery." + _)).flatMap { p =>
      (if (p == "battery") Nil else Seq(s"$p.s" -> "s")) ++ Seq(s"$p.jobs" -> "count",
        s"$p.driver_s" -> "s", s"$p.executor_cpu_s" -> "s", s"$p.shuffle_bytes" -> "B")
    }

  val Workloads = Seq("archive-ingest", "cdx-lookup", "gate-battery")

  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val tGen = System.nanoTime()
    val inputs = Inputs.prepare(work, workload, seed, opt.getOrElse("inputs-key", "0"))
    log(f"inputs ready in ${(System.nanoTime() - tGen) / 1e9}%.1f s")
    val run = new Run(seed, inputs, work, trace)

    // a run that throws still prints a result, with the failure counted
    var spark: SparkSession = null
    val metrics: Seq[(String, Double, String)] =
      try {
        // set up SetupReps times, each with its own session; keep the last
        val setups = (0 until SetupReps).map { rep =>
          if (spark != null) spark.stop()
          val t0 = System.nanoTime()
          spark = graft.cli.GraftCli.session(s"perfbench-$workload")
          spark.sparkContext.addSparkListener(run.attribution)
          run.tracer.sc = spark.sparkContext
          val w = workload match {
            case "archive-ingest" => new Ingest(run)
            case "cdx-lookup" => new Lookup(run)
            case _ => new Gates(run, new File(work, "gate-out"))
          }
          w.setup(spark, rep)
          ((System.nanoTime() - t0) / 1e9, w)
        }
        val setupS = Stats.median(setups.map(_._1))
        log(setups.map(s => f"${s._1}%.2f").mkString("set-ups (s): ", " ", ""))
        val w = setups.last._2

        run.ops.clear()
        w.window(spark, seconds)
        if (!trace) w.metrics(setupS)
        else runtimeMetrics(run, spark, workload) ++ w.layerMetrics(spark)
      } catch {
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          run.fail(s"run aborted: $e")
          Nil
      } finally {
        if (spark != null) spark.stop()
        IO.delete(new File(work, "out"))
      }
    log(s"${run.attempted} operations, ${run.failed} failed")

    val byName = metrics.map(m => m._1 -> m._2).toMap
    val selected =
      if (trace) LayerMetrics.map { case (n, u) => (n, byName.getOrElse(n, 0.0), u) }
      else metrics
    println(Json.result(run.failed == 0, math.max(1, run.attempted), run.failed, selected))
  }

  /** Spark and file-system work per traced operation of the window, and
    * the tracing overhead: per label, the traced operations' median wall
    * time over the untraced ones' (less the window's first, which still
    * pays warm-up), as the geometric mean over the labels. Also writes
    * the window's spans to the work directory. */
  private def runtimeMetrics(run: Run, spark: SparkSession,
                             workload: String): Seq[(String, Double, String)] = {
    run.attribution.drain(spark.sparkContext)
    val traced = run.ops.filter(_.traced)
    val requests = traced.map(_.request).toSet
    val spans = run.tracer.spans.filter(s => requests(s.request)).toSeq
    TraceDump.write(new File(run.work, s"trace-$workload-${run.seed}.json"),
      spans, run.attribution)
    val c = run.attribution.total(spans.map(_.id))
    val n = traced.size.toDouble
    val jobS = Tracer.unionLength(c.jobIntervals.toSeq) / 1e3
    def med(ops: Iterable[Run.Op]) = Stats.median(ops.map(_.wallS).toSeq)
    val ratios = run.ops.drop(1).groupBy(_.label).values.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None else Some(math.log(med(t) / med(u)))
    }
    Seq(("spark.jobs", c.jobs / n, "count"), ("spark.stages", c.stages / n, "count"),
      ("spark.tasks", c.tasks / n, "count"),
      ("spark.task_retries", c.taskRetries / n, "count"),
      ("spark.executor_run_s", c.executorRunMs / 1e3 / n, "s"),
      ("spark.executor_cpu_s", c.executorCpuNs / 1e9 / n, "s"),
      ("spark.shuffle_write_bytes", c.shuffleWriteBytes / n, "B"),
      ("spark.shuffle_read_bytes", c.shuffleReadBytes / n, "B"),
      ("spark.spill_bytes", c.spillBytes / n, "B"),
      ("spark.driver_s", (traced.map(_.wallS).sum - jobS) / n, "s"),
      ("fs.bytes_read", traced.map(_.fs.bytesRead).sum / n, "B"),
      ("fs.bytes_written", traced.map(_.fs.bytesWritten).sum / n, "B"),
      ("fs.read_ops", traced.map(_.fs.readOps).sum / n, "count"),
      ("trace.overhead_pct", (math.exp(ratios.sum / ratios.size) - 1) * 100, "%"))
  }
}

object IO {
  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** Generated inputs, cached per workload, seed and generator version
  * (`key`) under the work directory; a directory counts only once its
  * `.done` marker exists. */
object Inputs {
  /** Cached seeds kept per workload; older ones are deleted. */
  val Keep = 3

  def prepare(work: File, workload: String, seed: Long, key: String): File = {
    val root = new File(work, "inputs")
    val dir = new File(root, s"$workload-$seed-$key")
    val done = new File(dir, ".done")
    if (!done.exists()) {
      // gate-battery's tables are written by run.py (gates.py) beforehand
      require(workload != "gate-battery", s"no generated tables in $dir")
      IO.delete(dir)
      dir.mkdirs()
      if (workload == "archive-ingest") IngestInputs.generate(dir, seed)
      else LookupInputs.generate(dir, seed)
      done.createNewFile()
    }
    done.setLastModified(System.currentTimeMillis())
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(workload + "-"))
      .sortBy(d => -new File(d, ".done").lastModified())
      .drop(Keep).foreach(IO.delete)
    dir
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) =>
        s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}"""
      }.mkString(", ") + "}}"
}

/** The traced run's detail output: every span with its self time and the
  * Spark work charged to it. */
object TraceDump {
  def write(f: File, spans: Seq[Span], att: Attribution): Unit = {
    val self = Tracer.selfNs(spans)
    val lines = spans.map { s =>
      val c = att.total(Seq(s.id))
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        s""""request": ${s.request}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""self_ns": ${self(s.id)}, "jobs": ${c.jobs}, "stages": ${c.stages}, """ +
        s""""tasks": ${c.tasks}, "executor_cpu_ns": ${c.executorCpuNs}, """ +
        s""""shuffle_write_bytes": ${c.shuffleWriteBytes}}"""
    }
    java.nio.file.Files.write(f.toPath, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
