package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call into a layer, made from the benchmark's driver thread.
  * Spans of one lookup or one pipeline run share a `request` id. */
final case class Span(id: Int, parent: Int, name: String, request: Int,
                      startNs: Long, var endNs: Long = -1L) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span (or to a stage of it). */
final class SparkCounts {
  var jobs, stages, tasks, taskRetries = 0L
  var executorRunMs, executorCpuNs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var badMembers = 0L
  /** Job intervals (start, end) in listener-clock milliseconds. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRetries += o.taskRetries; executorRunMs += o.executorRunMs
    executorCpuNs += o.executorCpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    badMembers += o.badMembers; jobIntervals ++= o.jobIntervals
  }
}

/** In-memory span recorder. Every span opened with [[span]] tags the Spark
  * jobs it submits with its id through `SparkContext.setLocalProperty`, and
  * [[Attribution]] charges their stages and tasks to it. With `enabled`
  * false only the spans named in `always` are recorded (the correctness
  * checks need their Spark counts on every run); the rest run untouched. */
final class Tracer(var enabled: Boolean, always: Set[String] = Set.empty) {
  /** The context of the current session; set before the first span. */
  var sc: SparkContext = _
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var current = 0

  def newRequest(): Unit = current += 1
  def request: Int = current

  def span[T](name: String)(body: => T): T =
    if (!enabled && !always.contains(name)) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name,
        current, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

object Tracer {
  val Key = "perfbench.span"

  /** Self time of each span: its duration minus the part of its interval
    * that its child spans cover (children may overlap each other). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durNs - unionLength(iv))
    }.toMap
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Listener that charges jobs, stages and tasks to the span whose id the
  * submitting thread carried in [[Tracer.Key]]. Jobs outside any span go
  * to span -1. Read it only after [[drain]]. */
final class Attribution extends SparkListener {
  val bySpan = mutable.HashMap.empty[Int, SparkCounts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]

  private def counts(span: Int) = bySpan.getOrElseUpdate(span, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = (span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
    counts(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) =>
      counts(span).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    if (e.taskInfo.attemptNumber > 0) c.taskRetries += 1
    val m = e.taskMetrics
    if (m != null) {
      c.executorRunMs += m.executorRunTime
      c.executorCpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    if (e.reason == org.apache.spark.Success)
      e.taskInfo.accumulables.foreach { a =>
        if (a.name.contains("warc.bad.members"))
          a.update.foreach {
            case n: java.lang.Long => c.badMembers += n
            case _ => ()
          }
      }
  }

  /** Counts of all the given spans together. */
  def total(spanIds: Iterable[Int]): SparkCounts = synchronized {
    val t = new SparkCounts
    spanIds.foreach(id => bySpan.get(id).foreach(t.add))
    t
  }

  /** Counts of every span, and of the jobs outside any span. */
  def grand(): SparkCounts = synchronized(total(bySpan.keys.toSeq))

  def drain(sc: SparkContext): Unit =
    org.apache.spark.sql.graftshim.ListenerShim.drain(sc)
}

object Stats {
  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of percentile `p` (0-100) among `n` samples;
    * the epsilon keeps 99.9 / 100 * 10000 from rounding up past 9990. */
  private def rank(p: Double, n: Int): Int =
    math.max(1, math.min(n, math.ceil(p / 100 * n - 1e-9).toInt))

  /** The value at percentile `p` (0-100), nearest rank. */
  def percentile(xs: Seq[Double], p: Double): Double = xs.sorted.apply(rank(p, xs.size) - 1)

  /** The highest of the usual percentiles that leaves at least ten samples
    * beyond it, or None when fewer than 20 samples exist. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n - rank(p, n) >= 10)
}

/** Hadoop FileSystem statistics of the local file system, summed over
  * every FileSystem instance the JVM opened (driver and executors share
  * one JVM in local mode). */
object FsStats {
  final case class Delta(bytesRead: Long, bytesWritten: Long, readOps: Long) {
    def minus(o: Delta): Delta =
      Delta(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten, readOps - o.readOps)
  }

  @annotation.nowarn("cat=deprecation")
  def snapshot(): Delta = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Delta(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      st.map(s => s.getReadOps.toLong).sum)
  }
}
