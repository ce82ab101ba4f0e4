package graft.util

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.graftshim.ListenerShim

/** The Spark work one measured window did: its wall time in seconds,
  * the jobs it submitted, their stages (counted at job start, so a stage
  * a job skips because it reuses shuffle output is included, as the
  * Spark UI lists it), the tasks that ended, the shuffle bytes those
  * tasks read and wrote, and the generated classes compiled (misses of
  * Spark's generated-class cache). `compiles` is JVM-wide, not per
  * SparkContext: a compile on any thread during the window counts. */
final case class Work(wallS: Double, jobs: Long, stages: Long, tasks: Long,
                      shuffleReadBytes: Long, shuffleWriteBytes: Long,
                      compiles: Long)

/** The one way the program counts Spark work. */
object SparkMeter {

  /** `body`'s result and the work it did. Listener events arrive
    * asynchronously, so the bus is drained before the window opens (a
    * previous action's events stay out) and again before it closes (the
    * last task's metrics are in). The wall clock covers `body` only, not
    * the closing drain. Windows nest: each has its own listener, so an
    * outer window counts everything an inner one does. */
  def measure[T](sc: SparkContext)(body: => T): (T, Work) = {
    ListenerShim.drain(sc)
    val counter = new Counter
    sc.addSparkListener(counter)
    try {
      val compiled0 = compiled
      val t0 = System.nanoTime()
      val result = body
      val wallS = (System.nanoTime() - t0) / 1e9
      ListenerShim.drain(sc)
      (result, counter.work(wallS, compiled - compiled0))
    } finally sc.removeSparkListener(counter)
  }

  private def compiled: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private final class Counter extends SparkListener {
    private val jobs, stages, tasks, read, write = new AtomicLong

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      stages.addAndGet(e.stageInfos.size)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    def work(wallS: Double, compiles: Long): Work =
      Work(wallS, jobs.get, stages.get, tasks.get, read.get, write.get,
        compiles)
  }
}
