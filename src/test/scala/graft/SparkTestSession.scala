package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs (sbt forks a single
  * test JVM; the session factory reuses the active session). */
trait SparkTestSession {
  lazy val spark: SparkSession = graft.cli.GraftCli.session("graft-test",
    cpus = 4, conf = Map("spark.sql.warehouse.dir" -> "target/test-warehouse"))

  /** `f`'s result with the Spark jobs and tasks it submitted,
    * listener-counted. */
  def jobsAndTasks[T](f: => T): (T, Long, Long) = {
    org.apache.spark.sql.graftshim.ListenerShim.drain(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskStart(
          e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.sql.graftshim.ListenerShim.drain(spark.sparkContext)
      (r, jobs.get, tasks.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

/** Temp files of every spec, under the `target/` of the checkout the test
  * JVM runs in (sbt forks it with the project root as working directory). */
object SparkTestSession {
  private lazy val target: Path =
    Files.createDirectories(Paths.get("target").toAbsolutePath)
  def tmpDir(prefix: String): Path = Files.createTempDirectory(target, prefix)
  def tmpFile(prefix: String, suffix: String): Path =
    Files.createTempFile(target, prefix, suffix)
}
