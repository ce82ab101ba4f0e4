package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs (sbt forks a single
  * test JVM; the session factory reuses the active session). */
trait SparkTestSession {
  lazy val spark: SparkSession = graft.cli.GraftCli.session("graft-test",
    cpus = 4, conf = Map("spark.sql.warehouse.dir" -> "target/test-warehouse"))
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
