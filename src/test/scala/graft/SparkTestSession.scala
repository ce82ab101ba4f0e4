package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs (sbt forks a single
  * test JVM; the session factory reuses the active session). */
trait SparkTestSession {
  lazy val spark: SparkSession = graft.cli.GraftCli.session("graft-test",
    cpus = 4, conf = Map("spark.sql.warehouse.dir" -> "target/test-warehouse"))
}
