package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.cli.GraftCli.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // GRAFT_VERIFY_ONLY=q90_substring_dedup,q91_nb_quality — diagnostic
    // isolation (mirrors GRAFT_BENCH_ONLY); unset = the official full set.
    // The oracle dump is filtered identically so selfcheck sees a
    // consistent (queries, oracle) pair.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd filter must fail loudly, not verify zero queries and
    // exit green (the silent-vacuous-green failure mode the round-10
    // hardening exists to prevent)
    only.foreach { names =>
      // set-but-empty (a typo'd `GRAFT_VERIFY_ONLY=$UNSET_VAR`) would
      // otherwise verify ZERO queries and exit green
      require(names.nonEmpty,
        "GRAFT_VERIFY_ONLY is set but names no queries — refusing a vacuous green")
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"GRAFT_VERIFY_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.toString)
          .takeWhile(_ != '\n').take(300)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A query that failed to RUN must fail the verify process — round 10
    // recorded an all-green correctness file while ten queries silently
    // produced no output. The error map is also dumped for the harness.
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed to run: " +
        failed.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
