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
    val selected = SparkEntry.selectGates("GRAFT_VERIFY_ONLY")
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { g =>
      try g.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
        failed(g.name) = Option(e.getMessage).getOrElse(e.toString)
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
    val json = selected.map(g => s"${q(g.name)}: ${q(g.oracleSql)}")
      .mkString("{", ",", "}")
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
