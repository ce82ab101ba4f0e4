package graft.tools

/** Full-registry plan-shape sweep (the r21 verdict asked for this as a
  * committed artifact, not prose): one line per declared query with the
  * physical operator SEQUENCE (treeString order, AQE initial plan) plus
  * the shape census the no-collateral audit needs (Exchange /
  * BroadcastExchange / SortMergeJoin / BroadcastNestedLoopJoin /
  * CartesianProduct / Window / Sort counts). Two sweeps of different
  * trees diff line-by-line: an untouched query MUST produce a
  * byte-identical line.
  *
  * Streaming gates are skipped (their builders EXECUTE the stream; the
  * batch plan of the sink read is not a shape worth pinning) — they are
  * listed with "STREAMING" so the line count stays at the registry size.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.PlanSweep <sfDir> out.tsv"
  */
object PlanSweep {
  // "   +- *(3) BroadcastHashJoin [..." -> "BroadcastHashJoin";
  // "Exchange hashpartitioning(...)" -> "Exchange"; "Scan parquet t" -> "Scan"
  private val OpName =
    """^[\s:+\-]*(?:\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9_]*)""".r

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/plan_sweep.tsv")
    // bench-shaped session: parallelism-gated shapes (fanOut) only show
    // at the bench's core count (SPARK_GRAFT_CPUS, default 32)
    val spark = graft.cli.GraftCli.session("graft-plansweep")
    spark.sparkContext.setLogLevel("ERROR")

    val lines = graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, _) if graft.SparkEntry.streamingQueries(name) => s"$name\tSTREAMING\t-"
      case (name, build) =>
        try {
          val tree = build(spark, sfDir).queryExecution.executedPlan.treeString
          val ops = tree.split('\n').toSeq.flatMap(l =>
            OpName.findFirstMatchIn(l).map(_.group(1)))
          def n(s: String) = ops.count(_ == s)
          val census = Seq(
            "Exchange" -> n("Exchange"),
            "BroadcastExchange" -> n("BroadcastExchange"),
            "SortMergeJoin" -> n("SortMergeJoin"),
            "BroadcastNestedLoopJoin" -> n("BroadcastNestedLoopJoin"),
            "CartesianProduct" -> n("CartesianProduct"),
            "Window" -> (n("Window") + n("WindowGroupLimit")),
            "Sort" -> n("Sort"))
            .map { case (k, v) => s"$k=$v" }.mkString(",")
          s"$name\t$census\t${ops.mkString(">")}"
        } catch {
          case e: Throwable =>
            s"$name\tERROR\t${e.toString.takeWhile(_ != '\n').take(160)}"
        }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"[plansweep] ${lines.size} queries -> $out")
    spark.stop()
  }
}
