package graft

/** Dev tool: dump formatted physical plans for scale-sensitive queries —
  * the explain-audit loop (broadcasts present? filters pushed? shuffles
  * where expected?). Usage: runMain graft.Explain [sfDir] [query...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q02_join_agg", "q08_range_query", "q16_anti_join",
        "q19_zipnum_roundtrip", "q21_minhash_lsh", "q24_ann_topk",
        "q25_ann_ivf", "q36_embed_neardup", "q40_sorted_merge",
        "q43_ann_ivf_assign", "q54_ann_hyperplane", "q55_revisit_resolve", "q73_ann_multiprobe",
        "q56_vocab", "q60_tfidf", "q72_decontaminate")
    // SPARK_GRAFT_CPUS sets the core count: plan shapes that are
    // parallelism-gated (the fanOut of single-row-group scans fires only
    // when the scan's partition count is far below defaultParallelism)
    // need a bench-shaped session to show their bench-shaped plan.
    val spark = graft.cli.GraftCli.session("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    // GRAFT_EXPLAIN_EXEC=1: materialize first, so an AQE plan prints its
    // FINAL form (runtime stage reuse, coalesced partitions) instead of
    // the initial one — reuse of identical shuffle stages only appears
    // after execution.
    val exec = sys.env.get("GRAFT_EXPLAIN_EXEC").contains("1")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val q = SparkEntry.queries(n)(spark, sfDir)
      if (exec) {
        // the action must run on THIS Dataset's own QueryExecution — a
        // write wraps the plan in a new one, leaving q.queryExecution's
        // AdaptiveSparkPlan un-finalized (isFinalPlan=false, the very
        // initial plan this flag exists to avoid printing)
        q.foreach((_: org.apache.spark.sql.Row) => ())
        println(q.queryExecution.executedPlan.toString)
      } else q.explain("formatted")
    }
    spark.stop()
  }
}
