package graft

import org.scalatest.funsuite.AnyFunSuite

/** Automated plan audit over EVERY SparkEntry query: the universal
  * red flags that silently destroy scale — a non-broadcast cartesian
  * product (all-pairs shuffle) or a Python eval boundary (breaks
  * whole-stage codegen) — must never appear in any physical plan.
  * (BroadcastNestedLoopJoin is fine: the intended broadcast-side
  * cross-scoring in the ANN baselines.) Also pins the registry: one
  * record per gate name, and which gates are streaming. */
class PlanAuditSpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"

  test("gate names are unique") {
    // a duplicate record would vanish silently from the name-keyed views
    val dups = SparkEntry.gates.groupBy(_.name).collect {
      case (name, gs) if gs.size > 1 => name
    }
    assert(dups.isEmpty, s"gate names declared more than once: $dups")
  }

  test("the streaming flag marks exactly the six Structured Streaming gates") {
    assert(SparkEntry.streamingQueries == Set("q51_stream_daycap",
      "q92_stream_dedup", "q104_stream_windows", "q110_stream_sessions",
      "q113_stream_zipnum", "q134_stream_hll"))
  }

  test("scale pins: shuffle budgets and broadcast-join shapes hold") {
    // The load-bearing scale properties of SCALE.md, pinned so a rewrite
    // cannot silently regress them: each pipeline's shuffle-exchange
    // count stays within its designed budget, and the asymmetric joins
    // stay BROADCAST (a sort-merge join here would shuffle the 100 TB
    // side). Counts are structural (initial physical plan), so they are
    // stable under AQE's runtime re-planning.
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
    def shuffles(s: String): Int = s.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("BroadcastExchange") &&
        !l.contains("ReusedExchange"))
    val budgets = Map(
      "q05_dedup_exact" -> 1,   // one map-side-combinable agg
      "q29_fingerprint" -> 1,   // sample-before-dedup, fan-out keyed
      "q36_embed_neardup" -> 1, // in-bucket expansion, never a self-join
      "q56_vocab" -> 2,         // (token,doc) agg + vocab-sized second
      "q21_minhash_lsh" -> 3,   // signature agg, bucket groupBy, distinct
      "q57_kmv_distinct" -> 1,  // only the <= k·partitions sketch merge
      // build agg (wire <= d·w/partition) + probe-group agg; the
      // <= d·w-cell sketch joins BROADCAST (pinned below)
      "q130_countmin" -> 2,
      // <= m-register groupBy + the one-row summary agg (its exchange
      // carries one partial row per partition)
      "q131_hll_distinct" -> 2,
      // ONE group agg; partials carry exactly m bytes per group
      "q132_hll_per_group" -> 1,
      "q133_cdxj_roundtrip" -> 0, // pure map: format+parse, no exchange
      "q72_decontaminate" -> 3, // eval-side prep + final per-doc count
      "q60_tfidf" -> 4,         // tf agg, df agg, N, per-doc sum
      // every q74 exchange carries <= k (or k·partitions) rows: the
      // sample distinct, the <= k-group count agg, the tiny window
      "q74_kmv_quantiles" -> 3,
      // round 11: gram window + covered-set agg; corpus meets its
      // covered sets via broadcast (pinned below), never an exchange
      "q90_substring_dedup" -> 2,
      "q91_nb_quality" -> 3,    // token agg, (doc,token) agg, doc agg
      "q93_bpe_pairs" -> 2,     // word-freq agg + vocab-sized pair agg
      "q94_collocation" -> 5,   // bigram/unigram aggs + join exchanges
      "q95_bpe_apply" -> 1,     // replace chain is map-side; one doc agg
      // q96 itself takes the small-input endgame at audit scale (a
      // LocalTableScan); the DISTRIBUTED PageRank plan is pinned by its
      // own check below
      "q96_pagerank" -> 18,
      "q97_snapshot_diff" -> 3, // both snapshots keyed once + summary agg
      "q98_chunk_overlap" -> 0, // pure map-side window projection
      "q99_token_drift" -> 5,   // two token aggs + vocab merge + top-k
      "q101_epoch_plan" -> 2,   // stratum agg + |strata|-row wsum window
      "q102_editdist_verify" -> 4, // pair-building joins + union sides
      // round-16 pins for the adjudicated job-floor set (their bench
      // ratios are structurally noisy, so a plan regression would hide
      // in the numbers — these fail loudly instead):
      "q14_topk_group" -> 1,    // ONE exchange; top-k prefilters below it
      "q43_ann_ivf_assign" -> 1, // map-side assign; only the top-k window
      "q82_heavy_hitters" -> 1, // one token agg; sketch merge is tiny
      // the PQ family: candidates carry codes only, the LUT broadcasts
      // (the BNLJ is the intended broadcast cross-score) — the single
      // exchange is the final top-k window; rerank adds its shortlist
      // broadcast join, still only 2 exchanges end to end
      "q122_ann_pq" -> 1,
      "q123_ann_ivfpq" -> 1,
      "q124_ann_pq_rerank" -> 2,
      "q126_ann_pq_trained" -> 1,
      "q128_ann_ivfpq_trained" -> 1,
      // two method branches × (top-k window + recall agg) + brute's
      // top-k; every join side is queries × k(·overscan), broadcast
      "q129_ann_recall" -> 5,
      // two signature aggs (corpus-doc + eval-doc keyed) + the hit
      // count; the eval side's buckets reach the corpus by BROADCAST
      // (pinned below), never a corpus-side shuffle join
      "q127_fuzzy_decontaminate" -> 3,
      // round-16 second sweep: the e2e pipelines and map-side claims.
      // NOTE these are AUDIT-SCALE budgets — q69/q76/q86 take the
      // small-input/CC endgames at sf0.001 (distributed shapes are
      // pinned by their own rehearsal decades in SCALE.md)
      "q20_doc_dedup" -> 1,     // one digest keep-min agg
      "q22_ngram_jaccard" -> 2, // shingle scan + pair agg
      "q23_simhash" -> 1,       // map-side bits, one doc agg
      "q47_pii_scrub" -> 0,     // fused native expression, pure map
      "q69_dedup_keep" -> 0,    // LSH bands feed CC endgame; keeps join
                                // by BROADCAST anti (pinned below)
      "q75_budget_mixture" -> 2, // count agg + keep agg; rates broadcast
      "q76_sequence_pack" -> 1, // exact prefix-sum shape at audit scale
      "q84_dup_fraction" -> 2,  // gram occurrence agg + per-doc fold
      "q85_dsir" -> 1,          // bounded md5-bucket features, one agg
      "q86_curation_pipeline" -> 1, // quality gate map-side; ONE digest
                                // agg; mixture broadcast; packing endgame
      "q87_bloom_dedup" -> 0,   // historical side folds to a broadcast
                                // bitset; the batch probes pure map-side
      "q108_dsir_select" -> 1,
      "q114_bm25" -> 2,         // tf/df index aggs; idf + pairs broadcast
      "q121_warc_media" -> 0)   // per-file member walk + decode, no wire
    val over = budgets.toSeq.sortBy(_._1).flatMap { case (name, max) =>
      val n = shuffles(plan(name))
      if (n > max) Some(s"$name: $n shuffles > budget $max") else None
    }
    assert(over.isEmpty, over.mkString("; "))
    // the DISTRIBUTED PageRank plan (its distributed body — the shape q96's
    // endgame bypasses at audit scale): 3 unrolled rounds x (2 joins +
    // sum) + spine joins stay within budget and never go cartesian
    locally {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val edges = docs.selectExpr("CAST(doc_id AS LONG) % 97 AS src",
        "(CAST(doc_id AS LONG) * 31 + 7) % 97 AS dst")
      val prPlan = graft.operators.GraphOps
        .pageRankDistributed(edges, "src", "dst", iters = 3)
        .queryExecution.executedPlan.toString
      val n = shuffles(prPlan)
      assert(n <= 18, s"distributed pageRank: $n shuffles > budget 18")
      assert(!prPlan.contains("CartesianProduct"),
        "distributed pageRank plans a CartesianProduct")
    }

    // the corpus side of the asymmetric joins must stay off the wire.
    // NOTE on q90: this is an AUDIT-SCALE pin, not a scale-invariant
    // guarantee — the broadcast side is the covered-set table (one row
    // per doc that HAS a duplicated span), which on a heavily-duplicated
    // corpus outgrows autoBroadcastJoinThreshold; AQE then correctly
    // picks a shuffle join on __doc (one corpus shuffle, or zero if the
    // corpus is bucketed by doc id). Forcing broadcast() there would
    // trade that shuffle for a driver OOM, so the hint is deliberately
    // absent; what this pin protects is the SMALL-side plan never
    // regressing to SMJ at the scale where broadcast is free.
    for (name <- Seq("q72_decontaminate", "q60_tfidf",
        "q90_substring_dedup", "q127_fuzzy_decontaminate")) {
      val s = plan(name)
      assert(s.contains("BroadcastHashJoin"), s"$name lost its broadcast")
      assert(!s.contains("SortMergeJoin"),
        s"$name plans a sort-merge join — the big side would shuffle")
    }

    // q14: the rank filter must compile to Spark 4's partial-then-final
    // WindowGroupLimit (top-k pushdown BELOW the exchange — only <= k
    // rows per group per partition ship; adjudicated optimal r14/r15).
    // An edit that re-phrases the filter so the optimizer no longer
    // recognizes it would silently ship whole groups.
    locally {
      val s = plan("q14_topk_group")
      assert(s.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
        "q14 lost the partial WindowGroupLimit below the exchange")
    }
    // the ANN probe joins must stay BROADCAST (the corpus/candidate
    // side at 100 TB must never ship): q43/q123's bucket-pruned probe
    // and q124's shortlist+vector joins
    for (name <- Seq("q43_ann_ivf_assign", "q123_ann_ivfpq",
        "q124_ann_pq_rerank", "q128_ann_ivfpq_trained")) {
      val s = plan(name)
      assert(s.contains("BroadcastHashJoin"), s"$name lost its broadcast")
      assert(!s.contains("SortMergeJoin"),
        s"$name plans a sort-merge join — the candidate side would shuffle")
    }
    // q130: the <= d·w-cell sketch must BROADCAST to the probe side —
    // an SMJ here would shuffle the probe stream against a 1024-row
    // table
    locally {
      val s = plan("q130_countmin")
      assert(s.contains("BroadcastHashJoin"), "q130 lost its broadcast")
      assert(!s.contains("SortMergeJoin"),
        "q130 plans a sort-merge join against the 1024-cell sketch")
    }
  }

  test("no query plans a CartesianProduct or a Python eval boundary") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val plan = q(spark, sfDir).queryExecution.executedPlan.toString
        val bad = Seq("CartesianProduct", "BatchEvalPython")
          .filter(plan.contains)
        if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(",")}")
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
