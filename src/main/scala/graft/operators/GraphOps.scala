package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/**
 * Link-graph analytics over archive-scale edge lists (beyond-reference
 * surface): the host/page graph is the classic web-archive derivative —
 * and at 100 TB the edge list is the large table, so every step here is
 * a keyed join/aggregation on the edge's own keys, never an adjacency
 * matrix or a driver-side graph.
 */
object GraphOps {

  /** Deterministic integer PageRank, `iters` unrolled power-iteration
    * rounds with damping 85/100 over a (src, dst) edge list; multi-edges
    * each carry their own contribution (a weighted graph).
    *
    * All arithmetic is exact integer division at a fixed `scale`
    * (default 10^12 micro-units), in a FIXED evaluation order:
    * per-edge contribution `(pr(src) * 85) div (100 * outdeg(src))`,
    * node update `base + sum(contribs)` with
    * `base = (15 * scale) div (100 * n_nodes)` — so any engine
    * (the DuckDB oracle included) replays every round bit-for-bit;
    * float PageRank sums in partition order and never hash-matches.
    *
    * Scale shape: one outdeg aggregation, then per round ONE equi-join
    * of the edge list against the current rank vector (both keyed on
    * src — the rank side is |V| rows against |E| edges, the standard
    * distributed PageRank join) and one map-side-combinable sum by dst.
    * The node spine (distinct endpoints) left-joins each round so
    * sink-only nodes keep their base mass. `n_nodes` rides the plan as
    * a one-row broadcast — no driver collect anywhere; the unrolled
    * plan depth is `iters` join+agg rounds (production would checkpoint
    * every few rounds, the ConnectedComponents trade). Dangling-node
    * mass is dropped, not redistributed (the common simplification;
    * stated so the oracle matches by construction).
    *
    * A graph of at most [[SmallInput.Rows]] edges finishes in the
    * driver — the [[graft.operators.llm.KMeans]] endgame applied to
    * power iteration: the one probe both guards the edge count and IS
    * the data, so iters × (join + agg) rounds collapse to one job plus
    * in-driver rounds over the same integer sums in the same
    * deterministic order (per-node contribution lists sorted by src) —
    * ranks bit-identical to [[pageRankDistributed]] (pinned). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, scale: Long = 1000000000000L): DataFrame =
    SmallInput.probe(edgeList(edges, srcCol, dstCol, iters, scale),
        SmallInput.Rows) match {
      case None => pageRankDistributed(edges, srcCol, dstCol, iters, scale)
      case Some(probe) =>
        import edges.sparkSession.implicits._
        val es = probe.map(r => (r.getLong(0), r.getLong(1)))
        // empty graph: the distributed path's node spine is empty too
        if (es.isEmpty) Seq.empty[(Long, Long)].toDF("node", "pr") else {
          val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
          val n = nodes.length.toLong
          val deg = es.groupBy(_._1).view.mapValues(_.length.toLong).toMap
          // incoming edge multiplicities per dst — summation order is
          // irrelevant for exactness (integer adds commute), kept sorted
          // for reproducible iteration anyway
          val in = es.groupBy(_._2).view
            .mapValues(_.groupBy(_._1).view.mapValues(_.length.toLong)
              .toSeq.sortBy(_._1)).toMap
          val base = (15L * scale) / (100L * n)
          var pr = nodes.map(_ -> scale / n).toMap
          for (_ <- 1 to iters) {
            pr = nodes.map { v =>
              val inSum = in.getOrElse(v, Seq.empty).iterator.map {
                case (u, m) => m * ((pr(u) * 85L) / (100L * deg(u)))
              }.sum
              v -> (base + inSum)
            }.toMap
          }
          nodes.map(v => (v, pr(v))).toSeq.toDF("node", "pr")
        }
    }

  /** [[pageRank]]'s distributed rounds, at any graph size. */
  private[graft] def pageRankDistributed(edges: DataFrame, srcCol: String,
                                         dstCol: String, iters: Int,
                                         scale: Long = 1000000000000L)
      : DataFrame = {
    val e = edgeList(edges, srcCol, dstCol, iters, scale)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nCount = nodes.agg(count(lit(1)).as("__n"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    var pr: DataFrame = nodes.crossJoin(broadcast(nCount))
      .select(col("node"), expr(s"$scale div __n").as("pr"))
    for (_ <- 1 to iters) {
      val contribs = e
        .join(outdeg, "src")
        .join(pr.select(col("node").as("src"), col("pr")), "src")
        .select(col("dst").as("node"),
          expr(s"(pr * 85) div (100 * __deg)").as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__in"))
      pr = nodes.join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(nCount))
        .select(col("node"),
          (expr(s"(15 * $scale) div (100 * __n)") +
            coalesce(col("__in"), lit(0L))).as("pr"))
    }
    pr
  }

  /** The (src, dst) long edge list both paths rank, after checking
    * `iters` and `scale`. A NULL endpoint is a malformed edge, dropped
    * here — so the local/distributed outputs stay identical, and the
    * local branch's primitive getLong never sees a null. */
  private def edgeList(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int, scale: Long): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 100L, s"scale must be >= 100, got $scale")
    edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
  }

  /** Snapshot diff — the incremental-maintenance primitive for a corpus
    * that is re-crawled / re-curated: one full-outer join of two
    * snapshot key→fingerprint tables classifies every key as `added`,
    * `removed`, `changed` or `unchanged`. At 100 TB both sides shuffle
    * once on the primary key (or zero times if both snapshots are
    * bucketed by it — the layout an incremental pipeline would keep);
    * nothing else moves. Returns (key, status, old fingerprint, new
    * fingerprint). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keyCol: String, fpCol: String): DataFrame = {
    val o = oldSnap.select(col(keyCol).as("key"), col(fpCol).as("fp_old"))
    val n = newSnap.select(col(keyCol).as("key"), col(fpCol).as("fp_new"))
    o.join(n, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") === col("fp_new"), "unchanged")
          .otherwise("changed").as("status"),
        col("fp_old"), col("fp_new"))
  }
}
