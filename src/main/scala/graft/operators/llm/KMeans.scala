package graft.operators.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.SmallInput

/**
 * Deterministic spherical k-means (Lloyd) over an embedding column —
 * the codebook TRAINER behind the IVF assignment path
 * ([[AnnOps.ivfTopKWithCodebook]] consumes a codebook; this produces
 * one), and the cluster step of cluster-based curation (SemDeDup-style
 * pipelines: cluster, then prune within clusters).
 *
 * Engine-portable determinism — every quantity either is an exact
 * integer or is the same IEEE-754 double in any engine:
 *  - vectors are integer-quantized (round(x*1000), [[AnnOps.quantize]]);
 *  - a centroid is the exact component-wise Long SUM of its members
 *    (order-independent — no float accumulation, no mean division);
 *  - assignment is argmax of cosine against the sum vector:
 *    dot(x, s) / sqrt(s·s). Numerator and s·s are exact Longs below
 *    2^53, so the double conversion is exact and the divide/sqrt are
 *    correctly rounded — bit-identical in Spark and the DuckDB oracle.
 *    (Cosine is scale-invariant, so scoring against the sum IS scoring
 *    against the mean — the division by the member count cancels.)
 *  - ties take the smallest centroid id; a centroid that loses all
 *    members disappears (standard Lloyd degeneracy; K can shrink).
 *
 * Scale shape (the MLlib KMeans topology): per iteration ONE map-side
 * partially-aggregated groupBy — each task emits at most K×(dim+1)
 * longs, the shuffle is K rows regardless of input size — and a
 * K×dim driver collect, re-broadcast as literals in the next
 * assignment expression (codegen'd [[AnnOps.dot]] against a constant
 * array; no join, no per-row allocation). The input is scanned
 * `iters` times: callers clustering anything bigger than the page
 * cache should persist the projected (id, vec) upstream. Width bound
 * (r19 review correction — the old note claimed "safe past 2^40
 * members per cluster", which only covers the SUM components): the
 * binding constraint is the squared norm s·s of the sum vector, which
 * must fit int64 for the assignment's exact arithmetic — at |q| ≤
 * 2^11 and dim 64 that is ~2^17.5 members per cluster, and the norm
 * computation now checks it LOUDLY (BigInt + require) instead of
 * silently wrapping to a negative ss whose sqrt is NaN. Clusters
 * bigger than that need mean (not sum) centroids — the
 * [[AnnOps.pqTrain]] floorMeans shape — at the cost of a different
 * (still deterministic) assignment definition.
 */
object KMeans {

  /** Train `iters` Lloyd rounds from the rows matching `seedPred`
    * (their quantized vectors are the initial centroids, their ids the
    * cluster ids) and return the final assignment: (idCol, cluster).
    * `iters` counts assignments: iters=3 is assign/update, assign/
    * update, assign-and-emit.
    *
    * An input of at most [[SmallInput.Rows]] rows finishes in the
    * driver: the one probe yields seeds AND members, so iters × (assign
    * + K-row agg + collect) collapse to one job plus in-driver rounds
    * over the same integer sums and exact-double cosine — labels
    * identical to [[lloydDistributed]] (pinned). */
  def lloyd(emb: DataFrame, idCol: String, vecCol: String,
            seedPred: Column, iters: Int = 3): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    probed(emb, idCol, vecCol, seedPred) match {
      case Some((data, seeds)) =>
        val cents = localLloyd(data, seeds, iters)
        val norms = checkedNorms(cents)
        import emb.sparkSession.implicits._
        data.map(d => (d._1, assignLocalWithNorms(cents, norms, d._2))).toSeq
          .toDF(idCol, "cluster")
      case None => lloydDistributed(emb, idCol, vecCol, seedPred, iters)
    }
  }

  /** [[lloyd]]'s distributed rounds, at any input size. */
  private[graft] def lloydDistributed(emb: DataFrame, idCol: String,
                                      vecCol: String, seedPred: Column,
                                      iters: Int = 3): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e0 = projected(emb, idCol, vecCol, seedPred)
    val e = e0.select(col("__id"), col("__q"))
    var centroids: Seq[(Long, Array[Long])] =
      e0.where(col("__seed")).select(col("__id"), col("__q"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1).toSeq
    require(centroids.nonEmpty, "seedPred matched no rows")
    val dim = centroids.head._2.length
    for (_ <- 1 until iters) {
      val sums = (0 until dim).map(i =>
        sum(element_at(col("__q"), i + 1)).as(s"s$i"))
      centroids = e
        .withColumn("__c", assign(centroids))
        .groupBy(col("__c"))
        .agg(sums.head, sums.tail: _*)
        .collect()
        .map(r => (r.getLong(0),
          Array.tabulate(dim)(i => r.getLong(i + 1))))
        .sortBy(_._1).toSeq
    }
    e.select(col("__id").as(idCol), assign(centroids).as("cluster"))
  }

  /** (id, quantized vector, seed flag): the seed flag rides the
    * projection so the small-input probe yields seeds AND members from
    * ONE take() — no separate seed collect job on the local path. */
  private def projected(emb: DataFrame, idCol: String, vecCol: String,
                        seedPred: Column): DataFrame =
    emb.select(col(idCol).cast("long").as("__id"),
      AnnOps.quantize(col(vecCol)).as("__q"), seedPred.as("__seed"))

  /** The small-input probe of [[projected]] as (data, seeds), or None
    * past [[SmallInput.Rows]] — the one probe behind [[lloyd]],
    * [[codebookWithCounts]] and [[AnnOps.pqTrain]]. A NULL seedPred
    * (nullable column) reads as false, matching the distributed path's
    * where(col("__seed")) — getBoolean on a null cell NPEs. */
  private[llm] def probed(emb: DataFrame, idCol: String, vecCol: String,
                          seedPred: Column)
      : Option[(Array[(Long, Array[Long])], Seq[(Long, Array[Long])])] =
    SmallInput.probe(projected(emb, idCol, vecCol, seedPred), SmallInput.Rows)
      .map { probe =>
        def vec(r: Row) = (r.getLong(0), r.getSeq[Long](1).toArray)
        (probe.map(vec), probe.filter(r => !r.isNullAt(2) && r.getBoolean(2))
          .map(vec).sortBy(_._1).toSeq)
      }

  /** Driver-side Lloyd over a probed small input — the shared endgame
    * body: returns centroids after iters-1 updates. Labels from
    * [[assignLocalWithNorms]] against these centroids are pinned
    * identical to the distributed path's. */
  private def localLloyd(data: Array[(Long, Array[Long])],
                         seeds: Seq[(Long, Array[Long])],
                         iters: Int): Seq[(Long, Array[Long])] = {
    require(seeds.nonEmpty, "seedPred matched no rows")
    var centroids = seeds
    for (_ <- 1 until iters)
      centroids = clusterSums(data, centroids).map { case (c, _, s) => (c, s) }
    centroids
  }

  /** Member count and exact integer sum vector of each cluster that
    * `data` forms around `centroids`, sorted by cluster id. */
  private def clusterSums(data: Array[(Long, Array[Long])],
                          centroids: Seq[(Long, Array[Long])])
      : Seq[(Long, Long, Array[Long])] = {
    val norms = checkedNorms(centroids)
    val dim = centroids.head._2.length
    data.groupBy(d => assignLocalWithNorms(centroids, norms, d._2))
      .toSeq.sortBy(_._1)
      .map { case (cid, members) =>
        val s = new Array[Long](dim)
        members.foreach(m => (0 until dim).foreach(i => s(i) += m._2(i)))
        (cid, members.length.toLong, s)
      }
  }

  /** Driver-side [[codebookWithCounts]] over already-probed data — the
    * endgame body shared with [[AnnOps.pqTrain]]'s one-probe path
    * (which slices each subspace's subvectors from ONE full-vector
    * probe): Lloyd rounds, then counts + exact integer sums per FINAL
    * cluster, sorted by cluster id. */
  private[llm] def localCodebookWithCounts(
      data: Array[(Long, Array[Long])], seeds: Seq[(Long, Array[Long])],
      iters: Int): Seq[(Long, Long, Seq[Long])] =
    clusterSums(data, localLloyd(data, seeds, iters))
      .map { case (cid, n, s) => (cid, n, s.toSeq) }

  /** Squared norms of the sum vectors, overflow-CHECKED: a plain Long
    * sum of squares wraps silently once a centroid sum component passes
    * ~2^31.5 (possible well within the old doc's claimed member bound),
    * and a wrapped-negative ss makes sqrt NaN — every comparison false,
    * garbage assignments. BigInt + require turns that into a loud abort
    * with the offending cluster named (r19 review finding). Values in
    * the valid range are bit-identical to the old Long path. */
  private def checkedNorms(centroids: Seq[(Long, Array[Long])]): Array[Double] =
    centroids.map { case (cid, s) =>
      val ss = s.foldLeft(BigInt(0))((acc, v) => acc + BigInt(v) * v)
      require(ss.isValidLong,
        s"cluster $cid: centroid-sum squared norm $ss exceeds int64 — " +
          "cluster too large for exact sum-vector cosine; train with " +
          "mean centroids (pqTrain floorMeans) instead")
      math.sqrt(ss.toLong.toDouble)
    }.toArray

  /** Driver-side twin of [[assign]]: same exact-Long dot, same
    * correctly-rounded double divide/sqrt, same (score, -id) max.
    * Norms are precomputed once per centroid set ([[checkedNorms]]) —
    * never recompute them per row. */
  private def assignLocalWithNorms(centroids: Seq[(Long, Array[Long])],
                                   norms: Array[Double],
                                   q: Array[Long]): Long = {
    var bestScore = Double.NegativeInfinity
    var bestNid = Long.MinValue
    var c = 0
    centroids.foreach { case (cid, s) =>
      var dot = 0L; var i = 0
      while (i < s.length) { dot += q(i) * s(i); i += 1 }
      val score = dot.toDouble / norms(c)
      c += 1
      if (score > bestScore || (score == bestScore && -cid > bestNid)) {
        bestScore = score; bestNid = -cid
      }
    }
    -bestNid
  }

  /** Final centroids as a driver-side codebook (id, sum-vector) — the
    * shape [[AnnOps.ivfTopKWithCodebook]] takes. */
  def codebook(emb: DataFrame, idCol: String, vecCol: String,
               seedPred: Column, iters: Int = 3): Seq[(Long, Seq[Long])] =
    codebookWithCounts(emb, idCol, vecCol, seedPred, iters)
      .map { case (id, _, s) => (id, s) }

  /** [[codebook]] plus member counts — (cluster id, count, sum-vector);
    * count enables exact integer MEAN centroids ([[AnnOps.pqTrain]]).
    * A small input takes [[lloyd]]'s endgame, extended to the codebook
    * stats: the one probe yields seeds, members AND final counts/sums
    * in the driver — training collapses to ONE job (the same sums as
    * [[codebookWithCountsDistributed]], pinned). */
  def codebookWithCounts(emb: DataFrame, idCol: String, vecCol: String,
                         seedPred: Column, iters: Int = 3)
      : Seq[(Long, Long, Seq[Long])] =
    probed(emb, idCol, vecCol, seedPred) match {
      case Some((data, seeds)) => localCodebookWithCounts(data, seeds, iters)
      case None =>
        codebookWithCountsDistributed(emb, idCol, vecCol, seedPred, iters)
    }

  /** [[codebookWithCounts]] over [[lloydDistributed]]'s rounds. */
  private[graft] def codebookWithCountsDistributed(emb: DataFrame,
      idCol: String, vecCol: String, seedPred: Column,
      iters: Int = 3): Seq[(Long, Long, Seq[Long])] = {
    val assigned = lloydDistributed(emb, idCol, vecCol, seedPred, iters)
    val e = emb.select(col(idCol).cast("long").as("__id"),
      AnnOps.quantize(col(vecCol)).as("__q"))
    val dim = e.select(size(col("__q"))).head().getInt(0)
    val sums = (0 until dim).map(i =>
      sum(element_at(col("__q"), i + 1)).as(s"s$i"))
    assigned.join(e, assigned(idCol) === e("__id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("__n"), sums: _*)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Array.tabulate(dim)(i => r.getLong(i + 2)).toSeq))
      .sortBy(_._1).toSeq
  }

  /** Argmax-cosine assignment against broadcast-literal centroids: one
    * struct per centroid (score, -id), array_max picks max score then
    * max(-id) = min id on ties. */
  private def assign(centroids: Seq[(Long, Array[Long])]): Column = {
    val norms = checkedNorms(centroids)
    val scored = centroids.zipWithIndex.map { case ((cid, s), c) =>
      struct(
        (AnnOps.dot(col("__q"), typedLit(s.toSeq)).cast("double") /
          lit(norms(c))).as("score"),
        lit(-cid).as("nid"))
    }
    (array_max(array(scored: _*)).getField("nid") * lit(-1L)).as("cluster")
  }
}
