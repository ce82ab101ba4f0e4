package graft.operators.llm

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.operators.SmallInput

/**
 * Sequence packing for LLM pretraining (beyond-reference surface): the
 * concatenate-then-chunk assignment — documents are laid out in a
 * deterministic order (ascending id), their token counts form one
 * global token stream, and each document is assigned to the
 * `budget`-token training sequence its FIRST token lands in
 * (seq_id = floor(global_start / budget)). This is the packing a
 * data-loader that concatenates and chunks actually realizes, computed
 * corpus-side so shard manifests can be cut per sequence.
 *
 * Scale shape — a global prefix sum WITHOUT a global window: a naive
 * `sum() over (order by id)` plans a single-partition window (every row
 * through one task — dead at 100 TB). Instead:
 *
 *   1. range-partition + sort by id (one boundary shuffle, the same
 *      total-order primitive as the cluster build);
 *   2. per-partition token totals → driver (one row per partition —
 *      bounded metadata, like boundary lists);
 *   3. each partition streams its rows once, adding its exclusive
 *      prefix offset to a running local sum (map-side, no further
 *      shuffle).
 *
 * The result is the exact global prefix sum with one shuffle and
 * partition-count driver rows, at any scale.
 */
object Packing {

  /** (idCol, tokCol) → (idCol, tokCol, "global_start", "seq_id") —
    * the token count rides through so downstream per-sequence stats
    * (the common consumer) never need a join back against the input,
    * whose lineage would otherwise be recomputed whole. `tokCol` must
    * be non-negative; null counts as 0. `idCol` must be UNIQUE — ties
    * have no defined layout order, so duplicate ids would make their
    * rows' prefix sums partition-placement-dependent.
    *
    * An input of at most [[SmallInput.Rows]] rows finishes in the
    * driver — the KMeans/PageRank endgame applied to the prefix sum:
    * the one probe both guards the row count and IS the data, so the
    * range shuffle + persist + totals collect + offset pass collapse to
    * one job plus an in-driver sort and running sum over the same
    * longs — output bit-identical to [[byTokenBudgetDistributed]]
    * (pinned). */
  def byTokenBudget(df: DataFrame, idCol: String, tokCol: String,
                    budget: Long): DataFrame =
    SmallInput.probe(narrow(df, idCol, tokCol, budget), SmallInput.Rows) match {
      case None => byTokenBudgetDistributed(df, idCol, tokCol, budget)
      case Some(probe) =>
        import df.sparkSession.implicits._
        var acc = 0L
        probe.map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(_._1).toSeq
          .map { case (id, tok) =>
            val start = acc; acc += tok
            (id, tok, start, start / budget)
          }
          .toDF(idCol, tokCol, "global_start", "seq_id")
    }

  /** (id, token count) as longs, null counts as 0; checks `budget`. */
  private def narrow(df: DataFrame, idCol: String, tokCol: String,
                     budget: Long): DataFrame = {
    require(budget >= 1L, s"budget must be >= 1 token, got $budget")
    df.select(col(idCol).cast("long").as("__id"),
      coalesce(col(tokCol).cast("long"), lit(0L)).as("__tok"))
  }

  /** [[byTokenBudget]]'s distributed prefix sum, at any input size. */
  private[graft] def byTokenBudgetDistributed(df: DataFrame, idCol: String,
                                              tokCol: String,
                                              budget: Long): DataFrame = {
    val spark = df.sparkSession
    val sorted = narrow(df, idCol, tokCol, budget)
      .repartitionByRange(col("__id"))
      .sortWithinPartitions(col("__id"))
      .persist()
    try {
      // per-partition totals, keyed by physical partition id: the range
      // partitioner already owns the id→partition mapping, so partition
      // order IS id order
      val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
      val totals = sorted.as(enc)
        .mapPartitions { it =>
          var sum = 0L
          it.foreach { case (_, t) => sum += t }
          Iterator.single((TaskContext.getPartitionId().toLong, sum))
        }(enc)
        .collect()
        .sortBy(_._1)
      // exclusive prefix: each partition's offset is the sum of all
      // partitions before it in id order
      var running = 0L
      val offsets = totals.map { case (pid, sum) =>
        val o = pid -> running; running += sum; o
      }.toMap
      val bOffsets = spark.sparkContext.broadcast(offsets)
      val enc3 = Encoders.tuple(
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
      val packed = sorted.as(enc)
        .mapPartitions { it =>
          var acc = bOffsets.value
            .getOrElse(TaskContext.getPartitionId().toLong, 0L)
          it.map { case (id, tok) =>
            val start = acc; acc += tok; (id, tok, start)
          }
        }(enc3)
        .toDF("__id", "__tok", "global_start")
        .select(col("__id").as(idCol), col("__tok").as(tokCol),
          col("global_start"),
          // integer div, not `/` (double division truncates exactly only
          // below 2^53 — div is exact at any token count)
          expr(s"global_start div $budget").as("seq_id"))
      // materialize before the finally unpersists the sorted cache the
      // two passes (totals + packed) both read
      packed.localCheckpoint(true)
    } finally sorted.unpersist(blocking = false)
  }
}
