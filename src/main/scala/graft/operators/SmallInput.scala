package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The small-input endgame of the iterative and multi-pass operators
  * (Lloyd, PQ training, PageRank, packing, shard rank, stratum cap):
  * one bounded take() both guards the size and IS the data, so a small
  * input's rounds of jobs collapse to one job plus in-driver work, with
  * output identical to the operator's distributed body (each pins
  * that); a larger input pays only the take before its rounds. */
object SmallInput {

  /** The row limit every operator passes: 128k rows of 64-dim longs is
    * about 64 MB of driver heap. */
  val Rows: Int = 1 << 17

  /** `df`'s rows when it holds at most `limit` of them, else None. */
  def probe(df: DataFrame, limit: Int): Option[Array[Row]] = {
    val rows = df.take(limit + 1)
    if (rows.length <= limit) Some(rows) else None
  }
}
