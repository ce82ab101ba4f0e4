package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, SmallInput}
import graft.operators.llm.{AnnOps, ConnectedComponents, KMeans, Packing, Sampling}

/** The shared small-input probe: where its boundary falls, and that an
  * empty input finishes in the driver with the same output shape as
  * each operator's distributed body. */
class SmallInputSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def ids(rows: Option[Array[org.apache.spark.sql.Row]]) =
    rows.map(_.map(_.getLong(0)).toSeq.sorted)

  test("the probe returns at most `limit` rows, and nothing past it") {
    val five = spark.range(0, 5, 1, 3).toDF("id")
    assert(ids(SmallInput.probe(five, 5)) == Some(Seq(0L, 1L, 2L, 3L, 4L)))
    assert(SmallInput.probe(spark.range(0, 6, 1, 3).toDF("id"), 5).isEmpty)
    assert(ids(SmallInput.probe(five.limit(0), 5)) == Some(Nil))
    assert(ids(SmallInput.probe(five.limit(0), 0)) == Some(Nil))
    assert(SmallInput.probe(five, 0).isEmpty)
    assert(SmallInput.Rows == (1 << 17))
  }

  /** Column names and types; nullability differs between a driver-side
    * `toDF` and a planned projection, and no consumer reads it. */
  private def shape(df: DataFrame) =
    df.schema.fields.map(f => f.name -> f.dataType).toSeq

  private def sameEmpty(local: DataFrame, dist: DataFrame): Unit = {
    assert(shape(local) == shape(dist))
    assert(local.count() == 0 && dist.count() == 0)
  }

  test("an empty input takes each endgame and keeps the distributed " +
      "body's output shape") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    // pageRank: the distributed node spine is empty too
    sameEmpty(GraphOps.pageRank(edges, "src", "dst", iters = 2),
      GraphOps.pageRankDistributed(edges, "src", "dst", iters = 2))
    // capPerStratum: df.limit(0), the input's own columns
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "src")
    val capped = Sampling.capPerStratum(docs, "doc_id", "src", "t", 3L)
    assert(capped.columns.toSeq == Seq("doc_id", "src"))
    sameEmpty(capped,
      Sampling.capPerStratumDistributed(docs, "doc_id", "src", "t", 3L))
    sameEmpty(Sampling.deterministicShard(docs, "doc_id", "s", 8L),
      Sampling.deterministicShardDistributed(docs, "doc_id", "s", 8L))
    val toks = Seq.empty[(Long, Long)].toDF("doc_id", "n_tok")
    sameEmpty(Packing.byTokenBudget(toks, "doc_id", "n_tok", 8L),
      Packing.byTokenBudgetDistributed(toks, "doc_id", "n_tok", 8L))
    sameEmpty(ConnectedComponents(edges, "src", "dst"),
      ConnectedComponents.distributed(edges, "src", "dst"))
    // the trainers have no seed to start from on either path
    val emb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val seeds = col("vec_id") < 2
    Seq[() => Any](
      () => KMeans.lloyd(emb, "vec_id", "embedding", seeds),
      () => KMeans.lloydDistributed(emb, "vec_id", "embedding", seeds),
      () => KMeans.codebookWithCounts(emb, "vec_id", "embedding", seeds),
      () => AnnOps.pqTrain(emb, "vec_id", "embedding", seeds, 2, 4),
      () => AnnOps.pqTrainDistributed(emb, "vec_id", "embedding", seeds, 2, 4)
    ).foreach { train =>
      val e = intercept[IllegalArgumentException](train())
      assert(e.getMessage.contains("seedPred matched no rows"))
    }
  }
}
