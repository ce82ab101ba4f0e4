package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.GraphOps
import graft.operators.llm.CorpusModels

class GraphOpsSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("pageRank: 2-cycle is the stable uniform distribution, exactly") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pr = GraphOps.pageRank(edges, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    // base = 15e12/200 = 75e9; contrib = (5e11*85)/100 = 4.25e11;
    // 75e9 + 4.25e11 = 5e11 — the uniform start reproduces itself.
    assert(pr == Map(1L -> 500000000000L, 2L -> 500000000000L))
  }

  test("pageRank: sink-heavy star concentrates rank on the hub") {
    // spokes 2,3,4 all point at 1; 1 points at 2. Node 1 must outrank
    // the spokes, and spoke 2 (fed by the hub) outranks 3 and 4.
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L))
      .toDF("src", "dst")
    val pr = GraphOps.pageRank(edges, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(pr(1L) > pr(2L) && pr(2L) > pr(3L))
    assert(pr(3L) == pr(4L))
  }

  test("pageRank: multi-edges weight contributions") {
    // 1 -> 2 twice, 1 -> 3 once: node 2 gets 2/3 of node 1's mass.
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L))
      .toDF("src", "dst")
    val pr = GraphOps.pageRank(edges, "src", "dst", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(pr(2L) > pr(3L))
  }

  test("pageRank: the small-input endgame is bit-identical to the distributed rounds") {
    // multi-edges, a sink-only node, a self-loop, a NULL endpoint —
    // every code path
    val edges = (Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L),
      (4L, 4L), (2L, 1L)).map { case (s, d) => (s, Option(d)) } :+
      ((5L, None))).toDF("src", "dst")
    val dist = GraphOps.pageRankDistributed(edges, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    val local = GraphOps.pageRank(edges, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(dist == local)
    assert(local.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("snapshotDiff classifies all four statuses") {
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "fp")
    val v2 = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "fp")
    val got = GraphOps.snapshotDiff(v1, v2, "k", "fp")
      .select("key", "status").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("bpeApply: chained merges and boundary safety") {
    val merges = Seq("t" -> "h", "th" -> "e")
    val df = Seq((1L, "the"), (2L, "teeth"), (3L, "x")).toDF("doc_id", "text")
    val got = CorpusModels.bpeApply(df, "doc_id", "text", merges)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    // "the": t,h,e -> th,e -> the (1 token)
    // "teeth": t,e,e,t,h -> t,e,e,th (no ' th  e ' — th is word-final)
    // "x": single symbol
    assert(got == Map(1L -> 1L, 2L -> 4L, 3L -> 1L))
  }

  test("bpeApply: adjacent merge sites all collapse in one pass") {
    // "thth" with merge (t,h): both pairs must merge even though the
    // matches are adjacent — the double-space gap guarantees it.
    val got = CorpusModels.bpeApply(
      Seq((1L, "thth")).toDF("doc_id", "text"), "doc_id", "text",
      Seq("t" -> "h"))
      .select("n_tokens").as[Long].collect().head
    assert(got == 2L)
  }
}
