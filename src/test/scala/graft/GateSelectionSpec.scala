package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.selectGates`, the one guard behind `GRAFT_BENCH_ONLY` and
  * `GRAFT_VERIFY_ONLY`: no Spark session, only the registry. */
class GateSelectionSpec extends AnyFunSuite {

  private val Var = "GRAFT_VERIFY_ONLY"

  test("unset selects every gate") {
    assert(SparkEntry.selectGates(Var, Map.empty) == SparkEntry.gates)
  }

  test("a set-but-empty value is refused") {
    Seq("", " ", ",", " , ").foreach { v =>
      val e = intercept[IllegalArgumentException](
        SparkEntry.selectGates(Var, Map(Var -> v)))
      assert(e.getMessage.contains(s"$Var is set but names no queries"), v)
    }
  }

  test("an unknown name is refused, naming it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectGates(Var, Map(Var -> "q01_agg,q01_agk")))
    assert(e.getMessage.contains(s"$Var names unknown queries: q01_agk"))
  }

  test("valid names select exactly those gates, in registry order") {
    val got = SparkEntry.selectGates("GRAFT_BENCH_ONLY",
      Map("GRAFT_BENCH_ONLY" -> " q92_stream_dedup,q01_agg ,,q92_stream_dedup"))
    assert(got.map(_.name) == Seq("q01_agg", "q92_stream_dedup"))
    assert(got.head.oracleSql == SparkEntry.oracleSql("q01_agg"))
  }
}
