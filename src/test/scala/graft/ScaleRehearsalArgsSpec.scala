package graft

import org.scalatest.funsuite.AnyFunSuite

/** `ScaleRehearsal.parse`: the command line against the mode table, no
  * Spark session. */
class ScaleRehearsalArgsSpec extends AnyFunSuite {

  test("a first argument that is neither a mode nor a number is " +
      "rejected with a usage line naming every mode") {
    val got = ScaleRehearsal.parse(Seq("annn", "10"))
    assert(got.isLeft, got)
    val usage = got.left.getOrElse("")
    Seq("dedup", "ann", "kmeans", "substr", "chunk", "fuzzydecon",
        "pagerank", "stream", "media", "semdedup", "spine", "joins",
        "sketches").foreach(m => assert(usage.contains(s"$m ["), m))
  }

  test("a bare number means dedup with that many copies") {
    val a = ScaleRehearsal.parse(Seq("5")).toOption.get
    assert((a.mode, a.copies, a.param) == (("dedup", 5, 400)))
  }

  test("a mode with copies only takes the mode's default parameter") {
    val a = ScaleRehearsal.parse(Seq("spine", "3")).toOption.get
    assert((a.mode, a.copies, a.param) == (("spine", 3, 10)))
  }
}
