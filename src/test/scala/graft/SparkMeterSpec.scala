package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.SparkMeter

/** `SparkMeter.measure`'s counts on plans whose work is known exactly:
  * RDD plans, whose jobs, stages and tasks do not depend on the SQL
  * planner's adaptive re-planning. */
class SparkMeterSpec extends AnyFunSuite with SparkTestSession {

  private def measure[T](body: => T) =
    SparkMeter.measure(spark.sparkContext)(body)

  test("a driver-local action does no Spark work") {
    import spark.implicits._
    val (rows, w) = measure(Seq(1, 2, 3).toDF("x").collect())
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(w.jobs == 0 && w.stages == 0 && w.tasks == 0, w)
    assert(w.shuffleReadBytes == 0 && w.shuffleWriteBytes == 0, w)
  }

  test("a fixed-width repartition, then a second action that reuses its " +
      "shuffle and counts the skipped stage") {
    val rdd = spark.sparkContext.parallelize(1 to 1000, 4).repartition(3)
    val (n, first) = measure(rdd.count())
    assert(n == 1000)
    // one job: the 4-task map stage, then the 3-task result stage
    assert(first.jobs == 1 && first.stages == 2 && first.tasks == 7, first)
    assert(first.shuffleWriteBytes > 0 && first.shuffleReadBytes > 0, first)

    val (again, second) = measure(rdd.count())
    assert(again == 1000)
    // the map stage is skipped (its output is reused) but still counted,
    // as Bench's per-query stage counts count it; only 3 tasks run
    assert(second.jobs == 1 && second.stages == 2 && second.tasks == 3,
      second)
    assert(second.shuffleWriteBytes == 0 &&
      second.shuffleReadBytes == first.shuffleReadBytes, second)
  }

  test("an outer window counts everything its inner window does") {
    val sc = spark.sparkContext
    val ((_, inner), outer) = measure {
      sc.parallelize(1 to 100, 2).repartition(2).count()
      measure(sc.parallelize(1 to 100, 3).repartition(2).count())
    }
    assert(inner.jobs == 1 && inner.stages == 2 && inner.tasks == 5, inner)
    assert(outer.jobs == inner.jobs + 1 && outer.stages == inner.stages + 2 &&
      outer.tasks == inner.tasks + 4, s"$outer vs $inner")
    assert(outer.shuffleWriteBytes > inner.shuffleWriteBytes &&
      outer.shuffleReadBytes > inner.shuffleReadBytes, s"$outer vs $inner")
    assert(outer.wallS >= inner.wallS, s"$outer vs $inner")
  }
}
