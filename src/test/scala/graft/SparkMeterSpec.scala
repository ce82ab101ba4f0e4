package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference,
  Expression, Literal, Subtract, UnsafeProjection}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.util.SparkMeter

/** `SparkMeter.measure`'s counts on plans whose work is known exactly:
  * RDD plans, whose jobs, stages and tasks do not depend on the SQL
  * planner's adaptive re-planning, and driver-side projections, whose
  * generated classes need no Spark job. */
class SparkMeterSpec extends AnyFunSuite with SparkTestSession {

  private def measure[T](body: => T) =
    SparkMeter.measure(spark.sparkContext)(body)

  /** Builds and runs one generated projection per expression. Each
    * literal is inlined in the generated code, so each is its own class. */
  private def project(exprs: Seq[Expression]): Unit = exprs.foreach { e =>
    assert(UnsafeProjection.create(Seq(e))(InternalRow(1L)).getLong(0) ==
      e.eval(InternalRow(1L)))
  }

  private def plus(i: Long) = Add(BoundReference(0, LongType, nullable = false),
    Literal(i))

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

  test("the factory's generated-class cache holds a 150-class pass, so " +
      "the second pass compiles nothing") {
    // Spark sizes the cache from the active session's conf when the JVM
    // first generates code; `measure` builds the factory session before
    // its body runs
    val pass = (0L until 150L).map(i => plus(7_000_000L + i))
    val (_, first) = measure(project(pass))
    val (_, second) = measure(project(pass))
    assert(first.compiles >= 150 && second.compiles == 0, s"$first then $second")
  }

  test("a compiled projection counts no compile, a first-seen one counts") {
    val e = plus(8_000_000L)
    project(Seq(e))
    val (_, again) = measure(project(Seq(e)))
    assert(again.compiles == 0, again)
    val (_, fresh) = measure(project(Seq(
      Subtract(BoundReference(0, LongType, nullable = false),
        Literal(8_000_001L)))))
    assert(fresh.compiles >= 1 && fresh.jobs == 0, fresh)
  }
}
