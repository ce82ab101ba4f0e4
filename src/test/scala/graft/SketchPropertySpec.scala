package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches

/** Property-based invariants of the sketch aggregators (deterministic
  * seeds, same pattern as [[FsAndGzRangePropertySpec]]): the buffer
  * algebra runs at the JVM level — reduce/merge/finish are plain
  * functions — so 100 samples cost no Spark jobs. */
class SketchPropertySpec extends AnyFunSuite {

  private def forAll[A](g: Gen[A], n: Int = 100)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong))
        .foreach(f)
    }

  private def hash(s: String): Long =
    graft.functions.Md5Codegen.md5Prefix48(UTF8String.fromString(s))

  private val agg = Sketches.hllGroupAgg(6)

  private def fold(vs: Seq[String]): Sketches.HllBuffer =
    vs.foldLeft(agg.zero)((b, v) => agg.reduce(b, hash(v)))

  test("hll merge == single fold under ANY split order (mergeability), " +
      "and duplicates are idempotent") {
    val gen = for {
      vs <- Gen.listOf(Gen.alphaNumStr.map(_.take(12)))
      cut <- Gen.chooseNum(0, vs.length)
    } yield (vs, cut)
    forAll(gen) { case (vs, cut) =>
      val whole = agg.finish(fold(vs))
      val (a, b) = vs.splitAt(cut)
      assert(agg.finish(agg.merge(fold(a), fold(b))) == whole)
      // right-to-left merge too (commutativity)
      assert(agg.finish(agg.merge(fold(b), fold(a))) == whole)
      // duplicating the stream moves nothing (a distinct sketch)
      assert(agg.finish(fold(vs ++ vs)) == whole)
    }
  }

  test("hll finish matches a brute-force register model and the " +
      "documented integer estimator") {
    forAll(Gen.listOf(Gen.alphaNumStr.map(_.take(10)))) { vs =>
      // model: registers computed independently of the aggregator
      val regs = new Array[Int](64)
      vs.foreach { v =>
        val h = hash(v)
        val bucket = (h >>> 42).toInt
        val suffix = h & ((1L << 42) - 1)
        val rank = 43 - (64 - java.lang.Long.numberOfLeadingZeros(suffix))
        if (rank > regs(bucket)) regs(bucket) = rank
      }
      val s = regs.map(mj => 1L << (43 - mj)).sum
      val filled = regs.count(_ > 0).toLong
      val est = 709L * ((64L * 64L * (1L << 43)) / s) / 1000L
      assert(agg.finish(fold(vs)) == ((filled, s, est)))
    }
  }

  /** A generated input, and the same input cut into partials at
    * generated points, shuffled into a generated merge order. */
  private def splits[A](g: Gen[A]): Gen[(Seq[A], Seq[Seq[A]])] = for {
    xs <- Gen.listOf(g)
    cuts <- Gen.listOf(Gen.chooseNum(0, xs.length))
    seed <- Gen.long
  } yield {
    val bounds = 0 +: cuts.sorted :+ xs.length
    val parts = bounds.zip(bounds.tail).map { case (a, b) => xs.slice(a, b) }
    (xs, new scala.util.Random(seed).shuffle(parts))
  }

  test("kmv distinct buffer: partials of any split, merged in any " +
      "order, equal one fold and the bottom-k of the distinct hashes") {
    // a small hash domain, so duplicates and eviction are the common case
    forAll(Gen.zip(Gen.chooseNum(2, 8), splits(Gen.chooseNum(0L, 40L)))) {
      case (k, (xs, parts)) =>
        val kmv = Sketches.kmvGroupAgg(k)
        def fold(p: Seq[Long]) =
          p.foldLeft(kmv.zero)((b, h) => kmv.reduce(b, h))
        val merged = parts.map(fold).foldLeft(kmv.zero)(kmv.merge)
        val replay = xs.distinct.sorted.take(k)
        assert(fold(xs).mins.toSeq == replay)
        assert(merged.mins.toSeq == replay)
        assert(kmv.finish(merged) == kmv.finish(fold(xs)))
    }
  }

  test("kmv counting buffer: partials of any split, merged in any " +
      "order, equal one fold and the bottom-k of the distinct (hash, " +
      "value) pairs with exact counts") {
    // few hashes and values: equal hashes with different values, repeats
    // and eviction are all common
    val pair = Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 3L))
    forAll(Gen.zip(Gen.chooseNum(2, 8), splits(pair))) {
      case (k, (xs, parts)) =>
        val q = Sketches.kmvQuantilesGroupAgg(k)
        def fold(p: Seq[(Long, Long)]) = p.foldLeft(q.zero)(q.reduce)
        def rows(b: Sketches.KmvQBuf) =
          b.hs.indices.map(i => (b.hs(i), b.vs(i), b.cs(i)))
        val merged = parts.map(fold).foldLeft(q.zero)(q.merge)
        val replay = xs.groupBy(identity).toSeq
          .map { case ((h, v), occ) => (h, v, occ.size.toLong) }
          .sorted.take(k)
        assert(rows(fold(xs)) == replay)
        assert(rows(merged) == replay)
        assert(q.finish(merged) == q.finish(fold(xs)))
    }
  }
}
