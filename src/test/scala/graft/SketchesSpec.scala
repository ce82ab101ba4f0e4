package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.operators.Sketches

class SketchesSpec extends AnyFunSuite with SparkTestSession {

  test("topKGroupAgg: exact rank order, ties by id, partition-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udaf}
    val rnd = new scala.util.Random(5)
    val rows = (1L to 300L).map(i => (s"g${i % 4}", rnd.nextInt(40).toLong, i))
    for (parts <- Seq(1, 6)) {
      val sk = udaf(graft.operators.Sketches.topKGroupAgg(5))
      val got = rows.toDF("g", "score", "id").repartition(parts)
        .groupBy(col("g")).agg(sk(col("score"), col("id")).as("top"))
        .as[(String, Seq[(Long, Long)])].collect().toMap
      rows.groupBy(_._1).foreach { case (g, grp) =>
        val want = grp.map(r => (r._2, r._3))
          .sortBy { case (s, id) => (-s, id) }.take(5)
        assert(got(g) == want, s"parts=$parts group=$g")
      }
    }
  }

  test("kmvGroupAgg: exact below k, partition-invariant, matches global sketch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udaf}
    // group A: 10 distinct values (< k → exact); group B: 300 distinct
    val rows = (1L to 10L).map(v => ("a", s"v$v")) ++
      (1L to 300L).flatMap(v => Seq(("b", s"w$v"), ("b", s"w$v")))
    for (parts <- Seq(1, 5)) {
      val df = rows.toDF("g", "v").repartition(parts)
        .select(col("g"),
          graft.operators.Sketches.hash48Col(col("v")).as("hv"))
      val sk = udaf(graft.operators.Sketches.kmvGroupAgg(64))
      val got = df.groupBy(col("g")).agg(sk(col("hv")).as("s"))
        .select(col("g"), col("s._1"), col("s._2"), col("s._3"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got("a")._1 == 10L && got("a")._3 == 10L,
        s"parts=$parts: below-k group must be exact")
      assert(got("b")._1 == 64L, s"parts=$parts: full sketch")
      // estimate within 35% of truth (KMV k=64 → ~12% rel. std. error)
      assert(math.abs(got("b")._3 - 300L) <= 105L,
        s"parts=$parts: est ${got("b")._3} too far from 300")
      // per-group result equals the GLOBAL sketch on the same group
      val globalB = graft.operators.Sketches.kmvDistinct(
        rows.filter(_._1 == "b").toDF("g", "v"), "v", k = 64)
        .select("n_mins", "h_k", "est_distinct")
        .as[(Long, Long, Long)].collect().head
      assert(got("b") == globalB, s"parts=$parts: group/global mismatch")
    }
  }

  import spark.implicits._

  test("kmv: exact below k distinct values") {
    val df = (1 to 100).flatMap(i => Seq(i, i)).toDF("v")  // 100 distinct, dup'd
    val row = Sketches.kmvDistinct(df, "v", k = 256).collect()(0)
    assert(row.getLong(0) == 100)      // n_mins
    assert(row.getLong(2) == 100)      // est == exact below k
  }

  test("kmv: estimate within ~3/sqrt(k) of exact at 20x k distinct") {
    val n = 5000
    val df = (1 to n).map(i => s"val-$i").toDF("v").repartition(7)
    val est = Sketches.kmvDistinct(df, "v", k = 256)
      .collect()(0).getLong(2)
    val err = math.abs(est - n).toDouble / n
    assert(err < 3.0 / math.sqrt(256), s"est=$est exact=$n err=$err")
  }

  test("kmv: partitioning-invariant (mergeable sketch property)") {
    val vals = (1 to 3000).map(i => s"k-${i % 1100}")  // dups across partitions
    val a = Sketches.kmvDistinct(vals.toDF("v").repartition(1), "v", 128)
      .collect()(0)
    val b = Sketches.kmvDistinct(vals.toDF("v").repartition(13), "v", 128)
      .collect()(0)
    assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1) &&
      a.getLong(2) == b.getLong(2))
  }

  test("kmv: NULLs are excluded, matching countDistinct semantics") {
    val withNulls = (1 to 100).map(i => Some(s"v-$i")) ++
      Seq.fill(50)(Option.empty[String])
    val row = Sketches.kmvDistinct(withNulls.toDF("v"), "v", k = 256)
      .collect()(0)
    assert(row.getLong(0) == 100 && row.getLong(2) == 100)
  }

  test("kmv: empty input estimates zero") {
    val row = Sketches.kmvDistinct(Seq.empty[Int].toDF("v"), "v", 16)
      .collect()(0)
    assert(row.getLong(0) == 0 && row.getLong(2) == 0)
  }

  test("kmv quantiles: exact when the domain fits the sample (<= k distinct)") {
    // value i repeated i times, i in 1..50: total 1275; the exact p-bp
    // quantile is the smallest v with cum(v)*10000 >= p*1275
    val df = (1 to 50).flatMap(i => Seq.fill(i)(i)).toDF("x")
    val got = Sketches.kmvQuantiles(df, "x", k = 256)
      .as[(Int, Long)].collect().toMap
    val cum = (1 to 50).map(i => i -> (i * (i + 1) / 2)).toMap
    def exact(p: Int): Long =
      (1 to 50).find(v => cum(v).toLong * 10000 >= p.toLong * 1275).get.toLong
    for (p <- Seq(100, 1000, 2500, 5000, 7500, 9000, 9900))
      assert(got(p) == exact(p), s"p=$p")
  }

  test("kmv quantiles: partitioning-invariant and sane beyond k distinct") {
    val vals = (1 to 20000).map(i => (i * 7919) % 100000)  // scattered domain
    val a = Sketches.kmvQuantiles(vals.toDF("x").repartition(1), "x", k = 512)
      .as[(Int, Long)].collect().toMap
    val b = Sketches.kmvQuantiles(vals.toDF("x").repartition(13), "x", k = 512)
      .as[(Int, Long)].collect().toMap
    assert(a == b)                     // pure function of the value multiset
    assert(a(100) <= a(5000) && a(5000) <= a(9900))  // monotone in p
    // uniform-ish data: the p50 estimate lands within 15% of true median
    val sorted = vals.sorted
    val median = sorted(sorted.length / 2).toLong
    assert(math.abs(a(5000) - median).toDouble / median < 0.15)
  }

  test("kmv quantiles: empty input yields zero rows, not null probes") {
    val empty = Seq.empty[Int].toDF("x")
    assert(Sketches.kmvQuantiles(empty, "x", k = 8).count() == 0)
  }

  test("kmvQuantilesGroupAgg: equal hashes with different values stay " +
      "separate samples, in reduce and in merge") {
    import org.apache.spark.sql.functions.udaf
    // pre-hashed (hv, v) rows: one 48-bit hash shared by v=1 (once) and
    // v=2 (three times). Keyed on (hv, v): p25 = 1, p50 = p99 = 2; keyed
    // on the hash alone both would merge into v=1 with count 4.
    val rows = Seq(("g", 5L, 1L)) ++ Seq.fill(3)(("g", 5L, 2L))
    val sk = udaf(Sketches.kmvQuantilesGroupAgg(8))
    val got = rows.toDF("g", "hv", "v").repartition(1)
      .groupBy($"g").agg(sk($"hv", $"v").as("q"))
      .select($"q._1", $"q._2", $"q._3").as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L, 2L)))
    // merge: the tied hash arrives from two partials, in either order
    val agg = Sketches.kmvQuantilesGroupAgg(8)
    val one = agg.reduce(agg.zero, (5L, 1L))
    val three = Seq.fill(3)((5L, 2L)).foldLeft(agg.zero)(agg.reduce)
    for ((x, y) <- Seq((one, three), (three, one)))
      assert(agg.finish(agg.merge(x, y)) == ((1L, 2L, 2L)))
  }

  test("kmvQuantilesGroupAgg: exact weighted quantiles below k; " +
      "partition-invariant and estimator-faithful above it") {
    import org.apache.spark.sql.functions.udaf
    def run(df: org.apache.spark.sql.DataFrame, k: Int) = {
      val sk = udaf(Sketches.kmvQuantilesGroupAgg(k))
      df.select($"g", Sketches.hash48Col($"v").as("hv"), $"v")
        .groupBy($"g").agg(sk($"hv", $"v").as("q"))
        .select($"g", $"q._1", $"q._2", $"q._3")
        .as[(String, Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    }
    // below k: the sample IS the distinct set, counts exact → the
    // probe equals the exact weighted percentile convention
    val small = (1 to 50).flatMap(i => Seq.fill(i)((i.toLong, "a")))
      .map { case (v, g) => (g, v) }.toDF("g", "v")
    val got = run(small, k = 256)("a")
    val cumTotal = 1275L
    def exact(p: Long): Long = (1 to 50).find(v =>
      (v.toLong * (v + 1) / 2) * 10000 >= p * cumTotal).get.toLong
    assert(got == ((exact(2500), exact(5000), exact(9900))))
    // above k: pure function of the value multiset (partition-invariant)
    // and equal to a driver-side replication of the SAME estimator
    val vals = (1 to 5000).map(i => ("g", ((i * 7919) % 700 + 1).toLong))
    val big = vals.toDF("g", "v")
    val a = run(big.repartition(1), k = 64)("g")
    val b = run(big.repartition(17), k = 64)("g")
    assert(a == b)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(v: Long): Long = {
      md.reset()
      java.lang.Long.parseLong(md.digest(v.toString.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString, 16)
    }
    val counts = vals.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val sample = counts.keys.toSeq.sortBy(v => (h(v), v)).take(64)
    val total = sample.map(counts).sum
    def probe(p: Long): Long = {
      var cum = 0L
      sample.sorted.find { v => cum += counts(v); cum * 10000 >= p * total }
        .getOrElse(sample.max)
    }
    assert(a == ((probe(2500), probe(5000), probe(9900))),
      s"got $a expected (${probe(2500)}, ${probe(5000)}, ${probe(9900)})")
  }

  test("kmvSetOps: EXACT union/intersection/jaccard below k; " +
      "partition-invariant above it") {
    // group g1: A={1..30}, B={21..50} → |A|=30 |B|=30 |A∪B|=50 |A∩B|=10
    // group g2: disjoint sides → intersection 0
    val a = ((1 to 30).map(v => ("g1", v)) ++ (1 to 5).map(v => ("g2", v)))
      .toDF("g", "v")
      .select($"g", Sketches.hash48Col($"v").as("hv"))
    val b = ((21 to 50).map(v => ("g1", v)) ++ (10 to 12).map(v => ("g2", v)))
      .toDF("g", "v")
      .select($"g", Sketches.hash48Col($"v").as("hv"))
    val out = Sketches.kmvSetOps(a, b, "g", "hv", k = 256)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5, t._6))).toMap
    // below k everything is exact: est = true counts, jaccard exact bp
    assert(out("g1") == ((30L, 30L, 50L, 10L * 10000L / 50L, 10L)))
    assert(out("g2") == ((5L, 3L, 8L, 0L, 0L)))
    // above k: a pure function of the value multiset (partition-invariant)
    val big1 = (1 to 5000).map(v => ("g", v)).toDF("g", "v")
      .select($"g", Sketches.hash48Col($"v").as("hv"))
    val big2 = (2501 to 7500).map(v => ("g", v)).toDF("g", "v")
      .select($"g", Sketches.hash48Col($"v").as("hv"))
    val x = Sketches.kmvSetOps(big1.repartition(1), big2.repartition(1),
      "g", "hv", k = 128).collect().head
    val y = Sketches.kmvSetOps(big1.repartition(17), big2.repartition(13),
      "g", "hv", k = 128).collect().head
    assert(x == y)
    // and the estimates are in the right ballpark (k=128 → ~9% rse)
    val ja = x.getLong(4)   // true jaccard = 2500/7500 = 3333 bp
    assert(ja > 2300 && ja < 4400, s"jaccard_bp=$ja")
    val eu = x.getLong(3)   // true union = 7500
    assert(eu > 6000 && eu < 9000, s"est_union=$eu")
  }

  test("heavy hitters: exact set and counts vs a brute-force groupBy") {
    // zipf-ish: value i appears ~3000/i times; total ~= 3000*H(40)
    val vals = (1 to 40).flatMap(i => Seq.fill(3000 / i)(s"t$i"))
    for (parts <- Seq(1, 5, 17); k <- Seq(5, 20, 100)) {
      val df = vals.toDF("v").repartition(parts)
      val got = Sketches.heavyHitters(df, "v", k)
        .as[(String, Long, Long)].collect().toSet
      val counts = vals.groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
      val total = vals.size.toLong
      val expect = counts.collect {
        case (v, c) if c * k > total => (v, c, 10000L * c / total)
      }.toSet
      assert(got == expect, s"parts=$parts k=$k")
    }
  }

  test("heavy hitters: threshold is strict (count == total/k excluded)") {
    // 4 values x 25 each, k=4: threshold total/k = 25, no count EXCEEDS it
    val vals = (1 to 4).flatMap(i => Seq.fill(25)(s"v$i"))
    assert(Sketches.heavyHitters(vals.toDF("v"), "v", 4).count() == 0)
    // one value nudged over the line is the only survivor
    val skew = vals ++ Seq("v1", "v1")
    val got = Sketches.heavyHitters(skew.toDF("v"), "v", 4)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("v1", 27L, 10000L * 27 / 102)))
  }

  test("heavy hitters: NULLs excluded; empty input yields no rows") {
    val withNulls = Seq(Some("a"), Some("a"), Some("a"), None, Some("b"))
    val got = Sketches.heavyHitters(withNulls.toDF("v"), "v", 2)
      .as[(String, Long, Long)].collect().toSeq
    // totals count only the 4 non-null values: a=3 > 4/2
    assert(got == Seq(("a", 3L, 7500L)))
    assert(Sketches.heavyHitters(
      Seq.empty[String].toDF("v"), "v", 8).count() == 0)
  }

  test("bloom probe: NO false negatives — every present key probes full hits") {
    val hist = (1 to 500).map(i => s"key-$i").toDF("k")
    val batch = (1 to 1000).map(i => s"key-$i").toDF("k")  // half present
    val got = Sketches.bloomProbe(batch, "k", hist, "k")
      .select("k", "maybe_member")
      .as[(String, Boolean)].collect().toMap
    (1 to 500).foreach(i => assert(got(s"key-$i"), s"false negative key-$i"))
  }

  test("bloom probe: absent keys are (deterministically) rejected at this size") {
    // 500 history keys in 3x65536-bit stripes: fp ~ (500/65536)^3 ~ 4e-7;
    // the md5 derivation is deterministic, so this is a fixed outcome,
    // not a flaky sample
    val hist = (1 to 500).map(i => s"key-$i").toDF("k")
    val batch = (1 to 1000).map(i => s"other-$i").toDF("k")
    val fp = Sketches.bloomProbe(batch, "k", hist, "k")
      .where(col("maybe_member")).count()
    assert(fp == 0)
  }

  test("bloom probe: NULL keys probe 0 hits; partitioning-invariant") {
    val hist = (1 to 50).map(i => s"h$i").toDF("k")
    val batch = Seq(Some("h1"), None, Some("zz")).toDF("k")
    val rows = Sketches.bloomProbe(batch, "k", hist, "k")
      .as[(Option[String], Long, Boolean)].collect().toSet
    assert(rows.contains((None, 0L, false)))
    assert(rows.contains((Some("h1"), 3L, true)))
    val a = Sketches.bloomProbe(
      (1 to 200).map(i => s"k$i").toDF("k").repartition(1), "k",
      hist.repartition(1), "k").as[(String, Long, Boolean)].collect().toSet
    val b = Sketches.bloomProbe(
      (1 to 200).map(i => s"k$i").toDF("k").repartition(11), "k",
      hist.repartition(7), "k").as[(String, Long, Boolean)].collect().toSet
    assert(a == b)
  }

  test("count-min: est >= true count always, exact when w has no " +
      "collisions, partition-invariant") {
    import spark.implicits._
    // zipf-ish multiset: value i appears (60/i) times
    val rows = (1 to 60).flatMap(i => Seq.fill(60 / i)(i.toLong))
    val truth = rows.groupBy(identity).map { case (v, g) =>
      (v.toString, g.size.toLong) }
    for (parts <- Seq(1, 7)) {
      // w=8: heavy collisions — the upper-bias invariant must hold
      val tight = Sketches.countMinEstimates(
        rows.toDF("v").repartition(parts), "v", d = 4, w = 8,
        probePred = col("v") % 3 === 0)
        .as[(String, Long, Long)].collect()
      assert(tight.nonEmpty)
      tight.foreach { case (v, cnt, est) =>
        assert(cnt == truth(v), s"v=$v")
        assert(est >= cnt, s"v=$v: est $est < true $cnt")
      }
      // w far above the distinct count: no collisions survive the
      // 4-row min at this size, so the sketch is exact
      val wide = Sketches.countMinEstimates(
        rows.toDF("v").repartition(parts), "v", d = 4, w = 1 << 16,
        probePred = col("v") % 3 === 0)
        .as[(String, Long, Long)].collect()
      wide.foreach { case (v, cnt, est) =>
        assert(est == cnt, s"v=$v: est $est != true $cnt at wide w") }
    }
    // absent probe values estimate colliding mass, never error
    val absent = Sketches.countMinEstimates(
      Seq(1L, 2L, 3L).toDF("v"), "v", d = 4, w = 1 << 16,
      probePred = col("v") >= 0)
    assert(absent.count() == 3)
  }

  test("hll: raw estimate within the m=64 error envelope, " +
      "partition-invariant, and the register math is closed-form") {
    import spark.implicits._
    val n = 3000
    val df = (1 to n).map(i => s"val-$i").toDF("v")
    val rows = for (parts <- Seq(1, 9)) yield
      Sketches.hllDistinct(df.repartition(parts), "v", bucketBits = 6)
        .as[(Long, Long, Long, Long)].collect()(0)
    // partitioning-invariant (the register max is order-free)
    assert(rows.toSet.size == 1)
    val (m, filled, s, est) = rows.head
    assert(m == 64 && filled <= 64 && filled > 0)
    // raw HLL std error is ~1.04/sqrt(m) = 13%; 3 sigma = ~40%
    assert(est > n * 6 / 10 && est < n * 14 / 10,
      s"est $est outside the envelope for true $n")
    // the estimator is exactly the documented integer formula
    assert(est == 709L * ((64L * 64L * (1L << 43)) / s) / 1000L)
    // duplicates don't move a distinct sketch
    val dup = Sketches.hllDistinct(
      df.union(df).union(df), "v", bucketBits = 6)
      .as[(Long, Long, Long, Long)].collect()(0)
    assert(dup == rows.head)
  }

  test("hllGroupAgg: per-group tier agrees EXACTLY with the one-shot " +
      "form, partition-invariant, duplicate-insensitive") {
    import spark.implicits._
    import org.apache.spark.sql.functions.udaf
    val rows = (1L to 900L).map(i => (s"g${i % 3}", s"v${i % (50 * (1 + (i % 3)))}"))
    // duplicate the stream: a distinct sketch must not move
    val df = (rows ++ rows).toDF("g", "v")
      .select(col("g"), Sketches.hash48Col(col("v")).as("hv"))
    val expected = rows.map(_._1).distinct.sorted.map { g =>
      val one = Sketches.hllDistinct(
        rows.filter(_._1 == g).map(_._2).toDF("v"), "v", bucketBits = 6)
        .as[(Long, Long, Long, Long)].collect()(0)
      g -> (one._2, one._3, one._4) // (filled, s, est)
    }.toMap
    for (parts <- Seq(1, 8)) {
      val sk = udaf(Sketches.hllGroupAgg(6))
      val got = df.repartition(parts).groupBy(col("g"))
        .agg(sk(col("hv")).as("h"))
        .as[(String, (Long, Long, Long))].collect().toMap
      assert(got == expected, s"parts=$parts")
    }
  }
}
