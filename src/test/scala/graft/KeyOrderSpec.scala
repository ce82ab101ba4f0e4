package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.util.KeyOrder

/** SURVEY §7 risk 4: one byte-wise key ordering everywhere. Ground truth
  * is Spark's own UTF8String binary comparison — the ordering Catalyst
  * assumes when the zipnum scan reports outputOrdering. */
class KeyOrderSpec extends AnyFunSuite with SparkTestSession {

  // deterministic seeds — same samples every run (PropertySpec pattern)
  private def forAll[A](g: Gen[A], n: Int = 500)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong))
        .foreach(f)
    }

  private val Smiley = new String(Character.toChars(0x1F600))
  private val PrivateUse = ""

  private def utf8Compare(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  // strings over the interesting ranges: ASCII, high BMP (incl. the
  // U+E000+ private area), and supplementary chars (surrogate pairs)
  private val tricky: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar.map(_.toString),
    Gen.const(PrivateUse), Gen.const("\uFFFD"),
    Gen.const(Smiley),
    Gen.const(new String(Character.toChars(0x10000))),
    Gen.const(" "), Gen.const(","))).map(_.mkString)

  test("KeyOrder agrees with UTF8String binary order on tricky strings") {
    forAll(Gen.zip(tricky, tricky)) { case (a, b) =>
      assert(Integer.signum(KeyOrder.compare(a, b)) ==
        Integer.signum(utf8Compare(a, b)), s"'$a' vs '$b'")
    }
  }

  test("Java String order DISAGREES on supplementary chars (the risk)") {
    assert(Smiley.compareTo(PrivateUse) < 0) // UTF-16 code-unit order
    assert(KeyOrder.compare(Smiley, PrivateUse) > 0) // byte order
  }

  test("cluster with supplementary-char keys: build order == Spark order") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val keys = Seq(s"k$Smiley", s"k$PrivateUse", "ka", "k", "kz")
    val lines = keys.map(k => s"$k 20120101000000 http://x.org/ text/html " +
      "200 DIGESTXX - - 10 0 f.warc.gz")
    val out = SparkTestSession.tmpDir("keyorder").resolve("c").toString
    graft.operators.ClusterOps.build(spark,
      spark.sparkContext.parallelize(lines, 2), out,
      interior = IndexedSeq(s"k$PrivateUse"), // boundary in the tricky range
      linesPerBlock = 2, overwrite = true)
    val back = spark.read.format("zipnum").load(out)
      .select("urlkey").as[String].collect().toSeq
    // cluster iteration order must equal Spark's own sort of the keys —
    // the contract behind the scan's reported outputOrdering
    val sparkOrder = keys.toDF("k").orderBy(col("k")).as[String].collect().toSeq
    assert(back == sparkOrder)
    // and a range bounded by a high-BMP key keeps the supplementary key
    // ABOVE it (Java String order would have dropped it below the bound)
    val ranged = spark.read.format("zipnum").load(out)
      .where(col("urlkey") >= s"k$PrivateUse").select("urlkey").as[String]
      .collect().toSeq
    assert(ranged == Seq(s"k$PrivateUse", s"k$Smiley"))
  }
}
