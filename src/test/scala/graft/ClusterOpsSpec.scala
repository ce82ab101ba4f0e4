package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Cdx
import graft.operators.{Boundaries, BoundaryPartitioner, ClusterOps, SortedMerge}
import graft.sources.zipnum.{ZipNumIndex, ZipNumReader}
import graft.util.{KeyOrder, SparkMeter}

class ClusterOpsSpec extends AnyFunSuite with SparkTestSession {

  private lazy val conf = spark.sparkContext.hadoopConfiguration

  private def tmp(prefix: String): String =
    SparkTestSession.tmpDir(prefix).toString

  private def mkLines(n: Int, site: Int => Int = _ % 5): Seq[String] =
    (0 until n).map { i =>
      f"org,s${site(i)}%d)/p/$i%05d 201201${i % 28 + 1}%02d000000 http://s${site(i)}.org/p/$i text/html 200 DIGEST$i%05dXX - - ${i + 10} ${i * 100} c/f.warc.gz"
    }

  test("BoundaryPartitioner: AlphaPartitioner bucket semantics") {
    val p = new BoundaryPartitioner(IndexedSeq("d", "m"))
    assert(p.numPartitions == 3)
    assert(p.getPartition("a") == 0)
    assert(p.getPartition("d") == 1)  // boundary key goes right
    assert(p.getPartition("d x") == 1)
    assert(p.getPartition("m") == 2)
    assert(p.getPartition("z") == 2)
  }

  test("SortedMerge.mergeIterators is a stable k-way sorted merge") {
    val m = SortedMerge.mergeIterators(Seq(
      Iterator("a", "c", "e"), Iterator("b", "c", "f"), Iterator.empty))
    assert(m.toSeq == Seq("a", "b", "c", "c", "e", "f"))
  }

  test("build: same input + same boundaries ⇒ byte-identical shards") {
    val lines = mkLines(500)
    val rdd = spark.sparkContext.parallelize(scala.util.Random.shuffle(lines), 7)
    val interior = IndexedSeq("org,s1", "org,s2", "org,s3")
    val d1 = tmp("build1") + "/c"
    val d2 = tmp("build2") + "/c"
    ClusterOps.build(spark, rdd, d1, interior, linesPerBlock = 40)
    ClusterOps.build(spark, rdd, d2, interior, linesPerBlock = 40)
    def shardBytes(d: String): Map[String, Seq[Byte]] =
      new java.io.File(d).listFiles().map(f =>
        f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    assert(shardBytes(d1) == shardBytes(d2))
    // all lines present and globally sorted across the slice-ordered read
    val back = ZipNumReader.localLines(conf, d1).toSeq
    assert(back == lines.sorted)
    // 4 shards from 3 interior boundaries (all ranges non-empty here)
    val idx = ZipNumIndex.load(d1, spark.sparkContext.hadoopConfiguration)
    assert(idx.blocks.map(_.part).distinct.size == 4)
  }

  test("build: an empty boundary range writes no shard; shard names keep " +
      "their partition index and the manifest lists exactly those shards") {
    val lines = mkLines(200)
    val d = tmp("buildempty") + "/c"
    // six interior boundaries, three empty ranges: (-inf, "a"),
    // ["org,s1~", "org,s2") and ["zzz", +inf)
    val interior =
      IndexedSeq("a", "org,s1", "org,s1~", "org,s2", "org,s3", "zzz")
    ClusterOps.build(spark, spark.sparkContext.parallelize(lines, 3), d,
      interior, linesPerBlock = 30)
    val shards = Seq(1, 2, 4, 5).map(i => f"part-a-$i%05d")
    // (dot files are the local filesystem's .crc checksums)
    assert(new java.io.File(d).list().filterNot(_.startsWith(".")).toSet ==
      shards.flatMap(p => Seq(s"$p.gz", s"$p-idx")).toSet ++
        Set("ALL.summary", "manifest.txt"))
    assert(Files.readAllLines(java.nio.file.Paths.get(d, "manifest.txt"))
      .toArray.toSeq == shards.map(_ + ".gz"))
    assert(ZipNumIndex.load(d, conf).blocks.map(_.part).distinct ==
      shards)
    assert(ZipNumReader.localLines(conf, d).toSeq == lines.sorted)
  }

  test("merge: zero-shuffle union of two clusters equals sorted union") {
    val a = mkLines(300, _ % 3)
    val b = mkLines(200, i => i % 3 + 2) // overlapping + disjoint keys
    val da = tmp("ma") + "/c"
    val db = tmp("mb") + "/c"
    val interior = IndexedSeq("org,s1", "org,s3")
    ClusterOps.build(spark, spark.sparkContext.parallelize(a, 3), da, interior,
      linesPerBlock = 50)
    ClusterOps.build(spark, spark.sparkContext.parallelize(b, 3), db, interior,
      linesPerBlock = 50)
    val out = tmp("mout") + "/c"
    ClusterOps.merge(spark, Seq(da, db), out, nShards = 3)
    val back = ZipNumReader.localLines(conf, out).toSeq
    assert(back == (a ++ b).sorted)
  }

  test("merge shuffles ZERO bytes — listener-verified, not just named") {
    val a = mkLines(300, _ % 3)
    val b = mkLines(200, i => i % 3 + 2)
    val da = tmp("za") + "/c"
    val db = tmp("zb") + "/c"
    val interior = IndexedSeq("org,s1", "org,s3")
    ClusterOps.build(spark, spark.sparkContext.parallelize(a, 3), da, interior,
      linesPerBlock = 50)
    ClusterOps.build(spark, spark.sparkContext.parallelize(b, 3), db, interior,
      linesPerBlock = 50)
    // the builds above DO shuffle; the window holds only the merge
    val out = tmp("zout") + "/c"
    val (_, merge) = SparkMeter.measure(spark.sparkContext) {
      ClusterOps.merge(spark, Seq(da, db), out, nShards = 3)
    }
    val mergeMoved = merge.shuffleReadBytes + merge.shuffleWriteBytes
    assert(ZipNumReader.localLines(conf, out).size == 500)
    assert(mergeMoved == 0,
      s"the zero-shuffle merge moved $mergeMoved bytes through a shuffle")
  }

  test("merge of FIVE clusters (odd count exercises the balanced tree)") {
    val sets = (0 until 5).map(j => mkLines(60, i => (i + j) % 5))
    val interior = IndexedSeq("org,s2")
    val dirs = sets.zipWithIndex.map { case (lines, j) =>
      val d = tmp(s"m5_$j") + "/c"
      ClusterOps.build(spark, spark.sparkContext.parallelize(lines, 2), d,
        interior, linesPerBlock = 20)
      d
    }
    val out = tmp("m5out") + "/c"
    ClusterOps.merge(spark, dirs, out, nShards = 2)
    val back = ZipNumReader.localLines(conf, out).toSeq
    assert(back == sets.flatten.sorted)
  }

  test("merge --global-cdx applies streaming day-cap over the sorted run") {
    // 10 same-key same-day captures, dayLimit=2 → 3 admitted (the
    // reference's pre-increment guard admits limit+1)
    val lines = (0 until 10).map(i =>
      f"org,cap)/x 2012010100$i%02d00 http://cap.org/x text/html 200 DIGESTLONG - - 1 $i c/f.warc.gz")
    val d = tmp("cap") + "/c"
    ClusterOps.build(spark, spark.sparkContext.parallelize(lines, 2), d,
      IndexedSeq.empty, linesPerBlock = 4)
    val out = tmp("capout") + "/c"
    ClusterOps.merge(spark, Seq(d), out, nShards = 1, globalCdx = true,
      dayLimit = 2)
    val back = ZipNumReader.localLines(conf, out).toSeq.sorted
    assert(back.size == 3)
    // digest truncated to 3 chars by the global rules
    assert(back.forall(_.contains(" DIG ")))
  }

  test("range: k-way merged dump across clusters, bounded and sorted") {
    val a = mkLines(100, _ % 2)
    val b = mkLines(100, i => i % 2 + 1)
    val da = tmp("ra") + "/c"
    val db = tmp("rb") + "/c"
    ClusterOps.build(spark, spark.sparkContext.parallelize(a, 2), da,
      IndexedSeq("org,s1"), linesPerBlock = 30)
    ClusterOps.build(spark, spark.sparkContext.parallelize(b, 2), db,
      IndexedSeq("org,s1"), linesPerBlock = 30)
    val got = ClusterOps.range(spark, Some("org,s1"), Some("org,s2"),
      Seq(da, db)).toSeq
    val expected = (a ++ b).filter(l => l >= "org,s1" && l < "org,s2")
      .sorted(KeyOrder)
    assert(got == expected)
  }

  test("range merges clusters in byte order: a supplementary-plane key " +
      "sorts after U+FFFD, unlike UTF-16 String order") {
    val emoji = "org,\uD83D\uDE00)/ 20120101000000 http://e.org/ a"
    val fffd = "org,\uFFFD)/ 20120101000000 http://f.org/ b"
    val fffd2 = "org,\uFFFD)/ 20120102000000 http://f.org/ c"
    // UTF-16 order would put the emoji (a surrogate pair) first
    assert(emoji < fffd && KeyOrder.gt(emoji, fffd))
    val da = tmp("utfa") + "/c"
    val db = tmp("utfb") + "/c"
    ClusterOps.build(spark, spark.sparkContext.parallelize(Seq(emoji), 1),
      da, IndexedSeq.empty, linesPerBlock = 1)
    ClusterOps.build(spark, spark.sparkContext.parallelize(Seq(fffd2, fffd), 1),
      db, IndexedSeq.empty, linesPerBlock = 1)
    assert(ClusterOps.range(spark, None, None, Seq(da, db)).toSeq ==
      Seq(fffd, fffd2, emoji))
    assert(ClusterOps.range(spark, Some("org,\uFFFD)/ 20120102"), Some("org-"),
      Seq(da, db)).toSeq == Seq(fffd2, emoji))
  }

  test("range runs on the driver: 0 Spark jobs and 0 tasks over two " +
      "clusters (listener-counted)") {
    val a = mkLines(200, _ % 3)
    val b = mkLines(150, i => i % 3 + 1)
    val da = tmp("ja") + "/c"
    val db = tmp("jb") + "/c"
    ClusterOps.build(spark, spark.sparkContext.parallelize(a, 2), da,
      IndexedSeq("org,s1"), linesPerBlock = 20)
    ClusterOps.build(spark, spark.sparkContext.parallelize(b, 2), db,
      IndexedSeq("org,s2"), linesPerBlock = 20)
    val (got, w) = SparkMeter.measure(spark.sparkContext)(
      ClusterOps.range(spark, Some("org,s1"), Some("org,s3"), Seq(da, db)).toVector)
    assert(got == (a ++ b).filter(x => x >= "org,s1" && x < "org,s3")
      .sorted(KeyOrder))
    assert(w.jobs == 0 && w.tasks == 0,
      s"range submitted ${w.jobs} jobs and ${w.tasks} tasks")
  }

  test("Boundaries.sample is deterministic; quantiles are sorted distinct") {
    val rdd = spark.sparkContext.parallelize(mkLines(1000), 4)
    val b1 = Boundaries.sample(rdd, 4)
    val b2 = Boundaries.sample(rdd, 4)
    assert(b1 == b2 && b1.size == 3 && b1 == b1.sorted)
  }

  test("legacy CDX-10 build --surt-output re-keys with fresh SURTs") {
    // CDX-10: N b a m s k r M V g (no compressed_size)
    val legacy = Seq(
      "example.com/A 20120101000000 http://WWW.Example.com/A text/html 200 DIG - - 123 f.arc.gz",
      "other.org/ 20120102000000 http://Other.ORG:80/ text/html 200 DIG - - 456 f.arc.gz")
    val d = tmp("surt") + "/c"
    ClusterOps.build(spark, spark.sparkContext.parallelize(legacy, 1), d,
      IndexedSeq.empty, linesPerBlock = 10, surtOutput = true)
    val keys = ZipNumReader.localLines(conf, d).map(_.split(" ")(0)).toSet
    assert(keys == Set("com,example)/a", "org,other)/"))
  }
}
