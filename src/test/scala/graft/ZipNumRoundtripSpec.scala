package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zipnum.{ZipNumIndex, ZipNumReader}
import graft.util.SparkMeter

/** Write→read identity and block-pruned range scans over a real cluster
  * (SURVEY §3.1 + §3.3 composed — the spine query). */
class ZipNumRoundtripSpec extends AnyFunSuite with SparkTestSession {

  private def mkLines(n: Int): Seq[String] =
    (0 until n).map { i =>
      val key = f"org,site${i % 7}%d)/p/$i%06d"
      val ts = f"2012010100${i % 60}%02d00"
      s"$key $ts http://site${i % 7}.org/p/$i text/html 200 DIG$i - - ${100 + i} ${i * 1000} f.warc.gz"
    }.sorted

  private lazy val conf = spark.sparkContext.hadoopConfiguration
  private lazy val lines = mkLines(2000)
  private lazy val dir: String = {
    val d = SparkTestSession.tmpDir("zipnum-spec").toString
    import spark.implicits._
    val ds = spark.createDataset(lines)(implicitly)
      .repartitionByRange(4, org.apache.spark.sql.functions.col("value"))
      .sortWithinPartitions("value")
    ds.write.format("zipnum").option("linesPerBlock", 100)
      .mode("overwrite").save(s"$d/cluster")
    s"$d/cluster"
  }

  test("full write→read roundtrip is the identity") {
    val back = ZipNumReader.localLines(conf, dir).toSeq.sorted
    assert(back == lines)
  }

  test("cluster layout: shards + idx + ALL.summary + manifest") {
    val files = new java.io.File(dir).list().toSet
    assert(files.contains("ALL.summary") && files.contains("manifest.txt"))
    assert(files.exists(_.matches("part-a-\\d{5}\\.gz")))
    assert(files.exists(_.matches("part-a-\\d{5}-idx")))
  }

  test("idx offsets/lengths tile each shard exactly") {
    val index = ZipNumIndex.load(dir, spark.sparkContext.hadoopConfiguration)
    index.blocks.groupBy(_.part).foreach { case (part, bs) =>
      val sorted = bs.sortBy(_.offset)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a.offset + a.length == b.offset,
          s"$part: gap/overlap between blocks")
        case _ =>
      }
      val fileLen = new java.io.File(s"$dir/$part.gz").length()
      assert(sorted.last.offset + sorted.last.length == fileLen,
        s"$part: blocks must tile the whole shard")
    }
  }

  test("range read [start,end) matches filtered source; fewer blocks touched") {
    val start = "org,site2)/p/000500"
    val end = "org,site4)/p/001000"
    val expected = lines.filter(l => l >= start && l < end)
    val got = ZipNumReader.localLines(conf, dir, Some(start), Some(end))
      .toSeq.sorted
    assert(got == expected)
    val index = ZipNumIndex.load(dir, spark.sparkContext.hadoopConfiguration)
    val pruned = index.prune(Some(start), Some(end))
    assert(pruned.size < index.blocks.size,
      "range scan must touch fewer blocks than the cluster holds")
    assert(expected.nonEmpty)
  }

  test("ordered dump: partition-ordered iteration is globally sorted") {
    val streamed = ZipNumReader.localLines(conf, dir, Some("org,site1"),
      Some("org,site3")).toSeq
    assert(streamed == streamed.sorted)
    assert(streamed == lines.filter(l => l >= "org,site1" && l < "org,site3"))
  }

  test("DSv2: format(zipnum) scan parses and filters match a full scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("zipnum").load(dir)
    assert(df.count() == lines.size)
    val ranged = df.where(col("urlkey") >= "org,site2)/p/000500" &&
      col("urlkey") < "org,site4)/p/001000")
    val expected = lines.map(_.split(" ")(0))
      .filter(k => k >= "org,site2)/p/000500" && k < "org,site4)/p/001000")
    assert(ranged.count() == expected.size)
    // typed columns survive the scan
    val row = df.where(col("urlkey") === "org,site0)/p/000000")
      .select("statuscode", "compressed_size", "offset").head()
    assert(row.getInt(0) == 200 && row.getLong(1) == 100L && row.getLong(2) == 0L)
  }

  test("DSv2: urlkey range pushdown plans fewer partitions than full scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("zipnum").load(dir)
    val full = df.rdd.getNumPartitions
    val ranged = spark.read.format("zipnum").load(dir)
      .where(col("urlkey").startsWith("org,site2)/p/0001"))
    // partition count == planned slice count; pruning must shrink it OR the
    // full scan already fits one slice (then check block math directly)
    val index = ZipNumIndex.load(dir, spark.sparkContext.hadoopConfiguration)
    val pruned = index.prune(Some("org,site2)/p/0001"), Some("org,site2)/p/0002"))
    assert(pruned.size < index.blocks.size)
    assert(ranged.rdd.getNumPartitions <= full)
    assert(ranged.count() ==
      lines.map(_.split(" ")(0)).count(_.startsWith("org,site2)/p/0001")))
  }

  test("DSv2: a small bounded read is a bare LocalTableScan and runs no " +
      "job; an unbounded read stays a distributed BatchScan") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions._
    val index = ZipNumIndex.load(dir, conf)
    val n = index.blocks.size
    val ((plan, got), bounded) = SparkMeter.measure(spark.sparkContext) {
      val q = spark.read.format("zipnum").load(dir)
        .where(col("urlkey") === "org,site3)/p/000500")
      (q.queryExecution.executedPlan, q.collect())
    }
    assert(plan.isInstanceOf[LocalTableScanExec], s"not a bare local scan:\n$plan")
    assert(got.map(_.getString(0)).toSeq == Seq("org,site3)/p/000500"))
    assert(bounded.jobs == 0 && bounded.tasks == 0,
      s"bounded read submitted ${bounded.jobs} jobs and ${bounded.tasks} tasks")

    val ((full, all), unbounded) = SparkMeter.measure(spark.sparkContext) {
      val q = spark.read.format("zipnum").load(dir)
      (q.queryExecution.executedPlan, q.collect())
    }
    assert(full.collectFirst { case b: BatchScanExec => b }.nonEmpty,
      s"unbounded read must stay distributed:\n$full")
    assert(full.toString.contains(s"blocks=$n/$n"), full.toString)
    assert(all.length == lines.size && unbounded.jobs >= 1)
  }

  test("aligned rangesRdd partitions cover disjoint ranges in order") {
    val bounds = IndexedSeq("org,site2", "org,site5")
    val rdd = ZipNumReader.rangesRdd(spark, dir, bounds)
    assert(rdd.getNumPartitions == 3)
    val perPart = rdd.glom().collect()
    assert(perPart(0).forall(_ < "org,site2"))
    assert(perPart(1).forall(l => l >= "org,site2" && l < "org,site5"))
    assert(perPart(2).forall(_ >= "org,site5"))
    assert(perPart.flatten.toSeq.sorted == lines)
    perPart.foreach(p => assert(p.toSeq == p.toSeq.sorted))
  }

  test("fromClusterSummaries truncates boundaries to the bare urlkey, so " +
      "merge partitions start at urlkey starts (day-cap exactness)") {
    val bs = graft.operators.Boundaries.fromClusterSummaries(
      Seq(dir), 4, spark.sparkContext.hadoopConfiguration)
    assert(bs.nonEmpty && bs.forall(!_.contains(' ')),
      s"boundaries must be bare urlkeys, got $bs")
    // still usable as range bounds: aligned reads cover everything once
    val rdd = ZipNumReader.rangesRdd(spark, dir, bs)
    assert(rdd.collect().toSeq.sorted == lines)
  }

  test("prune lower bound is strictly-below: tied firstKeys and the " +
      "previous block stay selected (r18 data-loss regression)") {
    import graft.sources.zipnum.ZipNumFormat.Block
    val idx = ZipNumIndex.ClusterIndex("d", IndexedSeq(
      Block("a", "p", 0, 10), Block("b", "p", 10, 10),
      Block("b", "p", 20, 10), Block("c", "p", 30, 10)))
    // start == a tied firstKey: the block BEFORE the first tie may hold
    // same-key tail records, and the earlier tied block is all in-range —
    // "last <= start" (the old bound) selected only offsets 30 here
    assert(idx.prune(Some("b"), None).map(_.offset) ==
      IndexedSeq(0L, 10L, 20L, 30L))
    assert(idx.prune(Some("b"), Some("c")).map(_.offset) ==
      IndexedSeq(0L, 10L, 20L))
    // a start strictly between firstKeys steps back exactly one block
    assert(idx.prune(Some("bb"), None).map(_.offset) == IndexedSeq(20L, 30L))
    assert(idx.prune(Some("a"), None).map(_.offset).head == 0L)
  }

  test("overwrite stages a complete sibling cluster and swaps: new content " +
      "served, no .__stage/.__old leftovers, mid-swap backup is guarded") {
    val d = SparkTestSession.tmpDir("zipnum-swap").toString
    val cluster = s"$d/cluster"
    import spark.implicits._
    def write(ls: Seq[String]): Unit = {
      val ds = spark.createDataset(ls)(implicitly)
        .repartitionByRange(2, org.apache.spark.sql.functions.col("value"))
        .sortWithinPartitions("value")
      ds.write.format("zipnum").option("linesPerBlock", 2)
        .mode("overwrite").save(cluster)
    }
    write(Seq("a 1 old", "b 1 old", "c 1 old"))
    write(Seq("a 1 new", "d 1 new"))
    assert(ZipNumReader.localLines(conf, cluster).toSeq.sorted ==
      Seq("a 1 new", "d 1 new"))
    val parent = new java.io.File(d).list().toSet
    assert(!parent.exists(_.contains("__stage")) &&
      !parent.exists(_.contains("__old")),
      s"swap must clean its staging dirs, found $parent")
    // backup guard: .__old WITHOUT the target = a run crashed between the
    // two swap renames and the backup holds the only copy — loud abort
    val fs = new org.apache.hadoop.fs.Path(cluster)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(cluster),
      new org.apache.hadoop.fs.Path(cluster + ".__old"))
    val e = intercept[IllegalArgumentException] { write(Seq("x 1 z")) }
    assert(e.getMessage.contains("mid-swap"))
    // operator recovery (rename back) makes the writer usable again
    fs.rename(new org.apache.hadoop.fs.Path(cluster + ".__old"),
      new org.apache.hadoop.fs.Path(cluster))
    write(Seq("x 1 z"))
    assert(ZipNumReader.localLines(conf, cluster).toSeq == Seq("x 1 z"))
  }

  test("range serve with start == a block firstKey returns the key run's " +
      "head from the previous block (end-to-end prune regression)") {
    // key B = "org,b)/x 20120101000000" runs for 4 lines; linesPerBlock=2
    // puts block boundaries INSIDE the run: block0 [a, B] (firstKey a),
    // block1 [B, B] (firstKey B), block2 [B, c] (firstKey B — a tie)
    val ls = Seq(
      "org,a)/x 20120101000000 r0",
      "org,b)/x 20120101000000 r1",
      "org,b)/x 20120101000000 r2",
      "org,b)/x 20120101000000 r3",
      "org,b)/x 20120101000000 r4",
      "org,c)/x 20120101000000 r5")
    val d = SparkTestSession.tmpDir("zipnum-keyrun").toString
    import spark.implicits._
    val ds = spark.createDataset(ls)(implicitly)
      .repartitionByRange(1, org.apache.spark.sql.functions.col("value"))
      .sortWithinPartitions("value")
    ds.write.format("zipnum").option("linesPerBlock", 2)
      .mode("overwrite").save(s"$d/cluster")
    val got = ZipNumReader.localLines(conf, s"$d/cluster",
      Some("org,b)/x 20120101000000"), Some("org,c")).toSeq.sorted
    assert(got == ls.slice(1, 5), // r1..r4 — r1 lives in block0's tail
      "the previous block's same-key tail must be served")
  }
}
