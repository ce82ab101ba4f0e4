package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.zipnum.ZipNumReader

/** Local filesystem under a `fault://` scheme whose rename can be made
  * to fail on demand — the only way to drive the DSv2 swap's failure
  * branches (commit-time rename results are unobservable otherwise). */
class FaultRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "fault"
  override def getUri: java.net.URI = java.net.URI.create("fault:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    if (FaultRenameFs.failWhen(src, dst)) false else super.rename(src, dst)
}

object FaultRenameFs {
  @volatile var failWhen: (org.apache.hadoop.fs.Path,
    org.apache.hadoop.fs.Path) => Boolean = (_, _) => false
}

class ZipNumWriteSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def msgs(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq

  private def mkLines(n: Int): Seq[String] =
    (0 until n).map(i =>
      f"org,w$i%04d)/ 20120101000000 http://w$i.org/ text/html 200 D$i - - 1 $i f.gz")

  test("df.write.format(zipnum) roundtrips through the DSv2 read path") {
    val dir = SparkTestSession.tmpDir("dsv2w").resolve("c").toString
    val lines = mkLines(300)
    lines.toDF("line")
      .repartitionByRange(3, col("line")).sortWithinPartitions("line")
      .write.format("zipnum").option("linesPerBlock", "50")
      .mode("overwrite").save(dir)
    // layout complete
    val names = new java.io.File(dir).list().toSet
    assert(names.contains("ALL.summary") && names.contains("manifest.txt"))
    assert(!names.contains("_tmp"))
    // read back through both surfaces
    assert(ZipNumReader.localLines(spark.sparkContext.hadoopConfiguration, dir).toSeq.sorted == lines.sorted)
    val df = spark.read.format("zipnum").load(dir)
    assert(df.count() == 300)
    assert(df.where(col("urlkey") === "org,w0042)/").count() == 1)
  }

  test("overwrite replaces a previous cluster; errorifexists refuses") {
    val dir = SparkTestSession.tmpDir("dsv2w2").resolve("c").toString
    mkLines(10).toDF("line").coalesce(1).sortWithinPartitions("line")
      .write.format("zipnum").mode("overwrite").save(dir)
    mkLines(5).toDF("line").coalesce(1).sortWithinPartitions("line")
      .write.format("zipnum").mode("overwrite").save(dir)
    assert(spark.read.format("zipnum").load(dir).count() == 5)
    // the r19 swap port: no staging leftovers, and the .__old guard
    // refuses to run while a mid-swap backup is the only copy
    val parent = new java.io.File(dir).getParentFile.list().toSeq
    assert(!parent.exists(_.contains("__stage")) &&
      !parent.exists(_.contains("__old")),
      s"DSv2 overwrite must clean its staging dirs, found $parent")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".__old"))
    val e = intercept[Exception] {
      mkLines(5).toDF("line").coalesce(1).sortWithinPartitions("line")
        .write.format("zipnum").mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("mid-swap") ||
      Option(e.getCause).exists(_.getMessage.contains("mid-swap")))
    fs.rename(new org.apache.hadoop.fs.Path(dir + ".__old"),
      new org.apache.hadoop.fs.Path(dir)) // recover for any later asserts
    intercept[Exception] {
      mkLines(5).toDF("line").coalesce(1)
        .write.format("zipnum").save(dir) // default ErrorIfExists
    }
  }

  private def served(dir: String): Seq[String] =
    ZipNumReader.localLines(spark.sparkContext.hadoopConfiguration, dir).toSeq

  /** A fresh cluster target under a new temp dir: (its `fault://` path,
    * the same path on the local filesystem). */
  private def faultTarget(name: String): (String, String) = {
    spark.sparkContext.hadoopConfiguration.setClass("fs.fault.impl",
      classOf[FaultRenameFs], classOf[org.apache.hadoop.fs.FileSystem])
    val local = SparkTestSession.tmpDir(name).resolve("c").toString
    (s"fault://$local", local)
  }

  /** Fault-injected overwrite swap over `fault://`, shared by both entry
    * points: `write(dir, n)` overwrites the cluster at `dir` with
    * mkLines(n). */
  private def swapFaultScenarios(name: String,
                                 write: (String, Int) => Unit): Unit = {
    val (dir, local) = faultTarget(name)
    val stage = new java.io.File(s"$local.__stage")
    val old = new java.io.File(s"$local.__old")
    FaultRenameFs.failWhen = (_, _) => false
    write(dir, 10)
    assert(served(dir) == mkLines(10))

    // Scenario A: the stage -> target rename fails; the restore works.
    FaultRenameFs.failWhen = (src, _) => src.getName.endsWith(".__stage")
    val eA = intercept[Exception](write(dir, 5))
    FaultRenameFs.failWhen = (_, _) => false
    assert(msgs(eA).exists(_.contains("old cluster restored")), msgs(eA))
    // the target still serves the OLD cluster (restored whole) ...
    assert(served(dir) == mkLines(10))
    // ... and the COMPLETE new cluster survived in the stage dir (for
    // DSv2 through Spark's abort(): the r20 preserve-on-abort fix;
    // before it, abort deleted the only copy of the new data)
    assert(stage.isDirectory, "staged cluster must survive the failure")
    assert(stage.list().contains("ALL.summary"),
      "staged cluster must be complete (commitShards finished)")
    // a clean retry sweeps the stale stage and lands the new data
    write(dir, 5)
    assert(served(dir) == mkLines(5))
    assert(!stage.exists() && !old.exists())

    // Scenario B: the restore rename ALSO fails — the message must say
    // so (not claim "restored"), and the old data must sit at .__old.
    FaultRenameFs.failWhen = (src, _) =>
      src.getName.endsWith(".__stage") || src.getName.endsWith(".__old")
    val eB = intercept[Exception](write(dir, 3))
    FaultRenameFs.failWhen = (_, _) => false
    assert(msgs(eB).exists(_.contains("restore rename ALSO failed")), msgs(eB))
    assert(old.isDirectory, "old cluster must be recoverable at .__old")
    assert(!new java.io.File(local).exists(), "target empty after double failure")
    // the next write refuses to run while .__old is the only copy,
    // naming the recovery move
    val eC = intercept[Exception](write(dir, 3))
    assert(msgs(eC).exists(_.contains("mid-swap")), msgs(eC))
    // manual recovery, then life goes on
    assert(old.renameTo(new java.io.File(local)))
    assert(served(dir) == mkLines(5))
  }

  test("a failed swap-in rename preserves BOTH copies: old cluster " +
      "restored at the target, complete staged cluster kept through " +
      "abort (r20 fault injection)") {
    swapFaultScenarios("faultw",
      (dir, n) => mkLines(n).toDF("line").coalesce(1)
        .sortWithinPartitions("line")
        .write.format("zipnum").mode("overwrite").save(dir))
  }

  test("cluster-build --overwrite (through the same sink) shares the swap: " +
      "a failed swap-in restores the old cluster, or says the restore failed") {
    swapFaultScenarios("faultrdd",
      (dir, n) => graft.operators.ClusterOps.build(spark,
        spark.sparkContext.parallelize(mkLines(n), 2), dir,
        IndexedSeq("org,w0002)/"), linesPerBlock = 2, overwrite = true))
  }

  /** A first write whose commit fails part-way (the rename of shard
    * part-a-00001 fails after part-a-00000 landed) must leave no target at
    * all: a target holding the renamed shards plus an ALL.summary would
    * serve half the lines without error. `write(dir, n)` creates the
    * cluster at `dir` from mkLines(n) in two partitions. */
  private def freshTargetFaultScenario(name: String,
                                       write: (String, Int) => Unit): Unit = {
    val (dir, local) = faultTarget(name)
    FaultRenameFs.failWhen = (_, dst) => dst.getName == "part-a-00001.gz"
    val e = intercept[Exception](write(dir, 40))
    FaultRenameFs.failWhen = (_, _) => false
    assert(msgs(e).exists(_.contains("rename of part-a-00001.gz failed")),
      msgs(e))
    val left = new java.io.File(local).getParentFile.list().toSeq
    assert(left.isEmpty,
      s"a failed first write must leave neither target nor stage: $left")
    // a failed stage -> target rename keeps the complete stage, no target
    FaultRenameFs.failWhen = (src, _) => src.getName.endsWith(".__stage")
    val eSwap = intercept[Exception](write(dir, 40))
    FaultRenameFs.failWhen = (_, _) => false
    assert(msgs(eSwap).exists(_.contains(s"no cluster at $dir")), msgs(eSwap))
    assert(!new java.io.File(local).exists())
    assert(new java.io.File(s"$local.__stage").list().contains("ALL.summary"))
    write(dir, 40)
    assert(served(dir) == mkLines(40))
  }

  test("a failed first write leaves no half cluster: format(zipnum) append") {
    freshTargetFaultScenario("freshdsv2",
      (dir, n) => mkLines(n).toDF("line")
        .repartitionByRange(2, col("line")).sortWithinPartitions("line")
        .write.format("zipnum").option("linesPerBlock", "5")
        .mode("append").save(dir))
  }

  test("a failed first write leaves no half cluster: cluster-build") {
    freshTargetFaultScenario("freshbuild",
      (dir, n) => graft.operators.ClusterOps.build(spark,
        spark.sparkContext.parallelize(mkLines(n), 3), dir,
        IndexedSeq("org,w0020)/"), linesPerBlock = 5))
  }

  test("linesPerBlock < 1 or non-numeric is rejected, naming the value, " +
      "and writes nothing") {
    val d = SparkTestSession.tmpDir("lpb")
    def rejected(name: String, value: String)(write: String => Unit): Unit = {
      val dir = d.resolve(name).toString
      val e = intercept[IllegalArgumentException](write(dir))
      assert(e.getMessage.contains(s"linesPerBlock must be a positive " +
        s"integer; got '$value'"), e.getMessage)
      assert(!new java.io.File(dir).exists())
    }
    Seq("0", "-3", "ten").foreach { v =>
      rejected(s"dsv2$v", v)(dir => mkLines(10).toDF("line").coalesce(1)
        .write.format("zipnum").option("linesPerBlock", v)
        .mode("overwrite").save(dir))
    }
    rejected("build0", "0")(dir => graft.operators.ClusterOps.build(spark,
      spark.sparkContext.parallelize(mkLines(10), 2), dir,
      IndexedSeq("org,w0005)/"), linesPerBlock = 0))
  }

  test("the writer refuses an unsorted shard or a line holding an LF, " +
      "and leaves no cluster behind; an interior CR is data") {
    val d = SparkTestSession.tmpDir("guard")
    def refused(name: String, lines: Seq[String], why: String): Unit = {
      val dir = d.resolve(name).toString
      val e = intercept[Exception] {
        lines.toDF("line").coalesce(1)
          .write.format("zipnum").mode("append").save(dir)
      }
      assert(msgs(e).exists(m => m.contains("zipnum: line 2 of part-a-00000") &&
        m.contains(why)), msgs(e))
      assert(d.toFile.list().filter(_.startsWith(name)).isEmpty,
        s"a refused write must leave neither target nor stage: ${d.toFile.list().toSeq}")
    }
    refused("unsorted", Seq(
      "org,b)/ 20120101000000 http://b.org/ text/html 200 D - - 1 0 f.gz",
      "org,a)/ 20120101000000 http://a.org/ text/html 200 D - - 1 0 f.gz"),
      "sorts below line 1")
    refused("lf", Seq(
      "org,a)/ 20120101000000 http://a.org/ text/html 200 D - - 1 0 f.gz",
      "org,b)/ 20120101000000 http://b.org/ text/html 302 D http://b.org/\nx - 1 0 f.gz"),
      "holds an LF")
    val dir = d.resolve("cr").toString
    val cr = Seq(
      "org,a)/ 20120101000000 http://a.org/ text/html 200 D - - 1 0 f.gz",
      "org,b)/ 20120101000000 http://b.org/ text/html 302 D http://b.org/\rx - 1 0 f.gz")
    cr.toDF("line").coalesce(1).write.format("zipnum").mode("append").save(dir)
    assert(served(dir) == cr)
    assert(graft.operators.ClusterOps.range(spark, Some("org,a)/"), None,
      Seq(dir)).toSeq == cr)
  }

  test("an empty partition writes no shard; the manifest lists only the " +
      "written shards") {
    val dir = SparkTestSession.tmpDir("dsv2empty").resolve("c").toString
    val lines = mkLines(6)
    // partitions 0 and 2 hold two sorted lines each; partition 1 is empty
    val rdd = spark.sparkContext.parallelize(lines, 3)
      .mapPartitionsWithIndex((i, it) => if (i == 1) Iterator.empty else it)
    spark.createDataset(rdd).write.format("zipnum")
      .option("linesPerBlock", "1").mode("append").save(dir)
    // (dot files are the local filesystem's .crc checksums)
    assert(new java.io.File(dir).list().filterNot(_.startsWith(".")).toSet ==
      Set("ALL.summary", "manifest.txt", "part-a-00000.gz",
        "part-a-00000-idx", "part-a-00002.gz", "part-a-00002-idx"))
    assert(Files.readAllLines(java.nio.file.Paths.get(dir, "manifest.txt"))
      .toArray.toSeq == Seq("part-a-00000.gz", "part-a-00002.gz"))
    assert(served(dir) == lines.take(2) ++ lines.drop(4))
  }

  test("WAT rows render the JSON metadata envelope") {
    val dir = SparkTestSession.tmpDir("wat")
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos); g.write(b); g.close()
      bos.toByteArray
    }
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nbody"
    val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: http://example.com/w\r\n" +
      s"WARC-Date: 2012-01-03T08:45:08Z\r\nContent-Length: ${http.length}\r\n\r\n" +
      http).getBytes("UTF-8")
    val f = dir.resolve("w.warc.gz")
    Files.write(f, gz(rec))
    val rows = graft.operators.WarcExtract.watRows(spark, Seq(f.toString))
      .as[(String, String, String)].collect()
    assert(rows.length == 1)
    val (key, ts, wat) = rows.head
    assert(key == "com,example)/w" && ts == "20120103084508")
    assert(wat.contains(""""Status":200"""))
    assert(wat.contains(""""Content-Type":"text/html""""))
    assert(wat.contains(""""WARC-Target-URI":"http://example.com/w""""))
    assert(wat.contains(""""Offset":0"""))
  }
}
