package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdxStream

class CdxStreamSpec extends AnyFunSuite with SparkTestSession {

  private def line(key: String, ts: String, off: Long): String =
    s"$key $ts http://x.org/ text/html 200 DIGESTXX - - 10 $off f.warc.gz"

  // complete mode is TEST-ONLY: it retains every window ever seen in the
  // state store (unbounded on a firehose), so the oracle gate (q104)
  // certifies append mode; this pin just covers the mode's wiring.
  test("streaming windowed host counts over a file-backed stream") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("stream-in")
    java.nio.file.Files.writeString(dir.resolve("batch1.cdx"), Seq(
      line("org,a)/x", "20120101000500", 0),
      line("org,a)/y", "20120101003000", 1),
      line("org,b)/z", "20120101010500", 2)).mkString("", "\n", "\n"))

    val lines = spark.readStream.option("lineSep", "\n").text(dir.toString)
    val parsed = CdxStream.parse(lines.as[String]).toDF()
    val counts = CdxStream.windowedHostCounts(parsed)
    val q = counts.writeStream
      .format("memory").queryName("host_counts")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("host_counts")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map { case (w, h, n) => (w.toInstant.toString, h, n) }.toSet
    assert(got == Set(
      ("2012-01-01T00:00:00Z", "org,a", 2L),
      ("2012-01-01T01:00:00Z", "org,b", 1L)))
  }

  test("windowed host counts in APPEND mode: watermark flushes every " +
      "closed window and EVICTS its state (bounded state)") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("stream-append")
    // batch 1: the real data (two 1-hour windows on 2012-01-01)
    val f1 = dir.resolve("batch1.cdx")
    java.nio.file.Files.writeString(f1, Seq(
      line("org,a)/x", "20120101000500", 0),
      line("org,a)/y", "20120101003000", 1),
      line("org,b)/z", "20120101010500", 2)).mkString("", "\n", "\n"))
    // batches 2+3: far-future sentinels; 2 advances the watermark past
    // every real window end, 3 triggers the append-mode flush
    val f2 = dir.resolve("sentinel1.cdx")
    java.nio.file.Files.writeString(f2,
      line("org,zz)/s", "20120105000000", 3) + "\n")
    val f3 = dir.resolve("sentinel2.cdx")
    java.nio.file.Files.writeString(f3,
      line("org,zz)/s", "20120110000000", 4) + "\n")
    val t0 = f1.toFile.lastModified()
    assert(f2.toFile.setLastModified(t0 + 10000))
    assert(f3.toFile.setLastModified(t0 + 20000))

    // match the gate scaffold: no trailing no-data batch (it would also
    // flush sentinel-1's window once sentinel-2 advances the watermark)
    val prevNoData =
      spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = try {
      val lines = spark.readStream.option("lineSep", "\n")
        .option("maxFilesPerTrigger", "1").text(dir.toString)
      val counts = CdxStream.windowedHostCounts(
        CdxStream.parse(lines.as[String]).toDF())
      val q0 = counts.writeStream
        .format("memory").queryName("host_counts_append")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q0.awaitTermination(120000)
      q0
    } finally prevNoData match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
    val got = spark.table("host_counts_append")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map { case (w, h, n) => (w.toInstant.toString, h, n) }.toSet
    // every REAL window emitted exactly once; sentinel windows never
    // close, never emitted
    assert(got == Set(
      ("2012-01-01T00:00:00Z", "org,a", 2L),
      ("2012-01-01T01:00:00Z", "org,b", 1L)))
    // BOUNDED STATE: emitted windows are evicted from the state store —
    // only the two open sentinel windows remain. This is the property
    // complete mode lacks (it retains every window ever seen), which is
    // why append is the gated mode and complete is test-only.
    val lastState = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators.head
    assert(lastState.numRowsTotal == 2,
      s"state should hold ONLY the open sentinel windows, " +
        s"got ${lastState.numRowsTotal}")
  }

  test("sessionizedHostVisits MERGES a session across micro-batches and " +
      "emits it once, closed, in append mode") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("stream-sess")
    // batch 1: two events 10 min apart; batch 2: a third event 10 min
    // later — inside the first session's [start, last+30min) window, so
    // the session state must MERGE across the batch boundary; plus an
    // isolated event >= gap after it (a second session)
    val f1 = dir.resolve("b1.cdx")
    java.nio.file.Files.writeString(f1, Seq(
      line("org,a)/x", "20120101000000", 0),
      line("org,a)/y", "20120101001000", 1)).mkString("", "\n", "\n"))
    val f2 = dir.resolve("b2.cdx")
    java.nio.file.Files.writeString(f2, Seq(
      line("org,a)/z", "20120101002000", 2),
      // exactly AT the session's end (00:20 + 30min) — merges: the
      // boundary is INCLUSIVE (this is the pin that caught the oracle's
      // original >= rule being wrong)
      line("org,a)/w", "20120101005000", 3),
      // past the merged end (00:50 + 30min = 01:20) — a new session
      line("org,a)/v", "20120101012100", 6)).mkString("", "\n", "\n"))
    val f3 = dir.resolve("s1.cdx")
    java.nio.file.Files.writeString(f3,
      line("org,zz)/s", "20120105000000", 4) + "\n")
    val f4 = dir.resolve("s2.cdx")
    java.nio.file.Files.writeString(f4,
      line("org,zz)/s", "20120110000000", 5) + "\n")
    val t0 = f1.toFile.lastModified()
    Seq(f2, f3, f4).zipWithIndex.foreach { case (f, i) =>
      assert(f.toFile.setLastModified(t0 + (i + 1) * 10000L))
    }
    val prevNoData =
      spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val lines = spark.readStream.option("lineSep", "\n")
        .option("maxFilesPerTrigger", "1").text(dir.toString)
      val q = CdxStream.sessionizedHostVisits(
        CdxStream.parse(lines.as[String]).toDF())
        .writeStream.format("memory").queryName("sessions_append")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    } finally prevNoData match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
    val got = spark.table("sessions_append")
      .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long)].collect()
      .map(t => (t._1, t._2.toInstant.toString, t._3.toInstant.toString, t._4))
      .toSet
    // one MERGED 4-event session: 00:00/00:10 (batch 1) + 00:20 (batch 2)
    // + 00:50, which sits exactly AT the session end 00:20+30min — the
    // INCLUSIVE boundary merges it, extending the end to 01:20; the
    // 01:21 event is past that end → its own session. Sentinels never
    // emitted.
    assert(got == Set(
      ("org,a", "2012-01-01T00:00:00Z", "2012-01-01T01:20:00Z", 4L),
      ("org,a", "2012-01-01T01:21:00Z", "2012-01-01T01:51:00Z", 1L)))
  }

  test("dayCapStream caps per (urlkey, day) ACROSS micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[String]
    val capped = CdxStream.dayCapStream(CdxStream.parse(ms.toDS()), dayLimit = 2)
    val q = capped.writeStream
      .format("memory").queryName("capped").outputMode("append").start()
    // batch 1: four same-key same-day captures; dayLimit=2 admits 3
    // (the reference-faithful limit+1, same as the batch operator)
    ms.addData(
      line("org,c)/p", "20120101000100", 0),
      line("org,c)/p", "20120101000200", 1),
      line("org,c)/p", "20120101000300", 2),
      line("org,c)/p", "20120101000330", 3))
    q.processAllAvailable()
    assert(spark.table("capped").count() == 3)
    // batch 2: one more same key+day → budget exhausted, 0 admitted;
    // a different day for the same key → fresh budget
    ms.addData(
      line("org,c)/p", "20120101000400", 4),
      line("org,c)/p", "20120102000100", 5))
    q.processAllAvailable()
    val rows = spark.table("capped").as[graft.model.CdxRecord].collect()
    assert(rows.length == 4)
    assert(rows.count(_.timestamp.startsWith("20120101")) == 3)
    assert(rows.count(_.timestamp.startsWith("20120102")) == 1)
    q.stop()
  }

  test("hllUrlkeyDayDistinct: sketch state folds ACROSS micro-batches and " +
      "the emitted summary is bit-equal to the batch aggregator fold") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def dline(key: String, ts: String, digest: String, off: Long): String =
      s"$key $ts http://x.org/ text/html 200 $digest - - 10 $off f.warc.gz"
    val ms = MemoryStream[String]
    val out = CdxStream.hllUrlkeyDayDistinct(
      CdxStream.parse(ms.toDS()), watermarkDelay = "1 second")
    val q = out.writeStream
      .format("memory").queryName("hllcells").outputMode("append").start()
    // host a, day 01: digests split across TWO batches, with a repeat
    ms.addData(
      dline("org,a)/", "20120101000100", "D1", 0),
      dline("org,a)/", "20120101000200", "D2", 1))
    q.processAllAvailable()
    ms.addData(
      dline("org,a)/", "20120101000300", "D2", 2), // dup across batches
      dline("org,a)/", "20120101000400", "D3", 3),
      dline("org,b)/", "20120101000500", "D9", 4))
    q.processAllAvailable()
    assert(spark.table("hllcells").count() == 0) // nothing timed out yet
    // sentinel far past day 01's end: watermark passes, groups emit
    ms.addData(dline("org,zz)/", "20120105000000", "SENT", 5))
    q.processAllAvailable()
    ms.addData(dline("org,zz)/", "20120105000001", "SENT2", 6))
    q.processAllAvailable()
    val got = spark.table("hllcells")
      .as[(String, String, Long, Long, Long)].collect().toSet
    val agg = graft.operators.Sketches.hllGroupAgg(6)
    def expect(digests: Seq[String]) = agg.finish(digests.foldLeft(agg.zero) {
      (b, d) => agg.reduce(b, graft.functions.Md5Codegen.md5Prefix48(
        org.apache.spark.unsafe.types.UTF8String.fromString(d)))
    })
    val ea = expect(Seq("D1", "D2", "D2", "D3"))
    val eb = expect(Seq("D9"))
    assert(got == Set(("org,a)/", "20120101", ea._1, ea._2, ea._3),
      ("org,b)/", "20120101", eb._1, eb._2, eb._3)))
    q.stop()
  }

  test("dayCapStream with dayLimit=0 passes rows through (cap disabled)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[String]
    // must match GlobalCdxCleanup.dayCap(0) — disabled, NOT 1-per-day
    val capped = CdxStream.dayCapStream(CdxStream.parse(ms.toDS()), dayLimit = 0)
    val q = capped.writeStream
      .format("memory").queryName("uncapped").outputMode("append").start()
    ms.addData(
      line("org,c)/p", "20120101000100", 0),
      line("org,c)/p", "20120101000200", 1),
      line("org,c)/p", "20120101000300", 2))
    q.processAllAvailable()
    assert(spark.table("uncapped").count() == 3)
    q.stop()
    // negative dayLimit aborts loudly on this surface too (r19; the
    // batch and streamingLine surfaces got the require in r18 — here it
    // silently admitted NOTHING)
    intercept[IllegalArgumentException] {
      CdxStream.dayCapStream(CdxStream.parse(ms.toDS()), dayLimit = -1)
    }
  }

  test("dedupStream drops same-(urlkey, digest) re-crawls across batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def dline(key: String, ts: String, digest: String, off: Long): String =
      s"$key $ts http://x.org/ text/html 200 $digest - - 10 $off f.warc.gz"
    val ms = MemoryStream[String]
    val deduped = CdxStream.dedupStream(CdxStream.parse(ms.toDS()))
    val q = deduped.writeStream
      .format("memory").queryName("deduped").outputMode("append").start()
    // batch 1: duplicate digest within the batch → 1 kept; a different
    // digest for the same urlkey is NOT a duplicate
    ms.addData(
      dline("org,d)/p", "20120101000100", "AAAA", 0),
      dline("org,d)/p", "20120101000200", "AAAA", 1),
      dline("org,d)/p", "20120101000300", "BBBB", 2))
    q.processAllAvailable()
    assert(spark.table("deduped").count() == 2)
    // batch 2: the same (urlkey, digest) again within the watermark
    // horizon → dropped; a new urlkey with an already-seen digest → kept
    ms.addData(
      dline("org,d)/p", "20120101000400", "AAAA", 3),
      dline("org,e)/p", "20120101000500", "AAAA", 4))
    q.processAllAvailable()
    val rows = spark.table("deduped")
      .select($"urlkey", $"digest").as[(String, String)].collect().toSet
    assert(spark.table("deduped").count() == 3)
    assert(rows == Set(("org,d)/p", "AAAA"), ("org,d)/p", "BBBB"),
      ("org,e)/p", "AAAA")))
    q.stop()
  }

  test("zipnumGenerations: each micro-batch lands as a queryable cluster") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = SparkTestSession.tmpDir("stream-gen")
    val out = root.resolve("clusters").toString
    val ms = MemoryStream[String]
    // fixed boundaries → generations partition-align with each other
    val q = CdxStream.zipnumGenerations(ms.toDS(), out,
      root.resolve("ckpt").toString, linesPerBlock = 2,
      fixedBoundaries = Some(IndexedSeq("org,m")))
    ms.addData(line("org,a)/1", "20120101000000", 0),
      line("org,z)/1", "20120101000100", 1))
    q.processAllAvailable()
    ms.addData(line("org,b)/2", "20120102000000", 2),
      line("org,y)/2", "20120102000100", 3))
    q.processAllAvailable()
    q.stop()
    val gens = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getPath).sorted
    assert(gens.length == 2)
    // every generation is a real cluster: range-queryable via the DSv2
    val back = gens.map(g => spark.read.format("zipnum").load(g))
      .reduce(_ unionByName _)
    assert(back.count() == 4)
    val ranged = gens.map(g => spark.read.format("zipnum").load(g))
      .reduce(_ unionByName _)
      .where($"urlkey" >= "org,a" && $"urlkey" < "org,c")
    assert(ranged.select("urlkey").as[String].collect().sorted.toSeq ==
      Seq("org,a)/1", "org,b)/2"))
  }

  test("zipnumGenerations with NO fixed boundaries pins the first " +
      "batch's sample: later generations shard-align and the merge is " +
      "byte-identical to a batch build on the pinned boundaries") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = SparkTestSession.tmpDir("stream-gen-pin")
    val lines = (0 until 400).map { i =>
      val key = f"org,s${i % 13}%d)/p/$i%05d"
      s"$key 201201010${i % 10}0000 http://s${i % 13}.org/p/$i " +
        s"text/html 200 D$i - - ${100 + i} ${i * 100L} f.warc.gz"
    }
    val gensDir = root.resolve("gens").toString
    val ms = MemoryStream[String]
    val q = CdxStream.zipnumGenerations(ms.toDS(), gensDir,
      root.resolve("ckpt").toString, nShards = 4, linesPerBlock = 40)
    // batch 0: EVEN lines only — the pin is sampled from these alone,
    // so a per-batch resample over batch 1's different (odd) lines
    // would disagree; the pinned file must make both generations shard
    // on batch 0's sample
    ms.addData(lines.zipWithIndex.collect { case (l, i) if i % 2 == 0 => l }: _*)
    q.processAllAvailable()
    val pinFile = new java.io.File(gensDir, "_gen_boundaries")
    assert(pinFile.isFile, "first non-empty batch must persist the pin")
    val pinned = scala.io.Source.fromFile(pinFile, "UTF-8").getLines()
      .filter(_.nonEmpty).toIndexedSeq
    assert(pinned.nonEmpty && pinned == pinned.sorted)
    ms.addData(lines.zipWithIndex.collect { case (l, i) if i % 2 == 1 => l }: _*)
    q.processAllAvailable()
    q.stop()
    val gens = new java.io.File(gensDir).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getPath).sorted.toSeq
    assert(gens.length == 2)
    // both generations carry the SAME shard count (boundary-aligned)
    val shardCounts = gens.map(g => new java.io.File(g).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.endsWith(".idx") && !f.getName.endsWith(".summary")))
    assert(shardCounts.distinct.size == 1,
      s"generations shard differently: $shardCounts")
    // the compaction merge on the PINNED boundaries is byte-identical
    // to a one-shot batch build of all lines on those boundaries
    val mergedDir = root.resolve("merged").toString
    graft.operators.ClusterOps.merge(spark, gens, mergedDir,
      nShards = pinned.size + 1, boundaries = Some(pinned),
      linesPerBlock = 40, overwrite = true)
    val batchDir = root.resolve("batch").toString
    graft.operators.ClusterOps.build(spark, spark.sparkContext
      .parallelize(lines, 3), batchDir, pinned,
      linesPerBlock = 40, overwrite = true)
    def fileMap(d: String): Map[String, Seq[Byte]] =
      new java.io.File(d).listFiles().filter(_.isFile)
        .filterNot(_.getName.startsWith("_"))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val m = fileMap(mergedDir)
    val b = fileMap(batchDir)
    assert(m.keySet == b.keySet)
    for (k <- b.keySet) assert(m(k) == b(k), s"file $k differs")
  }

  test("zipnumGenerations + merge is BYTE-IDENTICAL to one batch build " +
      "of the same lines") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = SparkTestSession.tmpDir("stream-gen-bytes")
    val lines = (0 until 500).map { i =>
      val key = f"org,s${i % 11}%d)/p/$i%05d"
      s"$key 201201010${i % 10}0000 http://s${i % 11}.org/p/$i " +
        s"text/html 200 D$i - - ${100 + i} ${i * 100L} f.warc.gz"
    }
    val bounds = IndexedSeq("org,s2", "org,s5", "org,s8")
    // incremental: two generations (alternating lines), then compaction
    val gensDir = root.resolve("gens").toString
    val ms = MemoryStream[String]
    val q = CdxStream.zipnumGenerations(ms.toDS(), gensDir,
      root.resolve("ckpt").toString, linesPerBlock = 40,
      fixedBoundaries = Some(bounds))
    ms.addData(lines.zipWithIndex.collect { case (l, i) if i % 2 == 0 => l }: _*)
    q.processAllAvailable()
    ms.addData(lines.zipWithIndex.collect { case (l, i) if i % 2 == 1 => l }: _*)
    q.processAllAvailable()
    q.stop()
    val gens = new java.io.File(gensDir).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getPath).sorted.toSeq
    assert(gens.length == 2)
    val mergedDir = root.resolve("merged").toString
    graft.operators.ClusterOps.merge(spark, gens, mergedDir,
      nShards = bounds.size + 1, boundaries = Some(bounds),
      linesPerBlock = 40, overwrite = true)
    // batch reference: ONE build of all lines, same boundaries/blocking
    val batchDir = root.resolve("batch").toString
    graft.operators.ClusterOps.build(spark, spark.sparkContext
      .parallelize(lines, 3), batchDir, bounds,
      linesPerBlock = 40, overwrite = true)
    def fileMap(d: String): Map[String, Seq[Byte]] =
      new java.io.File(d).listFiles().filter(_.isFile)
        .filterNot(_.getName.startsWith("_"))   // commit markers
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val m = fileMap(mergedDir)
    val b = fileMap(batchDir)
    assert(m.keySet == b.keySet)
    for (k <- b.keySet) assert(m(k) == b(k), s"file $k differs")
  }
}
