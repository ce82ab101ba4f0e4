package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Wires for the peripheral source/sink rows of SURVEY §2: S14 recursive
  * listing + extension filter, S15 file-mtime pruning, K6 SequenceFile —
  * all Spark built-ins; these tests pin the option spellings. */
class SourcesSpec extends AnyFunSuite with SparkTestSession {

  private def mkTree(): java.nio.file.Path = {
    val root = SparkTestSession.tmpDir("lsr")
    Files.createDirectories(root.resolve("a/b"))
    Files.writeString(root.resolve("top.cdx"), "top\n")
    Files.writeString(root.resolve("a/mid.cdx"), "mid\n")
    Files.writeString(root.resolve("a/b/deep.cdx"), "deep\n")
    Files.writeString(root.resolve("a/b/skip.txt"), "skip\n")
    Files.writeString(root.resolve("a/.hidden.cdx"), "hidden\n")
    root
  }

  test("S14: recursiveFileLookup + pathGlobFilter (ext + hidden-file rules)") {
    val root = mkTree()
    val got = spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.cdx")
      .textFile(root.toString)
      .collect().toSet
    // hidden files are skipped by the file index, .txt by the glob
    assert(got == Set("top", "mid", "deep"))
  }

  test("S15: modifiedAfter/modifiedBefore prune at the file level") {
    val root = mkTree()
    // push one file's mtime into the past
    Files.setLastModifiedTime(root.resolve("top.cdx"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 24 * 3600 * 1000))
    val recent = spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.cdx")
      .option("modifiedAfter",
        java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
          .minusHours(1).toString.replace("T", "T"))
      .textFile(root.toString)
      .collect().toSet
    assert(recent == Set("mid", "deep"))
    val old = spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.cdx")
      .option("modifiedBefore",
        java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
          .minusHours(1).toString)
      .textFile(root.toString)
      .collect().toSet
    assert(old == Set("top"))
  }

  test("S15: DateFilter expression grammar — all four reference forms") {
    import graft.sources.DateFilterExpr
    import graft.sources.DateFilterExpr._
    val t = "2012-01-03T08:45:08"
    val tMs = 1325580308000L // the above in UTC
    // OP X → mtime OP X
    assert(DateFilterExpr.parse(s"< $t") ==
      DateFilterExpr(None, Some((Lt, tMs))))
    // mtime OP X
    assert(DateFilterExpr.parse(s"mtime >= $t") ==
      DateFilterExpr(None, Some((GtEq, tMs))))
    // X OP mtime (archive-timestamp operand, padded)
    assert(DateFilterExpr.parse("2012 < mtime") ==
      DateFilterExpr(Some((Lt, 1325376000000L)), None))
    // X OP mtime OP2 Y (band)
    assert(DateFilterExpr.parse(s"20120101 <= mtime < $t") ==
      DateFilterExpr(Some((LtEq, 1325376000000L)), Some((Lt, tMs))))
    intercept[IllegalArgumentException] { DateFilterExpr.parse("a b c") }
    intercept[IllegalArgumentException] { DateFilterExpr.parse("x ~ mtime") }
    intercept[IllegalArgumentException] {
      DateFilterExpr.parse("1 < notmtime < 2")
    }
  }

  test("S15: DateFilter directory semantics — lower bounds prune subtrees, upper don't") {
    import graft.sources.DateFilterExpr
    import org.apache.hadoop.fs.Path
    val root = mkTree()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    val old = now - 48 * 3600 * 1000
    // make a/ and everything under it old; top.cdx recent
    Files.setLastModifiedTime(root.resolve("a/b/deep.cdx"),
      java.nio.file.attribute.FileTime.fromMillis(old))
    Files.setLastModifiedTime(root.resolve("a/mid.cdx"),
      java.nio.file.attribute.FileTime.fromMillis(old))
    Files.setLastModifiedTime(root.resolve("a/b"),
      java.nio.file.attribute.FileTime.fromMillis(old))
    Files.setLastModifiedTime(root.resolve("a"),
      java.nio.file.attribute.FileTime.fromMillis(old))
    def names(e: DateFilterExpr) =
      e.listFiles(fs, new Path(root.toString), extSuffix = ".cdx")
        .map(_.getName).toSet
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd'T'HH:mm:ss",
      java.util.Locale.ROOT)
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val cut = fmt.format(new java.util.Date(now - 3600 * 1000))
    // lower bound: old a/ subtree pruned WITHOUT descending; recent kept
    // (.hidden.cdx sits under the pruned a/, so it never surfaces)
    assert(names(DateFilterExpr.parse(s"$cut < mtime")) == Set("top.cdx"))
    // upper bound: directories are NOT pruned (old files inside a
    // recently-modified root must still be found) — only files compare
    assert(names(DateFilterExpr.parse(s"mtime < $cut")) ==
      Set("mid.cdx", "deep.cdx"))
    // band selects nothing older than cut but newer than far future
    assert(names(DateFilterExpr.parse(s"$cut < mtime < 2099")) ==
      Set("top.cdx"))
  }

  test("S15: DateFilter walk — root unfiltered, hidden entries excluded") {
    import graft.sources.DateFilterExpr
    import org.apache.hadoop.fs.Path
    val root = mkTree()
    Files.createDirectories(root.resolve("_temporary"))
    Files.writeString(root.resolve("_temporary/part-0.cdx"), "tmp\n")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 48 * 3600 * 1000
    // ROOT mtime made stale: only its DIRECT entries changed long ago as
    // far as the filter can see, but children are recent — the reference
    // seeds the root unfiltered, so the listing must NOT come back empty
    Files.setLastModifiedTime(root,
      java.nio.file.attribute.FileTime.fromMillis(old))
    // second-granularity UTC bound strictly ABOVE the root's mtime — a
    // day-granularity bound would collapse to midnight and the stale
    // root would pass it anyway, making the guard vacuous
    val bfmt = new java.text.SimpleDateFormat("yyyyMMddHHmmss",
      java.util.Locale.ROOT)
    bfmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val got = DateFilterExpr.parse(
        s"${bfmt.format(new java.util.Date(old + 3600 * 1000))} < mtime")
      .listFiles(fs, new Path(root.toString), extSuffix = ".cdx")
      .map(_.getName).toSet
    assert(got.contains("top.cdx"), "stale root mtime must not empty the walk")
    // hidden entries never surface: in-flight _temporary trees and
    // dot-files are excluded the way every Hadoop input walk excludes them
    assert(!got.contains("part-0.cdx") && !got.contains(".hidden.cdx"))
  }

  test("S15: DateFilter path-valued bound — 'newer than file F'") {
    import graft.sources.DateFilterExpr
    import org.apache.hadoop.fs.Path
    val root = mkTree()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val ref = root.resolve("a/mid.cdx")
    Files.setLastModifiedTime(ref,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000))
    val e = DateFilterExpr.parse(s"$ref < mtime",
      spark.sparkContext.hadoopConfiguration)
    val got = e.listFiles(fs, new Path(root.toString), extSuffix = ".cdx")
      .map(_.getName).toSet
    // everything written "now" is newer than the hour-old reference file
    assert(got.contains("top.cdx") && !got.contains("mid.cdx"))

    // precedence escape hatch: an all-digit name like `2024` parses as a
    // TIMESTAMP (year 2024), but `path:` forces the file's own mtime
    val marker = root.resolve("2024")
    Files.writeString(marker, "marker\n")
    Files.setLastModifiedTime(marker,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000))
    val asDate = DateFilterExpr.parse("2024 < mtime",
      spark.sparkContext.hadoopConfiguration)
    // interpreted as year 2024: nothing in the tree is newer than 2024-01-01?
    // (tree is written "now", 2026) — everything passes, proving date semantics
    assert(asDate.listFiles(fs, new Path(root.toString), ".cdx").nonEmpty)
    val asPath = DateFilterExpr.parse(s"path:$marker < mtime",
      spark.sparkContext.hadoopConfiguration)
    val gotPath = asPath.listFiles(fs, new Path(root.toString), ".cdx")
      .map(_.getName).toSet
    assert(gotPath.contains("top.cdx") && !gotPath.contains("mid.cdx"))
  }

  test("K6: SequenceFile write -> read roundtrip, null-safe") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("seq")
      .resolve("out").toString
    val data = Seq(("k1", "v1"), ("k2", "v2"), (null, "v3"))
    graft.sources.SequenceFileSink.write(data.toDS(), dir)
    val back = graft.sources.SequenceFileSink.read(spark, dir).collect().toSet
    assert(back == Set(("k1", "v1"), ("k2", "v2"), ("", "v3")))
  }

  test("K7 concept: bulk KV sink shards align with explicit boundaries") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("bulk")
      .resolve("out").toString
    val kv = (0 until 100).map(i => (f"k$i%03d", s"v$i"))
    graft.sources.BulkKvSink.write(
      scala.util.Random.shuffle(kv).toDS(), dir, IndexedSeq("k030", "k070"))
    // three shards, each sorted, each within its boundary range
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 3)
    val back = parts.map(f => graft.sources.SequenceFileSink
      .read(spark, f.getPath).collect().toSeq)
    assert(back(0).map(_._1).forall(_ < "k030"))
    assert(back(1).map(_._1).forall(k => k >= "k030" && k < "k070"))
    assert(back(2).map(_._1).forall(_ >= "k070"))
    back.foreach(p => assert(p.map(_._1) == p.map(_._1).sorted))
    assert(back.flatten.toSet == kv.toSet)
    assert(Files.readAllLines(Paths.get(dir, "_boundaries")).toString
      .contains("k030"))
  }

  test("S17 concept: KV range read prunes shards via _boundaries") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("bulkr")
      .resolve("out").toString
    val kv = (0 until 100).map(i => (f"k$i%03d", s"v$i"))
    graft.sources.BulkKvSink.write(
      scala.util.Random.shuffle(kv).toDS(), dir, IndexedSeq("k030", "k070"))
    // range inside the middle shard: only 1 of 3 files opened
    val mid = graft.sources.BulkKvSink.readRange(
      spark, dir, Some("k040"), Some("k060"))
    assert(mid.filesTotal == 3 && mid.filesRead == 1)
    assert(mid.data.collect().map(_._1).sorted.toSeq ==
      (40 until 60).map(i => f"k$i%03d"))
    // range spanning a boundary: 2 files; residual trim still exact
    val span = graft.sources.BulkKvSink.readRange(
      spark, dir, Some("k025"), Some("k035"))
    assert(span.filesRead == 2)
    assert(span.data.collect().map(_._1).sorted.toSeq ==
      (25 until 35).map(i => f"k$i%03d"))
    // unbounded: everything, all files
    val all = graft.sources.BulkKvSink.readRange(spark, dir, None, None)
    assert(all.filesRead == 3 && all.data.count() == 100)
    // end EXACTLY on a shard boundary: that shard holds only keys >= end
    // and must not be opened
    val toBoundary = graft.sources.BulkKvSink.readRange(
      spark, dir, None, Some("k070"))
    assert(toBoundary.filesRead == 2 && toBoundary.data.count() == 70)
  }

  test("K8 concept: versioned bulk writes sort (rowkey asc, ts DESC)") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("bulkv")
      .resolve("out").toString
    val rows = Seq(("a", 10L, "old"), ("a", 30L, "new"), ("a", 20L, "mid"),
      ("b", 5L, "only"))
    graft.sources.BulkKvSink.writeVersioned(
      scala.util.Random.shuffle(rows).toDS(), dir, IndexedSeq.empty)
    val back = graft.sources.SequenceFileSink
      .read(spark, dir + "/part-r-00000").collect().toSeq
    assert(back == Seq(("a", "30\tnew"), ("a", "20\tmid"),
      ("a", "10\told"), ("b", "5\tonly")))
  }

  test("O3: CdxFilter.lines drops header and pseudo-captures") {
    import spark.implicits._
    val in = Seq(" CDX N b a m s k r M S V g", "dns:a.org 2012 x",
      "filedesc://f 2012 x", "warcinfo:/f 2012 x",
      "org,a)/ 2012 x").toDS()
    assert(graft.operators.CdxFilter.lines(in).collect().toSeq ==
      Seq("org,a)/ 2012 x"))
  }

  test("declared table schemas (r22 inference-job removal) match the " +
      "on-disk parquet schemas at every test SF") {
    // tbl() reads declared-schema tables with spark.read.schema(...) —
    // which silently yields NULL columns if the declaration drifts from
    // the files. This pins declared == inferred for every declared
    // table at both small SFs; a testdata regeneration that changes a
    // column fails here loudly.
    for (sf <- Seq("sf0.001", "sf0.01");
         (name, declared) <- SparkEntry.declaredTableSchemas.toSeq.sortBy(_._1)) {
      val path = s"/root/testdata/$sf/$name.parquet"
      assume(java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      val inferred = spark.read.parquet(path).schema
      assert(inferred == declared,
        s"$sf/$name: inferred $inferred != declared $declared")
    }
  }
}

