package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim

/**
 * Scale rehearsals (SCALE.md "three measured decades"), two modes:
 *
 *  - `dedup` (default): replicate the sf0.1 near-dup corpus N times
 *    with disjoint ids — duplication compounds ACROSS copies, the worst
 *    case for candidate generation — run MinHash-LSH → connected
 *    components → keep-min, and report wall time, SparkListener-measured
 *    shuffle volume, and the capped-bucket skip-list size.
 *  - `ann`: replicate the embeddings table N times with deterministic
 *    per-copy perturbation, then run brute-force cosine top-k and
 *    hyperplane-LSH-bucketed top-k over the same queries — the measured
 *    crossover between the exact baseline and the scale path.
 *
 * Usage: runMain graft.ScaleRehearsal [dedup] <copies> [maxBucket] [sfDir]
 *        runMain graft.ScaleRehearsal ann <copies> [numPlanes] [sfDir]
 * (dedup copies=1 ≈ 5.7k docs, 100 ≈ 570k; ann copies=100 ≈ 200k vectors.)
 */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val (mode, rest) = args.headOption match {
      case Some(m) if m == "ann" || m == "dedup" || m == "kmeans" ||
          m == "substr" || m == "chunk" || m == "fuzzydecon" ||
          m == "pagerank" || m == "stream" || m == "media" ||
          m == "semdedup" || m == "spine" || m == "joins" ||
          m == "sketches" =>
        (m, args.drop(1))
      case _ => ("dedup", args)
    }
    val copies = rest.headOption.flatMap(_.toIntOption).getOrElse(100)
    val maxBucket = rest.lift(1).flatMap(_.toIntOption)
      .getOrElse(mode match {
        case "ann" => 12 // numPlanes
        case "kmeans" => 8 // k (seed count)
        case "substr" => 15 // gram window k
        case "chunk" => 10 // chunk width, words (q77's setting)
        case "fuzzydecon" => 41 // eval modulus (every 41st doc, q127)
        case "pagerank" => 3 // iters
        case "stream" => 2 // watermark horizon, hours
        case "media" => 8 // frame-sampling stride
        case "semdedup" => 64 // k (seed count; q81 uses 8 at oracle scale)
        case "spine" => 10 // dupEvery (every Nth doc triplicated, q45's rule)
        case "joins" => 1800 // sessionize gap seconds (q64's setting)
        case "sketches" => 256 // KMV k (q57's setting)
        case _ => 400
      })
    val sfDir = rest.lift(2).getOrElse("/root/testdata/sf0.1")
    val cpus = graft.cli.GraftCli.defaultCpus
    val spark = graft.cli.GraftCli.session("graft-scale-rehearsal", cpus)

    val read = new AtomicLong; val write = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    if (mode == "ann") { annRehearsal(spark, copies, maxBucket, sfDir,
      read, write); spark.stop(); return }
    if (mode == "substr") { substrRehearsal(spark, copies, maxBucket,
      sfDir, read, write); spark.stop(); return }
    if (mode == "chunk") { chunkRehearsal(spark, copies, maxBucket,
      sfDir, read, write); spark.stop(); return }
    if (mode == "fuzzydecon") { fuzzyDeconRehearsal(spark, copies,
      maxBucket, sfDir, read, write); spark.stop(); return }
    if (mode == "pagerank") { pageRankRehearsal(spark, copies, maxBucket,
      sfDir, read, write); spark.stop(); return }
    if (mode == "kmeans") { kmeansRehearsal(spark, copies, maxBucket,
      sfDir, read, write); spark.stop(); return }
    if (mode == "stream") { streamRehearsal(spark, copies, maxBucket,
      sfDir); spark.stop(); return }
    if (mode == "media") { mediaRehearsal(spark, copies, maxBucket,
      sfDir, read, write); spark.stop(); return }
    if (mode == "semdedup") { semDedupRehearsal(spark, copies, maxBucket,
      sfDir, read, write); spark.stop(); return }
    if (mode == "spine") { spineRehearsal(spark, copies, maxBucket,
      sfDir, read, write); spark.stop(); return }
    if (mode == "joins") { joinsRehearsal(spark, copies, maxBucket,
      sfDir, read, write); spark.stop(); return }
    if (mode == "sketches") { sketchesRehearsal(spark, copies, maxBucket,
      sfDir, read, write); spark.stop(); return }

    // the q69 corpus rule (base + appended-text variants), replicated
    // with disjoint id spaces; every copy of a doc is a near-dup of every
    // other copy, so the near-dup graph grows superlinearly in `copies`
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val variants = docs.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graft extra appended")).as("text"))
    val corpus = docs.unionByName(variants)
      .select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
        col("doc_id"), col("text"))
      .select((col("doc_id") + col("__c") * 10000000L).as("doc_id"),
        col("text"))
      .repartition(cpus) // testdata is one row group (SCALE.md caveat)

    import graft.operators.llm.{ConnectedComponents, MinHashLsh}
    // diagnostic count BEFORE t0: it re-runs the replicated-corpus
    // repartition, and inside the timed window it would inflate the wall;
    // its shuffle is excluded from the reported volumes by baselining the
    // listener totals AFTER it (the listener is session-global)
    val nDocs = corpus.count()
    // task-end events are async: drain the bus so the diagnostic count's
    // shuffle lands in the baseline, not the measured window
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (r0, w0) = (read.get, write.get)
    val t0 = System.nanoTime()
    val sh = graft.operators.llm.Shingles
      .explodeShingles(corpus, "doc_id", "text", 3)
    val bands = MinHashLsh.bands(
      MinHashLsh.signature(sh, "doc_id", 6), "doc_id", 6, 2).persist()
    val (pairs, dropped) =
      MinHashLsh.candidatePairsCapped(bands, "doc_id", maxBucket)
    val nDropped = dropped.agg(count(lit(1)), coalesce(sum(col("n_ids")),
      lit(0L))).collect()(0)
    // CC under fixed partitioning, as q69 runs it: AQE's per-iteration
    // coalescing would break the edge-cache/label co-partitioning the
    // iteration count amortizes
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val cc = ConnectedComponents(pairs, "doc_a", "doc_b")
    val stats = cc.agg(count(lit(1)).as("nodes"),
      countDistinct(col("component")).as("components")).collect()(0)
    val lshKeep = corpus.select(col("doc_id"))
      .join(cc.where(col("node") =!= col("component"))
        .select(col("node").as("doc_id")), Seq("doc_id"), "left_anti")
    val keep = lshKeep.count()
    // capped runs stay COMPLETE: exact-dedup follow-up over the skipped
    // buckets' member ids (the keep-set a capped production run emits —
    // compare keptFollowup against an uncapped run's kept to validate
    // the cap+followup pipeline at sizes where uncapped still fits)
    // follow-up timed on its OWN clock: `wall` keeps the pre-round-9
    // definition (LSH+CC+keep only) so decade entries stay comparable
    val tF = System.nanoTime()
    val keepFollowup =
      if (nDropped.getLong(0) == 0L) keep
      else lshKeep.join(
        MinHashLsh.exactDropWithin(corpus, "doc_id", "text",
          bands.join(broadcast(dropped.select(col("band"), col("bh"))),
            Seq("band", "bh")).select(col("doc_id"))),
        Seq("doc_id"), "left_anti").count()
    val wallFollowup = (System.nanoTime() - tF) / 1e9
    val wall = (System.nanoTime() - t0) / 1e9 - wallFollowup
    // snapshot the listener totals at the measurement edge — the
    // summary's own jobs must not inflate the reported volumes (drain so
    // the last job's bytes have actually arrived)
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (readB, writeB) = (read.get - r0, write.get - w0)
    bands.unpersist(blocking = false)

    def mib(v: Long): String = f"${v / 1048576.0}%.1f"
    println(f"[rehearsal] copies=$copies docs=$nDocs " +
      f"nodes=${stats.getLong(0)} components=${stats.getLong(1)} " +
      f"kept=$keep keptFollowup=$keepFollowup " +
      f"droppedBuckets=${nDropped.getLong(0)} " +
      f"droppedIds=${nDropped.getLong(1)} wall=$wall%.1f s " +
      f"wallFollowup=$wallFollowup%.1f s " +
      s"shuffleRead=${mib(readB)} MiB shuffleWrite=${mib(writeB)} MiB")
    spark.stop()
  }

  /** Substring-dedup decades: replicate the documents table N times
    * with disjoint ids — every copy duplicates EVERY span of the
    * original, so each gram's occurrence group grows linearly in
    * `copies` (the worst case for the keep-first window: every group is
    * a skew group of exactly `copies` rows) and all but the first
    * copy's text should vanish. Reports wall, shuffle volume, and the
    * dropped-word mass (whose fraction must approach (copies-1)/copies
    * — a built-in correctness check at every decade). */
  /** Join-family decades (r20 — the family the gate-blindness sweep
    * hardened for correctness, measured at scale): the events table
    * replicated N× with DISJOINT user/event namespaces (+c·10⁶ user,
    * +c·10⁹ event; 10⁶ ≡ 0 mod 8 keeps the interval bucket), so per-user
    * timelines are identical across copies and every result count must
    * scale EXACTLY ×copies — asserted in-run against the copy-0 slice,
    * not just printed. Three one-shuffle operators:
    *   as-of join (purchases × signups per user, union+window),
    *   sessionize (gap sessions + per-session agg),
    *   interval join against a FIXED 24-window set (the production
    *   asymmetry: intervals constant while the fact side grows 100×).
    * The scale claim: each is ONE shuffle on its key, so shuffle bytes
    * track the replicated fact rows linearly and wall stays
    * scan-dominated — no quadratic term anywhere in the family. */
  private def joinsRehearsal(spark: SparkSession, copies: Int,
                             gapSec: Int, sfDir: String,
                             read: AtomicLong, write: AtomicLong): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"),
        // testdata stores TIMESTAMP(MICROS, tz-less) = NTZ; the session
        // tz is pinned UTC, so this cast is value-preserving (the
        // GateSupport.tbl shim, locally)
        col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
    val ev = ev0
      .select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
        col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"))
      .select((col("event_id") + col("__c") * 1000000000L).as("event_id"),
        (col("user_id") + col("__c") * 1000000L).as("user_id"),
        col("ts"), col("event_type"), col("value"))
      .repartition(cpus) // testdata is one row group (SCALE.md caveat)
    val nEvents = ev.count()

    def timed(label: String)(invariant: => Unit): Unit = {
      graftshim.ListenerShim.drain(spark.sparkContext)
      val (r0, w0) = (read.get, write.get)
      val t0 = System.nanoTime()
      invariant
      val wall = (System.nanoTime() - t0) / 1e9
      graftshim.ListenerShim.drain(spark.sparkContext)
      def mib(v: Long): String = f"${v / 1048576.0}%.1f"
      println(f"[rehearsal-joins] $label copies=$copies events=$nEvents " +
        f"wall=$wall%.1f s shuffleRead=${mib(read.get - r0)} MiB " +
        s"shuffleWrite=${mib(write.get - w0)} MiB")
    }

    // copy-0 rows are user_id < 10^6 / event_id < 10^9 by construction
    val isCopy0 = col("user_id") < 1000000L

    timed("asof") {
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val signups = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("sts"),
          col("event_id").as("signup_event"))
      val out = graft.operators.AsOfJoin.latestPrior(
        purchases, signups, Seq("user_id"), "ts", "sts",
        payloadCols = Seq("signup_event"),
        rightTieCols = Seq("signup_event"))
      val s = out.agg(count(lit(1)).as("n"),
        count(col("asof_signup_event")).as("resolved"),
        sum(when(isCopy0, 1L).otherwise(0L)).as("n0"),
        sum(when(isCopy0 && col("asof_signup_event").isNotNull, 1L)
          .otherwise(0L)).as("resolved0")).collect()(0)
      require(s.getLong(0) == copies * s.getLong(2) &&
        s.getLong(1) == copies * s.getLong(3),
        s"asof not replication-exact: $s vs copies=$copies")
      println(s"[rehearsal-joins] asof rows=${s.getLong(0)} " +
        s"resolved=${s.getLong(1)} (copy0 ${s.getLong(3)} x $copies exact)")
    }

    timed("sessionize") {
      val out = graft.operators.Sessionize(
          ev.select(col("user_id"), col("event_id"), col("ts"), col("value")),
          "user_id", "ts", gapSeconds = gapSec.toLong, tieCol = "event_id")
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"))
      val s = out.agg(count(lit(1)).as("sessions"),
        sum(when(isCopy0, 1L).otherwise(0L)).as("sessions0"),
        sum(col("n_events")).as("rows")).collect()(0)
      require(s.getLong(0) == copies * s.getLong(1) &&
        s.getLong(2) == nEvents,
        s"sessionize not replication-exact: $s vs copies=$copies")
      println(s"[rehearsal-joins] sessionize sessions=${s.getLong(0)} " +
        s"(copy0 ${s.getLong(1)} x $copies exact, all $nEvents rows placed)")
    }

    timed("interval") {
      val windows = spark.range(24).select(col("id").as("win_id"),
        (col("id") % 8).as("bucket"),
        expr("timestampadd(HOUR, CAST(id * 30 AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00')").as("ws"),
        expr("timestampadd(HOUR, CAST(id * 30 + 6 AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00')").as("we"))
      val facts = ev.select(col("event_id"), col("ts"),
        (col("user_id") % 8).as("ebucket"),
        isCopy0.as("__c0"))
      val out = graft.operators.IntervalJoin.byDay(
        facts, "ebucket", "ts", windows, "bucket", "ws", "we")
      val s = out.agg(count(lit(1)).as("n"),
        sum(when(col("__c0"), 1L).otherwise(0L)).as("n0")).collect()(0)
      require(s.getLong(0) == copies * s.getLong(1),
        s"interval join not replication-exact: $s vs copies=$copies")
      println(s"[rehearsal-joins] interval matches=${s.getLong(0)} " +
        s"(copy0 ${s.getLong(1)} x $copies exact; 24 windows fixed)")
    }
  }

  /** Sketch-family decades (r20): the family's scale claim is unlike
    * any other — under pure DUPLICATION (the corpus replicated with the
    * SAME values, not disjoint ids) the sketches must come out
    * BIT-IDENTICAL at every decade (KMV mins are the bottom-k distinct
    * hashes; HLL registers are per-bucket rank maxima — both are
    * functions of the distinct value SET alone), while shuffle stays
    * ~flat (bounded mergeable buffers: ≤ k×partitions rows for KMV,
    * ≤ m registers per bucket group for HLL — never the row count).
    * Both claims asserted in-run: the replicated corpus's summaries are
    * require'd row-equal to the base corpus's, computed once outside
    * the timed sections. */
  private def sketchesRehearsal(spark: SparkSession, copies: Int, k: Int,
                                sfDir: String, read: AtomicLong,
                                write: AtomicLong): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    val base = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_custkey").cast("long").as("v"))
    val corpus = base
      .select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
        col("v"))
      .select(col("v")) // SAME values: duplication, not new identities
      .repartition(cpus) // testdata is one row group (SCALE.md caveat)
      // persist + materialize BEFORE timing: the fan-out repartition is
      // harness scaffolding (the one-row-group caveat), and un-cached it
      // would re-execute inside every timed section and drown the
      // sketch's own exchange — the number under test — in raw-row bytes
      .persist()
    val nRows = corpus.count()

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    import graft.operators.Sketches
    def kmv(d: org.apache.spark.sql.DataFrame) = Sketches.kmvDistinct(d, "v", k)
    def hll(d: org.apache.spark.sql.DataFrame) = Sketches.hllDistinct(d, "v", 6)
    val sk = udaf(Sketches.hllGroupAgg(6))
    def hllGroups(d: org.apache.spark.sql.DataFrame) =
      d.select((col("v") % 20).as("g"), Sketches.hash48Col(col("v")).as("hv"))
        .groupBy(col("g")).agg(sk(col("hv")).as("h"))
        .select(col("g"), col("h._1").as("filled"), col("h._2").as("s"),
          col("h._3").as("est"))
    // base summaries once, outside the timed sections
    val baseKmv = rows(kmv(base))
    val baseHll = rows(hll(base))
    val baseGroups = rows(hllGroups(base))

    def timed(label: String)(got: => Seq[String], want: Seq[String]): Unit = {
      graftshim.ListenerShim.drain(spark.sparkContext)
      val (r0, w0) = (read.get, write.get)
      val t0 = System.nanoTime()
      val g = got
      val wall = (System.nanoTime() - t0) / 1e9
      graftshim.ListenerShim.drain(spark.sparkContext)
      require(g == want,
        s"$label sketch not duplication-invariant at copies=$copies: " +
          s"got $g, want $want")
      def mib(v: Long): String = f"${v / 1048576.0}%.1f"
      println(f"[rehearsal-sketches] $label copies=$copies rows=$nRows " +
        f"wall=$wall%.1f s shuffleRead=${mib(read.get - r0)} MiB " +
        s"shuffleWrite=${mib(write.get - w0)} MiB " +
        "(summary BIT-EQUAL to the base corpus's)")
    }

    timed("kmv")(rows(kmv(corpus)), baseKmv)
    timed("hll")(rows(hll(corpus)), baseHll)
    timed("hll-groups")(rows(hllGroups(corpus)), baseGroups)
    corpus.unpersist(blocking = false)
  }

  private def substrRehearsal(spark: SparkSession, copies: Int, k: Int,
                              sfDir: String, read: AtomicLong,
                              write: AtomicLong): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val corpus = docs
      .select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
        col("doc_id"), col("text"))
      .select((col("doc_id") + col("__c") * 10000000L).as("doc_id"),
        col("text"))
      .repartition(cpus) // testdata is one row group (SCALE.md caveat)
    val nDocs = corpus.count()
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (r0, w0) = (read.get, write.get)
    val t0 = System.nanoTime()
    val out = graft.operators.llm.TextAnalysis.substringDedup(
      corpus, "doc_id", "text", k)
    val stats = out.agg(count(lit(1)).as("docs"),
      sum(col("n_kept")).as("kept"),
      sum(col("n_dropped")).as("dropped")).collect()(0)
    val wall = (System.nanoTime() - t0) / 1e9
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (readB, writeB) = (read.get - r0, write.get - w0)
    def mib(v: Long): String = f"${v / 1048576.0}%.1f"
    val kept = stats.getLong(1); val dropped = stats.getLong(2)
    println(f"[rehearsal] substr copies=$copies docs=$nDocs k=$k " +
      f"kept=$kept dropped=$dropped " +
      f"dropFrac=${dropped.toDouble / (kept + dropped)}%.4f " +
      f"wall=$wall%.1f s shuffleRead=${mib(readB)} MiB " +
      s"shuffleWrite=${mib(writeB)} MiB")
  }

  /** Chunk-dedup decades ([[graft.operators.llm.TextAnalysis.chunkDedup]],
    * the C4-style aligned-chunk rule behind q77): replicate the documents
    * table N times with disjoint ids — chunking is alignment-stable, so
    * every chunk of every copy > 0 was already seen in copy 0 and those
    * documents must VANISH entirely (keep-first is global (doc, pos)
    * order and copy 0 holds the smallest ids). docsOut/docsIn converging
    * to 1/copies is the built-in correctness check at every decade; the
    * scale claim under test is the two map-side-combinable aggs (no
    * window over every occurrence, no join back), so shuffle should
    * track the DISTINCT chunk vocabulary (~flat across copies) plus the
    * surviving docs' reassembly — NOT total occurrence volume. */
  private def chunkRehearsal(spark: SparkSession, copies: Int, cw: Int,
                             sfDir: String, read: AtomicLong,
                             write: AtomicLong): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val corpus = docs
      .select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
        col("doc_id"), col("text"))
      .select((col("doc_id") + col("__c") * 10000000L).as("doc_id"),
        col("text"))
      .repartition(cpus) // testdata is one row group (SCALE.md caveat)
    val nDocs = corpus.count()
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (r0, w0) = (read.get, write.get)
    val t0 = System.nanoTime()
    val out = graft.operators.llm.TextAnalysis.chunkDedup(
      corpus, "doc_id", "text", cw)
    val stats = out.agg(count(lit(1)).as("docsOut"),
      sum(col("n_kept")).as("chunksKept")).collect()(0)
    val wall = (System.nanoTime() - t0) / 1e9
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (readB, writeB) = (read.get - r0, write.get - w0)
    def mib(v: Long): String = f"${v / 1048576.0}%.1f"
    println(f"[rehearsal] chunk copies=$copies docs=$nDocs cw=$cw " +
      f"docsOut=${stats.getLong(0)} chunksKept=${stats.getLong(1)} " +
      f"docsOutFrac=${stats.getLong(0).toDouble / nDocs}%.4f " +
      f"wall=$wall%.1f s shuffleRead=${mib(readB)} MiB " +
      s"shuffleWrite=${mib(writeB)} MiB")
  }

  /** Fuzzy-decontamination decades (q127's
    * [[graft.operators.llm.TextAnalysis.fuzzyContamination]]): the
    * CORPUS replicates N× with disjoint ids while the EVAL SET stays
    * FIXED (the base table's every-`evalMod`-th doc + appended tail) —
    * the production asymmetry, where benchmarks don't grow with the
    * crawl. Claims under test: wall tracks the corpus linearly (the
    * signature pipeline is map-side + one groupBy-doc agg), the
    * broadcast eval bucket set is constant across decades, and the HIT
    * COUNT grows exactly linearly in copies (every copy of a flagged
    * base doc flags identically — alignment is id-independent), which
    * is the built-in correctness check. */
  private def fuzzyDeconRehearsal(spark: SparkSession, copies: Int,
                                  evalMod: Int, sfDir: String,
                                  read: AtomicLong,
                                  write: AtomicLong): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val corpus = docs
      .select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
        col("doc_id"), col("text"))
      .select((col("doc_id") + col("__c") * 10000000L).as("doc_id"),
        col("text"))
      .repartition(cpus) // testdata is one row group (SCALE.md caveat)
    val evalDf = docs.where(col("doc_id") % evalMod === 0)
      .select(concat(col("text"), lit(" benchmark answer key"))
        .as("etext"))
    val nDocs = corpus.count()
    val nEval = evalDf.count()
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (r0, w0) = (read.get, write.get)
    val t0 = System.nanoTime()
    val out = graft.operators.llm.TextAnalysis.fuzzyContamination(
      corpus, "doc_id", "text", evalDf, "etext")
    val stats = out.agg(count(lit(1)).as("flagged"),
      sum(col("n_bands_hit")).as("bandHits")).collect()(0)
    val wall = (System.nanoTime() - t0) / 1e9
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (readB, writeB) = (read.get - r0, write.get - w0)
    def mib(v: Long): String = f"${v / 1048576.0}%.1f"
    println(f"[rehearsal] fuzzydecon copies=$copies docs=$nDocs " +
      f"evalDocs=$nEval flagged=${stats.getLong(0)} " +
      f"flaggedPerCopy=${stats.getLong(0).toDouble / copies}%.1f " +
      f"bandHits=${stats.getLong(1)} wall=$wall%.1f s " +
      f"shuffleRead=${mib(readB)} MiB shuffleWrite=${mib(writeB)} MiB")
  }

  /** Media frame-sampling decades — measures the LAZINESS claim with a
    * clock, not an oracle: the same persisted corpus of real video
    * containers (AVI / MP4 / MKV round-robin, 24 DC-only JPEG frames
    * each) is frame-sampled at stride 1 (decode everything) and at
    * `stride` (decode 1-in-N). The container payloads are built and
    * PERSISTED off the clock so the timed window contains only walk +
    * decode; shuffle volumes are reported to pin the map-only shape
    * (expected: 0 MiB at every decade — the output agg's k-row
    * exchange only). A sampler that eagerly decoded every frame would
    * show wall(stride N) ~= wall(stride 1); the real walks show
    * wall(stride N) tracking the kept-frame fraction plus the O(frames)
    * container walk floor. */
  private def mediaRehearsal(spark: SparkSession, copies: Int, stride: Int,
                             sfDir: String, read: AtomicLong,
                             write: AtomicLong): Unit = {
    import spark.implicits._
    import graft.operators.llm.{AviCodec, JpegCodec, MkvCodec, Mp4Codec,
      MultimodalOps}
    val cpus = spark.sparkContext.defaultParallelism
    val nFrames = 24
    val media = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"))
      .select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
        col("doc_id"))
      .select((col("doc_id") + col("__c") * 10000000L).as("doc_id"))
      .repartition(cpus) // testdata is one row group (SCALE.md caveat)
      .as[Long]
      .map { id =>
        val frames = (0 until nFrames).map { fi =>
          val yv = 16 + 8 * ((id + 5 * fi) % 24).toInt
          JpegCodec.encodeJpeg(8, 8, 3, 1, JpegCodec.flatQuant,
            JpegCodec.flatQuant, 0, (_, _) => (yv, 130, 140))
        }
        (id % 3) match {
          case 0 => MultimodalOps.MediaRecord(id,
            AviCodec.encodeAviMjpeg(8, 8, 10, frames), "avi", 8, 8)
          case 1 => MultimodalOps.MediaRecord(id,
            Mp4Codec.encodeMp4Mjpeg(8, 8, 10, frames), "mp4", 8, 8)
          case _ => MultimodalOps.MediaRecord(id,
            MkvCodec.encodeMkvMjpeg(8, 8, frames), "mkv", 8, 8)
        }
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = media.count() // build payloads OFF the clock
    def mib(v: Long): String = f"${v / 1048576.0}%.1f"
    Seq(1, stride).foreach { s =>
      graftshim.ListenerShim.drain(spark.sparkContext)
      val (r0, w0) = (read.get, write.get)
      val t0 = System.nanoTime()
      val stats = MultimodalOps.frameSample(media, frameSize = 64, s)
        .agg(count(lit(1)).as("frames"),
          sum(col("frame_bytes")).as("decodedBytes")).collect()(0)
      val wall = (System.nanoTime() - t0) / 1e9
      graftshim.ListenerShim.drain(spark.sparkContext)
      val (readB, writeB) = (read.get - r0, write.get - w0)
      println(f"[rehearsal] media copies=$copies docs=$nDocs " +
        f"framesPerDoc=$nFrames stride=$s kept=${stats.getLong(0)} " +
        f"decodedBytes=${stats.getLong(1)} wall=$wall%.2f s " +
        f"shuffleRead=${mib(readB)} MiB shuffleWrite=${mib(writeB)} MiB")
    }
    media.unpersist()
  }

  /** SemDeDup decades (q81's shape: trained k-means clusters as prune
    * buckets, cosine near-dup keep-min-id within clusters): replicate
    * the embeddings table EXACTLY N times with disjoint ids. Exact
    * replication makes the invariant closed-form: centroid training is
    * replication-invariant (every vector's weight scales uniformly and
    * the seeds are the copy-0 rows, so the trained centroids are
    * IDENTICAL at every decade), every copy of a base vector therefore
    * lands in the same cluster, every non-copy-0 instance is dropped by
    * its identical copy-0 twin (cos = 1, smaller id), and a copy-0
    * instance survives iff it survived at 1× — so KEPT is a CONSTANT
    * across decades and every survivor id is below the copy stride
    * (both printed; either drifting falsifies the pipeline). The cost
    * under test is the within-cluster pair expansion Σ cluster²:
    * cluster COUNT is fixed (k seeds) while cluster SIZE grows ~copies,
    * so pair count grows ~copies² — the quadratic a production SemDeDup
    * bounds by scaling K with the corpus (cluster size held constant);
    * the decades measure that quadratic honestly rather than hiding it.
    * localBelow=0 keeps Lloyd on the distributed path (the 100 TB
    * regime), and train/prune walls are reported separately since
    * training amortizes over reruns at different thresholds. */
  private def semDedupRehearsal(spark: SparkSession, copies: Int, k: Int,
                                sfDir: String, read: AtomicLong,
                                write: AtomicLong): Unit = {
    import graft.operators.llm.{AnnOps, KMeans}
    val cpus = spark.sparkContext.defaultParallelism
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
        col("vec_id"), col("embedding"))
      .select((col("vec_id") + col("__c") * 10000000L).as("vec_id"),
        col("embedding"))
      .repartition(cpus) // testdata is one row group (SCALE.md caveat)
      .persist()
    val n = corpus.count()
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (r0, w0) = (read.get, write.get)
    val t0 = System.nanoTime()
    // seeds are copy-0 rows only (replica ids start at the 1e7 stride).
    // The assignment is PERSISTED and materialized by the sizes agg
    // inside the train window: the prune query consumes `clusters`
    // twice (the join side and the keep-side anti-join), and without
    // the cache each consumer re-derives the full-corpus argmax scan —
    // pruneWall would charge ~2 redundant assignment passes to the
    // quantity the decades claim to measure
    val clusters = KMeans.lloyd(corpus, "vec_id", "embedding",
      seedPred = col("vec_id") < k, iters = 3, localBelow = 0L).persist()
    val sizes = clusters.groupBy(col("cluster")).count()
      .agg(count(lit(1)).as("k"), max(col("count")).as("mx")).collect()(0)
    val trainWall = (System.nanoTime() - t0) / 1e9
    val tP = System.nanoTime()
    val drops = AnnOps.withinBucketCosinePairs(
      corpus.join(clusters, "vec_id"), "vec_id", "embedding", "cluster",
      minCos2Bp = 500L)
      .select(col("vec_b").as("vec_id"))
    val stats = clusters.join(drops, Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("kept"), max(col("vec_id")).as("maxId"))
      .collect()(0)
    val pruneWall = (System.nanoTime() - tP) / 1e9
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (readB, writeB) = (read.get - r0, write.get - w0)
    def mib(v: Long): String = f"${v / 1048576.0}%.1f"
    println(f"[rehearsal] semdedup copies=$copies vectors=$n k=$k " +
      f"clusters=${sizes.getLong(0)} maxCluster=${sizes.getLong(1)} " +
      f"kept=${stats.getLong(0)} keptAllCopy0=${stats.getLong(1) < 10000000L} " +
      f"trainWall=$trainWall%.1f s pruneWall=$pruneWall%.1f s " +
      f"shuffleRead=${mib(readB)} MiB shuffleWrite=${mib(writeB)} MiB")
    clusters.unpersist(blocking = false)
    corpus.unpersist(blocking = false)
  }

  /** ZipNum spine decades — the cluster-build → global-cleanup-merge →
    * range-serve pipeline (the operator family with r18 correctness
    * churn: prune bound, boundary truncation, day-counter semantics).
    * Corpus: one well-formed CDX line per (copy, doc) under per-copy
    * DISJOINT urlkey namespaces (`org,c<copy>)/...`), with every
    * `dupEvery`-th doc TRIPLICATED across three input clusters (q45's
    * rule) — so the global-CDX day cap (dayLimit=1 admits 2) has a
    * CLOSED-FORM output size: mergedRows == copies × (nBase + nSub),
    * exact at every decade, asserted in-run. Also asserted: the merged
    * cluster's block layout aligns with the merge boundaries (every
    * block's firstKey inside its shard's [lo, hi) range — the
    * zero-shuffle merge's structural contract), and a one-namespace
    * range serve returns exactly nBase + nSub rows. Phases are timed
    * and shuffle-metered separately: BUILD pays the one boundary
    * shuffle, MERGE must stay ZERO-shuffle at every decade (aligned
    * block-pruned reads + heap merge — a nonzero merge shuffle
    * falsifies the design), SERVE reads only pruned blocks. */
  private def spineRehearsal(spark: SparkSession, copies: Int, dupEvery: Int,
                             sfDir: String, read: AtomicLong,
                             write: AtomicLong): Unit = {
    import spark.implicits._
    val cpus = spark.sparkContext.defaultParallelism
    val conf = spark.sparkContext.hadoopConfiguration
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "spine-rehearsal").toString

    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("id"))
    val nBase = ids.count()
    val nSub = ids.where(col("id") % dupEvery === 0).count()
    def lineCol = concat(
      lit("org,c"), col("__c"), lit(")/s"), col("id") % 23,
      lit("/p/"), col("id"),
      lit(" 201201010000"), lpad((col("id") % 60).cast("string"), 2, "0"),
      lit(" http://c"), col("__c"), lit(".org/p/"), col("id"),
      lit(" text/html 200 DIGEST"), col("id"), lit(" - - 100 "),
      col("id") * 1000L, lit(" w.warc.gz"))
    def corpus(sub: Boolean) = ids
      .where(if (sub) col("id") % dupEvery === 0 else lit(true))
      .select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
        col("id"))
      .select(lineCol.as("line")).as[String].rdd

    // ---- BUILD: three input clusters (full + two duplicate subsets)
    graftshim.ListenerShim.drain(spark.sparkContext)
    var (r0, w0) = (read.get, write.get)
    val t0 = System.nanoTime()
    val all = corpus(sub = false)
    val bounds = operators.Boundaries.sample(all, cpus)
    operators.ClusterOps.build(spark, all, s"$base/a", bounds,
      linesPerBlock = 300, overwrite = true)
    operators.ClusterOps.build(spark, corpus(sub = true), s"$base/b", bounds,
      linesPerBlock = 100, overwrite = true)
    operators.ClusterOps.build(spark, corpus(sub = true), s"$base/c", bounds,
      linesPerBlock = 150, overwrite = true)
    val buildWall = (System.nanoTime() - t0) / 1e9
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (buildRead, buildWrite) = (read.get - r0, write.get - w0)

    // ---- MERGE: zero-shuffle aligned heap merge + streaming day cap
    r0 = read.get; w0 = write.get
    val t1 = System.nanoTime()
    val inputs = Seq(s"$base/a", s"$base/b", s"$base/c")
    operators.ClusterOps.merge(spark, inputs, s"$base/merged", nShards = cpus,
      globalCdx = true, dayLimit = 1, linesPerBlock = 300,
      overwrite = true)
    val mergeWall = (System.nanoTime() - t1) / 1e9
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (mergeRead, mergeWrite) = (read.get - r0, write.get - w0)

    // closed-form output size: non-dup docs admit 1 of 1, triplicated
    // docs admit 2 of 3 (dayLimit=1 admits dayLimit+1) — per copy
    // namespace, so linear in copies EXACTLY
    val expected = copies * (nBase + nSub)
    val mergedRows = sources.zipnum.ZipNumReader
      .localLines(conf, s"$base/merged").size
    require(mergedRows == expected,
      s"spine invariant violated: merged rows $mergedRows != " +
        s"copies×(nBase+nSub) = $expected — day cap or merge lost/dup'd rows")
    // boundary alignment: every merged block's firstKey must sit inside
    // its shard's [lo, hi) range under the SAME boundaries merge derived
    // (fromClusterSummaries is deterministic) — the structural contract
    // that makes the per-partition day counter exact
    val mergeBounds = operators.Boundaries.fromClusterSummaries(inputs, cpus, conf)
    val part = new operators.BoundaryPartitioner(mergeBounds)
    val idx = sources.zipnum.ZipNumIndex.load(s"$base/merged", conf)
    idx.blocks.foreach { b =>
      val shard = "\\d+".r.findFirstIn(b.part).get.toInt
      require(shard == part.getPartition(b.firstKey),
        s"spine invariant violated: block ${b.firstKey} in ${b.part} is " +
          "outside its merge-boundary range")
    }

    // ---- SERVE: one copy-namespace range off the merged cluster
    val (servStart, servEnd) = ("org,c1)", "org,c1*") // ')'+1 = '*'
    val prunedBlocks = idx.prune(Some(servStart), Some(servEnd)).size
    r0 = read.get; w0 = write.get
    val t2 = System.nanoTime()
    val served = operators.ClusterOps
      .range(conf, Some(servStart), Some(servEnd), Seq(s"$base/merged")).size
    val serveWall = (System.nanoTime() - t2) / 1e9
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (serveRead, serveWrite) = (read.get - r0, write.get - w0)
    require(copies < 2 || served == nBase + nSub,
      s"spine invariant violated: served $served != ${nBase + nSub} rows " +
        "for one copy namespace")

    def mib(v: Long): String = f"${v / 1048576.0}%.1f"
    println(f"[rehearsal] spine copies=$copies lines=${copies * (nBase + 2 * nSub)} " +
      f"mergedRows=$mergedRows (exact) " +
      f"buildWall=$buildWall%.1f s buildShuffleRW=${mib(buildRead)}/" +
      f"${mib(buildWrite)} MiB " +
      f"mergeWall=$mergeWall%.1f s mergeShuffleRW=${mib(mergeRead)}/" +
      f"${mib(mergeWrite)} MiB " +
      f"serveWall=$serveWall%.2f s served=$served " +
      f"prunedBlocks=$prunedBlocks/${idx.blocks.size} " +
      f"serveShuffleRW=${mib(serveRead)}/${mib(serveWrite)} MiB")
  }

  /** PageRank decades — the DISTRIBUTED power-iteration path
    * (localBelow = 0, the plan q96's endgame bypasses at oracle scale):
    * each copy contributes a disjoint 97-node subgraph plus a chain
    * edge into the next copy's subgraph, so node and edge counts BOTH
    * scale linearly and the rank mass still flows across the whole
    * graph (one connected component, not an embarrassingly-parallel
    * forest). Reports wall, shuffle volume, and a rank checksum. */
  private def pageRankRehearsal(spark: SparkSession, copies: Int, iters: Int,
                                sfDir: String, read: AtomicLong,
                                write: AtomicLong): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"))
    val edges = docs
      .select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
        col("doc_id"))
      .select(
        (col("doc_id") % 97 + col("__c") * 97).as("src"),
        ((col("doc_id") * 31 + 7) % 97 + col("__c") * 97).as("dst"))
      .union(spark.range(copies.toLong).select(
        (col("id") * 97).as("src"),
        (((col("id") + 1) % copies) * 97).as("dst")))
      .repartition(cpus) // testdata is one row group (SCALE.md caveat)
    val nEdges = edges.count()
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (r0, w0) = (read.get, write.get)
    val t0 = System.nanoTime()
    val pr = graft.operators.GraphOps.pageRank(edges, "src", "dst", iters)
    val stats = pr.agg(count(lit(1)).as("n"),
      sum(col("pr")).as("mass"), min(col("pr")).as("mn"),
      max(col("pr")).as("mx")).collect()(0)
    val wall = (System.nanoTime() - t0) / 1e9
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (readB, writeB) = (read.get - r0, write.get - w0)
    def mib(v: Long): String = f"${v / 1048576.0}%.1f"
    println(f"[rehearsal] pagerank copies=$copies edges=$nEdges " +
      f"iters=$iters nodes=${stats.getLong(0)} mass=${stats.getLong(1)} " +
      f"minPr=${stats.getLong(2)} maxPr=${stats.getLong(3)} " +
      f"wall=$wall%.1f s shuffleRead=${mib(readB)} MiB " +
      s"shuffleWrite=${mib(writeB)} MiB")
  }

  /** ANN decades: brute-force cosine top-k vs hyperplane-LSH-bucketed
    * top-10 over the replicated (deterministically perturbed) embedding
    * corpus — same queries, same integer dot scoring; the rehearsal
    * measures the exact baseline's quadratic growth against the bucketed
    * path's. */
  private def annRehearsal(spark: SparkSession, copies: Int, numPlanes: Int,
                           sfDir: String, read: AtomicLong,
                           write: AtomicLong): Unit = {
    import graft.operators.llm.{AnnOps, KMeans}
    val dim = 64
    val big = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
        col("vec_id"), col("embedding"))
      .select((col("vec_id") + col("__c") * 10000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> x + CAST((__c * 31 + i) % 13 " +
          "AS FLOAT) * CAST(0.001 AS FLOAT))").as("embedding"))
      .repartition(spark.sparkContext.defaultParallelism)
      // both paths probe the same corpus: the rehearsal times the top-k
      // plans, not the replication scaffolding
      .persist()
    val n = big.count()
    val queries = col("vec_id") < 3

    def timed(label: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      graftshim.ListenerShim.drain(spark.sparkContext)
      val (r0, w0) = (read.get, write.get)
      val t0 = System.nanoTime()
      val rows = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      graftshim.ListenerShim.drain(spark.sparkContext)
      def mib(v: Long): String = f"${v / 1048576.0}%.1f"
      println(f"[rehearsal-ann] $label copies=$copies vectors=$n " +
        f"rows=$rows wall=$wall%.2f s " +
        s"shuffleRead=${mib(read.get - r0)} MiB " +
        s"shuffleWrite=${mib(write.get - w0)} MiB")
    }

    val brute = AnnOps.bruteTopK(big, "vec_id", "embedding", queries, 10)
    val single = AnnOps.hyperplaneTopK(
      big, "vec_id", "embedding", queries, numPlanes, dim, 10)
    val multi = AnnOps.hyperplaneTopK(
      big, "vec_id", "embedding", queries, numPlanes, dim, 10,
      probes = numPlanes)
    // PQ in its production shape: per-subspace k-means codebooks
    // trained on the corpus (one-time), codes MATERIALIZED once
    // (one-time ingest), then ADC search over the CODE TABLE — the
    // search plan never reads a vector. Train + encode are timed
    // separately because they amortize over every later query batch.
    val tT = System.nanoTime()
    val pqCbs = AnnOps.pqTrain(big, "vec_id", "embedding",
      seedPred = col("vec_id") < 16, mSub = 4, dim = dim)
    val trainWall = (System.nanoTime() - tT) / 1e9
    val pqCodes = AnnOps.pqEncodeWithCodebooks(
      big, "vec_id", "embedding", pqCbs, dim).persist()
    val tE = System.nanoTime()
    pqCodes.count()
    val encodeWall = (System.nanoTime() - tE) / 1e9
    println(f"[rehearsal-ann] pq one-time: train=$trainWall%.2f s " +
      f"encode=$encodeWall%.2f s (k=${pqCbs.head.length} codes/subspace)")
    val pq = AnnOps.pqTopKFromCodes(pqCodes, "vec_id", "codes",
      big.where(queries), "vec_id", "embedding", pqCbs, dim, 10)
    // the production recall fix: 16x over-scanned ADC shortlist,
    // exact re-rank of that shortlist only
    val pqRerank = AnnOps.exactRerank(
      AnnOps.pqTopKFromCodes(pqCodes, "vec_id", "codes",
        big.where(queries), "vec_id", "embedding", pqCbs, dim, 10 * 16),
      big, "vec_id", "embedding", queries, 10)
    // the composed billion-scale architecture (q128's shape): trained
    // coarse buckets prune candidates, trained PQ codes price the scan
    val tC = System.nanoTime()
    val coarseCb = KMeans.codebook(big, "vec_id", "embedding",
      seedPred = col("vec_id") < 16, iters = 3)
    val coarseWall = (System.nanoTime() - tC) / 1e9
    println(f"[rehearsal-ann] ivfpq one-time: coarse train=$coarseWall%.2f s " +
      s"(${coarseCb.length} buckets)")
    val ivfPq = AnnOps.ivfPqTopK(big, "vec_id", "embedding", coarseCb,
      queries, pqCbs, dim, 10)
    timed("brute")(brute)
    timed(s"hyperplane(p=$numPlanes,probes=0)")(single)
    timed(s"hyperplane(p=$numPlanes,probes=$numPlanes)")(multi)
    timed("pq-adc-search(m=4,trained)")(pq)
    timed("pq-rerank(overscan=16)")(pqRerank)
    timed("ivfpq(trained coarse+pq)")(ivfPq)

    // recall vs the exact top-10 (untimed diagnostic): the production
    // quality metric for the scale path — multi-probe exists because
    // single-probe recall collapses at low corpus density (SCALE.md).
    // Top-k outputs are <= queries×k rows, so compare COLLECTED sets —
    // a join against the un-cached brute plan would re-run the exact
    // cross-scoring (the rehearsal's most expensive plan) per recall
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("cand_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(brute)
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      if (truth.isEmpty) 1.0
      else (pairs(df) intersect truth).size.toDouble / truth.size
    println(f"[rehearsal-ann] recall@10 single=${recall(single)}%.3f " +
      f"multi(probes=$numPlanes)=${recall(multi)}%.3f " +
      f"pq(trained)=${recall(pq)}%.3f " +
      f"pq+rerank(16x)=${recall(pqRerank)}%.3f " +
      f"ivfpq=${recall(ivfPq)}%.3f")
    pqCodes.unpersist(blocking = false)
    big.unpersist(blocking = false)
  }

  /** Streaming decades: state-store size and micro-batch latency for the
    * two stateful streaming operators across input scale — the property
    * under test is that state tracks the WATERMARK HORIZON, not the
    * stream's lifetime length.
    *
    * Input: one CDX file per copy (mtime-staggered, maxFilesPerTrigger=1
    * → one micro-batch per copy), each copy spanning <2 h of event time
    * and starting 3 h after the previous — so with a `horizonHours`=2
    * watermark each batch fully ages out the previous batch's state.
    * Within a copy, digests collide heavily (md5(source), ~|sources|
    * distinct per copy) so the dedup actually drops rows.
    *
    * Bounds asserted by the design and verified by the printout:
    *  - dedupStream: state rows <= distinct (urlkey, digest) per horizon
    *    (~ one copy's distinct keys), REGARDLESS of copies processed;
    *  - windowedHostCounts (append): state rows <= open windows x hosts
    *    = (horizon/windowDur + 1-2) x 50, with closed windows emitted
    *    and EVICTED every batch.
    * A growing maxState across decades would falsify both. */
  private def streamRehearsal(spark: SparkSession, copies: Int,
                              horizonHours: Int, sfDir: String): Unit = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "stream-rehearsal")
    val inDir = base.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String = {
      md.reset()
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val epoch = java.time.Instant.parse("2012-01-01T00:00:00Z")
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMddHHmmss").withZone(java.time.ZoneOffset.UTC)
    var totalLines = 0L
    (0 until copies).foreach { c =>
      val f = inDir.resolve(f"copy-$c%05d.cdx")
      val w = java.nio.file.Files.newBufferedWriter(f)
      try docs.foreach { case (id, source) =>
        // copies start 3h apart, each spans <2h: one horizon apart
        val ts = fmt.format(epoch.plusSeconds(c * 10800L + id % 7100L))
        w.write(s"org,s${id % 50})/ $ts http://s${id % 50}.org/ " +
          s"text/html 200 ${md5hex(source)} - - 10 ${id * 1000L} w.warc.gz\n")
        totalLines += 1
      } finally w.close()
      require(f.toFile.setLastModified(1700000000000L + c * 10000L),
        s"cannot stagger mtime of $f")
    }

    def run(label: String)(
        xform: org.apache.spark.sql.Dataset[String] =>
          org.apache.spark.sql.DataFrame): (Long, Long) = {
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "512")
      val lines = spark.readStream.option("maxFilesPerTrigger", "1")
        .text(inDir.toString).as[String]
      val q = xform(lines).writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", base.resolve(s"ckpt-$label").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val t0 = System.nanoTime()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val ps = q.recentProgress.filter(_.stateOperators.nonEmpty)
      val states = ps.map(_.stateOperators.head.numRowsTotal)
      val outRows = ps.map(p => Option(p.sink).map(_.numOutputRows)
        .getOrElse(0L)).filter(_ > 0).sum
      val durations = ps.flatMap(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      println(f"[rehearsal-stream] $label copies=$copies " +
        f"lines=$totalLines batches=${ps.length} outRows=$outRows " +
        f"maxState=${if (states.isEmpty) 0L else states.max} " +
        f"finalState=${if (states.isEmpty) 0L else states.last} " +
        f"wall=$wall%.1f s " +
        f"avgBatchMs=${if (durations.isEmpty) 0L
          else durations.sum / durations.length} " +
        f"maxBatchMs=${if (durations.isEmpty) 0L else durations.max}")
      (outRows, if (states.isEmpty) 0L else states.max)
    }

    run("dedup") { lines =>
      graft.streaming.CdxStream.dedupStream(
        graft.streaming.CdxStream.parse(lines),
        watermarkDelay = s"$horizonHours hours")
    }
    run("windows") { lines =>
      graft.streaming.CdxStream.windowedHostCounts(
        graft.streaming.CdxStream.parse(lines).toDF(),
        windowDur = "1 hour", watermarkDelay = s"$horizonHours hours")
    }

    // dayCapStream decade (r20, VERDICT r19 #6): custom flatMapGroups
    // state — the per-(urlkey, day) admission budget — with BOTH claims
    // asserted in-run, not just printed:
    //  * EXACTNESS across batching: admitted == sum over (urlkey, day)
    //    of min(rows, dayLimit+1), recomputed from a batch read of the
    //    same files (a group's rows all arrive before its watermark
    //    eviction — event times within the day, TTL behind newest — so
    //    the cross-batch budget must land the exact batch answer);
    //  * BOUNDED STATE: live groups <= hosts x days-in-(TTL+1-day)
    //    horizon regardless of stream length — the 100 TB claim.
    val dayLimit = 3
    val ttlMs = 6L * 3600000L
    val (capOut, capMaxState) = run("daycap") { lines =>
      graft.streaming.CdxStream.dayCapStream(
        graft.streaming.CdxStream.parse(lines),
        dayLimit = dayLimit, stateTtlMs = ttlMs).toDF()
    }
    val expected = spark.read.textFile(inDir.toString)
      .flatMap(graft.model.Cdx.parseLine _)
      .groupByKey(r => (r.urlkey, r.timestamp.take(8)))
      .count()
      .map(kv => math.min(kv._2, dayLimit + 1L))
      .reduce(_ + _)
    require(capOut == expected,
      s"daycap decade: admitted $capOut != batch-exact $expected")
    // horizon bound: TTL (6 h) behind newest keeps at most 2 UTC days
    // live per key (the day being filled + the one whose end the
    // watermark hasn't passed); 50 urlkeys in the fixture
    val stateBound = 2L * 50
    require(capMaxState <= stateBound,
      s"daycap decade: maxState $capMaxState exceeds horizon bound $stateBound")
    println(f"[rehearsal-stream] daycap INVARIANTS OK admitted=$capOut " +
      f"(batch-exact) maxState=$capMaxState <= $stateBound")
  }

  /** k-means decades: distributed Lloyd (localBelow = 0 — the endgame
    * stays off; this measures the path a 100 TB corpus runs) over the
    * replicated perturbed embeddings. The claim under test: per-round
    * shuffle stays K rows × (dim+1) longs REGARDLESS of corpus size
    * (map-side partial aggregation), so total shuffle is ~flat across
    * decades while wall grows with the scan. */
  private def kmeansRehearsal(spark: SparkSession, copies: Int, k: Int,
                              sfDir: String, read: AtomicLong,
                              write: AtomicLong): Unit = {
    import graft.operators.llm.KMeans
    val big = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
        col("vec_id"), col("embedding"))
      .select((col("vec_id") + col("__c") * 10000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> x + CAST((__c * 31 + i) % 13 " +
          "AS FLOAT) * CAST(0.001 AS FLOAT))").as("embedding"))
      .repartition(spark.sparkContext.defaultParallelism)
      .persist()
    val n = big.count()
    graftshim.ListenerShim.drain(spark.sparkContext)
    val (r0, w0) = (read.get, write.get)
    val t0 = System.nanoTime()
    val assigned = KMeans.lloyd(big, "vec_id", "embedding",
      col("vec_id") < k, iters = 3)
    val sizes = assigned.groupBy(col("cluster")).count()
      .orderBy(col("cluster")).collect()
      .map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(",")
    val wall = (System.nanoTime() - t0) / 1e9
    graftshim.ListenerShim.drain(spark.sparkContext)
    def mib(v: Long): String = f"${(v / 1048576.0)}%.2f"
    println(f"[rehearsal-kmeans] copies=$copies vectors=$n k=$k iters=3 " +
      f"wall=$wall%.1f s shuffleRead=${mib(read.get - r0)} MiB " +
      s"shuffleWrite=${mib(write.get - w0)} MiB clusters=$sizes")
    big.unpersist(blocking = false)
  }
}
