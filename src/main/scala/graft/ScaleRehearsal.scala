package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.SparkMeter.measure
import graft.util.Work

/**
 * Scale rehearsals (SCALE.md "three measured decades"): each mode
 * replicates an input table `copies` times, runs one operator family at
 * that size, and prints `[rehearsal…]` lines with its results, its wall
 * time and the shuffle bytes it moved, counted by [[graft.util.SparkMeter]].
 * The modes, their one integer parameter and its default are the rows of
 * `modes`; each mode's method says what it measures.
 *
 * Usage: runMain graft.ScaleRehearsal [mode] <copies> [param] [sfDir]
 * The mode defaults to `dedup`, so a bare number means `dedup <copies>`
 * (dedup copies=1 ≈ 5.7k docs, 100 ≈ 570k; ann copies=100 ≈ 200k
 * vectors). Copies default to 100 and sfDir to the sf0.1 testdata. Each
 * run gets a scratch root under `target/`, deleted when it ends.
 */
object ScaleRehearsal {

  /** A mode: the name and default of its parameter, and its run. */
  private final case class Mode(param: String, default: Int,
      run: (SparkSession, Int, Int, String, Path) => Unit)

  private val modes: ListMap[String, Mode] = ListMap(
    "dedup" -> Mode("maxBucket", 400, dedupRehearsal),
    "ann" -> Mode("numPlanes", 12, annRehearsal),
    "kmeans" -> Mode("k", 8, kmeansRehearsal), // seed count
    "substr" -> Mode("k", 15, substrRehearsal), // gram window
    "chunk" -> Mode("chunkWords", 10, chunkRehearsal), // q77's setting
    "fuzzydecon" -> Mode("evalMod", 41, fuzzyDeconRehearsal), // q127's
    "pagerank" -> Mode("iters", 3, pageRankRehearsal),
    "stream" -> Mode("horizonHours", 2, streamRehearsal),
    "media" -> Mode("stride", 8, mediaRehearsal),
    // q81 uses k=8 at oracle scale
    "semdedup" -> Mode("k", 64, semDedupRehearsal),
    // every dupEvery-th doc triplicated, q45's rule
    "spine" -> Mode("dupEvery", 10, spineRehearsal),
    "joins" -> Mode("gapSec", 1800, joinsRehearsal), // q64's setting
    "sketches" -> Mode("k", 256, sketchesRehearsal)) // q57's setting

  /** One parsed command line. */
  private[graft] final case class Args(mode: String, copies: Int,
                                       param: Int, sfDir: String)

  private def usage: String =
    "usage: runMain graft.ScaleRehearsal [mode] <copies> [param] [sfDir]; " +
      "mode [param=default] is one of " + modes.map { case (name, m) =>
        s"$name [${m.param}=${m.default}]" }.mkString(", ") +
      "; the mode defaults to dedup"

  /** The command line as one mode's run, or the usage line. A first
    * argument that is neither a mode nor a number is rejected, as is a
    * copies or param argument that is not a number. */
  private[graft] def parse(args: Seq[String]): Either[String, Args] = {
    val (mode, rest) = args match {
      case m +: tail if modes.contains(m) => (m, tail)
      case _ => ("dedup", args)
    }
    val sfDir = rest.lift(2).getOrElse("/root/testdata/sf0.1")
    def int(i: Int, default: Int): Either[String, Int] =
      rest.lift(i).fold(Option(default))(_.toIntOption).toRight(usage)
    for {
      copies <- int(0, 100)
      param <- int(1, modes(mode).default)
    } yield Args(mode, copies, param, sfDir)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq) match {
      case Right(a) => a
      case Left(usage) => System.err.println(usage); sys.exit(2)
    }
    val spark = graft.cli.GraftCli.session("graft-scale-rehearsal",
      graft.cli.GraftCli.defaultCpus)
    val scratch = Files.createTempDirectory(
      Paths.get("target").toAbsolutePath, s"${a.mode}-rehearsal")
    try modes(a.mode).run(spark, a.copies, a.param, a.sfDir, scratch)
    finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(scratch.toFile)
    }
  }

  private def mib(v: Long, places: Int = 1): String =
    s"%.${places}f".format(v / 1048576.0)

  /** A window's `shuffleRead=… MiB shuffleWrite=… MiB` fields. */
  private def shuffle(w: Work, places: Int = 1): String =
    s"shuffleRead=${mib(w.shuffleReadBytes, places)} MiB " +
      s"shuffleWrite=${mib(w.shuffleWriteBytes, places)} MiB"

  /** `df` with a `__c` column: each row once per copy 0 until `copies`. */
  private def replicate(df: DataFrame, copies: Int): DataFrame =
    df.select(explode(sequence(lit(0L), lit(copies - 1L))).as("__c"),
      col("*"))

  /** Copy c's ids are shifted by c × this stride. */
  private val IdStride = 10000000L

  /** `df` replicated `copies` times with disjoint ids (copy c adds
    * c × [[IdStride]] to `id`, its first column), spread over the
    * session's cores: the testdata is one row group (SCALE.md caveat). */
  private def disjointCopies(df: DataFrame, id: String,
                             copies: Int): DataFrame =
    replicate(df, copies)
      .select((col(id) + col("__c") * IdStride).as(id) +:
        df.columns.toSeq.filter(_ != id).map(col): _*)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)

  private def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))

  /** The embeddings replicated with disjoint ids and a deterministic
    * per-copy perturbation, persisted: the modes time their plans over
    * it, not the replication scaffolding. */
  private def perturbedEmbeddings(spark: SparkSession, sfDir: String,
                                  copies: Int): DataFrame =
    replicate(spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")), copies)
      .select((col("vec_id") + col("__c") * IdStride).as("vec_id"),
        expr("transform(embedding, (x, i) -> x + CAST((__c * 31 + i) % 13 " +
          "AS FLOAT) * CAST(0.001 AS FLOAT))").as("embedding"))
      .repartition(spark.sparkContext.defaultParallelism)
      .persist()

  /** Near-dup dedup decades: replicate the sf0.1 near-dup corpus N times
    * with disjoint ids — duplication compounds ACROSS copies, the worst
    * case for candidate generation — run MinHash-LSH → connected
    * components → keep-min, and report wall time, shuffle volume, and
    * the capped-bucket skip-list size. */
  private def dedupRehearsal(spark: SparkSession, copies: Int,
                             maxBucket: Int, sfDir: String,
                             scratch: Path): Unit = {
    import graft.operators.llm.{ConnectedComponents, MinHashLsh}
    // the q69 corpus rule (base + appended-text variants), replicated
    // with disjoint id spaces; every copy of a doc is a near-dup of every
    // other copy, so the near-dup graph grows superlinearly in `copies`
    val docs = documents(spark, sfDir)
    val variants = docs.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graft extra appended")).as("text"))
    val corpus = disjointCopies(docs.unionByName(variants), "doc_id", copies)
    // diagnostic count BEFORE the window: it re-runs the replicated-corpus
    // repartition, and inside the window it would inflate the wall and
    // the reported shuffle volumes
    val nDocs = corpus.count()
    val bands = MinHashLsh.bands(MinHashLsh.signature(
      graft.operators.llm.Shingles.explodeShingles(corpus, "doc_id", "text", 3),
      "doc_id", 6), "doc_id", 6, 2).persist()
    val ((nDropped, stats, keep, (keepFollowup, followup)), w) =
      measure(spark.sparkContext) {
        val (pairs, dropped) =
          MinHashLsh.candidatePairsCapped(bands, "doc_id", maxBucket)
        val nDropped = dropped.agg(count(lit(1)), coalesce(sum(col("n_ids")),
          lit(0L))).collect()(0)
        // CC under fixed partitioning, as q69 runs it: AQE's per-iteration
        // coalescing would break the edge-cache/label co-partitioning the
        // iteration count amortizes
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val cc = ConnectedComponents.distributed(pairs, "doc_a", "doc_b")
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
        (nDropped, stats, keep, measure(spark.sparkContext) {
          if (nDropped.getLong(0) == 0L) keep
          else lshKeep.join(
            MinHashLsh.exactDropWithin(corpus, "doc_id", "text",
              bands.join(broadcast(dropped.select(col("band"), col("bh"))),
                Seq("band", "bh")).select(col("doc_id"))),
            Seq("doc_id"), "left_anti").count()
        })
      }
    // the follow-up has its OWN clock: `wall` keeps the pre-round-9
    // definition (LSH+CC+keep only) so decade entries stay comparable
    val wall = w.wallS - followup.wallS
    bands.unpersist(blocking = false)

    println(f"[rehearsal] copies=$copies docs=$nDocs " +
      f"nodes=${stats.getLong(0)} components=${stats.getLong(1)} " +
      f"kept=$keep keptFollowup=$keepFollowup " +
      f"droppedBuckets=${nDropped.getLong(0)} " +
      f"droppedIds=${nDropped.getLong(1)} wall=$wall%.1f s " +
      f"wallFollowup=${followup.wallS}%.1f s ${shuffle(w)}")
  }

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
                             scratch: Path): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"),
        // testdata stores TIMESTAMP(MICROS, tz-less) = NTZ; the session
        // tz is pinned UTC, so this cast is value-preserving (the
        // GateSupport.tbl shim, locally)
        col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
    val ev = replicate(ev0, copies)
      .select((col("event_id") + col("__c") * 1000000000L).as("event_id"),
        (col("user_id") + col("__c") * 1000000L).as("user_id"),
        col("ts"), col("event_type"), col("value"))
      .repartition(cpus) // testdata is one row group (SCALE.md caveat)
    val nEvents = ev.count()

    def timed(label: String)(invariant: => Unit): Unit = {
      val (_, w) = measure(spark.sparkContext)(invariant)
      println(f"[rehearsal-joins] $label copies=$copies events=$nEvents " +
        f"wall=${w.wallS}%.1f s ${shuffle(w)}")
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
    * ~flat (bounded mergeable buffers: one ≤ k-hash buffer per
    * partition for KMV, m registers per partition and group for HLL —
    * never the row count).
    * Both claims asserted in-run: the replicated corpus's summaries are
    * require'd row-equal to the base corpus's, computed once outside
    * the timed sections. */
  private def sketchesRehearsal(spark: SparkSession, copies: Int, k: Int,
                                sfDir: String, scratch: Path): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    val base = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_custkey").cast("long").as("v"))
    val corpus = replicate(base, copies)
      .select(col("v")) // SAME values: duplication, not new identities
      .repartition(cpus) // testdata is one row group (SCALE.md caveat)
      // persist + materialize BEFORE timing: the fan-out repartition is
      // harness scaffolding (the one-row-group caveat), and un-cached it
      // would re-execute inside every timed section and drown the
      // sketch's own exchange — the number under test — in raw-row bytes
      .persist()
    val nRows = corpus.count()

    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    import graft.operators.Sketches
    def kmv(d: DataFrame) = Sketches.kmvDistinct(d, "v", k)
    def hll(d: DataFrame) = Sketches.hllDistinct(d, "v", 6)
    val sk = udaf(Sketches.hllGroupAgg(6))
    def hllGroups(d: DataFrame) =
      d.select((col("v") % 20).as("g"), Sketches.hash48Col(col("v")).as("hv"))
        .groupBy(col("g")).agg(sk(col("hv")).as("h"))
        .select(col("g"), col("h._1").as("filled"), col("h._2").as("s"),
          col("h._3").as("est"))
    // base summaries once, outside the timed sections
    val baseKmv = rows(kmv(base))
    val baseHll = rows(hll(base))
    val baseGroups = rows(hllGroups(base))

    def timed(label: String)(got: => Seq[String], want: Seq[String]): Unit = {
      val (g, w) = measure(spark.sparkContext)(got)
      require(g == want,
        s"$label sketch not duplication-invariant at copies=$copies: " +
          s"got $g, want $want")
      println(f"[rehearsal-sketches] $label copies=$copies rows=$nRows " +
        f"wall=${w.wallS}%.1f s shuffleRead=${w.shuffleReadBytes} B " +
        f"shuffleWrite=${w.shuffleWriteBytes} B " +
        "(summary BIT-EQUAL to the base corpus's)")
    }

    timed("kmv")(rows(kmv(corpus)), baseKmv)
    timed("hll")(rows(hll(corpus)), baseHll)
    timed("hll-groups")(rows(hllGroups(corpus)), baseGroups)
    corpus.unpersist(blocking = false)
  }

  /** Substring-dedup decades: replicate the documents table N times
    * with disjoint ids — every copy duplicates EVERY span of the
    * original, so each gram's occurrence group grows linearly in
    * `copies` (the worst case for the keep-first window: every group is
    * a skew group of exactly `copies` rows) and all but the first
    * copy's text should vanish. Reports wall, shuffle volume, and the
    * dropped-word mass (whose fraction must approach (copies-1)/copies
    * — a built-in correctness check at every decade). */
  private def substrRehearsal(spark: SparkSession, copies: Int, k: Int,
                              sfDir: String, scratch: Path): Unit = {
    val corpus = disjointCopies(documents(spark, sfDir), "doc_id", copies)
    val nDocs = corpus.count()
    val (stats, w) = measure(spark.sparkContext) {
      graft.operators.llm.TextAnalysis.substringDedup(
        corpus, "doc_id", "text", k)
        .agg(count(lit(1)).as("docs"),
          sum(col("n_kept")).as("kept"),
          sum(col("n_dropped")).as("dropped")).collect()(0)
    }
    val kept = stats.getLong(1); val dropped = stats.getLong(2)
    println(f"[rehearsal] substr copies=$copies docs=$nDocs k=$k " +
      f"kept=$kept dropped=$dropped " +
      f"dropFrac=${dropped.toDouble / (kept + dropped)}%.4f " +
      f"wall=${w.wallS}%.1f s ${shuffle(w)}")
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
                             sfDir: String, scratch: Path): Unit = {
    val corpus = disjointCopies(documents(spark, sfDir), "doc_id", copies)
    val nDocs = corpus.count()
    val (stats, w) = measure(spark.sparkContext) {
      graft.operators.llm.TextAnalysis.chunkDedup(corpus, "doc_id", "text", cw)
        .agg(count(lit(1)).as("docsOut"),
          sum(col("n_kept")).as("chunksKept")).collect()(0)
    }
    println(f"[rehearsal] chunk copies=$copies docs=$nDocs cw=$cw " +
      f"docsOut=${stats.getLong(0)} chunksKept=${stats.getLong(1)} " +
      f"docsOutFrac=${stats.getLong(0).toDouble / nDocs}%.4f " +
      f"wall=${w.wallS}%.1f s ${shuffle(w)}")
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
                                  scratch: Path): Unit = {
    val docs = documents(spark, sfDir)
    val corpus = disjointCopies(docs, "doc_id", copies)
    val evalDf = docs.where(col("doc_id") % evalMod === 0)
      .select(concat(col("text"), lit(" benchmark answer key"))
        .as("etext"))
    val nDocs = corpus.count()
    val nEval = evalDf.count()
    val (stats, w) = measure(spark.sparkContext) {
      graft.operators.llm.TextAnalysis.fuzzyContamination(
        corpus, "doc_id", "text", evalDf, "etext")
        .agg(count(lit(1)).as("flagged"),
          sum(col("n_bands_hit")).as("bandHits")).collect()(0)
    }
    println(f"[rehearsal] fuzzydecon copies=$copies docs=$nDocs " +
      f"evalDocs=$nEval flagged=${stats.getLong(0)} " +
      f"flaggedPerCopy=${stats.getLong(0).toDouble / copies}%.1f " +
      f"bandHits=${stats.getLong(1)} wall=${w.wallS}%.1f s ${shuffle(w)}")
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
                             sfDir: String, scratch: Path): Unit = {
    import spark.implicits._
    import graft.operators.llm.{AviCodec, JpegCodec, MkvCodec, Mp4Codec,
      MultimodalOps}
    val nFrames = 24
    val media = disjointCopies(
        documents(spark, sfDir).select(col("doc_id")), "doc_id", copies)
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
    Seq(1, stride).foreach { s =>
      val (stats, w) = measure(spark.sparkContext) {
        MultimodalOps.frameSample(media, frameSize = 64, s)
          .agg(count(lit(1)).as("frames"),
            sum(col("frame_bytes")).as("decodedBytes")).collect()(0)
      }
      println(f"[rehearsal] media copies=$copies docs=$nDocs " +
        f"framesPerDoc=$nFrames stride=$s kept=${stats.getLong(0)} " +
        f"decodedBytes=${stats.getLong(1)} wall=${w.wallS}%.2f s " +
        shuffle(w))
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
    * Training calls Lloyd's distributed body (the 100 TB regime), and
    * train/prune walls are reported separately since training
    * amortizes over reruns at different thresholds. */
  private def semDedupRehearsal(spark: SparkSession, copies: Int, k: Int,
                                sfDir: String, scratch: Path): Unit = {
    import graft.operators.llm.{AnnOps, KMeans}
    val corpus = disjointCopies(spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")), "vec_id", copies)
      .persist()
    val n = corpus.count()
    val ((clusters, sizes, train, stats, prune), w) =
      measure(spark.sparkContext) {
        // seeds are copy-0 rows only (replica ids start at the 1e7
        // stride). The assignment is PERSISTED and materialized by the
        // sizes agg inside the train window: the prune query consumes
        // `clusters` twice (the join side and the keep-side anti-join),
        // and without the cache each consumer re-derives the full-corpus
        // argmax scan — pruneWall would charge ~2 redundant assignment
        // passes to the quantity the decades claim to measure
        val ((clusters, sizes), train) = measure(spark.sparkContext) {
          val clusters = KMeans.lloydDistributed(corpus, "vec_id",
            "embedding", seedPred = col("vec_id") < k, iters = 3).persist()
          (clusters, clusters.groupBy(col("cluster")).count()
            .agg(count(lit(1)).as("k"), max(col("count")).as("mx"))
            .collect()(0))
        }
        val (stats, prune) = measure(spark.sparkContext) {
          val drops = AnnOps.withinBucketCosinePairs(
            corpus.join(clusters, "vec_id"), "vec_id", "embedding", "cluster",
            minCos2Bp = 500L)
            .select(col("vec_b").as("vec_id"))
          clusters.join(drops, Seq("vec_id"), "left_anti")
            .agg(count(lit(1)).as("kept"), max(col("vec_id")).as("maxId"))
            .collect()(0)
        }
        (clusters, sizes, train, stats, prune)
      }
    println(f"[rehearsal] semdedup copies=$copies vectors=$n k=$k " +
      f"clusters=${sizes.getLong(0)} maxCluster=${sizes.getLong(1)} " +
      f"kept=${stats.getLong(0)} keptAllCopy0=${stats.getLong(1) < IdStride} " +
      f"trainWall=${train.wallS}%.1f s pruneWall=${prune.wallS}%.1f s " +
      shuffle(w))
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
                             sfDir: String, scratch: Path): Unit = {
    import spark.implicits._
    val cpus = spark.sparkContext.defaultParallelism
    val conf = spark.sparkContext.hadoopConfiguration
    val base = scratch.toString

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
    def corpus(sub: Boolean) =
      replicate(ids.where(if (sub) col("id") % dupEvery === 0 else lit(true)),
        copies).select(lineCol.as("line")).as[String].rdd

    // ---- BUILD: three input clusters (full + two duplicate subsets)
    val (_, build) = measure(spark.sparkContext) {
      val all = corpus(sub = false)
      val bounds = operators.Boundaries.sample(all, cpus)
      operators.ClusterOps.build(spark, all, s"$base/a", bounds,
        linesPerBlock = 300, overwrite = true)
      operators.ClusterOps.build(spark, corpus(sub = true), s"$base/b", bounds,
        linesPerBlock = 100, overwrite = true)
      operators.ClusterOps.build(spark, corpus(sub = true), s"$base/c", bounds,
        linesPerBlock = 150, overwrite = true)
    }

    // ---- MERGE: zero-shuffle aligned heap merge + streaming day cap
    val inputs = Seq(s"$base/a", s"$base/b", s"$base/c")
    val (_, merge) = measure(spark.sparkContext) {
      operators.ClusterOps.merge(spark, inputs, s"$base/merged", nShards = cpus,
        globalCdx = true, dayLimit = 1, linesPerBlock = 300,
        overwrite = true)
    }

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
    val (served, serve) = measure(spark.sparkContext) {
      operators.ClusterOps
        .range(conf, Some(servStart), Some(servEnd), Seq(s"$base/merged")).size
    }
    require(copies < 2 || served == nBase + nSub,
      s"spine invariant violated: served $served != ${nBase + nSub} rows " +
        "for one copy namespace")

    def rw(w: Work): String =
      s"${mib(w.shuffleReadBytes)}/${mib(w.shuffleWriteBytes)} MiB"
    println(f"[rehearsal] spine copies=$copies lines=${copies * (nBase + 2 * nSub)} " +
      f"mergedRows=$mergedRows (exact) " +
      f"buildWall=${build.wallS}%.1f s buildShuffleRW=${rw(build)} " +
      f"mergeWall=${merge.wallS}%.1f s mergeShuffleRW=${rw(merge)} " +
      f"serveWall=${serve.wallS}%.2f s served=$served " +
      f"prunedBlocks=$prunedBlocks/${idx.blocks.size} " +
      f"serveShuffleRW=${rw(serve)}")
  }

  /** PageRank decades — the DISTRIBUTED power-iteration path (the
    * distributed body, the plan q96's endgame bypasses at oracle scale):
    * each copy contributes a disjoint 97-node subgraph plus a chain
    * edge into the next copy's subgraph, so node and edge counts BOTH
    * scale linearly and the rank mass still flows across the whole
    * graph (one connected component, not an embarrassingly-parallel
    * forest). Reports wall, shuffle volume, and a rank checksum. */
  private def pageRankRehearsal(spark: SparkSession, copies: Int, iters: Int,
                                sfDir: String, scratch: Path): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    val edges = replicate(documents(spark, sfDir).select(col("doc_id")), copies)
      .select(
        (col("doc_id") % 97 + col("__c") * 97).as("src"),
        ((col("doc_id") * 31 + 7) % 97 + col("__c") * 97).as("dst"))
      .union(spark.range(copies.toLong).select(
        (col("id") * 97).as("src"),
        (((col("id") + 1) % copies) * 97).as("dst")))
      .repartition(cpus) // testdata is one row group (SCALE.md caveat)
    val nEdges = edges.count()
    val (stats, w) = measure(spark.sparkContext) {
      graft.operators.GraphOps.pageRankDistributed(edges, "src", "dst", iters)
        .agg(count(lit(1)).as("n"),
          sum(col("pr")).as("mass"), min(col("pr")).as("mn"),
          max(col("pr")).as("mx")).collect()(0)
    }
    println(f"[rehearsal] pagerank copies=$copies edges=$nEdges " +
      f"iters=$iters nodes=${stats.getLong(0)} mass=${stats.getLong(1)} " +
      f"minPr=${stats.getLong(2)} maxPr=${stats.getLong(3)} " +
      f"wall=${w.wallS}%.1f s ${shuffle(w)}")
  }

  /** ANN decades: brute-force cosine top-k vs hyperplane-LSH-bucketed
    * top-10 over the replicated (deterministically perturbed) embedding
    * corpus — same queries, same integer dot scoring; the rehearsal
    * measures the exact baseline's quadratic growth against the bucketed
    * path's. */
  private def annRehearsal(spark: SparkSession, copies: Int, numPlanes: Int,
                           sfDir: String, scratch: Path): Unit = {
    import graft.operators.llm.{AnnOps, KMeans}
    val dim = 64
    val big = perturbedEmbeddings(spark, sfDir, copies)
    val n = big.count()
    val queries = col("vec_id") < 3

    def timed(label: String)(df: DataFrame): Unit = {
      val (rows, w) = measure(spark.sparkContext)(df.count())
      println(f"[rehearsal-ann] $label copies=$copies vectors=$n " +
        f"rows=$rows wall=${w.wallS}%.2f s ${shuffle(w)}")
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
    val (pqCbs, train) = measure(spark.sparkContext) {
      AnnOps.pqTrainDistributed(big, "vec_id", "embedding",
        seedPred = col("vec_id") < 16, mSub = 4, dim = dim)
    }
    val pqCodes = AnnOps.pqEncodeWithCodebooks(
      big, "vec_id", "embedding", pqCbs, dim).persist()
    val (_, encode) = measure(spark.sparkContext)(pqCodes.count())
    println(f"[rehearsal-ann] pq one-time: train=${train.wallS}%.2f s " +
      f"encode=${encode.wallS}%.2f s (k=${pqCbs.head.length} codes/subspace)")
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
    val (coarseCb, coarse) = measure(spark.sparkContext) {
      KMeans.codebookWithCountsDistributed(big, "vec_id", "embedding",
        seedPred = col("vec_id") < 16, iters = 3)
        .map { case (id, _, s) => (id, s) }
    }
    println(f"[rehearsal-ann] ivfpq one-time: coarse train=${coarse.wallS}%.2f s " +
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
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("cand_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(brute)
    def recall(df: DataFrame): Double =
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
                              horizonHours: Int, sfDir: String,
                              scratch: Path): Unit = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val inDir = scratch.resolve("in")
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
        xform: org.apache.spark.sql.Dataset[String] => DataFrame): (Long, Long) = {
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "512")
      val lines = spark.readStream.option("maxFilesPerTrigger", "1")
        .text(inDir.toString).as[String]
      val q = xform(lines).writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", scratch.resolve(s"ckpt-$label").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val (_, w) = measure(spark.sparkContext)(q.awaitTermination())
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
        f"wall=${w.wallS}%.1f s " +
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

  /** k-means decades: Lloyd's distributed body (the endgame stays
    * off; this measures the path a 100 TB corpus runs) over the
    * replicated perturbed embeddings. The claim under test: per-round
    * shuffle stays K rows × (dim+1) longs REGARDLESS of corpus size
    * (map-side partial aggregation), so total shuffle is ~flat across
    * decades while wall grows with the scan. */
  private def kmeansRehearsal(spark: SparkSession, copies: Int, k: Int,
                              sfDir: String, scratch: Path): Unit = {
    import graft.operators.llm.KMeans
    val big = perturbedEmbeddings(spark, sfDir, copies)
    val n = big.count()
    val (sizes, w) = measure(spark.sparkContext) {
      KMeans.lloydDistributed(big, "vec_id", "embedding", col("vec_id") < k,
        iters = 3)
        .groupBy(col("cluster")).count()
        .orderBy(col("cluster")).collect()
        .map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(",")
    }
    // two decimals: the decades' shuffle differs in the second place
    println(f"[rehearsal-kmeans] copies=$copies vectors=$n k=$k iters=3 " +
      f"wall=${w.wallS}%.1f s ${shuffle(w, places = 2)} clusters=$sizes")
    big.unpersist(blocking = false)
  }
}
