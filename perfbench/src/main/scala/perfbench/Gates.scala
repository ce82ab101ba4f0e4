package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** gate-battery: the `SparkEntry.queries` gates run back to back as one
  * batch, each materialized through the `noop` sink, over tables the
  * benchmark generates (`gates.py`). The seed generates the tables and
  * permutes the gate order. Set-up runs every gate once, writing its
  * result as parquet for the oracle check that `run.py` makes after the
  * run, then once more into the `noop` sink. */
final class Gates(ctx: Run, outputs: File) extends Workload {
  import ctx._

  private val tables = new File(inputs, "tables").getAbsolutePath
  /** The measured gates in this seed's order. */
  private val order: IndexedSeq[String] = {
    val a = Gates.Measured.toArray
    val r = new java.util.SplittableRandom(seed)
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq
  }
  /** Rows of the generated tables, the denominator of bytes_per_record. */
  private val inputRows: Long = Option(new File(inputs, "rows.txt"))
    .filter(_.exists).map(f => new String(java.nio.file.Files.readAllBytes(f.toPath)).trim.toLong)
    .getOrElse(0L)

  import Gates.GateRun
  private var runs = Vector.empty[GateRun]
  private var windowShuffleBytes = 0L
  private var passes = 0

  def setup(spark: SparkSession, rep: Int): Unit = {
    val out = new File(outputs, s"rep-$rep")
    IO.delete(out)
    out.mkdirs()
    order.foreach { g =>
      attempted += 1
      try SparkEntry.queries(g)(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(new File(out, g).getAbsolutePath)
      catch { case scala.util.control.NonFatal(e) => fail(s"gate $g threw $e") }
    }
    java.nio.file.Files.write(new File(out, "oracle_sql.json").toPath,
      order.map(g => s"${Json.str(g)}: ${Json.str(SparkEntry.oracleSql(g))}")
        .mkString("{", ",\n", "}").getBytes("UTF-8"))
    // warm-up as the window runs them: pass times still fall for many
    // passes while the gates' code gets compiled (README, "The gate battery")
    (0 until Gates.WarmPasses).foreach(_ => order.foreach(run(spark, _, traced = false)))
  }

  /** Run one gate into the `noop` sink; returns its wall time, or None
    * when it threw. */
  private def run(spark: SparkSession, g: String, traced: Boolean): Option[Double] = {
    attempted += 1
    try Some(op(traced, g)(tracer.span(Gates.SpanPrefix + g)(
      SparkEntry.queries(g)(spark, tables).write.format("noop").mode("overwrite").save()))._2)
    catch {
      case scala.util.control.NonFatal(e) => fail(s"gate $g threw $e"); None
    }
  }

  /** Gates one after another, in order and round again, until `seconds`
    * have passed and every gate has run at least once. A traced run
    * alternates untraced and traced passes and ends on a whole pass, after
    * three at least. */
  def window(spark: SparkSession, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    runs = Vector.empty
    val n = order.size
    var i = 0
    attribution.drain(spark.sparkContext)
    val shuffle0 = attribution.grand().shuffleWriteBytes
    var shuffle = 0L
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < n ||
      (trace && (i < 3 * n || i % n != 0))) {
      val (g, pass) = (order(i % n), i / n)
      val traced = trace && pass % 2 == 1
      run(spark, g, traced).foreach(wallS => runs :+= GateRun(pass, g, wallS, traced))
      i += 1
      if (i % n == 0) {
        attribution.drain(spark.sparkContext)
        shuffle = attribution.grand().shuffleWriteBytes - shuffle0
        passes = i / n
      }
    }
    windowShuffleBytes = shuffle
  }

  /** Each gate's median wall time over its runs of the window. */
  private def perGate: Map[String, Double] =
    runs.groupBy(_.gate).view.mapValues(rs => Stats.median(rs.map(_.wallS))).toMap
  private def perGateS: Iterable[Double] = perGate.values

  /** Wall time of each whole pass over the gates in the window. */
  private def passWalls: Seq[Double] =
    runs.groupBy(_.pass).values.filter(_.size == order.size).map(_.map(_.wallS).sum).toSeq

  def metrics(setupS: Double): Seq[(String, Double, String)] =
    Seq(("setup_s", setupS, "s"),
      ("throughput_per_s", perGateS.size / perGateS.sum, "1/s"),
      ("latency_p50_ms", Stats.median(passWalls) * 1e3, "ms"),
      ("bytes_per_record", windowShuffleBytes.toDouble / passes / inputRows, "B"))

  def layerMetrics(spark: SparkSession): Seq[(String, Double, String)] = {
    attribution.drain(spark.sparkContext)
    val tracedPasses = runs.filter(_.traced).map(_.pass).distinct.size.toDouble
    val gateSpans = tracer.spans.filter(_.name.startsWith(Gates.SpanPrefix)).toSeq
    def family(s: Span) = Gates.Family(s.name.stripPrefix(Gates.SpanPrefix))
    /** Spark work and driver time of the given gate spans, per traced pass. */
    def layer(prefix: String, spans: Seq[Span]): Seq[(String, Double, String)] = {
      val c = attribution.total(spans.map(_.id))
      val driverS = spans.map { s =>
        val own = attribution.total(Seq(s.id))
        s.durNs / 1e9 - Tracer.unionLength(own.jobIntervals.toSeq) / 1e3
      }.sum
      Seq((s"$prefix.jobs", c.jobs / tracedPasses, "count"),
        (s"$prefix.driver_s", driverS / tracedPasses, "s"),
        (s"$prefix.executor_cpu_s", c.executorCpuNs / 1e9 / tracedPasses, "s"),
        (s"$prefix.shuffle_bytes", (c.shuffleWriteBytes + c.shuffleReadBytes) / tracedPasses, "B"))
    }
    Seq(("battery.total_s", perGateS.sum, "s"),
      ("battery.geomean_ms", math.exp(perGateS.map(math.log).sum / perGateS.size) * 1e3, "ms"),
      ("battery.gates", order.size.toDouble, "count")) ++
      layer("battery", gateSpans) ++
      Gates.Families.flatMap { f =>
        (s"battery.$f.s", perGate.filter(g => Gates.Family(g._1) == f).values.sum, "s") +:
          layer(s"battery.$f", gateSpans.filter(family(_) == f))
      }
  }
}

object Gates {
  val SpanPrefix = "gate:"

  /** Untimed passes through the `noop` sink at the end of every set-up. */
  val WarmPasses = 1

  /** One gate run of the window: its pass, name and wall time. */
  private final case class GateRun(pass: Int, gate: String, wallS: Double, traced: Boolean)

  val Families = Seq("cdx", "text", "vector", "media")

  /** Every gate of `SparkEntry.queries` in exactly one family: `media`
    * decodes media payloads, `vector` reads embeddings, `text` processes
    * document text, and `cdx` holds the web-archive records (CDX, W/ARC,
    * ZipNum, URLs) and the relational and event core they sit on. Each
    * (gate, family) pair as listed. */
  val Listed: Seq[(String, String)] = {
    val media = Seq("q30_multimodal", "q100_mm_pipeline", "q106_media_decode",
      "q112_png_decode", "q115_jpeg_decode", "q116_media_resize", "q117_video_frames",
      "q118_gif_decode", "q119_mp4_frames", "q120_mkv_frames", "q121_warc_media",
      "q125_video_decode")
    val vector = Seq("q24_ann_topk", "q25_ann_ivf", "q36_embed_neardup",
      "q43_ann_ivf_assign", "q54_ann_hyperplane", "q70_cosine_neardup",
      "q73_ann_multiprobe", "q80_kmeans", "q81_semdedup", "q89_random_projection",
      "q122_ann_pq", "q123_ann_ivfpq", "q124_ann_pq_rerank", "q126_ann_pq_trained",
      "q128_ann_ivfpq_trained", "q129_ann_recall")
    val text = Seq("q20_doc_dedup", "q21_minhash_lsh", "q22_ngram_jaccard",
      "q23_simhash", "q26_text_stats", "q27_langid", "q28_quality", "q29_fingerprint",
      "q37_token_count", "q47_pii_scrub", "q48_repetition", "q52_neardup_components",
      "q53_hash_split", "q56_vocab", "q58_quantiles", "q59_bpe_tokens", "q60_tfidf",
      "q61_stratified_sample", "q68_cc_chain", "q69_dedup_keep", "q72_decontaminate",
      "q75_budget_mixture", "q76_sequence_pack", "q77_chunk_dedup",
      "q78_shuffle_shard", "q79_stratum_cap", "q82_heavy_hitters",
      "q83_gopher_quality", "q84_dup_fraction", "q85_dsir", "q86_curation_pipeline",
      "q87_bloom_dedup", "q88_bigram_fluency", "q90_substring_dedup",
      "q91_nb_quality", "q93_bpe_pairs", "q94_collocation", "q95_bpe_apply",
      "q97_snapshot_diff", "q98_chunk_overlap", "q99_token_drift", "q101_epoch_plan",
      "q102_editdist_verify", "q103_kmv_per_group", "q105_topk_group_agg",
      "q108_dsir_select", "q109_kmv_setops", "q111_group_quantiles", "q114_bm25",
      "q127_fuzzy_decontaminate", "q132_hll_per_group")
    val cdx = Seq("q01_agg", "q02_join_agg", "q03_sort_limit", "q04_day_cap",
      "q05_dedup_exact", "q06_sorted_set", "q07_sorted_union", "q08_range_query",
      "q09_prefix_filter", "q10_cdx_cleanup", "q11_json", "q12_datetime14",
      "q13_rollup", "q14_topk_group", "q15_semi_join", "q16_anti_join",
      "q17_crawl_log", "q18_cdx_parse", "q19_zipnum_roundtrip", "q31_surt",
      "q32_legacy_convert", "q33_cdx_filter", "q34_to_json", "q35_access_control",
      "q38_deref_scan", "q39_gzip_range", "q40_sorted_merge", "q41_seqfile_roundtrip",
      "q42_warc_extract", "q44_cdx_transform", "q45_cluster_merge", "q46_url_resolve",
      "q49_http_paged", "q50_repackage", "q51_stream_daycap", "q55_revisit_resolve",
      "q57_kmv_distinct", "q62_interval_join", "q63_skew_distinct", "q64_sessionize",
      "q65_asof_join", "q66_salted_join", "q67_wat_extract", "q71_arc_extract",
      "q74_kmv_quantiles", "q92_stream_dedup", "q96_pagerank", "q104_stream_windows",
      "q107_warc_plain", "q110_stream_sessions", "q113_stream_zipnum",
      "q130_countmin", "q131_hll_distinct", "q133_cdxj_roundtrip",
      "q134_stream_hll", "q135_cdxj_zipnum", "q136_json_splits_build")
    Seq("cdx" -> cdx, "media" -> media, "vector" -> vector, "text" -> text)
      .flatMap { case (f, gs) => gs.map(_ -> f) }
  }

  /** Family of each gate. */
  val Family: Map[String, String] = Listed.toMap

  /** The gates the workload runs: two per family, fixed, so that every
    * seed times the same work: the perf-weak gates ROADMAP names (q04,
    * q60, q94, JPEG decode) and the vector family's slowest trained
    * index (q126), each with a cheaper gate of its family. Gates that write fixtures or
    * checkpoints to fixed paths outside the checkout (`SparkEntry.tmpDir`,
    * the streaming and W/ARC fixtures) cannot be among them. */
  val Measured: Seq[String] = Seq(
    "q04_day_cap", "q31_surt", "q94_collocation", "q60_tfidf",
    "q126_ann_pq_trained", "q80_kmeans", "q115_jpeg_decode", "q106_media_decode")
}
