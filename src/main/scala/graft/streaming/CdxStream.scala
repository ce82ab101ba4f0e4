package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{Cdx, CdxRecord}

/**
 * Structured Streaming over a CDX firehose — an EXTENSION beyond the
 * reference (its `streaming` package is Hadoop Streaming pipe adapters,
 * not stream processing; SURVEY §2.7). The operators mirror the batch
 * semantics so a pipeline can run identically in either mode:
 * `readStream.text(dir)` → [[parse]] → windowed aggregation or stateful
 * capping → `writeStream`.
 */
object CdxStream {

  /** Streaming-safe CDX parse (same line semantics as the batch reader). */
  def parse(lines: Dataset[String]): Dataset[CdxRecord] = {
    import lines.sparkSession.implicits._
    lines.flatMap(Cdx.parseLine _)
  }

  /** Captures per (event-time window, host key): event time is the
    * capture's own 14-digit timestamp; the watermark bounds state so
    * late/duplicate feeds can't grow it forever. */
  def windowedHostCounts(cdx: DataFrame, windowDur: String = "1 hour",
                         watermarkDelay: String = "2 hours"): DataFrame =
    cdx.withColumn("__ts", to_timestamp(col("timestamp"), "yyyyMMddHHmmss"))
      .withWatermark("__ts", watermarkDelay)
      .groupBy(window(col("__ts"), windowDur),
        substring_index(col("urlkey"), ")", 1).as("host"))
      .agg(count(lit(1)).as("n_captures"))
      .select(col("window.start").as("window_start"), col("host"),
        col("n_captures"))

  /** Streaming SESSIONIZATION per host — the streaming counterpart of
    * the batch gap sessionize (q64 shape) via `session_window`: events
    * of one host belong to one session while each arrives within `gap`
    * of the session's end — INCLUSIVE: an event at exactly the end
    * merges (Spark's session state MERGES windows that touch, across
    * micro-batches; boundary semantics pinned in CdxStreamSpec). Append mode emits a session exactly
    * once, when the watermark passes its end (last event + gap) — so
    * state is bounded by sessions-open-per-horizon, never by stream
    * lifetime. Returns (host, session_start, session_end, n_events). */
  def sessionizedHostVisits(cdx: DataFrame, gap: String = "30 minutes",
                            watermarkDelay: String = "2 hours"): DataFrame =
    cdx.withColumn("__ts", to_timestamp(col("timestamp"), "yyyyMMddHHmmss"))
      .withWatermark("__ts", watermarkDelay)
      .groupBy(session_window(col("__ts"), gap),
        substring_index(col("urlkey"), ")", 1).as("host"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("host"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming exact dedup on (urlkey, digest) — the streaming
    * counterpart of the batch digest dedup (q05/q20 shape): a re-crawl
    * whose content digest already streamed within the watermark horizon
    * is dropped. `dropDuplicatesWithinWatermark` bounds the dedup state
    * by EVENT time: a key's state is evicted once the watermark passes
    * it, so state is O(keys per horizon), not O(keys ever) — the only
    * dedup contract that survives an unbounded stream. Duplicates wider
    * apart than the horizon are left to the periodic batch compaction
    * (cluster merge + cleanup), which is exact. */
  def dedupStream(cdx: Dataset[CdxRecord],
                  watermarkDelay: String = "2 hours"): DataFrame =
    cdx.toDF()
      .withColumn("__ts", to_timestamp(col("timestamp"), "yyyyMMddHHmmss"))
      .withWatermark("__ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("urlkey", "digest")
      .drop("__ts")

  /**
   * Incremental index maintenance: each micro-batch of CDX lines becomes
   * its own sorted ZipNum cluster GENERATION (`gen-<batchId>` dir) — the
   * production pattern for a live index: small sorted generations land
   * continuously and a periodic `ClusterOps.merge` (zero-shuffle k-way
   * heap merge) compacts them into the main cluster. Returns a started
   * query; stop it to stop consuming.
   *
   * Boundaries: fixed if supplied (generations then partition-align with
   * the main cluster, making the later merge shuffle-free); otherwise
   * sampled ONCE from the first non-empty batch and PINNED — persisted
   * to `outDir/_gen_boundaries` (AlphaPartitioner split-file format,
   * loadable by [[graft.operators.Boundaries.fromSplitFile]]) so every
   * later generation, including after a query restart, shards on the
   * SAME boundaries. Per-batch resampling would let generations shard
   * differently, and the periodic compaction merge would silently lose
   * its shuffle-free alignment.
   */
  def zipnumGenerations(lines: Dataset[String], outDir: String,
                        checkpointDir: String, nShards: Int = 4,
                        linesPerBlock: Int = 3000,
                        fixedBoundaries: Option[IndexedSeq[String]] = None,
                        trigger: Option[org.apache.spark.sql.streaming.Trigger]
                          = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    trigger.foldLeft(lines.writeStream)(_.trigger(_))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[String], batchId: Long) =>
        // cache: isEmpty, the optional boundary sample, and the build each
        // re-evaluate the batch otherwise (re-reading the source per action)
        val rdd = batch.rdd.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (!rdd.isEmpty()) {
            val bounds = fixedBoundaries.getOrElse(
              pinnedBoundaries(batch.sparkSession, outDir,
                () => graft.operators.Boundaries.sample(rdd, nShards)))
            graft.operators.ClusterOps.build(batch.sparkSession, rdd,
              f"$outDir/gen-$batchId%05d", bounds,
              linesPerBlock = linesPerBlock, overwrite = true)
          }
        } finally rdd.unpersist(blocking = false)
      }
      .start()

  /** Read the pinned generation boundaries under `outDir`, or sample and
    * pin them (write-to-temp + rename; if the rename loses to an already
    * present pin — e.g. a replayed first batch racing its pre-crash
    * write — the existing pin wins and is re-read, so every code path
    * returns the one durable boundary set). An EMPTY pin file is a valid
    * pin: nShards == 1 has no interior boundaries. */
  private def pinnedBoundaries(spark: SparkSession, outDir: String,
                               sample: () => IndexedSeq[String])
      : IndexedSeq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val pin = new org.apache.hadoop.fs.Path(outDir, "_gen_boundaries")
    val fs = pin.getFileSystem(conf)
    def read() = graft.util.IoUtil.readLines(pin, conf)
    if (fs.exists(pin)) read()
    else {
      val b = sample()
      val tmp = new org.apache.hadoop.fs.Path(outDir,
        s"._gen_boundaries.tmp")
      val out = fs.create(tmp, true)
      // leading empty line = shard 0's conventional minimal START, so the
      // file IS AlphaPartitioner format (line i = start of shard i) and
      // Boundaries.fromSplitFile — which drops the first line — loads the
      // same interiors this function's own read() does
      try out.write((("" +: b).mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      if (fs.rename(tmp, pin)) b
      else { fs.delete(tmp, false); read() }
    }
  }

  /** Shared keying scaffold for the day-keyed stateful operators
    * ([[dayCapStream]], [[hllUrlkeyDayDistinct]]): validate the FULL
    * 14-digit timestamp — a date-only prefix check would admit an
    * 8-digit or bad-time value that then blows up `to_timestamp` under
    * Spark 4's ANSI default (the checkpoint-replay poison pill: the
    * query re-crashes on every restart), while a non-ANSI session
    * would instead null the event time, let the row dodge the late
    * filter, and RESURRECT a timed-out group — breaking emits-once.
    * The operators compute day ends at UTC midnight, so the session
    * must be UTC (every entrypoint in this repo pins it) — enforced
    * loudly here instead of silently emitting duplicate or partial
    * day cells under a westward session zone. */
  private def withDayEventTime(cdx: Dataset[CdxRecord],
                               watermarkDelay: String,
                               extraValid: CdxRecord => Boolean = _ => true)
      : Dataset[CdxRecord] = {
    val spark = cdx.sparkSession
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "day-keyed streaming state computes day ends at UTC midnight; " +
        "set spark.sql.session.timeZone=UTC")
    import spark.implicits._
    cdx
      .filter((r: CdxRecord) => r.timestamp != null &&
        r.timestamp.length == 14 && extraValid(r) &&
        scala.util.Try(java.time.LocalDateTime.parse(r.timestamp,
          Ts14Format)).isSuccess)
      .toDF()
      .withColumn("__event_ts",
        to_timestamp(col("timestamp"), "yyyyMMddHHmmss"))
      .withWatermark("__event_ts", watermarkDelay)
      .as[CdxRecord]
  }

  private val Ts14Format =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")

  /** Set a day-keyed group's event-time timeout at its UTC day end,
    * with two guards: the watermark FLOOR keeps young groups alive
    * while the watermark is still at its initial zero, and the future
    * CAP bounds the state held by absurdly future-dated junk days (a
    * real crawl-data class — a 2036 timestamp would otherwise pin its
    * group's state for the stream's lifetime, since the watermark
    * never reaches it): once the watermark is initialized, a day end
    * more than `maxFutureMs` past it times out early, flushing the
    * junk cell instead of holding it forever.
    *
    * DOCUMENTED TRADE (adjudicated r18): for the far-future junk class
    * ONLY, an early flush is not final — rows for the same (key, day)
    * arriving after the flush are not "late" by the watermark (their
    * event time is ahead of it), so they re-create state: the day may
    * emit a second partial cell (hllUrlkeyDayDistinct) or re-admit
    * another budget (dayCapStream). This is inherent, not an oversight:
    * a tombstone that made the flush final would have to live until the
    * watermark passes the junk day's real end — for a 2036 timestamp,
    * the stream's whole lifetime — which is exactly the unbounded state
    * this cap exists to remove, and a TTL'd tombstone merely moves the
    * re-admission boundary. Bounded state wins; the emits-once /
    * exact-budget contracts hold for every day within `maxFutureMs` of
    * the watermark, i.e. all real data. */
  private def setDayEndTimeout(state: GroupState[_], day: String,
                               maxFutureMs: Long = 7L * 86400000L): Unit = {
    val dayEndMs = java.time.LocalDate.parse(day,
      java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
      .plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli
    val wm = state.getCurrentWatermarkMs()
    val capped =
      if (wm > 0) math.min(dayEndMs, wm + maxFutureMs) else dayEndMs
    state.setTimeoutTimestamp(math.max(capped, wm + 60000L))
  }

  /** O4e as custom streaming state: cap captures per (urlkey, day) ACROSS
    * micro-batches — admitting `dayLimit` + 1 rows per group, matching the
    * batch form's reference-faithful off-by-one (see GlobalCdxCleanup);
    * the seen-count per key lives in
    * GroupState, so a capture admitted in batch 1 still counts against
    * the key's budget in batch 5. State is BOUNDED: the event-time
    * watermark (`stateTtl` behind the newest capture) times finished
    * (urlkey, day) groups out and removes them — without it a long-running
    * firehose would hold one state entry per key-day forever. */
  def dayCapStream(cdx: Dataset[CdxRecord], dayLimit: Int,
                   stateTtlMs: Long = 2L * 86400000L): Dataset[CdxRecord] = {
    // same validation as the batch dayCap and streamingLine surfaces
    // (r18 fix, extended to this third surface in r19): a negative limit
    // here silently admitted NOTHING (seen < dayLimit+1 is never true)
    require(dayLimit >= 0, s"dayLimit must be >= 0 (0 disables), got $dayLimit")
    // 0 disables the cap — same semantics as GlobalCdxCleanup.dayCap(0)
    // and the streamingLine form; a stateful pass-through would otherwise
    // admit exactly 1 row per (urlkey, day) here
    if (dayLimit == 0) return cdx
    val spark = cdx.sparkSession
    import spark.implicits._
    // withDayEventTime drops rows whose timestamp can't key a
    // (urlkey, day) group — the reference's parse-or-skip; without it
    // one '-'-timestamp line is a poison pill that re-crashes the
    // query on every checkpoint replay
    withDayEventTime(cdx,
        s"${math.max(1L, stateTtlMs / 1000)} seconds")
      .groupByKey(r => (r.urlkey, r.timestamp.take(8)))
      .flatMapGroupsWithState[Int, CdxRecord](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state: GroupState[Int]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.getOrElse(0)
            val admitted = rows.toVector.sortBy(r => (r.timestamp, r.offset))
              .flatMap { r =>
                if (seen < dayLimit + 1) { seen += 1; Some(r) } else None
              }
            state.update(seen)
            // evict once the WATERMARK (already newest - stateTtl)
            // passes the group's day end — adding the TTL again here
            // would retain state for 2x the documented bound
            setDayEndTimeout(state, key._2)
            admitted.iterator
          }
      }
  }

  /** Per-(urlkey, day) distinct-digest estimate as CUSTOM SKETCH STATE:
    * the HLL register buffer ([[graft.operators.Sketches.HllBuffer]],
    * exactly m bytes) lives in GroupState and folds each micro-batch's
    * rows in — the same reduce the batch aggregator runs, so the
    * summary a group emits is BIT-EQUAL to the batch q131/q132
    * computation over the same rows REGARDLESS of how the stream was
    * batched (the mergeability contract, proven against the streaming
    * engine itself rather than a repartition). A group emits ONCE,
    * when the event-time watermark passes its day end (q51's eviction
    * shape — EventTimeTimeout with a watermark-floor guard), so the
    * output is append-mode exact and state is bounded at m bytes per
    * LIVE (urlkey, day), not per key ever seen. (Far-future junk days
    * are the one exception to emits-once — see [[setDayEndTimeout]]'s
    * documented trade.) */
  def hllUrlkeyDayDistinct(cdx: Dataset[CdxRecord],
                           bucketBits: Int = 6,
                           watermarkDelay: String = "1 hour"): DataFrame = {
    val spark = cdx.sparkSession
    import spark.implicits._
    val agg = graft.operators.Sketches.hllGroupAgg(bucketBits)
    withDayEventTime(cdx, watermarkDelay, extraValid = _.digest != null)
      .groupByKey(r => (r.urlkey, r.timestamp.take(8)))
      .flatMapGroupsWithState[graft.operators.Sketches.HllBuffer,
        (String, String, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows,
            state: GroupState[graft.operators.Sketches.HllBuffer]) =>
          if (state.hasTimedOut) {
            val (filled, s, est) = agg.finish(
              state.getOption.getOrElse(agg.zero))
            state.remove()
            Iterator.single((key._1, key._2, filled, s, est))
          } else {
            val buf = rows.foldLeft(state.getOption.getOrElse(agg.zero)) {
              (b, r) => agg.reduce(b,
                graft.functions.Md5Codegen.md5Prefix48(
                  org.apache.spark.unsafe.types.UTF8String
                    .fromString(r.digest)))
            }
            state.update(buf)
            setDayEndTimeout(state, key._2)
            Iterator.empty
          }
      }
      .toDF("urlkey", "day", "filled", "s", "est_distinct")
  }

}
