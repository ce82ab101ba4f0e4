package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The "global CDX" cleanup (SURVEY §2 O4) as a composable, declarative
 * Dataset transformer. Reference semantics:
 * /root/reference/src/main/java/org/archive/hadoop/mapreduce/GlobalWaybackMergeMapper.java:100-134
 * and GlobalWaybackCDXReducer.java:47-134:
 *
 *  (a) drop rows whose robot flags contain 'A' (noarchive);
 *  (b) drop rows with non-numeric statuscode (unless mimetype is a warc
 *      record type, which legitimately has none) or non-numeric offset;
 *  (c) drop 502/504 captures whose filename is live-20*.arc.gz;
 *  (d) truncate digest to 3 chars;
 *  (e) cap captures per (urlkey, day): a limit of N ADMITS N+1 rows —
 *      the reference checks its guard BEFORE incrementing the counter
 *      (GlobalWaybackCDXReducer.java:76,134), so dayLimit=111 emits 112;
 *      matched bug-for-bug for output fidelity.
 *
 * The reference implements (e) with order-dependent mapper/reducer state that
 * silently assumes globally sorted input; here it is an explicit window —
 * `row_number over (partition by urlkey, day order by timestamp)` — which is
 * correct under any partitioning and shuffles once on the natural key. At
 * 100 TB the window's hash partitioning on (urlkey, day) is the same shuffle
 * the range-repartition for cluster output needs anyway; AQE coalesces or
 * splits skewed (urlkey, day) groups.
 */
object GlobalCdxCleanup {

  val DefaultDayLimit = 111 // GlobalWaybackCDXReducer.java:19-20

  /** (a)–(c): row filters. Typed columns make (b) a null check: the CDX
    * reader already nulls non-numeric statuscode/offset. */
  def filters(df: DataFrame): DataFrame = {
    val noArchive = col("meta_flags").isNotNull && col("meta_flags").contains("A")
    val warc = col("mimetype").isNotNull && col("mimetype").contains("warc/")
    val badStatus = !warc && col("statuscode").isNull
    // (c) applies only OUTSIDE the warc/ carve-out — the reference nests
    // the 502/504 live-web discard in the ELSE of its warc branch
    // (GlobalWaybackMergeMapper.java:107-119), so a warc/ row always
    // rides. The whole conjunction is null-coalesced: a NULL statuscode
    // OR a NULL filename ('-') must read NOT-liveError, never NULL —
    // coalescing only the isin left startsWith(NULL) making the predicate
    // NULL and where() silently dropped 502-rows-with-null-filename,
    // diverging from streamingLine and the reference (r18 review).
    val liveError = !warc && coalesce(
      col("statuscode").isin(502, 504) &&
        col("filename").startsWith("live-20") &&
        col("filename").endsWith(".arc.gz"), lit(false))
    val badOffset = col("offset").isNull
    df.where(!noArchive && !badStatus && !liveError && !badOffset)
  }

  /** (d): 3-char digest for the "global" layout. */
  def truncateDigest(df: DataFrame): DataFrame =
    df.withColumn("digest",
      when(length(col("digest")) > 3, substring(col("digest"), 1, 3))
        .otherwise(col("digest")))

  /** (e): keep at most `dayLimit` + 1 captures per (urlkey, day of
    * timestamp) — the smallest by (timestamp, offset); see the class doc
    * for why the reference's limit admits one extra row.
    *
    * Two phases for skew safety at scale: a hot URL with millions of
    * same-day captures would otherwise ship them all to one reducer. The
    * per-partition pre-cap keeps each partition's local `dayLimit`
    * smallest per (urlkey, day) — a superset of the global winners (the
    * classic partial top-N invariant) — so the window shuffle carries at
    * most partitions×dayLimit rows per hot key instead of all of them.
    * Phase 1 is a local sort (no shuffle); phase 2 is the exact window. */
  def dayCap(dayLimit: Int = DefaultDayLimit)(df: DataFrame): DataFrame = {
    // negative would silently drop EVERY row here (rn <= 0) while the
    // streaming form treats it as disabled — a loud abort beats two forms
    // giving opposite total-data-loss/no-op answers for the same flag
    require(dayLimit >= 0, s"dayLimit must be >= 0 (0 disables), got $dayLimit")
    if (dayLimit == 0) return df // 0 disables, as in the reference
    val admit = dayLimit + 1
    val schema = df.schema
    val keyIdx = schema.fieldIndex("urlkey")
    val tsIdx = schema.fieldIndex("timestamp")
    val localSorted = df.sortWithinPartitions(
      col("urlkey"), substring(col("timestamp"), 1, 8),
      col("timestamp"), col("offset"))
    // typed mapPartitions (Encoders.row), NOT df.rdd + createDataFrame:
    // the RDD hop severed the logical plan at a LogicalRDD boundary,
    // hiding the upstream from AQE and downstream pushdown; the typed
    // form stays ONE plan. The object de/serialization boundary remains
    // — the pre-cap's running (key, day, count) state over the
    // locally-sorted run has no expression-level equivalent (a window
    // would shuffle, which is exactly what the pre-cap exists to avoid).
    val preCapped = localSorted.mapPartitions { rows =>
      var curKey: String = null
      var curDay: String = null
      var count = 0
      rows.filter { r =>
        val key = r.getString(keyIdx)
        // '-' timestamps parse to null (despite the schema's nullable=false
        // claim); the reference days them under the raw token, so they
        // bucket as "-" instead of NPE-ing the whole job on one bad line
        val ts = r.getString(tsIdx)
        val day = if (ts == null) "-" else ts.take(8)
        if (key == curKey && day == curDay) count += 1
        else { curKey = key; curDay = day; count = 1 }
        count <= admit
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    val w = Window
      .partitionBy(col("urlkey"), substring(col("timestamp"), 1, 8))
      .orderBy(col("timestamp"), col("offset"))
    preCapped.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= admit)
      .drop("__rn")
  }

  /** Full pipeline: filters → digest truncation → day cap. */
  def apply(df: DataFrame, dayLimit: Int = DefaultDayLimit): DataFrame =
    dayCap(dayLimit)(truncateDigest(filters(df)))

  /**
   * Line-level streaming form for SORTED streams — the zero-shuffle merge
   * path. Same per-(urlkey, day) sequential counting as the reference
   * reducer (GlobalWaybackCDXReducer.java:47-76); the reference silently
   * assumed sorted input, here the ZipNum merge guarantees it by
   * construction (partitions are key-aligned and heap-merged). Malformed
   * lines are dropped, matching the mapper's parse-or-skip behavior.
   *
   * EXACTNESS CONTRACT: the counter is per-partition, so the cap is exact
   * only when no (urlkey, day) group straddles a partition boundary.
   * [[Boundaries.fromClusterSummaries]] guarantees that by truncating
   * boundaries to the bare urlkey (every partition starts at a urlkey
   * start); a caller passing explicit finer-grained boundaries to
   * [[ClusterOps.merge]] re-opens the reference's own over-admission
   * (its ZipNumPartitioner split urlkeys across reducers the same way,
   * and its reducer counted per-reducer).
   */
  def streamingLine(dayLimit: Int = DefaultDayLimit): Iterator[String] => Iterator[String] = { in =>
    require(dayLimit >= 0, s"dayLimit must be >= 0 (0 disables), got $dayLimit")
    var curKey: String = null
    var curDay: String = null
    var count = 0
    sortTies(in.flatMap { line =>
      graft.model.Cdx.parseLine(line) match {
        case None => None
        case Some(r) =>
          val noArchive = r.metaFlags.exists(_.contains("A"))
          val warc = Option(r.mimetype).exists(_.contains("warc/"))
          val badStatus = !warc && r.statuscode.isEmpty
          // warc/ rows ride unconditionally — see filters() (c)
          val liveError = !warc &&
            r.statuscode.exists(s => s == 502 || s == 504) &&
            r.filename != null && r.filename.startsWith("live-20") &&
            r.filename.endsWith(".arc.gz")
          if (noArchive || badStatus || liveError || r.offset.isEmpty) None
          else {
            // '-' timestamp parses to null: day it "-" like the reference's
            // raw-token substring, never NPE the merge on one bad line
            val day = Option(r.timestamp).getOrElse("-").take(8)
            if (r.urlkey == curKey && day == curDay) count += 1
            else { curKey = r.urlkey; curDay = day; count = 1 }
            if (dayLimit > 0 && count > dayLimit + 1) None
            else {
              val digest =
                if (r.digest != null && r.digest.length > 3) r.digest.take(3)
                else r.digest
              Some(graft.model.Cdx.formatLine(r.copy(digest = digest)))
            }
          }
      }
    })
  }

  /** Puts each run of lines sharing urlkey and timestamp back in byte
    * order, as the ZipNum writer requires. Cutting digests to 3 chars can
    * invert two lines that agree up to the digest: `… ABCA - - 300 …`
    * sorts above `… ABCZ - - 200 …`, but cut, `… ABC - - 300 …` sorts
    * below `… ABC - - 200 …`. Lines with other (urlkey, timestamp) keep
    * their order, so a run is sorted only when it is out of order. */
  private def sortTies(in: Iterator[String]): Iterator[String] = {
    val it = in.buffered
    // the next line continues `first`'s run: same urlkey and timestamp
    def sameRun(first: String, keyEnd: Int): Boolean =
      it.hasNext && it.head.regionMatches(0, first, 0, keyEnd)
    new Iterator[String] {
      private var run: Iterator[String] = Iterator.empty
      def hasNext: Boolean = run.hasNext || it.hasNext
      def next(): String =
        if (run.hasNext) run.next()
        else {
          val first = it.next()
          val keyEnd = first.indexOf(' ', first.indexOf(' ') + 1) + 1
          if (keyEnd == 0 || !sameRun(first, keyEnd)) first
          else {
            val buf = scala.collection.mutable.ArrayBuffer(first)
            var inOrder = true
            while (sameRun(first, keyEnd)) {
              val l = it.next()
              inOrder &&= graft.util.KeyOrder.compare(buf.last, l) <= 0
              buf += l
            }
            run = (if (inOrder) buf else buf.sorted(graft.util.KeyOrder)).iterator
            run.next()
          }
        }
    }
  }
}
