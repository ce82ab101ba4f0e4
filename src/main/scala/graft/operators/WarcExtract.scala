package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.{LongAccumulator, SerializableConfiguration}

import graft.sources.warc.{ArcRecords, GzipMembers, WarcRecords}

/**
 * W/ARC → CDX extraction (SURVEY §3.4; jobs/CDXGenerator.java:186-273).
 * One FILE per task — the FilenameInputFormat shape (S1): gzip members are
 * not splittable mid-file, and per-file outputs keep operational parity.
 * Both archive formats stream through the same member walk, dispatched by
 * member content — the reference's jobs likewise accept either format via
 * webarchive-commons (CDXGenerator.java:143-170 ProducerUtils).
 * Fault tolerance mirrors `-soft` (CDXGenerator.java:222-238): bad members
 * are counted in an accumulator instead of failing the task; with
 * soft=false the first bad member fails the job.
 */
object WarcExtract {

  /** One CDX-shaped row per extractable record. */
  final case class CdxRow(
      urlkey: String, timestamp: String, original_url: String,
      mimetype: String, statuscode: Option[Int], digest: String,
      compressed_size: Long, offset: Long, filename: String)

  final case class Extraction(rows: Dataset[CdxRow],
                              badMembers: LongAccumulator)

  /** Open `p` and walk its gzip members with leak-proof close discipline:
    * idempotent close fires on exhaustion (AutoCloseIterator) AND on task
    * completion (limit / kill / mid-file exception) — every member walk in
    * this file must go through here. */
  private def openMembers(p: Path, conf: SerializableConfiguration,
                          soft: Boolean, bad: LongAccumulator)
      : Iterator[GzipMembers.Member] = {
    val in = p.getFileSystem(conf.value).open(p)
    var closed = false
    def closeIn(): Unit = if (!closed) {
      closed = true; try in.close() catch { case _: Exception => () }
    }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => closeIn()))
    // dispatch by MAGIC, not extension (the webarchive-commons rule):
    // gzip members for .gz archives, plain record walk for uncompressed
    // .warc files — one buffered peek, both walks share the stream
    val buf = new java.io.BufferedInputStream(in, 1 << 16)
    buf.mark(2)
    val b0 = buf.read(); val b1 = buf.read()
    buf.reset()
    val raw =
      if (b0 == 0x1f && b1 == 0x8b) GzipMembers.iterate(buf)
      else graft.sources.warc.PlainWarc.iterate(buf)
    val members =
      if (soft) GzipMembers.soften(raw, _ => bad.add(1)) else raw
    new graft.util.IoUtil.AutoCloseIterator(members, () => closeIn())
  }

  /** One member → its CDX rows, dispatched by content: a payload
    * opening with "WARC/" parses as WARC records (response / resource /
    * revisit — the three record families CDX carries, see the reference
    * CDX mime vocabulary at `pig/CDXLoader.java:33`; a member holding
    * SEVERAL concatenated records yields one row each via
    * `WarcRecords.parseAll`, all sharing the member's byte extent — the
    * smallest unit a range repackage can copy), anything else
    * tries the legacy ARC URL-record shape (every captured record except
    * the filedesc file header). A revisit row keeps the CDX conventions:
    * mime `warc/revisit`, digest from the record's WARC-Payload-Digest
    * (the ORIGINAL capture's payload hash — the revisit block itself has
    * no payload to hash), status from the re-serialized HTTP headers
    * when the block carries them. */
  /** One parsed WARC record → its CDX row (response / resource /
    * revisit only), carrying the copyable extent the caller provides —
    * a member's extent on the normal path, the whole file's on the
    * healed mid-record-boundary path. */
  private def rowOfRecord(rec: WarcRecords.WarcRecord, length: Long,
                          offset: Long, name: String): Option[CdxRow] = {
    if (rec.warcType != "response" && rec.warcType != "resource" &&
        rec.warcType != "revisit") None
    else for {
      uri <- rec.targetUri
      ts <- rec.timestamp14
    } yield {
      val (status, httpMime) = rec.httpStatusAndMime
      val body =
        if (status.isDefined) httpBody(rec.payload) else rec.payload
      val isRevisit = rec.warcType == "revisit"
      val payloadDigest = rec.headers.collectFirst {
        case (k, v) if k.equalsIgnoreCase("WARC-Payload-Digest") =>
          if (v.toLowerCase.startsWith("sha1:")) v.substring(5) else v
      }
      CdxRow(
        urlkey = graft.functions.Surt.surtLenient(uri),
        timestamp = ts,
        original_url = uri,
        mimetype =
          if (isRevisit) "warc/revisit"
          else httpMime
            .orElse(rec.contentType.map(_.split(";")(0).trim))
            .getOrElse("unk"),
        statuscode = status,
        digest =
          if (isRevisit)
            payloadDigest.getOrElse(WarcRecords.sha1Base32(body))
          else WarcRecords.sha1Base32(body),
        compressed_size = length,
        offset = offset,
        filename = name)
    }
  }

  private def arcRowsOf(m: GzipMembers.Member, name: String): Seq[CdxRow] =
    {
      ArcRecords.parse(m.payload).toSeq.flatMap { rec =>
        if (rec.isFiledesc) None
        else Some {
          val (status, _) = rec.httpStatusAndMime
          val body =
            if (status.isDefined) httpBody(rec.content) else rec.content
          CdxRow(
            urlkey = graft.functions.Surt.surtLenient(rec.url),
            timestamp = rec.date14,
            original_url = rec.url,
            // the URL-line mime IS the content type captured at crawl
            // time — the CDX convention for ARC inputs
            mimetype = if (rec.mime.nonEmpty) rec.mime else "unk",
            statuscode = status.orElse(rec.statusFromHeader),
            digest = WarcRecords.sha1Base32(body),
            compressed_size = m.length,
            offset = m.offset,
            filename = name)
        }
      }
    }

  /** EXACT one-file-per-task placement (S1): round-robin repartition can
    * stack two files on one task and leave another empty — shared by
    * every per-file walk in this object. */
  private def oneTaskPerFile(spark: SparkSession,
                             paths: Seq[String]): Dataset[String] = {
    import spark.implicits._
    val n = math.max(1, paths.size)
    val pathsRdd = spark.sparkContext
      .parallelize(paths.zipWithIndex.map(_.swap), n)
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = n
        override def getPartition(key: Any): Int = key.asInstanceOf[Int] % n
      })
      .values
    spark.createDataset(pathsRdd)
  }

  /** Extract response/resource/revisit records of `paths` (one task per
    * file). */
  def extract(spark: SparkSession, paths: Seq[String],
              soft: Boolean = false): Extraction = {
    import spark.implicits._
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val bad = spark.sparkContext.longAccumulator("warc.bad.members")
    val rows = oneTaskPerFile(spark, paths)
      .mapPartitions { pathIter =>
        pathIter.flatMap(pathStr => fileRows(pathStr, conf, soft, bad))
      }
    Extraction(rows, bad)
  }

  /** All CDX rows of one archive file: the per-member walk, plus a
    * HEALING pass for re-zipped archives whose gzip member boundaries
    * no longer align with record boundaries (a decompress+re-gzip with
    * arbitrary chunking — rsyncable recompression, chunked uploads).
    * Detection: the file leads with WARC magic but some member is
    * structurally unparseable as WARC (a continuation chunk, or a
    * chunk whose records are cut mid-payload). Repair: gzip members
    * only matter for random access, so the healed walk re-frames
    * records over the file's CONCATENATED decompressed stream
    * (GZIPInputStream reads multi-member streams natively) and every
    * healed row carries the WHOLE FILE as its copyable extent — the
    * smallest range a repackage can copy once member boundaries are
    * meaningless. The healed result only replaces the member walk's
    * rows when it recovers MORE records; per-file rows materialize in
    * memory on this path (CDX rows are ~0.02% of archive bytes). */
  private def fileRows(pathStr: String, conf: SerializableConfiguration,
                       soft: Boolean, bad: LongAccumulator): Seq[CdxRow] = {
    val p = new Path(pathStr)
    val name = p.getName
    val memberRows = scala.collection.mutable.ArrayBuffer.empty[CdxRow]
    var misaligned = false
    var firstIsWarc = false
    var first = true
    openMembers(p, conf, soft, bad).foreach { m =>
      val isWarc = WarcRecords.looksLikeWarc(m.payload)
      if (first) { first = false; firstIsWarc = isWarc }
      if (isWarc) {
        val recs = WarcRecords.parseAll(m.payload)
        if (recs.isEmpty) misaligned = true
        memberRows ++= recs.flatMap(rowOfRecord(_, m.length, m.offset, name))
      } else {
        val rows = arcRowsOf(m, name)
        if (rows.isEmpty && firstIsWarc) misaligned = true
        memberRows ++= rows
      }
    }
    if (!(misaligned && firstIsWarc)) memberRows.toVector
    else {
      try {
        val fs = p.getFileSystem(conf.value)
        val fileLen = fs.getFileStatus(p).getLen
        val in = fs.open(p)
        // gz tracked so the finally can close IT (releasing the
        // Inflater's native memory immediately), not just the
        // underlying stream — the same class the r18 advice closed in
        // IndirectScans.rangedDereference (in.close alone leaves the
        // Inflater to the GC)
        var gz: java.util.zip.GZIPInputStream = null
        try {
          gz = new java.util.zip.GZIPInputStream(
            new java.io.BufferedInputStream(in, 1 << 16))
          val walk = graft.sources.warc.PlainWarc.iterate(gz)
          val softWalk =
            if (soft) GzipMembers.soften(walk, _ => bad.add(1)) else walk
          val healed = softWalk.flatMap(rm =>
            WarcRecords.parse(rm.payload).flatMap(
              rowOfRecord(_, fileLen, 0L, name))).toVector
          // >= on purpose: once misaligned, the member walk's rows can
          // carry TRUNCATED payload digests (a record cut mid-body
          // still parses with Content-Length clamped to the member),
          // so at equal counts the healed rows — framed over the whole
          // stream — are the trustworthy set; the member walk only
          // survives when healing recovered strictly fewer records
          // (damage stopped the healed scan early)
          if (healed.size >= memberRows.size) healed
          else memberRows.toVector
        } finally {
          if (gz != null) try gz.close() catch { case _: Exception => () }
          in.close()
        }
      } catch { case _: Exception => memberRows.toVector }
    }
  }

  /** One extracted entity payload: the media-pipeline entry row —
    * binary payload + typed metadata (the brief's multimodal column
    * convention), ready for MultimodalOps.decode / frameSample
    * downstream. */
  final case class PayloadRow(urlkey: String, timestamp: String,
                              original_url: String, mimetype: String,
                              payload: Array[Byte])

  /** [[payloadRows]] result: the rows plus the --skip-bad accumulator
    * (how many corrupt members `soft` silently skipped — same
    * observable [[Extraction]] carries; evaluate it AFTER an action). */
  final case class PayloadExtraction(rows: Dataset[PayloadRow],
                                     badMembers: LongAccumulator)

  /** Extract response/resource ENTITY BYTES (one task per file, same
    * placement as extract()): the WARC → binary-column bridge a
    * crawl-media pipeline starts from. Bodies follow the same
    * conventions the CDX digests use — HTTP headers stripped, chunked
    * transfer-encoding DE-chunked (damaged framing keeps raw bytes) —
    * so the payload a codec decodes here is byte-identical to what the
    * digest covered. Revisits (no payload) and warcinfo/metadata
    * records are skipped by type; ARC members are skipped (media
    * crawls are WARC-era). The flatMap stays lazy over the member
    * walk: payload bytes live only while their row is in flight, never
    * a whole file's worth at once. */
  def payloadRows(spark: SparkSession, paths: Seq[String],
                  soft: Boolean = false): PayloadExtraction = {
    import spark.implicits._
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val bad = spark.sparkContext.longAccumulator("warc.bad.members.payload")
    val rows = oneTaskPerFile(spark, paths).mapPartitions { pathIter =>
      pathIter.flatMap { pathStr =>
        val p = new Path(pathStr)
        openMembers(p, conf, soft, bad).flatMap { m =>
          if (!WarcRecords.looksLikeWarc(m.payload)) Iterator.empty
          else WarcRecords.parseAll(m.payload).iterator.flatMap { rec =>
            if (rec.warcType != "response" && rec.warcType != "resource")
              None
            else for {
              uri <- rec.targetUri
              ts <- rec.timestamp14
            } yield {
              val (status, httpMime) = rec.httpStatusAndMime
              val body =
                if (status.isDefined) httpBody(rec.payload) else rec.payload
              PayloadRow(
                urlkey = graft.functions.Surt.surtLenient(uri),
                timestamp = ts,
                original_url = uri,
                mimetype = httpMime
                  .orElse(rec.contentType.map(_.split(";")(0).trim))
                  .getOrElse("unk"),
                payload = body)
            }
          }
        }
      }
    }
    PayloadExtraction(rows, bad)
  }

  /** Write one `<basename>.cdx` next to nothing in particular — per-input
    * side outputs with the .TMP→rename commit of CDXGenerator.java:171-179. */
  def extractToFiles(spark: SparkSession, paths: Seq[String], outDir: String,
                     soft: Boolean = false): Long = {
    // outputs are keyed by input basename — duplicate basenames would
    // silently overwrite each other's .cdx; fail loudly instead
    val basenames = paths.map(p => new Path(p).getName)
    require(basenames.distinct.size == basenames.size,
      s"duplicate input basenames: ${basenames.diff(basenames.distinct).distinct.mkString(", ")}")
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val ex = extract(spark, paths, soft)
    val n = spark.sparkContext.longAccumulator("warc.cdx.lines")
    ex.rows.foreachPartition { (it: Iterator[CdxRow]) =>
      // rows arrive file-by-file (extract emits each file contiguously and
      // no shuffle intervenes) — buffer ONE file's rows at a time, not the
      // whole partition; memory is bounded by the largest single file
      val fs = new Path(outDir).getFileSystem(conf.value)
      val order = Ordering.by[CdxRow, String](_.urlkey)(graft.util.KeyOrder)
        .orElseBy(_.timestamp)(graft.util.KeyOrder)
      def flush(name: String, rows: Seq[CdxRow]): Unit = {
        val tmp = new Path(outDir, s"$name.cdx.TMP")
        val dst = new Path(outDir, s"$name.cdx")
        val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
          fs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
        try {
          val line = new java.lang.StringBuilder(256)
          rows.sorted(order).foreach { r =>
            line.setLength(0)
            line.append(r.urlkey).append(' ').append(r.timestamp).append(' ')
              .append(r.original_url).append(' ').append(r.mimetype).append(' ')
            r.statuscode match {
              case Some(s) => line.append(s)
              case None => line.append('-')
            }
            line.append(' ').append(r.digest).append(" - - ")
              .append(r.compressed_size).append(' ').append(r.offset).append(' ')
              .append(r.filename).append('\n')
            out.append(line)
          }
        } finally out.close()
        n.add(rows.size)
        fs.delete(dst, false)
        require(fs.rename(tmp, dst), s"commit: rename to $dst failed")
      }
      var curName: String = null
      val buf = scala.collection.mutable.ArrayBuffer.empty[CdxRow]
      it.foreach { r =>
        if (r.filename != curName) {
          if (curName != null) { flush(curName, buf.toSeq); buf.clear() }
          curName = r.filename
        }
        buf += r
      }
      if (curName != null) flush(curName, buf.toSeq)
    }
    n.value
  }

  /**
   * WARCMetadataRecordGenerator analogue (SURVEY §3.4;
   * /root/reference/src/main/java/org/archive/hadoop/jobs/WARCMetadataRecordGenerator.java:144):
   * emit the PAYLOADS of records of one family — `outputType` picks
   * "warcinfo" (default) or "metadata" — with container geometry, the
   * inputs to collection-level accounting jobs.
   */
  def metadataRows(spark: SparkSession, paths: Seq[String],
                   outputType: String = "warcinfo",
                   soft: Boolean = false): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val bad = spark.sparkContext.longAccumulator("warc.bad.members.meta")
    // parseAll, not parse: a multi-record gzip member (the r12 tolerance
    // class extract() already walks) must yield EVERY matching record,
    // not silently only its first; oneTaskPerFile for the same exact
    // placement extract() uses (round-robin can stack two files on one
    // task) — r19 review parity fixes
    oneTaskPerFile(spark, paths)
      .mapPartitions { pathIter =>
        pathIter.flatMap { pathStr =>
          val p = new Path(pathStr)
          val name = p.getName
          openMembers(p, conf, soft, bad).flatMap { m =>
              WarcRecords.parseAll(m.payload).collect {
                case rec if rec.warcType == outputType =>
                  (name, m.offset, m.length, rec.warcType,
                    new String(rec.payload, "UTF-8"))
              }
            }
        }
      }
      .toDF("filename", "offset", "length", "warc_type", "payload")
  }

  /** One WAT-shaped row: per-record JSON metadata envelope. */
  final case class WatRow(urlkey: String, timestamp: String, wat: String)

  /**
   * K14 — WAT generation: the same record walk as [[extract]], rendering
   * each record's metadata (WARC headers + HTTP response status/mime +
   * container offsets) as a nested JSON envelope, the WATGenerator shape
   * (/root/reference/src/main/java/org/archive/hadoop/jobs/WATGenerator.java:145;
   * JSON assembled with Spark's codegen'd to_json over a nested struct,
   * not string concatenation).
   */
  def watRows(spark: SparkSession, paths: Seq[String],
              soft: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val bad = spark.sparkContext.longAccumulator("warc.bad.members.wat")
    // parseAll + oneTaskPerFile: same multi-record and exact-placement
    // parity with extract() as metadataRows (r19 review)
    val parsed = oneTaskPerFile(spark, paths)
      .mapPartitions { pathIter =>
        pathIter.flatMap { pathStr =>
          val p = new Path(pathStr)
          val name = p.getName
          openMembers(p, conf, soft, bad).flatMap { m =>
            WarcRecords.parseAll(m.payload).flatMap { rec =>
              for { uri <- rec.targetUri; ts <- rec.timestamp14 } yield {
                val (status, mime) = rec.httpStatusAndMime
                (graft.functions.Surt.surtLenient(uri), ts, rec.warcType,
                  rec.headers, status, mime.getOrElse("unk"),
                  m.offset, m.length, name)
              }
            }
          }
        }
      }
      .toDF("urlkey", "timestamp", "warc_type", "warc_headers",
        "http_status", "mime", "offset", "length", "filename")
    parsed.select(col("urlkey"), col("timestamp"),
      to_json(struct(
        struct(
          col("warc_headers").as("WARC-Header-Metadata"),
          struct(
            struct(col("http_status").as("Status")).as("Response-Message"),
            col("mime").as("Content-Type")
          ).as("HTTP-Response-Metadata")
        ).as("Envelope"),
        struct(col("filename").as("Filename"), col("offset").as("Offset"),
          col("length").as("Length")).as("Container")
      )).as("wat"))
  }

  /** Payload after the HTTP header block (digest covers the entity body,
    * not the headers). A `Transfer-Encoding: chunked` response stores
    * the raw chunked stream in the record block; the digest convention
    * (reference: webarchive-commons' payload digest) covers the
    * DE-CHUNKED entity, so the framing is stripped here — and kept
    * as-is when the framing is damaged (dechunk = None): a raw-bytes
    * digest is stable and honest, a half-decoded one is neither. */
  private def httpBody(payload: Array[Byte]): Array[Byte] = {
    val sep = CrLfCrLf
    var i = 0
    while (i <= payload.length - sep.length) {
      var j = 0
      while (j < sep.length && payload(i + j) == sep(j)) j += 1
      if (j == sep.length) {
        val raw = java.util.Arrays.copyOfRange(payload, i + 4, payload.length)
        // one head-sized decode (bytes 0..separator), not a fixed-4KB
        // one per record — this runs for EVERY response record and the
        // chunked case is the rare one
        val head = new String(payload, 0, i,
          java.nio.charset.StandardCharsets.ISO_8859_1).toLowerCase
        val te = head.indexOf("transfer-encoding:")
        val chunked = te >= 0 && {
          val eol = head.indexOf('\n', te)
          head.substring(te, if (eol < 0) head.length else eol)
            .contains("chunked")
        }
        return if (chunked) WarcRecords.dechunk(raw).getOrElse(raw) else raw
      }
      i += 1
    }
    payload
  }

  private val CrLfCrLf = "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
}
