package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.util.{LongAccumulator, SerializableConfiguration}

import graft.sources.warc.{ArcRecords, GzipMembers, WarcRecords}
import graft.sources.warc.GzipMembers.Member

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

  /** A verb's rows plus its `-soft` accumulator (how many corrupt members
    * were skipped; evaluate it AFTER an action). */
  final case class Extraction[T](rows: Dataset[T],
                                 badMembers: LongAccumulator)

  /** One archive file of a walk, with what a second pass over it needs:
    * its file system and the walk's `-soft` rule. */
  private final case class ArchiveFile(path: Path,
                                       conf: SerializableConfiguration,
                                       soft: Boolean, bad: LongAccumulator) {
    def name: String = path.getName
    def fs: FileSystem = path.getFileSystem(conf.value)
    /** Soft: a bad member ends the walk and is counted, not thrown. */
    def soften(walk: Iterator[Member]): Iterator[Member] =
      if (soft) GzipMembers.soften(walk, _ => bad.add(1)) else walk
  }

  /** The one per-file walk of every verb here: one task per file, each
    * file's members opened by [[openMembers]], bad members counted in the
    * accumulator `counter`; `rowsOf` is the verb's projection of one
    * file's member walk. */
  private def walkFiles[T: Encoder](spark: SparkSession, paths: Seq[String],
                                    soft: Boolean, counter: String)
      (rowsOf: (ArchiveFile, Iterator[Member]) => Iterator[T])
      : Extraction[T] = {
    val sc = spark.sparkContext
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    val bad = sc.longAccumulator(counter)
    val rows = oneTaskPerFile(spark, paths).mapPartitions(_.flatMap { p =>
      val file = ArchiveFile(new Path(p), conf, soft, bad)
      rowsOf(file, openMembers(file))
    })
    Extraction(rows, bad)
  }

  /** Open `file` and walk its gzip members with leak-proof close
    * discipline: idempotent close fires on exhaustion (AutoCloseIterator)
    * AND on task completion (limit / kill / mid-file exception). */
  private def openMembers(file: ArchiveFile): Iterator[Member] = {
    val in = file.fs.open(file.path)
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
    new graft.util.IoUtil.AutoCloseIterator(file.soften(raw), () => closeIn())
  }

  /** EXACT one-file-per-task placement (S1): round-robin repartition can
    * stack two files on one task and leave another empty. */
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

  /** One captured record as CDX and payload rows see it: the entity
    * `body` is the block after its HTTP head, de-chunked (what the CDX
    * digest covers); `revisitDigest` is a revisit's WARC-Payload-Digest
    * (the ORIGINAL capture's payload hash — the revisit block itself has
    * no payload to hash). */
  private final case class Capture(urlkey: String, timestamp: String,
                                   url: String, mime: String,
                                   status: Option[Int], body: Array[Byte],
                                   revisitDigest: Option[String])

  /** The one response projection: `mimeOf` picks the row's mime from
    * the HTTP mime, `status` falls back to `headerStatus`. */
  private def capture(url: String, timestamp: String, block: Array[Byte],
                      mimeOf: Option[String] => String,
                      headerStatus: Option[Int],
                      revisitDigest: Option[String]): Capture = {
    val head = WarcRecords.httpHead(block)
    Capture(graft.functions.Surt.surtLenient(url), timestamp, url,
      mimeOf(head.mime), head.status.orElse(headerStatus),
      head.entity(block), revisitDigest)
  }

  /** A WARC response / resource / revisit record with a target URI and a
    * date — the three record families CDX carries (see the reference CDX
    * mime vocabulary at `pig/CDXLoader.java:33`). Mime: the HTTP one,
    * else the WARC Content-Type, else `unk`; a revisit's is
    * `warc/revisit`. */
  private def warcCapture(rec: WarcRecords.WarcRecord): Option[Capture] =
    if (rec.warcType != "response" && rec.warcType != "resource" &&
        rec.warcType != "revisit") None
    else for {
      uri <- rec.targetUri
      ts <- rec.timestamp14
    } yield {
      val isRevisit = rec.warcType == "revisit"
      capture(uri, ts, rec.payload,
        httpMime =>
          if (isRevisit) "warc/revisit"
          else httpMime
            .orElse(rec.contentType.map(_.split(";")(0).trim))
            .getOrElse("unk"),
        headerStatus = None,
        revisitDigest = if (!isRevisit) None else rec.headers.collectFirst {
          case (k, v) if k.equalsIgnoreCase("WARC-Payload-Digest") =>
            if (v.toLowerCase.startsWith("sha1:")) v.substring(5) else v
        })
    }

  /** An ARC URL record (every captured record except the filedesc file
    * header). The URL-line mime IS the content type captured at crawl
    * time — the CDX convention for ARC inputs; the status falls back to
    * the v2 URL line's Result-code. */
  private def arcCapture(rec: ArcRecords.ArcRecord): Option[Capture] =
    if (rec.isFiledesc) None
    else Some(capture(rec.url, rec.date14, rec.content,
      _ => if (rec.mime.nonEmpty) rec.mime else "unk",
      headerStatus = rec.statusFromHeader, revisitDigest = None))

  /** A capture's CDX row, carrying the copyable extent the caller
    * provides — a member's extent on the normal path, the whole file's on
    * the healed mid-record-boundary path. */
  private def cdxRow(c: Capture, length: Long, offset: Long,
                     name: String): CdxRow =
    CdxRow(c.urlkey, c.timestamp, c.url, c.mime, c.status,
      c.revisitDigest.getOrElse(WarcRecords.sha1Base32(c.body)),
      length, offset, name)

  /** Extract response/resource/revisit records of `paths` (one task per
    * file). */
  def extract(spark: SparkSession, paths: Seq[String],
              soft: Boolean = false): Extraction[CdxRow] = {
    import spark.implicits._
    walkFiles(spark, paths, soft, "warc.bad.members")(fileRows(_, _).iterator)
  }

  /** All CDX rows of one archive file. Each member is dispatched by
    * content: a payload opening with "WARC/" parses as WARC records (a
    * member holding SEVERAL concatenated records yields one row each via
    * `WarcRecords.parseAll`, all sharing the member's byte extent — the
    * smallest unit a range repackage can copy), anything else as an ARC
    * record. Then a HEALING pass for re-zipped archives whose gzip
    * member boundaries no longer align with record boundaries (a
    * decompress+re-gzip with arbitrary chunking — rsyncable
    * recompression, chunked uploads).
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
  private def fileRows(file: ArchiveFile,
                       members: Iterator[Member]): Seq[CdxRow] = {
    val name = file.name
    val memberRows = scala.collection.mutable.ArrayBuffer.empty[CdxRow]
    var misaligned = false
    var firstIsWarc = false
    var first = true
    members.foreach { m =>
      val isWarc = WarcRecords.looksLikeWarc(m.payload)
      if (first) { first = false; firstIsWarc = isWarc }
      if (isWarc) {
        val recs = WarcRecords.parseAll(m.payload)
        if (recs.isEmpty) misaligned = true
        memberRows ++= recs.flatMap(warcCapture)
          .map(cdxRow(_, m.length, m.offset, name))
      } else {
        val rows = ArcRecords.parse(m.payload).flatMap(arcCapture)
          .map(cdxRow(_, m.length, m.offset, name))
        if (rows.isEmpty && firstIsWarc) misaligned = true
        memberRows ++= rows
      }
    }
    if (!(misaligned && firstIsWarc)) memberRows.toVector
    else {
      try {
        val fs = file.fs
        val fileLen = fs.getFileStatus(file.path).getLen
        val in = fs.open(file.path)
        // gz tracked so the finally can close IT (releasing the
        // Inflater's native memory immediately), not just the
        // underlying stream — the same class the r18 advice closed in
        // IndirectScans.rangedDereference (in.close alone leaves the
        // Inflater to the GC)
        var gz: java.util.zip.GZIPInputStream = null
        try {
          gz = new java.util.zip.GZIPInputStream(
            new java.io.BufferedInputStream(in, 1 << 16))
          val walk = file.soften(graft.sources.warc.PlainWarc.iterate(gz))
          val healed = walk.flatMap(rm =>
            WarcRecords.parse(rm.payload).flatMap(warcCapture)
              .map(cdxRow(_, fileLen, 0L, name))).toVector
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

  /** Extract response/resource ENTITY BYTES (one task per file, same
    * placement as extract()): the WARC → binary-column bridge a
    * crawl-media pipeline starts from. Bodies are the entities the CDX
    * digests cover — HTTP headers stripped, chunked transfer-encoding
    * DE-chunked (damaged framing keeps raw bytes) — so the payload a
    * codec decodes here is byte-identical to what the digest covered.
    * Revisits (no payload) and warcinfo/metadata records are skipped by
    * type; ARC members are skipped (media crawls are WARC-era). The
    * flatMap stays lazy over the member walk: payload bytes live only
    * while their row is in flight, never a whole file's worth at once. */
  def payloadRows(spark: SparkSession, paths: Seq[String],
                  soft: Boolean = false): Extraction[PayloadRow] = {
    import spark.implicits._
    walkFiles(spark, paths, soft, "warc.bad.members.payload") { (_, members) =>
      members.flatMap { m =>
        if (!WarcRecords.looksLikeWarc(m.payload)) Iterator.empty
        else WarcRecords.parseAll(m.payload).iterator
          .filter(_.warcType != "revisit").flatMap(warcCapture)
          .map(c => PayloadRow(c.urlkey, c.timestamp, c.url, c.mime, c.body))
      }
    }
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
   * inputs to collection-level accounting jobs. Every record of a
   * multi-record member counts (parseAll, not parse).
   */
  def metadataRows(spark: SparkSession, paths: Seq[String],
                   outputType: String = "warcinfo",
                   soft: Boolean = false): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    walkFiles(spark, paths, soft, "warc.bad.members.meta") { (file, members) =>
      members.flatMap { m =>
        WarcRecords.parseAll(m.payload).collect {
          case rec if rec.warcType == outputType =>
            (file.name, m.offset, m.length, rec.warcType,
              new String(rec.payload, "UTF-8"))
        }
      }
    }.rows.toDF("filename", "offset", "length", "warc_type", "payload")
  }

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
    val parsed = walkFiles(spark, paths, soft, "warc.bad.members.wat") {
      (file, members) =>
        members.flatMap { m =>
          WarcRecords.parseAll(m.payload).flatMap { rec =>
            for { uri <- rec.targetUri; ts <- rec.timestamp14 } yield {
              val (status, mime) = rec.httpStatusAndMime
              (graft.functions.Surt.surtLenient(uri), ts, rec.warcType,
                rec.headers, status, mime.getOrElse("unk"),
                m.offset, m.length, file.name)
            }
          }
        }
    }.rows.toDF("urlkey", "timestamp", "warc_type", "warc_headers",
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
}
