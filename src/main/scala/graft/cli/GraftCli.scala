package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * CLI facade mirroring the reference's JobDriver tool registry
 * (/root/reference/src/main/java/org/archive/hadoop/jobs/JobDriver.java:25-131)
 * so operational parity is scriptable. Spark-first: each tool is a thin
 * main over the library operators.
 */
object GraftCli {

  /** Local core count: `SPARK_GRAFT_CPUS`, or 32 when unset. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32) { v =>
    v.trim.toIntOption.filter(_ > 0).getOrElse(
      sys.error(s"SPARK_GRAFT_CPUS='$v' must be a positive integer"))
  }

  /** The one session factory: every main, tool and test session is built
    * here, so their configs cannot drift apart. `conf` adds settings on
    * top of the shared ones (Bench's measured sizing knobs, the test
    * warehouse dir). */
  def session(appName: String, cpus: Int = defaultCpus,
              conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.CdxFunctions.register(spark)
    spark
  }

  /** Scan CDX text (LF-only lines, CR is data) into the parsed CDX table. */
  def readCdx(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val lines = spark.read.option("lineSep", "\n").textFile(path)
    lines.flatMap(graft.model.Cdx.parseLine _).toDF()
      .toDF(graft.model.Cdx.columnNames: _*)
  }

  /** http-import input line → task: `URL` (name = URL basename) or
    * `NAME URL` (HTTPImportMapper.java:66-84). */
  private[graft] def importTask(line: String,
                              target: String): graft.sources.HttpSources.ImportTask = {
    val t = line.trim
    val i = t.indexOf(' ')
    val (name, url) =
      if (i < 0) {
        val path = Option(java.net.URI.create(t).getPath).getOrElse("")
        (path.substring(path.lastIndexOf('/') + 1), t)
      } else (t.substring(0, i), t.substring(i + 1).trim)
    require(name.nonEmpty, s"no file name derivable from: $line")
    graft.sources.HttpSources.ImportTask(url, s"$target/$name")
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val tool = args.head
    val rest = args.tail
    tool match {
      case "cdx-parse" =>
        // cdx-parse <input> [limit]  — parse CDX lines, print as a table
        if (rest.isEmpty) { usage(); sys.exit(2) }
        // a malformed limit aborts with usage, not a bare
        // NumberFormatException (the decontaminate/bm25 convention)
        val n = rest.lift(1) match {
          case None => 20
          case Some(v) => v.toIntOption.getOrElse { usage(); sys.exit(2) }
        }
        val spark = session("cdx-parse")
        readCdx(spark, rest(0)).show(n, truncate = false)
        spark.stop()
      case "surt" =>
        // surt <url> — canonicalize one URL (smoke/debug)
        if (rest.isEmpty) { usage(); sys.exit(2) }
        println(graft.functions.Surt.surtLenient(rest(0)))
      case "cdxj-convert" =>
        // cdxj-convert to|from <input> <outDir> — CDX-11 ↔ CDXJ text
        // (pywb's JSON CDX; model/CdxJ.scala). Sort order is carried
        // by (urlkey, timestamp) identically in both formats, so
        // converted files remain cluster-buildable.
        if (rest.length != 3 || !Set("to", "from")(rest(0))) {
          usage(); sys.exit(2)
        }
        val spark = session("cdxj-convert")
        val out = rest(0) match {
          case "to" =>
            readCdx(spark, rest(1)).select(
              graft.model.CdxJ.formatLine(
                org.apache.spark.sql.functions.col("urlkey"),
                org.apache.spark.sql.functions.col("timestamp"),
                org.apache.spark.sql.functions.col("original_url"),
                org.apache.spark.sql.functions.col("mimetype"),
                org.apache.spark.sql.functions.col("statuscode"),
                org.apache.spark.sql.functions.col("digest"),
                org.apache.spark.sql.functions.col("redirect_url"),
                org.apache.spark.sql.functions.col("meta_flags"),
                org.apache.spark.sql.functions.col("compressed_size"),
                org.apache.spark.sql.functions.col("offset"),
                org.apache.spark.sql.functions.col("filename")).as("line"))
          case _ =>
            import graft.model.{Cdx, CdxRecord}
            val parsed = spark.read.option("lineSep", "\n")
              .textFile(rest(1)).toDF("line")
              .where(org.apache.spark.sql.functions.col("line") =!= "")
              .select(graft.model.CdxJ.parseCols(
                org.apache.spark.sql.functions.col("line")): _*)
            import spark.implicits._
            // render back through the shared CDX-11 formatter so "-"
            // null-encoding matches the reference's byte format
            parsed.map { r =>
              Cdx.formatLine(CdxRecord(r.getString(0), r.getString(1),
                r.getString(2), r.getString(3),
                if (r.isNullAt(4)) None else Some(r.getInt(4)),
                r.getString(5), Option(r.getString(6)),
                Option(r.getString(7)),
                if (r.isNullAt(8)) None else Some(r.getLong(8)),
                if (r.isNullAt(9)) None else Some(r.getLong(9)),
                r.getString(10)))
            }.toDF("line")
        }
        out.write.mode("overwrite").text(rest(2))
        println(s"cdxj-convert ${rest(0)}: ${rest(1)} -> ${rest(2)}")
        spark.stop()
      case "cluster-build" =>
        val spark = session("cluster-build")
        graft.operators.ClusterOps.buildFromArgs(spark, rest)
        spark.stop()
      case "cluster-merge" =>
        val spark = session("cluster-merge")
        graft.operators.ClusterOps.mergeFromArgs(spark, rest)
        spark.stop()
      case "cluster-range" =>
        // cluster-range <start|-> <end|-> <in...> — driver-local, no session
        graft.operators.ClusterOps.rangeFromArgs(
          new org.apache.hadoop.conf.Configuration(), rest)
      case "file-search" =>
        // file-search <sorted-file> <start> [<end>] — binary-searched dump
        val stf = new graft.sources.SortedTextFile(rest(0),
          new org.apache.hadoop.conf.Configuration())
        val out = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(System.out, "UTF-8"), 1 << 16)
        stf.range(rest(1), rest.lift(2)).foreach { l =>
          out.write(l); out.write('\n')
        }
        out.flush()
      case "cdx-convert" =>
        // cdx-convert <in> <out> — legacy CDX-9/10 text → CDX-11 (SURT
        // re-key, scheme repair); mirrors the reference's CDXConverterTool
        val spark = session("cdx-convert")
        import spark.implicits._
        spark.read.option("lineSep", "\n").textFile(rest(0))
          .flatMap(l => graft.model.Cdx.convertLegacy(l)
            .map(graft.model.Cdx.formatLine))
          .write.mode("overwrite").text(rest(1))
        println(s"converted ${rest(0)} -> ${rest(1)}")
        spark.stop()
      case "summary-generate" =>
        // summary-generate <clusterDir> — rebuild ALL.summary + manifest
        // from the per-shard -idx files (standalone Q4/Q5 tools; normally
        // folded into the writer's commit)
        val dir = new org.apache.hadoop.fs.Path(rest(0))
        val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val parts = fs.listStatus(dir).map(_.getPath.getName)
          .filter(_.endsWith("-idx")).sorted.map(_.stripSuffix("-idx"))
        require(parts.nonEmpty, s"no -idx shard indexes under $dir")
        graft.sources.zipnum.ZipNumShardIO.writeSummary(fs, dir, parts.toSeq)
        println(s"rebuilt ALL.summary + manifest.txt from ${parts.length} shard indexes")
      case "wat-extract" =>
        // wat-extract <outDir> <warc...> [--soft] — WAT JSON lines
        val (flags, pos) = rest.partition(_.startsWith("--"))
        // outDir plus at least one input — flag-only args otherwise die
        // on pos.head with a bare NoSuchElementException
        if (pos.length < 2) { usage(); sys.exit(2) }
        val spark = session("wat-extract")
        graft.operators.WarcExtract.watRows(spark, pos.tail.toSeq,
            soft = flags.contains("--soft"))
          .select(org.apache.spark.sql.functions.col("wat"))
          .write.mode("overwrite").text(pos.head)
        println(s"wrote WAT lines -> ${pos.head}")
        spark.stop()
      case "warc-extract" =>
        // warc-extract <outDir> <warc...> [--soft] — one .cdx per input
        val (flags, pos) = rest.partition(_.startsWith("--"))
        if (pos.length < 2) { usage(); sys.exit(2) }
        val spark = session("warc-extract")
        val n = graft.operators.WarcExtract.extractToFiles(spark,
          pos.tail.toSeq, pos.head, soft = flags.contains("--soft"))
        println(s"extracted $n cdx lines -> ${pos.head}")
        spark.stop()
      case "media-decode" =>
        // media-decode <outDir> <warc...> [--soft] — crawl→media:
        // extract response/resource entity bytes (headers stripped,
        // chunked de-chunked) and decode every payload the codec set
        // sniffs (BMP/PNG/JPEG/GIF/WAV/AVI/MP4/MKV); one parquet of
        // per-record features (the q121 composition as a tool)
        val (flags, pos) = rest.partition(_.startsWith("--"))
        if (pos.length < 2) { usage(); sys.exit(2) }
        val spark = session("media-decode")
        import spark.implicits._
        val ex = graft.operators.WarcExtract
          .payloadRows(spark, pos.tail.toSeq,
            soft = flags.contains("--soft"))
        val media = ex.rows
          .map { r =>
            // urlkey+timestamp identify the capture; doc_id is a
            // deterministic 63-bit hash of that identity
            val md = java.security.MessageDigest.getInstance("MD5")
            val h = md.digest((r.urlkey + " " + r.timestamp)
              .getBytes("UTF-8"))
            val id = java.nio.ByteBuffer.wrap(h).getLong() >>> 1
            graft.operators.llm.MultimodalOps.MediaRecord(
              id, r.payload, r.mimetype, 0, 0)
          }
        val (decoded, capRejected) =
          graft.operators.llm.MultimodalOps.decodeCounted(media)
        decoded.write.mode("overwrite").parquet(pos.head)
        // accumulators are valid only after the action above ran
        println(s"wrote media features -> ${pos.head}" +
          (if (ex.badMembers.value > 0)
            s" (skipped ${ex.badMembers.value} corrupt members)" else "") +
          (if (capRejected.value > 0)
            s" (${capRejected.value} payloads over the pixel cap took the " +
              "fallback row; raise -Dgraft.media.maxDecodePixels)" else ""))
        spark.stop()
      case "date-filter" =>
        // date-filter <root> <expr> [extSuffix] — list files accepted by
        // the reference's mtime filter expression (S15 frontend): forms
        // `OP X`, `mtime OP X`, `X OP mtime`, `X OP mtime OP2 Y`; X is
        // an ISO datetime, archive timestamp, or a path (that file's
        // mtime); an all-digit 4/6/8/14-char operand is ALWAYS a
        // timestamp — write `path:2024` to bound by a file named 2024.
        // Lower bounds prune whole directory subtrees at
        // LISTING time — the selected paths feed any loader unchanged.
        if (rest.length < 2) { usage(); sys.exit(2) }
        val conf = new org.apache.hadoop.conf.Configuration()
        val expr = graft.sources.DateFilterExpr.parse(rest(1), conf)
        val root = new org.apache.hadoop.fs.Path(rest(0))
        val fs = root.getFileSystem(conf)
        expr.listFiles(fs, root, rest.lift(2).getOrElse(""))
          .foreach(p => println(p.toString))
      case "dedup" =>
        // dedup <corpus.parquet> <outDir> [idCol] [textCol] [maxBucket]
        // — near-dup corpus dedup as an operational tool: MinHash-LSH
        // candidates → connected components → keep each component's min
        // id plus every singleton (the q69 pipeline); writes kept ids as
        // parquet. The bucket cap defaults ON (10k ids): the uncapped
        // expansion measurably OOMs on duplication-heavy corpora
        // (SCALE.md third-decade control run). A capped run still emits
        // ONE COMPLETE keep-set: dropped buckets' member ids land in
        // <outDir>_skiplist AND the exact-dedup follow-up runs over them
        // in the same invocation (byte-exact duplicates of a smaller
        // skip-listed id are removed from the keep-set).
        if (rest.length < 2) { usage(); sys.exit(2) }
        val spark = session("dedup")
        val idCol = rest.lift(2).getOrElse("doc_id")
        val textCol = rest.lift(3).getOrElse("text")
        val maxBucket = rest.lift(4).flatMap(_.toIntOption).getOrElse(10000)
        // 0 (default) = distributed fixpoint; a per-shard / small-corpus
        // run passes an edge count below which CC finishes in one
        // union-find task (ConnectedComponents.localBelow)
        val localBelow = rest.lift(5).flatMap(_.toLongOption).getOrElse(0L)
        val corpus = spark.read.parquet(rest(0))
          .select(col(idCol), col(textCol))
        import graft.operators.llm.MinHashLsh
        val bands = MinHashLsh.bands(MinHashLsh.signature(
          graft.operators.llm.Shingles.explodeShingles(
            corpus, idCol, textCol, 3), idCol, 6), idCol, 6, 2)
          .persist() // feeds both the kept-pair and skip-list plans
        val (pairs, dropped) =
          MinHashLsh.candidatePairsCapped(bands, idCol, maxBucket)
        val nDropped = dropped.count()
        if (nDropped > 0) {
          // resolve bucket keys back to their member DOC IDS (what the
          // exact-dedup follow-up actually consumes) via the persisted
          // bands — the skip-list must be actionable, not just counted
          bands.join(broadcast(dropped.select(col("band"), col("bh"))),
              Seq("band", "bh"))
            .select(col("band"), col("bh"), col(idCol))
            .write.mode("overwrite").parquet(s"${rest(1)}_skiplist")
          System.err.println(s"WARNING: $nDropped over-$maxBucket buckets " +
            s"skipped; their member ids -> ${rest(1)}_skiplist " +
            "(exact-dedup follow-up applied to the keep-set)")
        }
        val cc = graft.operators.llm.ConnectedComponents(
          pairs, "doc_a", "doc_b", localBelow = localBelow)
        val lshKeep = corpus.select(col(idCol))
          .join(cc.where(col("node") =!= col("component"))
            .select(col("node").as(idCol)), Seq(idCol), "left_anti")
        val keep =
          if (nDropped == 0) lshKeep
          else lshKeep.join(
            MinHashLsh.exactDropWithin(corpus, idCol, textCol,
              spark.read.parquet(s"${rest(1)}_skiplist")),
            Seq(idCol), "left_anti")
        keep.write.mode("overwrite").parquet(rest(1))
        bands.unpersist(blocking = false)
        println(s"kept ${spark.read.parquet(rest(1)).count()} of " +
          s"${corpus.count()} docs -> ${rest(1)}")
        spark.stop()
      case "decontaminate" =>
        // decontaminate <corpus.parquet> <eval.parquet> <outDir> [k]
        // [dropAt] — per-doc distinct word-k-gram hits against the eval
        // set (docs with no hits are clean and absent from the output).
        // With dropAt set, the loop is CLOSED the way dedup's keep-set
        // is: docs with >= dropAt hits are quarantined to
        // <outDir>_dropped (id + hit count, the audit trail) and the
        // output becomes the CLEAN corpus rows — an anti-join on the
        // hits table, so the 100 TB side still never shuffles wide.
        if (rest.length < 3) { usage(); sys.exit(2) }
        // a malformed number must ABORT, not silently change what rest(2)
        // contains: "8 1O" (typo) falling back to hits-mode would hand a
        // pipeline the hits table where it expects the clean corpus
        val k = rest.lift(3) match {
          case None => 8
          case Some(v) => v.toIntOption.getOrElse { usage(); sys.exit(2) }
        }
        val dropAtOpt = rest.lift(4) match {
          case None => None
          case Some(v) => v.toLongOption match {
            case some @ Some(_) => some
            case None => usage(); sys.exit(2)
          }
        }
        val spark = session("decontaminate")
        val corpus = spark.read.parquet(rest(0))
        val hits = graft.operators.llm.TextAnalysis.contaminationHits(
          corpus, "doc_id", "text", spark.read.parquet(rest(1)), "text", k)
        dropAtOpt match {
          case None =>
            hits.write.mode("overwrite").parquet(rest(2))
            println(s"contamination hits (k=$k) -> ${rest(2)}")
          case Some(dropAt) =>
            hits.where(col("n_hits") >= dropAt)
              .write.mode("overwrite").parquet(s"${rest(2)}_dropped")
            // anti-join against the WRITTEN drop list: the parquet read
            // gives the planner real file statistics, so a small list
            // auto-broadcasts (corpus never shuffles) while a huge one —
            // a low threshold on a dirty corpus is unbounded — falls
            // back to a shuffle join instead of dying on the broadcast
            // limit; either way the contamination pipeline isn't
            // recomputed for the join
            val dropped = spark.read.parquet(s"${rest(2)}_dropped")
            corpus.join(dropped.select(col("doc_id")),
                Seq("doc_id"), "left_anti")
              .write.mode("overwrite").parquet(rest(2))
            println(s"dropped ${dropped.count()} docs with >= $dropAt " +
              s"eval ${k}-gram hits -> ${rest(2)}_dropped; " +
              s"clean corpus -> ${rest(2)}")
        }
        spark.stop()
      case "bm25" =>
        // bm25 <corpus.parquet> <queries.parquet> <outDir> [k] [gram] —
        // rank the corpus (doc_id, text) against a query set (query_id,
        // qtext): top-k docs per query by the integer-exact BM25 score
        // (CorpusModels.bm25TopK; gram > 1 = phrase-sensitive n-gram
        // terms). The RAG-source-selection / dedup-by-retrieval verb.
        if (rest.length < 3) { usage(); sys.exit(2) }
        val k = rest.lift(3) match {
          case None => 10
          case Some(v) => v.toIntOption.getOrElse { usage(); sys.exit(2) }
        }
        val gram = rest.lift(4) match {
          case None => 1
          case Some(v) => v.toIntOption.getOrElse { usage(); sys.exit(2) }
        }
        val spark = session("bm25")
        val ranked = graft.operators.llm.CorpusModels.bm25TopK(
          spark.read.parquet(rest(0)), "doc_id", "text",
          spark.read.parquet(rest(1)), "query_id", "qtext",
          k = k, gram = gram)
        ranked.write.mode("overwrite").parquet(rest(2))
        println(s"bm25 top-$k (gram=$gram) -> ${rest(2)}: " +
          s"${spark.read.parquet(rest(2)).count()} rows")
        spark.stop()
      case "http-import" =>
        // http-import <input> <targetDir> — parallel idempotent
        // HTTP→FS ingest (K13: HTTPImportJob.java:49-97). Input lines
        // are `URL` (name = URL basename) or `NAME URL`
        // (HTTPImportMapper.java:66-84); per-file results print as
        // ACTION<tab>URL<tab>DEST<tab>BYTES (the job's report output).
        if (rest.length != 2) { usage(); sys.exit(2) }
        val spark = session("http-import")
        import spark.implicits._
        val target = rest(1).stripSuffix("/")
        val tasks = spark.read.option("lineSep", "\n").textFile(rest(0))
          .filter((l: String) => l.trim.nonEmpty)
          .map(line => importTask(line, target))
        // the report is one row per task — the collect is bounded by
        // the manifest the operator wrote, not by any corpus
        val res = graft.sources.HttpSources.httpImport(spark, tasks)
          .collect()
        res.foreach(r => println(s"${r.action}\t${r.url}\t${r.dest}\t${r.bytes}"))
        println(s"http-import: ${res.count(_.action == "copied")} copied, " +
          s"${res.count(_.action == "skipped")} skipped -> $target")
        spark.stop()
      case "gz-range-server" =>
        // gz-range-server <rootDir> [port] — serve raw byte ranges of
        // archive files under rootDir (K12: GZRangeServer.java:42-51;
        // default port 8009 as the original, 0 = ephemeral). Blocks
        // until killed.
        if (rest.isEmpty) { usage(); sys.exit(2) }
        // a malformed port must ABORT, not silently serve on 8009
        val port = rest.lift(1) match {
          case None => 8009
          case Some(v) => v.toIntOption.getOrElse { usage(); sys.exit(2) }
        }
        // the tool serves a fleet — bind all interfaces (the library
        // default stays loopback for the in-process test shape)
        val server = graft.server.GzRangeServer.start(rest(0), port,
          bindHost = "0.0.0.0")
        println(s"gz-range-server serving ${rest(0)} on port " +
          s"${server.getAddress.getPort}")
        Thread.currentThread().join()
      case "gz-range-client" =>
        // gz-range-client <serverBase> <tgtDir> <prefix> <manifest>
        // [maxMB] — fetch members and repackage into rotating archives
        // (K12: GZRangeClientTool.java:30-52; 1 GB WARC rotation
        // default). Manifest lines are `FILE OFFSET LENGTH` — the
        // server's fetch triple (the original's `OFFSET URL...` named
        // the server per-line; ours names it once).
        if (rest.length < 4) { usage(); sys.exit(2) }
        // "512MB" (units appended) must ABORT, not silently rotate at
        // the 1 GiB default
        val maxBytes = (rest.lift(4) match {
          case None => 1024L
          case Some(v) => v.toLongOption.getOrElse { usage(); sys.exit(2) }
        }) * 1024 * 1024
        new java.io.File(rest(1)).mkdirs()
        // every rotated file opens with its own synthesized warcinfo
        // record, as the reference client writes (GZRangeClient.java)
        val client = new graft.server.GzRangeClient(rest(1), rest(2),
          maxBytes, headerFor = Some(name =>
            graft.server.GzRangeClient.warcinfoHeader(name,
              java.time.Instant.now())))
        var manifestOk = false
        try {
          val src = scala.io.Source.fromFile(rest(3), "UTF-8")
          try src.getLines().map(_.trim).filter(_.nonEmpty).foreach { l =>
            val parts = l.split("\\s+")
            // numeric fields validated via toLongOption INSIDE the
            // require: a non-numeric OFFSET/LENGTH must abort with the
            // manifest-line message, not a bare NumberFormatException
            val range = if (parts.length == 3)
              parts(1).toLongOption.zip(parts(2).toLongOption) else None
            require(range.isDefined, s"bad manifest line: $l")
            val (off, len) = range.get
            client.fetchAndAppend(rest(0), parts(0), off, len)
          } finally src.close()
          manifestOk = true
        } finally {
          // close in a finally: a mid-manifest abort still rotates out
          // and REPORTS the archives written so far, so a partial
          // repackage is distinguishable from no output. A close failure
          // must not MASK the original abort diagnostic — it only
          // propagates when the manifest itself succeeded.
          try {
            val files = client.close()
            files.foreach(println)
            println(s"gz-range-client: ${files.length} archive files -> ${rest(1)}")
          } catch { case scala.util.control.NonFatal(e) =>
            if (manifestOk) throw e
            System.err.println(s"gz-range-client: close also failed: ${e.getMessage}")
          }
        }
      case "fs-lsr" =>
        // fs-lsr <uri> — recursive file listing, BASENAME<tab>PATH
        if (rest.length != 1) { usage(); sys.exit(2) }
        FsTools.lsr(new org.apache.hadoop.conf.Configuration(), rest(0),
          new java.io.PrintWriter(
            new java.io.OutputStreamWriter(System.out, "UTF-8")))
      case "fs-touch" =>
        // fs-touch [-d] <uri> [TIMESTAMP] — set a file's mtime/atime to
        // now or TIMESTAMP ("yyyy-MM-dd HH:mm:ss" UTC, or HTTP date);
        // -d also bumps the parent dir's mtime (HDFSTouch.java:71-117).
        // An unparseable TIMESTAMP aborts loudly — the original printed
        // a complaint and then touched with "now" anyway.
        val (touchDir, ta) =
          if (rest.headOption.contains("-d")) (true, rest.drop(1))
          else (false, rest)
        if (ta.isEmpty || ta.length > 2) { usage(); sys.exit(2) }
        val mtime = ta.lift(1) match {
          case None => System.currentTimeMillis()
          case Some(ts) => FsTools.parseTouchTimestamp(ts).getOrElse {
            System.err.println(s"bad timestamp: $ts (want " +
              "'yyyy-MM-dd HH:mm:ss' or 'EEE, dd MMM yyyy HH:mm:ss zzz')")
            sys.exit(2)
          }
        }
        FsTools.touch(new org.apache.hadoop.conf.Configuration(),
          ta(0), mtime, touchDir)
        println(s"Touched\t${ta(0)}\t$mtime")
      case "fs-mv" =>
        // fs-mv <targetDir> — move stdin-listed paths into targetDir
        if (rest.length != 1) { usage(); sys.exit(2) }
        val failures = FsTools.mv(
          new org.apache.hadoop.conf.Configuration(), rest(0),
          scala.io.Source.stdin.getLines(),
          new java.io.PrintWriter(System.out),
          new java.io.PrintWriter(System.err))
        if (failures > 0) sys.exit(1)
      case "fs-sync" =>
        // fs-sync — copy stdin-listed `SRC TGT` tuples when TGT is absent
        if (rest.nonEmpty) { usage(); sys.exit(2) }
        val bad = FsTools.sync(
          new org.apache.hadoop.conf.Configuration(),
          scala.io.Source.stdin.getLines(),
          new java.io.PrintWriter(System.out),
          new java.io.PrintWriter(System.err))
        if (bad > 0) sys.exit(1)
      case "fs-cat" =>
        // fs-cat <uri> [offset] [length] | fs-cat -  (specs on stdin)
        if (rest.isEmpty) { usage(); sys.exit(2) }
        val conf = new org.apache.hadoop.conf.Configuration()
        val outS = new java.io.BufferedOutputStream(System.out)
        if (rest(0) == "-")
          scala.io.Source.stdin.getLines().map(_.trim).filter(_.nonEmpty)
            .foreach(l => FsTools.catRange(conf, l.split("\\s+").toSeq, outS))
        else FsTools.catRange(conf, rest.toSeq, outS)
        outS.flush()
      case other =>
        System.err.println(s"unknown tool: $other"); usage(); sys.exit(2)
    }
  }

  private def usage(): Unit = System.err.println(
    """usage: GraftCli <tool> [args]
      |  cdx-parse <path> [n]                   parse+show CDX lines
      |  surt <url>                             canonicalize a URL
      |  cluster-build <splits|-> <in> <out>    sorted ZipNum cluster from CDX text
      |  cluster-merge <out> <in1> <in2...>     merge clusters (global-cdx rules)
      |  cluster-range <start> <end> <in...>    key-range dump
      |  cdx-convert <in> <out>                 legacy CDX-9/10 -> CDX-11
      |  summary-generate <clusterDir>          rebuild ALL.summary from -idx files
      |  warc-extract <out> <warc...> [--soft]  WARC -> per-file .cdx
      |  wat-extract <out> <warc...> [--soft]   WARC -> WAT JSON lines
      |  media-decode <out> <warc...> [--soft]  WARC -> media feature parquet (decode sniffed payloads)
      |  file-search <file> <start> [<end>]     binary search a sorted file
      |  date-filter <root> <expr> [ext]        mtime-expression file listing
      |                                         (all-digit operand = timestamp; path:X forces a path bound)
      |  dedup <corpus> <out> [id] [text] [cap] [localBelow]  near-dup dedup (LSH -> CC -> keep-min;
      |                                         localBelow>0 finishes small graphs in one union-find task)
      |  decontaminate <corpus> <eval> <out> [k] [dropAt]  hit counts, or clean corpus + quarantine at >= dropAt hits
      |  bm25 <corpus> <queries> <out> [k] [gram]  top-k BM25 retrieval per query (gram>1: n-gram terms)
      |  http-import <input> <targetDir>        idempotent HTTP->FS ingest (lines: URL | NAME URL)
      |  gz-range-server <rootDir> [port]       serve archive byte ranges (default port 8009)
      |  gz-range-client <server> <tgt> <prefix> <manifest> [maxMB]  repackage fetched members into rotating archives
      |  fs-lsr <uri>                           recursive listing: BASENAME<tab>PATH per file
      |  fs-touch [-d] <uri> [TIMESTAMP]        set file mtime/atime (-d: bump parent dir mtime too)
      |  cdxj-convert to|from <input> <outDir>  CDX-11 <-> CDXJ (pywb JSON CDX) text conversion
      |  fs-mv <targetDir>                      move stdin-listed paths into targetDir
      |  fs-sync                                copy stdin-listed SRC TGT tuples when TGT absent
      |  fs-cat <uri> [off] [len] | fs-cat -    dump (a byte range of) files to stdout
      |""".stripMargin)
}
