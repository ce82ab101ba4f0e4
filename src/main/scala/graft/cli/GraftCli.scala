package graft.cli

import java.io.{BufferedOutputStream, BufferedWriter, OutputStream,
  OutputStreamWriter, PrintStream, PrintWriter}

import scala.annotation.tailrec
import scala.collection.immutable.ListMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Boundaries, ClusterOps, GlobalCdxCleanup}
import graft.sources.zipnum.{ZipNumFormat, ZipNumIndex}

/**
 * CLI facade mirroring the reference's JobDriver tool registry
 * (JobDriver.java:25-131) so operational parity is scriptable: one
 * [[Verb]] row per tool in [[verbs]], each a thin body over the library
 * operators.
 *
 * To add a verb, add a row: its grammar (which is also its usage line,
 * see [[Verb]]), a one-line help, `session = true` when the body uses
 * `env.spark`, and the body. [[parse]] checks the command line against
 * the grammar before any work starts, so a body reads its arguments
 * without checking them; [[run]] builds and stops the session.
 */
object GraftCli {

  /** Local core count: `SPARK_GRAFT_CPUS`, or 32 when unset. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32) { v =>
    v.trim.toIntOption.filter(_ > 0).getOrElse(
      sys.error(s"SPARK_GRAFT_CPUS='$v' must be a positive integer"))
  }

  /** The one session factory: every main, tool and test session is built
    * here, so their configs cannot drift apart. `conf` adds settings on
    * top of the shared ones (Bench's single-host shuffle setting, the
    * test warehouse dir). */
  def session(appName: String, cpus: Int = defaultCpus,
              conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // The battery's queries × stages ≫ Spark's default 100-entry
      // generated-class cache: at 100 every cross-query pass recompiles
      // nearly every stage (+35% total in the round-8 interleave
      // experiment). Spark reads it once, when the JVM first generates code.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
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

  /** One tool. `grammar` is the argument part of its usage line and is
    * read as its grammar: `<x>` a required positional, `<x...>` one or
    * more (last), `[x]` an optional positional (after the required
    * ones), `a|b` a literal choice, `[--f]` or `[-d]` a boolean flag,
    * `[--f V]` a flag with a value, given as `--f V` or `--f=V`. A name
    * ending `:int` or `:long` must parse as that number, and one ending
    * `:int>=K` must also be at least K: a malformed or out-of-range
    * number aborts with usage rather than fall back to a default or fail
    * once the work has started. Flags may come anywhere; any other
    * argument starting `--` is rejected. */
  private final case class Verb(grammar: String, help: String,
                                session: Boolean = false)(
      val body: (Invocation, Env) => Unit) {
    private val tokens = Token.findAllMatchIn(grammar).toIndexedSeq
    private val required = tokens.collect {
      case m if m.group(3) != null => slot(m.group(3).stripSuffix("..."))
      case m if m.group(5) != null => Slot(m.group(5), m.group(5).split('|').toSet)
    }
    /** Positionals in order; the last required one repeats when variadic. */
    private val positional =
      required ++ tokens.collect { case m if m.group(4) != null => slot(m.group(4)) }
    private val variadic = grammar.contains("...>")
    /** Flag name → its value's slot, `None` for a boolean flag. */
    private val flags = tokens.collect { case m if m.group(1) != null =>
      m.group(1) -> Option(m.group(2)).map(slot) }.toMap

    /** `args` (after the verb name) against the grammar, or what is wrong. */
    def bind(verb: String, args: List[String]): Either[String, Invocation] = {
      @tailrec def go(in: List[String], pos: Vector[String],
                      given: Map[String, String]): Either[String, Invocation] =
        in match {
          case a :: tail if a.startsWith("--") || flags.contains(a) =>
            val (name, eq) = a.span(_ != '=')
            flags.get(name) match {
              case None => Left(s"unknown flag $name")
              case Some(None) =>
                if (eq.isEmpty) go(tail, pos, given.updated(name, ""))
                else Left(s"$name takes no value")
              case Some(Some(slot)) =>
                val (v, next) =
                  if (eq.nonEmpty) (Some(eq.tail), tail)
                  else (tail.headOption, tail.drop(1))
                v.filter(slot.ok) match {
                  case Some(value) if slot.fits(value) =>
                    go(next, pos, given.updated(name, value))
                  case Some(value) => Left(s"$name must be >= ${slot.min}: $value")
                  case None => Left(s"$name needs a ${slot.name} value")
                }
            }
          case a :: tail => go(tail, pos :+ a, given)
          case Nil =>
            if (pos.length < required.length) Left("missing arguments")
            else if (!variadic && pos.length > positional.length)
              Left("too many arguments")
            else pos.zipWithIndex
              .map { case (v, i) => (positional(i min positional.length - 1), v) }
              .collectFirst {
                case (s, v) if !s.ok(v) => s"bad ${s.name}: $v"
                case (s, v) if !s.fits(v) => s"${s.name} must be >= ${s.min}: $v"
              }
              .toLeft(Invocation(verb, pos, given))
        }
      go(args, Vector.empty, Map.empty)
    }
  }

  /** A grammar token; groups: 1 a flag, 2 its value's name, 3 a required
    * positional, 4 an optional one, 5 a literal choice. */
  private val Token =
    """\[(-[\w-]+)(?: (\S+))?\]|<((?:[^>]|>=)+)>|\[([^\]\s]+)\]|(\S+)""".r

  /** One argument's name (as in the grammar, less any `>=K`), its check,
    * and the least value a number may take. */
  private final case class Slot(name: String, ok: String => Boolean,
                                min: Long = Long.MinValue) {
    /** Whether a value that passed [[ok]] is in range. */
    def fits(v: String): Boolean = min == Long.MinValue || v.toLong >= min
  }

  private def slot(token: String): Slot = {
    val name = token.takeWhile(_ != '>')
    Slot(name,
      if (name.endsWith(":int")) _.toIntOption.nonEmpty
      else if (name.endsWith(":long")) _.toLongOption.nonEmpty
      else _ => true,
      token.drop(name.length + 2).toLongOption.getOrElse(Long.MinValue))
  }

  /** A command line that passed its verb's grammar: the positionals in
    * order and the flags given (a boolean flag maps to ""). The number
    * accessors cannot fail: [[parse]] checked every number. */
  private[cli] final case class Invocation(verb: String,
                                           pos: IndexedSeq[String],
                                           flags: Map[String, String]) {
    def apply(i: Int): String = pos(i)
    def opt(i: Int): Option[String] = pos.lift(i)
    def has(flag: String): Boolean = flags.contains(flag)
    def int(i: Int): Option[Int] = opt(i).map(_.toInt)
    def int(flag: String): Option[Int] = flags.get(flag).map(_.toInt)
    def long(i: Int): Option[Long] = opt(i).map(_.toLong)
  }

  /** What a body runs with: the session (verbs declared with one), the
    * Hadoop conf, stdout and stderr, and the exit status it reports. */
  private final class Env(sparkOpt: Option[SparkSession],
                          val out: PrintStream, val err: PrintStream) {
    def spark: SparkSession =
      sparkOpt.getOrElse(sys.error("verb declared without a session"))
    lazy val conf: Configuration =
      sparkOpt.fold(new Configuration())(_.sparkContext.hadoopConfiguration)
    var status = 0
  }

  private def writeLines(stdout: OutputStream, lines: Iterator[String]): Unit = {
    val out = new BufferedWriter(new OutputStreamWriter(stdout, "UTF-8"), 1 << 16)
    lines.foreach { l => out.write(l); out.write('\n') }
    out.flush()
  }

  private val verbs: ListMap[String, Verb] = ListMap(
    "cdx-parse" -> Verb("<path> [n:int]", "parse+show CDX lines",
        session = true) { (a, env) =>
      Console.withOut(env.out) {
        readCdx(env.spark, a(0)).show(a.int(1).getOrElse(20), truncate = false)
      }
    },
    "surt" -> Verb("<url>", "canonicalize a URL") { (a, env) =>
      env.out.println(graft.functions.Surt.surtLenient(a(0)))
    },
    "cluster-build" -> Verb("<splits|-> <in> <out> [--shards N:int>=1] " +
        "[--zipnum-lines N:int>=1] [--surt-output] [--overwrite]",
        "sorted ZipNum cluster from CDX text (splits: a .json or " +
          "alpha/NAME-START-END split file, or - to sample)",
        session = true) { (a, env) =>
      val spark = env.spark
      val lines = spark.read.option("lineSep", "\n").textFile(a(1)).rdd
      val nShards = a.int("--shards")
        .getOrElse(spark.sparkContext.defaultParallelism)
      // `splits` dispatches on suffix like the reference
      // (ZipNumPartitioner.java:164-168)
      val interior =
        if (a(0) == "-") Boundaries.sample(lines, nShards)
        else Boundaries.fromAnySplitFile(a(0), env.conf, env.err)
      ClusterOps.build(spark, lines, a(2), interior,
        linesPerBlock = a.int("--zipnum-lines")
          .getOrElse(ZipNumFormat.DefaultLinesPerBlock),
        surtOutput = a.has("--surt-output"),
        overwrite = a.has("--overwrite"))
      env.out.println(s"built ${a(2)}")
    },
    "cluster-merge" -> Verb("<out> <in...> [--shards N:int>=1] [--global-cdx] " +
        "[--day-limit N:int>=0] [--zipnum-lines N:int>=1] [--splits FILE] " +
        "[--overwrite]",
        "merge clusters (global-cdx rules; --splits: boundaries from a " +
          "split file, not the inputs' summaries)",
        session = true) { (a, env) =>
      val spark = env.spark
      ClusterOps.merge(spark, a.pos.tail, a(0),
        nShards = a.int("--shards")
          .getOrElse(spark.sparkContext.defaultParallelism),
        boundaries = a.flags.get("--splits")
          .map(Boundaries.fromAnySplitFile(_, env.conf, env.err)),
        globalCdx = a.has("--global-cdx"),
        dayLimit = a.int("--day-limit")
          .getOrElse(GlobalCdxCleanup.DefaultDayLimit),
        linesPerBlock = a.int("--zipnum-lines")
          .getOrElse(ZipNumFormat.DefaultLinesPerBlock),
        overwrite = a.has("--overwrite"))
      env.out.println(s"merged ${a.pos.tail.mkString(",")} -> ${a(0)}")
    },
    "cluster-range" -> Verb("<start|-> <end|-> <in...>",
        "key-range dump; block-prune stats to stderr") { (a, env) =>
      val start = Some(a(0)).filter(_ != "-")
      val end = Some(a(1)).filter(_ != "-")
      val indexes = a.pos.drop(2).map(ZipNumIndex.load(_, env.conf))
      indexes.foreach { idx =>
        env.err.println(s"${idx.dir}: ${idx.prune(start, end).size}/" +
          s"${idx.blocks.size} blocks in range")
      }
      writeLines(env.out, ClusterOps.mergeRanges(env.conf, start, end, indexes))
    },
    "cdx-convert" -> Verb("<in> <out>", "legacy CDX-9/10 -> CDX-11 (SURT " +
        "re-key, scheme repair)", session = true) { (a, env) =>
      val spark = env.spark
      import spark.implicits._
      spark.read.option("lineSep", "\n").textFile(a(0))
        .flatMap(l => graft.model.Cdx.convertLegacy(l)
          .map(graft.model.Cdx.formatLine))
        .write.mode("overwrite").text(a(1))
      env.out.println(s"converted ${a(0)} -> ${a(1)}")
    },
    "cdxj-convert" -> Verb("to|from <input> <outDir>",
        "CDX-11 <-> CDXJ (pywb JSON CDX) text conversion",
        session = true) { (a, env) =>
      // sort order is carried by (urlkey, timestamp) identically in both
      // formats, so converted files remain cluster-buildable
      val spark = env.spark
      val out = a(0) match {
        case "to" =>
          readCdx(spark, a(1)).select(graft.model.CdxJ.formatLine(
            col("urlkey"), col("timestamp"), col("original_url"),
            col("mimetype"), col("statuscode"), col("digest"),
            col("redirect_url"), col("meta_flags"), col("compressed_size"),
            col("offset"), col("filename")).as("line"))
        case _ =>
          import graft.model.{Cdx, CdxRecord}
          val parsed = spark.read.option("lineSep", "\n")
            .textFile(a(1)).toDF("line")
            .where(col("line") =!= "")
            .select(graft.model.CdxJ.parseCols(col("line")): _*)
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
      out.write.mode("overwrite").text(a(2))
      env.out.println(s"cdxj-convert ${a(0)}: ${a(1)} -> ${a(2)}")
    },
    "summary-generate" -> Verb("<clusterDir>",
        "rebuild ALL.summary + manifest.txt from the -idx files") { (a, env) =>
      // the standalone Q4/Q5 tools; normally folded into the writer's commit
      val dir = new Path(a(0))
      val fs = dir.getFileSystem(env.conf)
      val parts = fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.endsWith("-idx")).sorted.map(_.stripSuffix("-idx"))
      require(parts.nonEmpty, s"no -idx shard indexes under $dir")
      graft.sources.zipnum.ZipNumShardIO.writeSummary(fs, dir, parts.toSeq)
      env.out.println(
        s"rebuilt ALL.summary + manifest.txt from ${parts.length} shard indexes")
    },
    "warc-extract" -> Verb("<out> <warc...> [--soft]", "WARC/ARC -> per-file .cdx",
        session = true) { (a, env) =>
      val n = graft.operators.WarcExtract.extractToFiles(env.spark,
        a.pos.tail, a(0), soft = a.has("--soft"))
      env.out.println(s"extracted $n cdx lines -> ${a(0)}")
    },
    "wat-extract" -> Verb("<out> <warc...> [--soft]", "WARC -> WAT JSON lines",
        session = true) { (a, env) =>
      graft.operators.WarcExtract.watRows(env.spark, a.pos.tail,
          soft = a.has("--soft"))
        .select(col("wat"))
        .write.mode("overwrite").text(a(0))
      env.out.println(s"wrote WAT lines -> ${a(0)}")
    },
    "media-decode" -> Verb("<out> <warc...> [--soft]",
        "WARC -> media feature parquet (decode sniffed payloads)",
        session = true) { (a, env) =>
      // crawl→media: response/resource entity bytes (headers stripped,
      // chunked de-chunked), every payload the codec set sniffs decoded
      // (BMP/PNG/JPEG/GIF/WAV/AVI/MP4/MKV); the q121 composition as a tool
      val spark = env.spark
      import spark.implicits._
      val ex = graft.operators.WarcExtract
        .payloadRows(spark, a.pos.tail, soft = a.has("--soft"))
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
      decoded.write.mode("overwrite").parquet(a(0))
      // accumulators are valid only after the action above ran
      env.out.println(s"wrote media features -> ${a(0)}" +
        (if (ex.badMembers.value > 0)
          s" (skipped ${ex.badMembers.value} corrupt members)" else "") +
        (if (capRejected.value > 0)
          s" (${capRejected.value} payloads over the pixel cap took the " +
            "fallback row; raise -Dgraft.media.maxDecodePixels)" else ""))
    },
    "file-search" -> Verb("<file> <start> [end]",
        "binary search a sorted file, dump [start, end)") { (a, env) =>
      writeLines(env.out,
        new graft.sources.SortedTextFile(a(0), env.conf).range(a(1), a.opt(2)))
    },
    "date-filter" -> Verb("<root> <expr> [ext]",
        "mtime-expression file listing\n" +
          "(all-digit operand = timestamp; path:X forces a path bound)") { (a, env) =>
      // the reference's mtime filter expression (S15 frontend): forms
      // `OP X`, `mtime OP X`, `X OP mtime`, `X OP mtime OP2 Y`; X is an
      // ISO datetime, archive timestamp, or a path (that file's mtime).
      // Lower bounds prune whole directory subtrees at LISTING time — the
      // selected paths feed any loader unchanged.
      val expr = graft.sources.DateFilterExpr.parse(a(1), env.conf)
      val root = new Path(a(0))
      expr.listFiles(root.getFileSystem(env.conf), root, a.opt(2).getOrElse(""))
        .foreach(p => env.out.println(p.toString))
    },
    "dedup" -> Verb("<corpus> <out> [id] [text] [cap:int]",
        "near-dup dedup (LSH -> CC -> keep-min; a small graph finishes " +
          "in one union-find task)", session = true) { (a, env) =>
      // The bucket cap defaults ON (10k ids): the uncapped expansion
      // measurably OOMs on duplication-heavy corpora (SCALE.md third-decade
      // control run). A capped run still emits ONE COMPLETE keep-set:
      // dropped buckets' member ids land in <out>_skiplist AND the
      // exact-dedup follow-up runs over them in the same invocation
      // (byte-exact duplicates of a smaller skip-listed id are removed
      // from the keep-set).
      val spark = env.spark
      val idCol = a.opt(2).getOrElse("doc_id")
      val textCol = a.opt(3).getOrElse("text")
      val maxBucket = a.int(4).getOrElse(10000)
      val corpus = spark.read.parquet(a(0)).select(col(idCol), col(textCol))
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
          .write.mode("overwrite").parquet(s"${a(1)}_skiplist")
        env.err.println(s"WARNING: $nDropped over-$maxBucket buckets " +
          s"skipped; their member ids -> ${a(1)}_skiplist " +
          "(exact-dedup follow-up applied to the keep-set)")
      }
      val cc = graft.operators.llm.ConnectedComponents(pairs, "doc_a", "doc_b")
      val lshKeep = corpus.select(col(idCol))
        .join(cc.where(col("node") =!= col("component"))
          .select(col("node").as(idCol)), Seq(idCol), "left_anti")
      val keep =
        if (nDropped == 0) lshKeep
        else lshKeep.join(
          MinHashLsh.exactDropWithin(corpus, idCol, textCol,
            spark.read.parquet(s"${a(1)}_skiplist")),
          Seq(idCol), "left_anti")
      keep.write.mode("overwrite").parquet(a(1))
      bands.unpersist(blocking = false)
      env.out.println(s"kept ${spark.read.parquet(a(1)).count()} of " +
        s"${corpus.count()} docs -> ${a(1)}")
    },
    "decontaminate" -> Verb("<corpus> <eval> <out> [k:int] [dropAt:long]",
        "hit counts, or clean corpus + quarantine at >= dropAt hits",
        session = true) { (a, env) =>
      // Per-doc distinct word-k-gram hits against the eval set (docs with
      // no hits are clean and absent from the output). With dropAt set,
      // the loop is CLOSED the way dedup's keep-set is: docs with >= dropAt
      // hits are quarantined to <out>_dropped (id + hit count, the audit
      // trail) and the output becomes the CLEAN corpus rows — an anti-join
      // on the hits table, so the 100 TB side still never shuffles wide.
      // A malformed k or dropAt must ABORT: "8 1O" (typo) falling back to
      // hits-mode would hand a pipeline the hits table where it expects
      // the clean corpus.
      val spark = env.spark
      val k = a.int(3).getOrElse(8)
      val corpus = spark.read.parquet(a(0))
      val hits = graft.operators.llm.TextAnalysis.contaminationHits(
        corpus, "doc_id", "text", spark.read.parquet(a(1)), "text", k)
      a.long(4) match {
        case None =>
          hits.write.mode("overwrite").parquet(a(2))
          env.out.println(s"contamination hits (k=$k) -> ${a(2)}")
        case Some(dropAt) =>
          hits.where(col("n_hits") >= dropAt)
            .write.mode("overwrite").parquet(s"${a(2)}_dropped")
          // anti-join against the WRITTEN drop list: the parquet read
          // gives the planner real file statistics, so a small list
          // auto-broadcasts (corpus never shuffles) while a huge one —
          // a low threshold on a dirty corpus is unbounded — falls
          // back to a shuffle join instead of dying on the broadcast
          // limit; either way the contamination pipeline isn't
          // recomputed for the join
          val dropped = spark.read.parquet(s"${a(2)}_dropped")
          corpus.join(dropped.select(col("doc_id")),
              Seq("doc_id"), "left_anti")
            .write.mode("overwrite").parquet(a(2))
          env.out.println(s"dropped ${dropped.count()} docs with >= $dropAt " +
            s"eval ${k}-gram hits -> ${a(2)}_dropped; " +
            s"clean corpus -> ${a(2)}")
      }
    },
    "bm25" -> Verb("<corpus> <queries> <out> [k:int] [gram:int]",
        "top-k BM25 retrieval per query (gram>1: n-gram terms)",
        session = true) { (a, env) =>
      // corpus (doc_id, text) against queries (query_id, qtext): top-k
      // docs per query by the integer-exact BM25 score
      // (CorpusModels.bm25TopK). The RAG-source-selection /
      // dedup-by-retrieval verb.
      val spark = env.spark
      val (k, gram) = (a.int(3).getOrElse(10), a.int(4).getOrElse(1))
      val ranked = graft.operators.llm.CorpusModels.bm25TopK(
        spark.read.parquet(a(0)), "doc_id", "text",
        spark.read.parquet(a(1)), "query_id", "qtext",
        k = k, gram = gram)
      ranked.write.mode("overwrite").parquet(a(2))
      env.out.println(s"bm25 top-$k (gram=$gram) -> ${a(2)}: " +
        s"${spark.read.parquet(a(2)).count()} rows")
    },
    "http-import" -> Verb("<input> <targetDir>",
        "idempotent HTTP->FS ingest (lines: URL | NAME URL)",
        session = true) { (a, env) =>
      // K13: HTTPImportJob.java:49-97; per-file results print as
      // ACTION<tab>URL<tab>DEST<tab>BYTES (the job's report output)
      val spark = env.spark
      import spark.implicits._
      val target = a(1).stripSuffix("/")
      val tasks = spark.read.option("lineSep", "\n").textFile(a(0))
        .filter((l: String) => l.trim.nonEmpty)
        .map(line => importTask(line, target))
      // the report is one row per task — the collect is bounded by
      // the manifest the operator wrote, not by any corpus
      val res = graft.sources.HttpSources.httpImport(spark, tasks)
        .collect()
      res.foreach(r =>
        env.out.println(s"${r.action}\t${r.url}\t${r.dest}\t${r.bytes}"))
      env.out.println(s"http-import: ${res.count(_.action == "copied")} copied, " +
        s"${res.count(_.action == "skipped")} skipped -> $target")
    },
    "gz-range-server" -> Verb("<rootDir> [port:int]",
        "serve archive byte ranges (default port 8009; 0 = ephemeral); " +
          "blocks until killed") { (a, env) =>
      // K12: GZRangeServer.java:42-51. A malformed port must ABORT, not
      // silently serve on 8009. The tool serves a fleet — bind all
      // interfaces (the library default stays loopback for the
      // in-process test shape).
      val server = graft.server.GzRangeServer.start(a(0),
        a.int(1).getOrElse(8009), bindHost = "0.0.0.0")
      env.out.println(s"gz-range-server serving ${a(0)} on port " +
        s"${server.getAddress.getPort}")
      Thread.currentThread().join()
    },
    "gz-range-client" -> Verb(
        "<server> <tgt> <prefix> <manifest> [maxMB:long]",
        "repackage fetched members into rotating archives") { (a, env) =>
      // K12: GZRangeClientTool.java:30-52; 1 GB WARC rotation default
      // ("512MB", units appended, must ABORT, not silently rotate at the
      // default). Manifest lines are `FILE OFFSET LENGTH`: the server's
      // fetch triple (the original's `OFFSET URL...` named the server
      // per line; ours names it once).
      val maxBytes = a.long(4).getOrElse(1024L) * 1024 * 1024
      new java.io.File(a(1)).mkdirs()
      // every rotated file opens with its own synthesized warcinfo
      // record, as the reference client writes (GZRangeClient.java)
      val client = new graft.server.GzRangeClient(a(1), a(2),
        maxBytes, headerFor = Some(name =>
          graft.server.GzRangeClient.warcinfoHeader(name,
            java.time.Instant.now())))
      var manifestOk = false
      try {
        val src = scala.io.Source.fromFile(a(3), "UTF-8")
        try src.getLines().map(_.trim).filter(_.nonEmpty).foreach { l =>
          val parts = l.split("\\s+")
          // numeric fields validated via toLongOption INSIDE the
          // require: a non-numeric OFFSET/LENGTH must abort with the
          // manifest-line message, not a bare NumberFormatException
          val range = if (parts.length == 3)
            parts(1).toLongOption.zip(parts(2).toLongOption) else None
          require(range.isDefined, s"bad manifest line: $l")
          val (off, len) = range.get
          client.fetchAndAppend(a(0), parts(0), off, len)
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
          files.foreach(env.out.println)
          env.out.println(
            s"gz-range-client: ${files.length} archive files -> ${a(1)}")
        } catch { case scala.util.control.NonFatal(e) =>
          if (manifestOk) throw e
          env.err.println(s"gz-range-client: close also failed: ${e.getMessage}")
        }
      }
    },
    "fs-lsr" -> Verb("<uri>",
        "recursive listing: BASENAME<tab>PATH per file") { (a, env) =>
      FsTools.lsr(env.conf, a(0),
        new PrintWriter(new OutputStreamWriter(env.out, "UTF-8")))
    },
    "fs-touch" -> Verb("[-d] <uri> [TIMESTAMP]", "set file mtime/atime to " +
        "now or TIMESTAMP (-d: bump parent dir mtime too)") { (a, env) =>
      // HDFSTouch.java:71-117. An unparseable TIMESTAMP aborts loudly —
      // the original printed a complaint and then touched with "now".
      a.opt(1).fold(Option(System.currentTimeMillis()))(
          FsTools.parseTouchTimestamp) match {
        case Some(mtime) =>
          FsTools.touch(env.conf, a(0), mtime, a.has("-d"))
          env.out.println(s"Touched\t${a(0)}\t$mtime")
        case None =>
          env.err.println(s"bad timestamp: ${a(1)} (want " +
            "'yyyy-MM-dd HH:mm:ss' or 'EEE, dd MMM yyyy HH:mm:ss zzz')")
          env.status = 2
      }
    },
    "fs-mv" -> Verb("<targetDir>",
        "move stdin-listed paths into targetDir") { (a, env) =>
      val failures = FsTools.mv(env.conf, a(0),
        scala.io.Source.stdin.getLines(),
        new PrintWriter(env.out), new PrintWriter(env.err))
      if (failures > 0) env.status = 1
    },
    "fs-sync" -> Verb("",
        "copy stdin-listed SRC TGT tuples when TGT absent") { (_, env) =>
      val bad = FsTools.sync(env.conf, scala.io.Source.stdin.getLines(),
        new PrintWriter(env.out), new PrintWriter(env.err))
      if (bad > 0) env.status = 1
    },
    "fs-cat" -> Verb("<uri> [off:long] [len:long]",
        "dump (a byte range of) a file to stdout; uri - reads " +
          "`URI [off] [len]` lines from stdin") { (a, env) =>
      // the stdin specs are data: catRange checks them itself
      val out = new BufferedOutputStream(env.out)
      if (a(0) == "-")
        scala.io.Source.stdin.getLines().map(_.trim).filter(_.nonEmpty)
          .foreach(l => FsTools.catRange(env.conf, l.split("\\s+").toSeq, out))
      else FsTools.catRange(env.conf, a.pos, out)
      out.flush()
    })

  /** A verb's row in the usage text. */
  private def usageLine(name: String, v: Verb): String = {
    val cmd = s"  $name ${v.grammar}".stripTrailing
    val help = v.help.replace("\n", "\n" + " " * 41)
    if (cmd.length < 40) cmd.padTo(41, ' ') + help
    else cmd + "\n" + " " * 41 + help
  }

  private[cli] val usage: String = verbs.map((usageLine _).tupled)
    .mkString("usage: GraftCli <tool> [args]\n", "\n", "")

  /** The command line checked against its verb's grammar, or the text
    * to print: the table's usage for a missing or unknown verb, else
    * what is wrong and the verb's usage line. */
  private[cli] def parse(args: Seq[String]): Either[String, Invocation] =
    args match {
      case Seq() => Left(usage)
      case name +: rest => verbs.get(name) match {
        case None => Left(s"unknown tool: $name\n$usage")
        case Some(v) => v.bind(name, rest.toList).left.map(why =>
          s"$name: $why\nusage: GraftCli $name ${v.grammar}".stripTrailing)
      }
    }

  /** Run one command line and return its exit status: 2 for a usage
    * error, else what the verb reports (0 unless it says otherwise).
    * A verb declared with a session runs on the JVM's live session when
    * there is one (an embedding application's, a test's) and leaves it
    * running; otherwise it starts its own and stops it however the body
    * ends. */
  def run(args: Seq[String], stdout: PrintStream = System.out,
          stderr: PrintStream = System.err): Int = parse(args) match {
    case Left(text) => stderr.println(text); 2
    case Right(a) =>
      val verb = verbs(a.verb)
      val live = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .filterNot(_.sparkContext.isStopped)
      val spark = if (verb.session) Some(live.getOrElse(session(a.verb)))
        else None
      val env = new Env(spark, stdout, stderr)
      try { verb.body(a, env); env.status }
      finally if (live.isEmpty) spark.foreach(_.stop())
  }

  def main(args: Array[String]): Unit = {
    val status = run(args.toSeq)
    if (status != 0) sys.exit(status)
  }
}
