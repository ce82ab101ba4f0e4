package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table readers, fixtures and SQL fragments the gate families share:
  * each is declared here once, and a family file imports them all. */
private[graft] object GateSupport {

  /** Declared input schemas (r22, guide §6): `spark.read.parquet` without
    * a schema runs a footer-inference JOB on every invocation — Diag
    * measured ~1 job per table read per query rep, i.e. one-to-three
    * driver round-trips of pure overhead on every one of the 136 gates
    * (q02's 3-table join: 7 jobs, 3 of them inference). Declaring the
    * schema is the production idiom (a real pipeline reads from a
    * catalog, not from per-job inference) and removes those jobs at any
    * scale. The DDL below is the INFERRED schema, byte-identical across
    * all test SFs; SourcesSpec pins declared == inferred per table so a
    * testdata regeneration that drifts a column fails loudly instead of
    * silently reading nulls. `events` stays on inference — its ts column
    * legitimately varies (NANOS-as-LONG vs MICROS) across generations
    * and the tbl() shim dispatches on the arriving type. */
  val tableSchemas: Map[String, org.apache.spark.sql.types.StructType] =
    Map(
      "customer" -> "c_custkey BIGINT,c_name STRING,c_nationkey INT,c_acctbal DOUBLE,c_mktsegment STRING",
      "documents" -> "doc_id BIGINT,text STRING,lang STRING,source STRING,n_chars BIGINT",
      "embeddings" -> "vec_id BIGINT,embedding ARRAY<FLOAT>,label INT",
      "lineitem" -> "l_orderkey BIGINT,l_partkey BIGINT,l_suppkey BIGINT,l_linenumber INT,l_quantity DOUBLE,l_extendedprice DOUBLE,l_discount DOUBLE,l_tax DOUBLE,l_returnflag STRING,l_linestatus STRING,l_shipdate TIMESTAMP_NTZ",
      "nation" -> "n_nationkey INT,n_name STRING,n_regionkey INT",
      "orders" -> "o_orderkey BIGINT,o_custkey BIGINT,o_orderstatus STRING,o_totalprice DOUBLE,o_orderdate TIMESTAMP_NTZ,o_orderpriority STRING",
      "part" -> "p_partkey BIGINT,p_name STRING,p_brand STRING,p_type STRING,p_size INT,p_retailprice DOUBLE",
      "region" -> "r_regionkey INT,r_name STRING",
      "supplier" -> "s_suppkey BIGINT,s_name STRING,s_nationkey INT,s_acctbal DOUBLE"
    ).map { case (k, ddl) =>
      k -> org.apache.spark.sql.types.StructType.fromDDL(ddl)
    }

  def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    // Some testdata generations store events.ts as TIMESTAMP(NANOS), which
    // Spark's parquet reader rejects by default: read nanos as LONG and
    // truncate to micros (same second-level values the oracle sees). Newer
    // generations store TIMESTAMP(MICROS), which reads natively — the shim
    // must only fire when ts actually arrives as LONG.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = tableSchemas.get(name) match {
      case Some(schema) => s.read.schema(schema).parquet(s"$dir/$name.parquet")
      case None => s.read.parquet(s"$dir/$name.parquet")
    }
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          // Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as NTZ;
          // the session tz is pinned UTC, so the cast is value-preserving and
          // keeps downstream unix_micros()/window code on one type.
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else df
  }

  /** round(x*100) as BIGINT — exact, order-independent summand. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  // ---------------------------------------------------------------------
  // Synthesized CDX lines from the documents table (deterministic): lets
  // the CDX parser, cleanup and ZipNum paths run under the DuckDB oracle
  // gate even though the driver tables aren't web-archive data.
  // ---------------------------------------------------------------------
  def cdxLines(s: SparkSession, dir: String,
               docFilter: Column = lit(true)): DataFrame = {
    val d = tbl(s, dir, "documents").where(docFilter)
    d.select(concat_ws(" ",
      concat(lit("org,site"), col("doc_id") % 23, lit(")/p/"), col("doc_id")),
      concat(lit("201201"),
        lpad((col("doc_id") % 5 + 1).cast("string"), 2, "0"),
        lpad((col("doc_id") % 24).cast("string"), 2, "0"), lit("0000")),
      concat(lit("http://site"), col("doc_id") % 23, lit(".org/p/"), col("doc_id")),
      when(col("doc_id") % 11 === 0, "warc/revisit").otherwise("text/html"),
      when(col("doc_id") % 13 === 0, "xx")
        .when(col("doc_id") % 7 === 0, "502")
        .when(col("doc_id") % 7 === 1, "504")
        .when(col("doc_id") % 7 === 2, "404").otherwise("200"),
      md5(col("text")),
      when(col("doc_id") % 5 === 0,
        concat(lit("http://r.org/a "), col("doc_id"))).otherwise(lit("-")),
      when(col("doc_id") % 17 === 0, "A-").otherwise("-"),
      col("n_chars").cast("string"),
      when(col("doc_id") % 19 === 0, lit("zz"))
        .otherwise((col("doc_id") * 1000).cast("string")),
      when(col("doc_id") % 3 === 0, "live-20120101-c/live.arc.gz")
        .otherwise(lit("crawl/w.warc.gz"))
    ).as("line"))
  }

  /** Parsed-CDX oracle CTE: field expressions instead of re-parsing. */
  val cdxParsedSql: String =
    """SELECT
      |  'org,site' || (doc_id % 23) || ')/p/' || doc_id AS urlkey,
      |  '201201' || lpad(CAST(doc_id % 5 + 1 AS VARCHAR), 2, '0')
      |           || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || '0000' AS timestamp,
      |  'http://site' || (doc_id % 23) || '.org/p/' || doc_id AS original_url,
      |  CASE WHEN doc_id % 11 = 0 THEN 'warc/revisit' ELSE 'text/html' END AS mimetype,
      |  TRY_CAST(CASE WHEN doc_id % 13 = 0 THEN 'xx'
      |       WHEN doc_id % 7 = 0 THEN '502'
      |       WHEN doc_id % 7 = 1 THEN '504'
      |       WHEN doc_id % 7 = 2 THEN '404' ELSE '200' END AS INTEGER) AS statuscode,
      |  md5(text) AS digest,
      |  CASE WHEN doc_id % 5 = 0 THEN 'http://r.org/a ' || doc_id ELSE NULL END AS redirect_url,
      |  CASE WHEN doc_id % 17 = 0 THEN 'A-' ELSE NULL END AS meta_flags,
      |  CAST(n_chars AS BIGINT) AS compressed_size,
      |  TRY_CAST(CASE WHEN doc_id % 19 = 0 THEN 'zz' ELSE CAST(doc_id * 1000 AS VARCHAR) END AS BIGINT) AS "offset",
      |  CASE WHEN doc_id % 3 = 0 THEN 'live-20120101-c/live.arc.gz' ELSE 'crawl/w.warc.gz' END AS filename
      |FROM documents""".stripMargin

  /** CDXJ line construction in DuckDB SQL, shared by q133/q135. The
    * JSON block is `json_merge_patch('{}', to_json(struct_pack(...)))`
    * — RFC 7386 merge drops null-valued keys (pywb's omit-null
    * convention, and what Spark's `to_json` does natively) while
    * keeping declaration-order keys and PROPER string escaping: a
    * quote or backslash in any CDX field round-trips byte-identically
    * on both engines, which the earlier raw string concatenation could
    * not guarantee (it worked only because the fixture is clean). */
  def cdxjLinesSql(where: String = ""): String =
    s"WITH p AS ($cdxParsedSql),\n" +
      """j AS (SELECT *, CAST(json_merge_patch('{}', to_json(struct_pack(
        |    url := original_url, mime := mimetype,
        |    status := CAST(statuscode AS VARCHAR), digest := digest,
        |    redirect := redirect_url, flags := meta_flags,
        |    length := CAST(compressed_size AS VARCHAR),
        |    "offset" := CAST("offset" AS VARCHAR),
        |    filename := filename))) AS VARCHAR) AS js
        |  FROM p)
        |SELECT urlkey || ' ' || timestamp || ' ' || js AS line,
        |  urlkey, timestamp, original_url, mimetype, statuscode, digest,
        |  redirect_url, meta_flags, compressed_size, "offset", filename
        |FROM j
        |""".stripMargin + where

  def parsedCdx(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lines = cdxLines(s, dir).as[String]
    val parsed = lines.flatMap(graft.model.Cdx.parseLine _)
    parsed.toDF(graft.model.Cdx.columnNames: _*)
  }

  /** Fixed BPE merge table for q95 (in production: [[graft.operators.llm
    * .CorpusModels.bpeTrain]] output persisted offline; here a literal so
    * the oracle SQL embeds the identical chain). Later merges build on
    * earlier merged symbols (th→the, in→ing). */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "o" -> "u", "s" -> "t",
    "e" -> "d", "in" -> "g")

  /** CDX rows the WARC fixture rule produces — shared verbatim by q42
    * (gzip members) and q107 (uncompressed): container format must not
    * change one extracted byte. */
  val warcExtractOracleSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id,
      |    CAST(doc_id AS BIGINT) % 5 AS m FROM documents)
      |SELECT 'org,docs' || m || ')/d/' || id AS urlkey,
      |  strftime(TIMESTAMP '2020-01-01 00:00:00' + id * INTERVAL 1 SECOND,
      |           '%Y%m%d%H%M%S') AS timestamp,
      |  CASE WHEN id % 4 = 0 THEN 'http://WWW.Docs' || m || '.ORG/d/' || id || '/'
      |       ELSE 'http://docs' || m || '.org/d/' || id END AS original_url,
      |  CASE WHEN id % 7 = 0 THEN 'application/json'
      |       WHEN id % 9 = 4 THEN 'warc/revisit'
      |       ELSE 'text/html' END AS mimetype,
      |  CAST(CASE WHEN id % 7 = 0 OR id % 9 = 4 THEN NULL
      |       WHEN id % 5 = 0 THEN 404 ELSE 200 END AS INTEGER) AS statuscode
      |FROM d""".stripMargin

  /** Synthesized multi-member WARC fixture shared by q42/q50/q67 (one
    * gzip member per record, warcinfo lead, responses incl. 404s, raw
    * resources, REVISIT records carrying WARC-Payload-Digest, corrupt
    * tail for soft tolerance); content is a pure function of the
    * documents table. */
  def warcFixture(s: SparkSession, dir: String): java.io.File =
    warcFixtureImpl(s, dir, gzipped = true, key = "q42",
      name = "docs.warc.gz", version = "v6")

  /** The SAME record stream UNCOMPRESSED (q107): plain records separated
    * by \r\n\r\n, exercising the magic-dispatched [[graft.sources.warc
    * .PlainWarc]] walk end-to-end — same oracle SQL as q42. */
  def plainWarcFixture(s: SparkSession, dir: String): java.io.File =
    warcFixtureImpl(s, dir, gzipped = false, key = "q107",
      name = "docs.warc", version = "v2")

  private def warcFixtureImpl(s: SparkSession, dir: String,
                              gzipped: Boolean, key: String, name: String,
                              version: String): java.io.File = {
    val base = tmpDir(key, dir)
    val file = new java.io.File(s"$base/$name")
    fixtureOnce(base, version, dir, "documents") {
      val ids = tbl(s, dir, "documents")
        .select(col("doc_id").cast("long")).orderBy(col("doc_id"))
        .collect().map(_.getLong(0))
      // gz: one gzip member per record — same member framing the ZipNum
      // writer emits (and GzipMembers parses); no second implementation.
      // plain: raw record bytes + the spec's \r\n\r\n record separator.
      def emit(out: java.io.FileOutputStream, p: Array[Byte]): Unit =
        if (gzipped)
          out.write(graft.sources.zipnum.ZipNumFormat.gzipMember(p))
        else {
          out.write(p)
          out.write("\r\n\r\n".getBytes("US-ASCII"))
        }
      val epoch = java.time.Instant.parse("2020-01-01T00:00:00Z")
      val out = new java.io.FileOutputStream(file)
      try {
        val info = "software: graft\r\n"
        emit(out, ("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
          "Content-Type: application/warc-fields\r\n" +
          s"Content-Length: ${info.length}\r\n\r\n$info")
          .getBytes("UTF-8"))
        ids.foreach { id =>
          val m = id % 5
          val uri = if (id % 4 == 0) s"http://WWW.Docs$m.ORG/d/$id/"
                    else s"http://docs$m.org/d/$id"
          val date = java.time.format.DateTimeFormatter.ISO_INSTANT
            .format(epoch.plusSeconds(id))
          val rec =
            if (id % 7 == 0) {
              // item-metadata-shaped JSON payloads carrying the
              // reference's STRING-OR-LIST value convention
              // (petabox/ItemMetadata.java:110-193): the same key
              // arrives as a scalar in one record and as a list in the
              // next — mediatype AND collection both ways. WarcSpec
              // walks these payloads out of the container and pins that
              // ItemMetadata.parseOne normalizes both forms.
              val body =
                if (id % 14 == 0)
                  s"""{"metadata":{"identifier":"item-$id","mediatype":"texts","collection":["web","wide"]},"item_size":"$id","doc":$id}"""
                else
                  s"""{"metadata":{"identifier":"item-$id","mediatype":["texts","data"],"collection":"web"},"item_size":"$id","doc":$id}"""
              s"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: $uri\r\n" +
                s"WARC-Date: $date\r\nContent-Type: application/json\r\n" +
                s"Content-Length: ${body.length}\r\n\r\n$body"
            } else if (id % 9 == 4) {
              // duplicate capture: a revisit record with no payload, the
              // original's hash in WARC-Payload-Digest
              val orig = graft.sources.warc.WarcRecords
                .sha1Base32(s"doc $id body".getBytes("UTF-8"))
              s"WARC/1.0\r\nWARC-Type: revisit\r\nWARC-Target-URI: $uri\r\n" +
                s"WARC-Date: $date\r\nWARC-Payload-Digest: sha1:$orig\r\n" +
                "Content-Length: 0\r\n\r\n"
            } else {
              val status = if (id % 5 == 0) "404 Not Found" else "200 OK"
              val http =
                if (id % 11 == 3) {
                  // real-archive damage class: chunked transfer-encoding
                  // (entity split across two chunks, one carrying a chunk
                  // extension) + a mis-declared charset parameter. The
                  // ENTITY equals the plain branch's body, so mimetype
                  // (param stripped), status, and the de-chunked digest
                  // all match the plain form — the oracle is unchanged
                  // and WarcSpec pins the digest equality.
                  val entity = s"doc $id body"
                  val (a, b) = entity.splitAt(5)
                  val framed = f"${a.length}%x;chunkext=1\r\n$a\r\n" +
                    f"${b.length}%x\r\n$b\r\n0\r\n\r\n"
                  s"HTTP/1.1 $status\r\n" +
                    "Content-Type: text/html; charset=not-a-charset\r\n" +
                    s"Transfer-Encoding: chunked\r\n\r\n$framed"
                } else
                  s"HTTP/1.1 $status\r\nContent-Type: text/html\r\n" +
                    s"\r\ndoc $id body"
              s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
                s"WARC-Date: $date\r\nContent-Length: ${http.length}\r\n\r\n$http"
            }
          emit(out, rec.getBytes("UTF-8"))
        }
        out.write(Array.fill[Byte](32)(0x13)) // corrupt tail (soft-skipped)
      } finally out.close()
    }
    file
  }

  /** Synthesized multi-member legacy ARC fixture for q71 (filedesc lead
    * member, one gzip member per record, v1 and v2 URL-record lines,
    * corrupt tail for soft tolerance); content is a pure function of the
    * documents table. */
  def arcFixture(s: SparkSession, dir: String): java.io.File = {
    val base = tmpDir("q71", dir)
    val file = new java.io.File(s"$base/docs.arc.gz")
    fixtureOnce(base, "v1", dir, "documents") {
      val ids = tbl(s, dir, "documents")
        .select(col("doc_id").cast("long")).orderBy(col("doc_id"))
        .collect().map(_.getLong(0))
      def gz(p: Array[Byte]): Array[Byte] =
        graft.sources.zipnum.ZipNumFormat.gzipMember(p)
      val epoch = java.time.Instant.parse("2005-01-01T00:00:00Z")
      val ts14 = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMddHHmmss").withZone(java.time.ZoneOffset.UTC)
      val out = new java.io.FileOutputStream(file)
      try {
        out.write(gz(graft.sources.warc.ArcRecords
          .filedescPayload("docs.arc.gz", "20050101000000")))
        ids.foreach { id =>
          val m = id % 5
          val url = if (id % 4 == 0) s"http://WWW.Arc$m.ORG/p/$id/"
                    else s"http://arc$m.org/p/$id"
          val date = ts14.format(epoch.plusSeconds(id))
          val (mime, content) =
            if (id % 7 == 0) ("text/plain", s"arc doc $id")
            else {
              val status = if (id % 5 == 0) "404 Not Found" else "200 OK"
              ("text/html", s"HTTP/1.1 $status\r\n" +
                s"Content-Type: text/html\r\n\r\narc $id body")
            }
          // v2 lines every third record; v2's Result-code is '-' for
          // non-HTTP records, so statuscode still comes out NULL there
          val line =
            if (id % 3 == 0) {
              val rc = if (id % 7 == 0) "-"
                       else if (id % 5 == 0) "404" else "200"
              s"$url 1.2.3.4 $date $mime $rc - - ${id * 10} docs.arc.gz ${content.length}"
            } else s"$url 1.2.3.4 $date $mime ${content.length}"
          out.write(gz((line + "\n" + content).getBytes("UTF-8")))
        }
        out.write(Array.fill[Byte](32)(0x17)) // corrupt tail (soft-skipped)
      } finally out.close()
    }
    file
  }

  /** Media WARC fixture for q121 — the crawl→media END-TO-END bridge:
    * one gzip member per record, each response carrying a BINARY image
    * entity (BMP/PNG/JPEG/GIF by id % 4) whose constant pixel content
    * has closed-form statistics (the q106/q112/q115/q118 arithmetic).
    * Every 5th record stores its entity CHUNKED (binary de-chunk on
    * the payload path must reproduce the exact bytes or the codec
    * fails the hash), every id%9==4 capture is a payload-less revisit
    * the extraction must skip by type, plus a warcinfo lead record and
    * a corrupt gzip tail (soft-skipped). */
  def mediaWarcFixture(s: SparkSession, dir: String): java.io.File = {
    val base = tmpDir("q121", dir)
    val file = new java.io.File(s"$base/media.warc.gz")
    fixtureOnce(base, "v2", dir, "documents") {
      import graft.operators.llm.{GifCodec, JpegCodec, MediaCodecs}
      val ids = tbl(s, dir, "documents")
        .select(col("doc_id").cast("long")).orderBy(col("doc_id"))
        .collect().map(_.getLong(0))
      def gz(p: Array[Byte]): Array[Byte] =
        graft.sources.zipnum.ZipNumFormat.gzipMember(p)
      val epoch = java.time.Instant.parse("2021-06-01T00:00:00Z")
      val out = new java.io.FileOutputStream(file)
      try {
        val info = "software: graft\r\n"
        out.write(gz(("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
          "Content-Type: application/warc-fields\r\n" +
          s"Content-Length: ${info.length}\r\n\r\n$info").getBytes("UTF-8")))
        ids.foreach { id =>
          val uri = s"http://media${id % 5}.org/img/$id"
          val date = java.time.format.DateTimeFormatter.ISO_INSTANT
            .format(epoch.plusSeconds(id))
          val rec: Array[Byte] =
            if (id % 9 == 4) {
              val orig = graft.sources.warc.WarcRecords
                .sha1Base32(s"img $id".getBytes("UTF-8"))
              (s"WARC/1.0\r\nWARC-Type: revisit\r\nWARC-Target-URI: $uri\r\n" +
                s"WARC-Date: $date\r\nWARC-Payload-Digest: sha1:$orig\r\n" +
                "Content-Length: 0\r\n\r\n").getBytes("UTF-8")
            } else {
              val (mime, entity) = (id % 4) match {
                case 0 =>
                  ("image/bmp", MediaCodecs.encodeBmp(8, 8, (_, _) =>
                    ((10 + id % 200).toInt, ((3 * id) % 256).toInt,
                      ((7 * id) % 251).toInt)))
                case 1 =>
                  ("image/png", MediaCodecs.encodePng(8, 8, 2, (_, _) =>
                    Array((10 + id % 200).toInt, ((3 * id) % 256).toInt,
                      ((7 * id) % 251).toInt)))
                case 2 =>
                  // id % 4 == 2 forces id even, so the gray/color split
                  // must key on a bit that VARIES within this branch
                  val ch = if ((id / 4) % 2 == 0) 3 else 1
                  val cb = 128 + 4 * (id % 7).toInt
                  val cr = 128 + 6 * (id % 5).toInt
                  val yv = 16 + 8 * (id % 24).toInt
                  ("image/jpeg", JpegCodec.encodeJpeg(8, 8, ch, 1,
                    JpegCodec.flatQuant, JpegCodec.flatQuant, 0,
                    (_, _) => (yv, cb, cr)))
                case _ =>
                  val pal = Array(10, 20, 30,
                    200, 100 + 4 * (id % 7).toInt, 50,
                    8 * (id % 9).toInt, 0, 120,
                    255, 255, (id % 256).toInt)
                  val cidx = ((id / 4) % 4).toInt
                  ("image/gif", GifCodec.encodeGif(16, 16, pal,
                    (_, _) => cidx, interlaced = false,
                    transparentIndex = -1))
              }
              val body = new java.io.ByteArrayOutputStream()
              if (id % 5 == 0) {
                // binary entity chunked: split mid-magic at byte 5,
                // chunk extension on the first chunk
                val (a, b) = entity.splitAt(5)
                body.write(f"${a.length}%x;ext=q121\r\n".getBytes("US-ASCII"))
                body.write(a); body.write("\r\n".getBytes("US-ASCII"))
                body.write(f"${b.length}%x\r\n".getBytes("US-ASCII"))
                body.write(b)
                body.write("\r\n0\r\n\r\n".getBytes("US-ASCII"))
              } else body.write(entity)
              val head = (s"HTTP/1.1 200 OK\r\nContent-Type: $mime\r\n" +
                (if (id % 5 == 0) "Transfer-Encoding: chunked\r\n" else "") +
                "\r\n").getBytes("US-ASCII")
              val http = head ++ body.toByteArray
              (s"WARC/1.0\r\nWARC-Type: response\r\n" +
                s"WARC-Target-URI: $uri\r\nWARC-Date: $date\r\n" +
                s"Content-Length: ${http.length}\r\n\r\n")
                .getBytes("US-ASCII") ++ http
            }
          out.write(gz(rec))
        }
        out.write(Array.fill[Byte](32)(0x19)) // corrupt tail (soft-skipped)
      } finally out.close()
    }
    file
  }

  /** Per-query scratch dir (overwritten on every run; bench reps included),
    * under `target/tmp` of the JVM's working directory — the checkout
    * root for sbt runs and tests, as for the tests' temp files. */
  def tmpDir(q: String, dir: String): String =
    java.nio.file.Paths.get("target", "tmp").toAbsolutePath.toString +
      s"/${q}_" + dir.replaceAll("[^0-9a-zA-Z.]", "_")

  /** Source-table identity: path + size + mtime — the shared fingerprint
    * for session caches and on-disk fixture markers, so a regenerated
    * table (same path, new contents) invalidates both. */
  private def tableTag(dir: String, table: String): String = {
    val src = new java.io.File(s"$dir/$table.parquet")
    s"$dir/$table.parquet ${src.length()} ${src.lastModified()}"
  }

  /** q43/q123's coarse IVF codebook: the 8 seed vectors, quantized,
    * collected per INVOCATION (one 8-row job). r22 honesty fix: the
    * former JVM-lifetime TrieMap keyed on table identity excluded this
    * collect from every bench rep after the first while the DuckDB
    * oracle replayed the derivation each run — the r21 verdict counted
    * those rows as flattered. Production trains a codebook offline and
    * feeds [[graft.operators.llm.AnnOps.ivfTopKWithCodebook]] directly;
    * the gate queries now pay their own harvest every time. */
  def harvestCoarseCodebook(s: SparkSession,
                            dir: String): Seq[(Long, Seq[Long])] = {
    import graft.functions.VectorFunctions.{quantize1000 => qz}
    tbl(s, dir, "embeddings").where(col("vec_id") < 8)
      .select(col("vec_id").cast("long"), qz(col("embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq
      .sortBy(_._1)
  }

  /** Set session confs for the duration of `f`, restoring (or unsetting)
    * previous values after — for queries that EAGERLY execute inside
    * their builder (streaming runs, iterative fixpoints) and want
    * engine knobs sized to their shape without leaking to neighbors. */
  def withScopedConf[A](s: SparkSession, kvs: (String, String)*)(f: => A): A = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** q51's stream corpus: CDX-11 lines with COLLIDING (urlkey, day)
    * groups — urlkey keyspace of 50 and a parity-locked day (doc_id and
    * doc_id+50 share both), ~n/50 rows per group at every SF — and a
    * timestamp whose (hh, mm, ss) encodes doc_id (distinct within a group
    * for doc_id < 86400), so "smallest (timestamp, offset) first" is a
    * deterministic total order DuckDB can reproduce. */
  def streamCdxLines(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("long")
    tbl(s, dir, "documents").select(concat_ws(" ",
      concat(lit("org,s"), id % 50, lit(")/")),
      concat(lit("2012010"), (id % 2) + 1,
        lpad((id % 24).cast("string"), 2, "0"),
        lpad(expr("CAST((CAST(doc_id AS BIGINT) div 24) % 60 AS STRING)"), 2, "0"),
        lpad(expr("CAST((CAST(doc_id AS BIGINT) div 1440) % 60 AS STRING)"), 2, "0")),
      concat(lit("http://s"), id % 50, lit(".org/")),
      lit("text/html"), lit("200"), md5(col("text")), lit("-"), lit("-"),
      col("n_chars").cast("string"), (id * 1000).cast("string"),
      lit("w.warc.gz")).as("line"))
  }

  /** Shared scaffold for the streaming oracle queries (q51/q92/q104):
    * build the line fixture once per (fixtureKey, sfDir), delete the
    * per-query checkpoint (a reused one marks the input processed and
    * the run would emit nothing), run the transform through a memory
    * sink with Trigger.AvailableNow under the scoped streaming knobs —
    * shuffle.partitions=1 (state-store files are written PER shuffle
    * partition per batch; at the single-file oracle scale even 8 spend
    * most of the wall on empty-store checkpoint commits — a production
    * stream sizes this to key cardinality), maxPartitionBytes=1g (the
    * file source re-splits a single file at max(openCost,
    * bytes/parallelism); keep-first admission order is only the file's
    * line order while ONE mapper reads it start-to-finish), and no-data
    * micro-batches off (the trailing batch only fires state timeouts).
    * Invariants live HERE once — the three queries differ only in
    * fixture lines, transform, and output mode. */
  def runStreamQuery(s: SparkSession, dir: String,
      fixtureKey: String, sink: String, outputMode: String,
      fixture: => DataFrame,
      readOptions: Map[String, String] = Map.empty,
      fixtureVersion: String = "v1",
      noDataBatch: Boolean = false)(
      xform: org.apache.spark.sql.Dataset[String] => DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    val base = tmpDir(fixtureKey, dir)
    fixtureOnce(base, fixtureVersion, dir, "documents") {
      fixture.coalesce(1).write.mode("overwrite").text(s"$base/in")
    }
    val ckpt = s"${checkpointBase(base)}/ckpt_$sink"
    val ckptPath = new org.apache.hadoop.fs.Path(ckpt)
    val ckptFs = ckptPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    ckptFs.delete(ckptPath, true)
    scala.util.Try(s.catalog.dropTempView(sink))
    try withScopedConf(s,
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.files.maxPartitionBytes" -> "1073741824",
      // ~35 ms -> ~9 ms per metadata-log write (offsets/commit WALs,
      // x3 per batch): the default FileContext-based manager
      // re-instantiates a FileContext per operation for rename
      // atomicity the LOCAL fs already guarantees; the FileSystem-based
      // manager reuses the cached FileSystem. Scoped to the gate's
      // ephemeral tmpfs checkpoints only — a production stream on
      // HDFS/S3 keeps the default (and its stronger atomic-rename
      // contract) by not going through this scaffold.
      "spark.sql.streaming.checkpointFileManagerClass" ->
        ("org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager"),
      // noDataBatch = true is the append-mode flush path: ONE data
      // batch (the fixture, sentinel line included, raises the
      // watermark at its end) + one trailing NO-DATA batch that emits
      // everything below it — the cheapest append emission possible.
      // The order-sensitive append surfaces (q51/q92) keep it off: a
      // no-data batch only fires timeouts/evictions they don't need.
      "spark.sql.streaming.noDataMicroBatches.enabled" ->
        noDataBatch.toString) {
      val lines = readOptions.foldLeft(
          s.readStream.option("lineSep", "\n")) {
          case (r, (k, v)) => r.option(k, v)
        }
        .text(s"$base/in").as[String]
      val query = xform(lines)
        .writeStream.format("memory").queryName(sink)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      query.awaitTermination()
    // the checkpoint is pure scratch once the run finished (the next
    // run deletes-and-rebuilds it anyway) — removing it NOW keeps it
    // from sitting resident in tmpfs RAM between runs; the JVM-exit
    // hook covers crashes mid-run
    } finally scala.util.Try(ckptFs.delete(ckptPath, true))
    s.table(sink)
  }

  /** Where a stream gate with scratch dir `base` checkpoints. The
    * checkpoints are EPHEMERAL (deleted at every run start — the gate
    * re-processes the fixture from scratch), so they go to tmpfs when
    * available: their fsync traffic measures the local disk, not the
    * operator (a production stream checkpoints to HDFS/S3 and sizes
    * that independently). Fixtures stay on disk — they persist across
    * runs. */
  def checkpointBase(base: String): String =
    if (new java.io.File("/dev/shm").isDirectory)
      s"$tmpfsScratchDir/${new java.io.File(base).getName}"
    else base

  /** This process's PRIVATE tmpfs scratch dir (`graft_tmp/pid<pid>`),
    * with a JVM-exit hook scoped to it alone — a finishing bench JVM
    * must never delete the live checkpoints of a concurrently running
    * diag JVM, so the shared root is never swept by a live process.
    * SIGKILL'd runs can't run their hook, so registration also reaps
    * sibling subdirs whose owning pid is gone (`/proc/<pid>` absent) —
    * the crash-leak coverage the old whole-root sweep provided, minus
    * its cross-process stomping. */
  private lazy val tmpfsScratchDir: String = {
    def rm(f: java.io.File): Unit = {
      val children = f.listFiles()
      if (children != null) children.foreach(rm)
      f.delete()
    }
    val root = new java.io.File("/dev/shm/graft_tmp")
    val mine = new java.io.File(root,
      s"pid${ProcessHandle.current().pid()}")
    val siblings = root.listFiles()
    if (siblings != null) siblings.foreach { d =>
      val owner = d.getName match {
        case n if n.startsWith("pid") => n.drop(3)
        case _ => "" // pre-pid-layout leftover: no live owner
      }
      // An empty/non-numeric owner must reap unconditionally — probing
      // "/proc/" (or "/proc/garbage" on some procfs) would read as a
      // live owner and pin the leftover in tmpfs until reboot. Residual
      // risk: a SIGKILL'd run's dir survives if its pid number was
      // since REUSED by an unrelated process (liveness here is by pid
      // only, not start time) — accepted, the next reuse-free sweep
      // gets it.
      val live = owner.nonEmpty && owner.forall(_.isDigit) &&
        new java.io.File(s"/proc/$owner").exists()
      if (!live) rm(d)
    }
    sys.addShutdownHook(rm(mine))
    mine.getAbsolutePath
  }

  /** [[streamCdxLines]] plus ONE watermark-advancing sentinel line
    * (2012-01-10, DAYS past the real data's 2012-01-03 maximum vs a
    * 2-hour watermark delay; distinct host "org,zz-sentinel"): the
    * single data batch ends with the watermark past every real
    * window/session end, so the trailing no-data batch flushes them in
    * append mode. The sentinel's own window/session never closes and is
    * never emitted, so the batch oracles ignore it. */
  def streamCdxLinesWithSentinel(s: SparkSession,
                                 dir: String): DataFrame =
    streamCdxLines(s, dir).unionByName(s.range(1).select(
      lit("org,zz-sentinel)/ 20120110000000 http://sentinel.org/ " +
        "text/html 200 SENTINEL - - 10 0 w.warc.gz").as("line")))

  /** q92's stream corpus: same deterministic line synthesis as
    * [[streamCdxLines]] but with a HEAVILY colliding digest keyspace —
    * digest = md5(source), so each (urlkey, digest) cell collects ~n/1000
    * re-crawls and the streaming dedup state actually drops rows. The
    * timestamp still encodes doc_id, so "first in admission order" is a
    * total order DuckDB reproduces by offset. */
  def dupStreamLines(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("long")
    tbl(s, dir, "documents").select(concat_ws(" ",
      concat(lit("org,s"), id % 50, lit(")/")),
      concat(lit("2012010"), (id % 2) + 1,
        lpad((id % 24).cast("string"), 2, "0"),
        lpad(expr("CAST((CAST(doc_id AS BIGINT) div 24) % 60 AS STRING)"), 2, "0"),
        lpad(expr("CAST((CAST(doc_id AS BIGINT) div 1440) % 60 AS STRING)"), 2, "0")),
      concat(lit("http://s"), id % 50, lit(".org/")),
      lit("text/html"), lit("200"), md5(col("source")), lit("-"), lit("-"),
      col("n_chars").cast("string"), (id * 1000).cast("string"),
      lit("w.warc.gz")).as("line"))
  }

  /** Build a deterministic fixture ONCE per (query, sfDir): a marker file
    * records a version tag PLUS the source parquet's (size, mtime)
    * identity, so bench reps and repeated Verify runs skip the
    * scaffolding, while regenerated testdata (same path, new contents)
    * correctly invalidates the fixture. Bump `version` whenever the
    * synthesis code changes. */
  def fixtureOnce(base: String, version: String, dir: String,
                  table: String)(build: => Unit): Unit = {
    val tag = s"$version ${tableTag(dir, table)}"
    val marker = java.nio.file.Paths.get(base, ".fixture")
    val current = scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")).toOption
    if (!current.contains(tag)) {
      new java.io.File(base).mkdirs()
      build
      java.nio.file.Files.write(marker, tag.getBytes("UTF-8"))
    }
  }

  /** The synthesized-media gates' id feed (q106/q112/q115-q120/q125):
    * encode+decode are heavy PER-ROW work that otherwise runs entirely
    * inside the documents scan stage — a single-file, single-row-group
    * parquet at every test SF, i.e. ONE task no matter the core count
    * (guide §2.5 "input skew: one huge unsplittable file → repartition
    * immediately after the read"). The fan-out shuffles 8-byte ids
    * only; the per-id media synthesis + container walk + entropy decode
    * then spread across defaultParallelism tasks. r21 Diag A/B
    * (min-of-3, anchor q74): q125 1.795→0.730 s, q120 1.190→0.382 s,
    * q119 0.928→0.341 s, q117 0.680→0.323 s at jobs 2→3 — the extra
    * exchange of ids buys back 2-5× its cost on every gate. Content is
    * a pure function of id, so results are partition-invariant. */
  def mediaIds(s: SparkSession, dir: String, fan: Boolean = true)
      : org.apache.spark.sql.Dataset[Long] = {
    import s.implicits._
    val base = tbl(s, dir, "documents").select(col("doc_id").cast("long"))
    // `fan = false`: the LIGHT synthesis gates (q106 BMP/WAV, q118 tiny
    // GIFs) — AbQuery one-JVM ABAB showed the id exchange costs more
    // than their per-row work buys back (q106 min 0.262 unfanned vs
    // 0.449 fanned, 7/7 pairs; q118 0.241 vs 0.271, 6/7), while every
    // heavier gate keeps the fan-out (q125 ABAB/bench ~2-3x win).
    (if (fan) fanOut(base) else base).as[Long]
  }

  /** Fan a narrow-split input out to the session's parallelism: a single
    * parquet/gz file yields 1-2 input splits, so every downstream map
    * stage (shingle, md5 pool, partial agg) runs on 2 of N cores; one
    * small shuffle of the raw rows unlocks all of them. No-op when the
    * source already has enough splits — at real scale inputs have
    * thousands and the shuffle would be pure cost. The cluster-scale
    * analogue is the standard repartition after reading a non-splittable
    * archive member.
    *
    * With `keys`, the fan-out hash-partitions on them, so a downstream
    * groupBy on the same keys is exchange-free: the wide intermediate
    * (e.g. LSH shingle hash pools) never reaches the wire — only the
    * narrow source columns move. */
  def fanOut(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 4 >= target) df
    else if (keys.isEmpty) df.repartition(target)
    else df.repartition(target, keys: _*)
  }

  /** Near-dup corpus: originals + every 7th doc re-inserted with 3 words
    * appended — high-Jaccard pairs the oracle can reproduce. `fan` opts
    * the hash-heavy consumers (MinHash signature pipeline: q21/q52) into
    * [[fanOut]]; the lighter set-algebra consumer (q22) keeps the narrow
    * scan — its per-row work is too small to buy back the shuffle. */
  def nearDupCorpus(s: SparkSession, dir: String,
                    fan: Boolean = false): DataFrame = {
    val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val variants = d.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graft extra appended")).as("text"))
    val u = d.unionByName(variants)
    // round-robin fan-out, NOT keyed: the signature aggregation's partial
    // aggs already shrink the shuffle to one row per doc, so eliding that
    // exchange buys nothing, while losing byte-balanced partitions costs
    // straggler wall on skewed doc lengths (keyed measured +75% on q21)
    if (fan) fanOut(u) else u
  }

  /** Shared CTE chain for the TRAINED-PQ replay (q126, and via
    * [[trainedIvfPqCtesSql]] also q128/q129): quantize (`e`) → the
    * per-subspace Lloyd training chain (`c0`→`a1`→`c1`→`a2`), final
    * counts+sums (`cs`), floor-mean codebooks (`cmean`), argmin encode
    * (`enc`), and the query set (`qs`). Terminates after `qs` so each
    * consumer appends its own scoring (q126: unrestricted ADC; q128:
    * bucket-restricted via the coarse chain). ONE copy — a training
    * replay fix here moves all three gates together. */
  val trainedPqCtesSql: String =
    """e AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |sub AS (SELECT m, vec_id,
      |    list_transform(range(1, 33), i -> q[m * 32 + i]) AS v
      |  FROM e CROSS JOIN range(0, 2) tm(m)),
      |dims AS (SELECT unnest(range(1, 33)) AS i),
      |c0 AS (SELECT m, vec_id AS cid, v AS s FROM sub WHERE vec_id < 8),
      |a1 AS (SELECT m, vec_id, v, cid FROM (
      |    SELECT s.m, s.vec_id, s.v, c.cid,
      |      row_number() OVER (PARTITION BY s.m, s.vec_id
      |        ORDER BY CAST(list_sum(list_transform(range(1, 33),
      |            i -> s.v[i] * c.s[i])) AS DOUBLE)
      |          / sqrt(CAST(list_sum(list_transform(range(1, 33),
      |            i -> c.s[i] * c.s[i])) AS DOUBLE)) DESC, c.cid) AS rk
      |    FROM sub s JOIN c0 c ON c.m = s.m) WHERE rk = 1),
      |c1 AS (SELECT m, cid, list(sc ORDER BY i) AS s FROM (
      |    SELECT m, cid, i, CAST(sum(v[i]) AS BIGINT) AS sc
      |    FROM a1 CROSS JOIN dims GROUP BY 1, 2, 3) GROUP BY 1, 2),
      |a2 AS (SELECT m, vec_id, v, cid FROM (
      |    SELECT s.m, s.vec_id, s.v, c.cid,
      |      row_number() OVER (PARTITION BY s.m, s.vec_id
      |        ORDER BY CAST(list_sum(list_transform(range(1, 33),
      |            i -> s.v[i] * c.s[i])) AS DOUBLE)
      |          / sqrt(CAST(list_sum(list_transform(range(1, 33),
      |            i -> c.s[i] * c.s[i])) AS DOUBLE)) DESC, c.cid) AS rk
      |    FROM sub s JOIN c1 c ON c.m = s.m) WHERE rk = 1),
      |cs AS (SELECT m, cid, i, CAST(sum(v[i]) AS BIGINT) AS sc,
      |    count(*) AS n
      |  FROM a2 CROSS JOIN dims GROUP BY 1, 2, 3),
      |cmean AS (SELECT m, cid, list(CAST(floor(CAST(sc AS DOUBLE) / n)
      |      AS BIGINT) ORDER BY i) AS cv
      |  FROM cs GROUP BY 1, 2),
      |dist AS (SELECT s.vec_id, c.m, c.cid,
      |    CAST(list_sum(list_transform(c.cv, x -> x * x)) AS BIGINT)
      |      - 2 * CAST(list_sum(list_transform(range(1, 33),
      |          i -> s.v[i] * c.cv[i])) AS BIGINT) AS d
      |  FROM sub s JOIN cmean c ON c.m = s.m),
      |enc AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m, cid,
      |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
      |  FROM dist) WHERE rn = 1),
      |qs AS (SELECT vec_id AS query_id, q AS qv FROM e
      |  WHERE vec_id % 101 = 0)""".stripMargin

  /** [[trainedPqCtesSql]] extended with the fully-trained IVF-PQ parts
    * (q128, and q129's recall gate on top of it): full-vector coarse
    * Lloyd through the final-assignment sums (`fcb` = what
    * `KMeans.codebook` returns), raw-dot search buckets (`bk`), and the
    * bucket-restricted ADC scores (`sc2`). Terminates after `sc2` so
    * consumers append their own final SELECT (and, for q129, the brute
    * CTEs over the same `e`/`qs`). */
  val trainedIvfPqCtesSql: String =
    s"$trainedPqCtesSql,\n" +
    """fdims AS (SELECT unnest(range(1, 65)) AS i),
      |fc0 AS (SELECT vec_id AS cid, q AS s FROM e WHERE vec_id < 8),
      |fa1 AS (SELECT vec_id, q, cid FROM (
      |    SELECT e.vec_id, e.q, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY CAST(list_sum(list_transform(range(1, 65),
      |            i -> e.q[i] * c.s[i])) AS DOUBLE)
      |          / sqrt(CAST(list_sum(list_transform(range(1, 65),
      |            i -> c.s[i] * c.s[i])) AS DOUBLE)) DESC, c.cid) AS rk
      |    FROM e CROSS JOIN fc0 c) WHERE rk = 1),
      |fc1 AS (SELECT cid, list(sc ORDER BY i) AS s FROM (
      |    SELECT cid, i, CAST(sum(q[i]) AS BIGINT) AS sc
      |    FROM fa1 CROSS JOIN fdims GROUP BY 1, 2) GROUP BY 1),
      |fa2 AS (SELECT vec_id, q, cid FROM (
      |    SELECT e.vec_id, e.q, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY CAST(list_sum(list_transform(range(1, 65),
      |            i -> e.q[i] * c.s[i])) AS DOUBLE)
      |          / sqrt(CAST(list_sum(list_transform(range(1, 65),
      |            i -> c.s[i] * c.s[i])) AS DOUBLE)) DESC, c.cid) AS rk
      |    FROM e CROSS JOIN fc1 c) WHERE rk = 1),
      |fcb AS (SELECT cid, list(sc ORDER BY i) AS s FROM (
      |    SELECT cid, i, CAST(sum(q[i]) AS BIGINT) AS sc
      |    FROM fa2 CROSS JOIN fdims GROUP BY 1, 2) GROUP BY 1),
      |bk AS (SELECT vec_id, cid AS bcid FROM (
      |    SELECT e.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY CAST(list_sum(list_transform(range(1, 65),
      |          i -> e.q[i] * c.s[i])) AS BIGINT) DESC, c.cid) AS rk
      |    FROM e CROSS JOIN fcb c) WHERE rk = 1),
      |sc2 AS (SELECT qs.query_id, enc.vec_id AS cand_id,
      |    CAST(SUM(CAST(list_sum(list_transform(range(1, 33),
      |      i -> qs.qv[enc.m * 32 + i] * c.cv[i])) AS BIGINT))
      |      AS BIGINT) AS dot
      |  FROM enc JOIN cmean c ON c.m = enc.m AND c.cid = enc.cid
      |  JOIN bk cb ON cb.vec_id = enc.vec_id
      |  CROSS JOIN qs JOIN bk qb ON qb.vec_id = qs.query_id
      |  WHERE cb.bcid = qb.bcid AND enc.vec_id <> qs.query_id
      |  GROUP BY 1, 2)""".stripMargin

  /** DuckDB rendering of [[nearDupCorpus]] (kept textually parallel). */
  val nearDupCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text || ' graft extra appended'
      |  FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** DuckDB rendering of [[graft.operators.llm.SimHash]] (generated for the
    * 32 bit positions, same ±1 nibble-vote definition). */
  val simhashSql: String = {
    val sums = (0 until 32).map(j =>
      s"sum(CASE WHEN substr(md5(word), ${j + 1}, 1) > '7' " +
        s"THEN 1 ELSE -1 END) AS s$j").mkString(",\n  ")
    val bits = (0 until 32)
      .map(j => s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |agg AS (SELECT doc_id,
       |  $sums
       |FROM w GROUP BY 1)
       |SELECT doc_id, $bits AS simhash FROM agg""".stripMargin
  }
}
