package graft
package gates

import org.apache.spark.sql.functions._

import GateSupport._

/** The media family: the gates that decode media payloads. One [[Gate]] per gate.
  * [[graft.SparkEntry]] derives its registry views from these lists. */
object MediaGates {

  lazy val all: Seq[Gate] = Seq(

    // Multimodal plumbing: binary payload + typed metadata, batch-decoded
    // executor-side (decode itself stubbed deterministically).
    Gate("q30_multimodal",
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpg' END AS format,
        |  count(*) AS n,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
        |  count(DISTINCT md5(text)) AS n_hashes
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
        .as[(Long, String, Long)]
        .map { case (id, text, n) =>
          graft.operators.llm.MultimodalOps.MediaRecord(id,
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            if (id % 2 == 0) "png" else "jpg", (n % 640).toInt,
            (id % 480).toInt)
        }
      graft.operators.llm.MultimodalOps.decode(media)
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n"),
          sum(col("decoded_bytes")).as("sum_bytes"),
          countDistinct(col("thumb_hash")).as("n_hashes"))
    },

    // End-to-end multimodal pipeline: binary payloads + typed metadata
    // through aspect-preserving resize (integer dimension math — what a
    // pipeline budgets on) and strided frame sampling (byte-range chunk
    // hashes stand in for decoded frames), per-doc frame stats joined
    // back — the executor-side batch shapes are real, the codecs are the
    // documented stubs.
    Gate("q100_mm_pipeline",
      """WITH m AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpg' END AS format,
        |    CAST(n_chars % 640 AS BIGINT) AS w,
        |    CAST(doc_id % 480 AS BIGINT) AS h,
        |    hex(encode(text)) AS p
        |  FROM documents),
        |r AS (SELECT doc_id, format, p,
        |    greatest(w, h) AS lg, w, h FROM m),
        |rs AS (SELECT doc_id, format, p,
        |    CASE WHEN lg <= 256 THEN w
        |         ELSE greatest(1, w * 256 // lg) END AS rw,
        |    CASE WHEN lg <= 256 THEN h
        |         ELSE greatest(1, h * 256 // lg) END AS rh
        |  FROM r),
        |f AS (SELECT doc_id, md5(substring(p, i * 64 + 1, 64)) AS fh
        |  FROM rs, UNNEST(range(0, len(p) // 64, 2)) t(i)),
        |fs AS (SELECT doc_id, count(*) AS nf, count(DISTINCT fh) AS nh
        |  FROM f GROUP BY 1)
        |SELECT rs.doc_id, format, rw, rh,
        |  coalesce(nf, 0) AS n_frames, coalesce(nh, 0) AS n_frame_hashes
        |FROM rs LEFT JOIN fs ON rs.doc_id = fs.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.llm.MultimodalOps
      // payload = ASCII hex dump of the content: byte offsets in the
      // frame walk then equal character offsets, so the oracle replays
      // the exact chunk hashes with VARCHAR substring (DuckDB 1.0 has
      // no BLOB slicing)
      val media = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
        .as[(Long, String, Long)]
        .map { case (id, text, n) =>
          val hexDump = MultimodalOps.hexUpper(
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          MultimodalOps.MediaRecord(id,
            hexDump.getBytes(java.nio.charset.StandardCharsets.US_ASCII),
            if (id % 2 == 0) "png" else "jpg", (n % 640).toInt,
            (id % 480).toInt)
        }
        // two consumers (resize + frame sampling) — materialize the
        // hex-dump map once instead of re-deriving it per branch (the
        // q88/heavyHitters localCheckpoint trade)
        .localCheckpoint(false)
      val resized = MultimodalOps.resize(media, maxDim = 256)
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("rw"),
          col("height").cast("long").as("rh"))
      val frames = MultimodalOps.frameSample(media, frameSize = 64,
          stride = 2)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          countDistinct(col("frame_hash")).as("n_frame_hashes"))
      resized.join(frames, Seq("doc_id"), "left")
        .select(col("doc_id"), col("format"), col("rw"), col("rh"),
          coalesce(col("n_frames"), lit(0L)).as("n_frames"),
          coalesce(col("n_frame_hashes"), lit(0L)).as("n_frame_hashes"))
    },

    // REAL media decode under the oracle gate: each doc synthesizes a
    // VALID file — even ids a 24-bpp BMP (padded bottom-up BGR rows),
    // odd ids a PCM16 mono WAV — with pixel/sample values chosen so the
    // decoded statistics have closed forms; the decoder walks the actual
    // bytes (MediaCodecs, no codec libs) and DuckDB replays decoded_bytes
    // and the feature-digest from the closed forms. A single byte off in
    // header layout, row padding, or LE parsing fails the hash compare.
    Gate("q106_media_decode",
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |b AS (SELECT id, 4 + id % 13 AS w, 3 + id % 7 AS h,
        |    id % 180 AS b0 FROM p WHERE id % 2 = 0),
        |bf AS (SELECT id, 'bmp' AS format, w * h * 3 AS decoded_bytes,
        |  md5('bmp ' || w || 'x' || h || ' ' ||
        |      (3 * (w*h*b0 + h*(w*(w-1)//2) + w*(h*(h-1)//2))) || ' ' ||
        |      (w - 1 + h - 1 + b0)) AS thumb_hash FROM b),
        |v AS (SELECT id, 64 + id % 37 AS n, (id % 100) * 10 AS a0,
        |    id % 20 AS a1, id % 8 AS m8
        |  FROM p WHERE id % 2 = 1),
        |vf AS (SELECT id, 'wav' AS format,
        |  CASE WHEN m8 = 5 THEN 4 * n WHEN m8 = 7 THEN n
        |    ELSE 2 * n END AS decoded_bytes,
        |  CASE WHEN m8 = 5 THEN md5('wav 8000 ' || (2*n) || ' ' ||
        |      (2*n*a0 + (2*n)*(2*n-1)//2) || ' ' || (a0 + 2*n - 1))
        |  WHEN m8 = 7 THEN md5('wav 8000 ' || n || ' ' ||
        |      (n*a1 + n*(n-1)//2) || ' ' || (a1 + n - 1))
        |  ELSE md5('wav 8000 ' || n || ' ' || (n*a0 + n*(n-1)//2)
        |      || ' ' || (a0 + n - 1)) END AS thumb_hash FROM v)
        |SELECT id AS doc_id, format,
        |  CAST(decoded_bytes AS BIGINT) AS decoded_bytes, thumb_hash
        |FROM (SELECT * FROM bf UNION ALL SELECT * FROM vf)""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.llm.{MediaCodecs, MultimodalOps}
      val media = mediaIds(s, dir, fan = false)
        .map { id =>
          if (id % 2 == 0) {
            val w = 4 + (id % 13).toInt
            val h = 3 + (id % 7).toInt
            val b0 = (id % 180).toInt
            MultimodalOps.MediaRecord(id,
              MediaCodecs.encodeBmp(w, h,
                (x, y) => { val v = x + y + b0; (v, v, v) }),
              "bmp", w, h)
          } else {
            // WAV slices by id % 8 (odd): 5 -> stereo 16-bit, 7 ->
            // mono 8-bit, else mono 16-bit; stats are depth/channel
            // agnostic sums of arithmetic sequences, so each slice
            // keeps a closed form (8-bit values bounded < 128)
            val n = 64 + (id % 37).toInt
            val a0 = ((id % 100) * 10).toInt
            val payload = (id % 8) match {
              case 5 => MediaCodecs.encodeWavPcm(8000, 2, 16,
                Array.tabulate(2 * n)(i => a0 + i))
              case 7 => MediaCodecs.encodeWavPcm(8000, 1, 8,
                Array.tabulate(n)(i => (id % 20).toInt + i))
              case _ => MediaCodecs.encodeWav(8000,
                Array.tabulate(n)(i => (a0 + i).toShort))
            }
            MultimodalOps.MediaRecord(id, payload, "wav", 0, 0)
          }
        }
      MultimodalOps.decode(media)
        .select(col("doc_id"), col("format"), col("decoded_bytes"),
          col("thumb_hash"))
    },

    // REAL PNG decode under the oracle gate (the q106 pattern for the
    // format a crawl archive actually carries most): each doc
    // synthesizes a VALID PNG — even ids RGB, odd ids RGBA, and every
    // 5th-with-offset-2 id a PALETTE image (sub-byte or 8-bit indices,
    // Adam7-interlaced on a sub-slice) — whose pixel formulas have
    // closed-form sums; the truecolor encoder cycles the scanline
    // filter type per row (None/Sub/Up/Average/Paeth) and splits IDAT
    // into two chunks, so the decoder's CRC-verified chunk walk, zlib
    // inflate, IDAT concatenation, all five unfilters, PLTE
    // dereference, sub-byte unpack, and the 7-pass de-interlace all
    // sit on the hash-compare path — one wrong Paeth tie-break or
    // pass-origin slip fails the gate.
    Gate("q112_png_decode",
      // Closed-form replay of the PNG pixel statistics: channel formulas
      // r=x+b0, g=y+b0, b=x+2y+b0 (+ a=x+y+b0 for RGBA) sum to
      // 2hSx+3wSy+3Nb0 (RGB) / 3hSx+4wSy+4Nb0 (RGBA) with Sx=w(w-1)/2,
      // Sy=h(h-1)/2, N=wh; the max channel is b at (w-1, h-1). The
      // palette slice counts whole columns per color (x % 4 ->
      // h*((w-c+3)//4) pixels of color c); interlace and index depth
      // never change decoded pixels, so the oracle ignores them. The
      // filter/deflate round-trip is exact, so the decoded stats ARE the
      // formulas — any header, CRC, inflate, or unfilter slip diverges.
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |g AS (SELECT id, 4 + id % 13 AS w, 3 + id % 7 AS h,
        |    id % 180 AS b0,
        |    CASE WHEN id % 5 = 2 THEN 1 ELSE 0 END AS pal,
        |    100 + 4 * (id % 7) AS c1g, 8 * (id % 9) AS c2r,
        |    id % 256 AS c3b,
        |    CASE WHEN id % 5 = 2 OR id % 2 = 0 THEN 3 ELSE 4 END AS ch
        |  FROM p),
        |f AS (SELECT id, w, h, ch, w * h * ch AS decoded_bytes,
        |  CASE WHEN ch = 3 THEN 'rgb' ELSE 'rgba' END AS kind,
        |  CASE WHEN pal = 1 THEN
        |      h * ((w + 3) // 4) * (10 + 20 + 30)
        |    + h * ((w + 2) // 4) * (200 + c1g + 50)
        |    + h * ((w + 1) // 4) * (c2r + 0 + 120)
        |    + h * (w // 4) * (255 + 255 + c3b)
        |  WHEN ch = 3
        |    THEN 2*h*(w*(w-1)//2) + 3*w*(h*(h-1)//2) + 3*w*h*b0
        |    ELSE 3*h*(w*(w-1)//2) + 4*w*(h*(h-1)//2) + 4*w*h*b0
        |  END AS s,
        |  CASE WHEN pal = 1 THEN 255
        |    ELSE (w - 1) + 2*(h - 1) + b0 END AS m FROM g)
        |SELECT id AS doc_id, 'png' AS format,
        |  CAST(decoded_bytes AS BIGINT) AS decoded_bytes,
        |  md5('png ' || kind || ' ' || w || 'x' || h || ' ' || s || ' '
        |    || m) AS thumb_hash
        |FROM f""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.llm.{MediaCodecs, MultimodalOps}
      val media = mediaIds(s, dir)
        .map { id =>
          val w = 4 + (id % 13).toInt
          val h = 3 + (id % 7).toInt
          val b0 = (id % 180).toInt
          val ct = if (id % 2 == 0) 2 else 6
          val px = (x: Int, y: Int) =>
            if (ct == 2) Array(x + b0, y + b0, x + 2 * y + b0)
            else Array(x + b0, y + b0, x + 2 * y + b0, x + y + b0)
          val payload =
            if (id % 5 == 2) {
              // palette slice: 4 id-derived colors, columns by x % 4
              // (w >= 4, so every color appears h*((w-c+3)/4) times —
              // the oracle's count formula); index depth and interlace
              // vary but never change the decoded pixels
              val pal = Array(10, 20, 30,
                200, 100 + 4 * (id % 7).toInt, 50,
                8 * (id % 9).toInt, 0, 120,
                255, 255, (id % 256).toInt)
              MediaCodecs.encodePngPalette(w, h, pal, (x, _) => x % 4,
                bitDepth = if (id % 2 == 0) 2 else 8,
                interlaced = id % 3 == 0)
            } else MediaCodecs.encodePng(w, h, ct, px)
          MultimodalOps.MediaRecord(id, payload, "png", w, h)
        }
      MultimodalOps.decode(media)
        .select(col("doc_id"), col("format"), col("decoded_bytes"),
          col("thumb_hash"))
    },

    // REAL baseline JPEG decode under the oracle gate — the format a
    // crawl actually carries most, closing the r13/r14 decide-or-descope
    // debt with a decode, not a paragraph. Each doc synthesizes a VALID
    // baseline JFIF whose 8x8 blocks are CONSTANT (DC-only, all-ones
    // quant): any faithful IDCT reconstructs such blocks EXACTLY, so
    // whole-image channel statistics have a closed form the oracle
    // recomputes — including the fixed-point YCbCr->RGB, replayed
    // integer-for-integer in SQL. The fixture cycles geometry (1-3
    // blocks wide, 1-2 tall), grayscale vs color, 4:4:4 vs 4:2:0
    // (constant chroma makes the box downsample lossless), and restart
    // intervals, so the Huffman DC chain, EOB path, MCU geometry with
    // edge-replication crop, RST resets, upsampling, and color convert
    // all sit on the hash-compare. (JpegCodecSpec pins the decoder
    // against the JDK's independent codec both directions, with real
    // AC coefficients.)
    Gate("q115_jpeg_decode",
      // Replays the q115 fixture in closed form: DC-only blocks decode to
      // their exact input values, so each block's (R,G,B) comes from the
      // SAME fixed-point YCbCr conversion the decoder runs ((x+32768)//65536
      // == >>16 — every adjustment nonnegative by fixture construction).
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |g AS (SELECT id, 1 + id % 3 AS bw, 1 + (id // 3) % 2 AS bh,
        |    CASE WHEN id % 2 = 0 THEN 3 ELSE 1 END AS ch,
        |    128 + 4 * (id % 7) AS cb, 128 + 6 * (id % 5) AS cr FROM p),
        |b AS (SELECT id, bw, bh, ch, cb, cr,
        |    16 + 8 * ((bx + 2 * by + id) % 24) AS yv
        |  FROM g, range(0, 3) r1(bx), range(0, 2) r2(by)
        |  WHERE bx < bw AND by < bh),
        |c AS (SELECT id, bw, bh, ch,
        |    LEAST(255, GREATEST(0, yv + (91881 * (cr - 128) + 32768) // 65536)) AS r,
        |    LEAST(255, GREATEST(0, yv - (22554 * (cb - 128) + 46802 * (cr - 128) + 32768) // 65536)) AS gg,
        |    LEAST(255, GREATEST(0, yv + (116130 * (cb - 128) + 32768) // 65536)) AS bb,
        |    yv FROM b),
        |f AS (SELECT id, MIN(bw) AS bw, MIN(bh) AS bh, MIN(ch) AS ch,
        |    SUM(64 * CASE WHEN ch = 1 THEN yv ELSE r + gg + bb END) AS s,
        |    MAX(CASE WHEN ch = 1 THEN yv
        |        ELSE GREATEST(r, gg, bb) END) AS m
        |  FROM c GROUP BY id)
        |SELECT id AS doc_id, 'jpeg' AS format,
        |  CAST(64 * bw * bh * ch AS BIGINT) AS decoded_bytes,
        |  md5('jpeg ' || CASE WHEN ch = 1 THEN 'gray' ELSE 'ycc' END
        |    || ' ' || (8 * bw) || 'x' || (8 * bh) || ' ' || s || ' '
        |    || m) AS thumb_hash
        |FROM f""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.llm.{JpegCodec, MultimodalOps}
      val media = mediaIds(s, dir)
        .map { id =>
          val bw = 1 + (id % 3).toInt
          val bh = 1 + ((id / 3) % 2).toInt
          val w = 8 * bw
          val h = 8 * bh
          val nComp = if (id % 2 == 0) 3 else 1
          val cb = 128 + 4 * (id % 7).toInt
          val cr = 128 + 6 * (id % 5).toInt
          // color slices by id % 6 (even = color): 0 -> 4:2:0, 2 ->
          // 4:2:2 (non-square MCU), 4 -> 4:4:4 — DC-only blocks with
          // constant chroma decode exactly under ANY sampling, so the
          // oracle needs no per-sampling branch
          val (sh, sv) = (id % 6) match {
            case 0 => (2, 2)
            case 2 => (2, 1)
            case _ => (1, 1) // 4:4:4; ignored for grayscale
          }
          val rst = if (id % 4 <= 1) 1 else 0 // RSTn on both kinds
          val px = (x: Int, y: Int) =>
            (16 + 8 * (((x / 8) + 2 * (y / 8) + id) % 24).toInt, cb, cr)
          // every 7th doc is PROGRESSIVE (SOF2, 4:4:4, four-scan
          // DC-approximation progression): DC-only blocks reconstruct
          // exactly under multi-scan accumulation too, so the same
          // closed-form oracle covers both flavors
          val payload =
            if (id % 7 == 3)
              JpegCodec.encodeJpegProgressive(w, h, nComp,
                JpegCodec.flatQuant, JpegCodec.flatQuant, px)
            else JpegCodec.encodeJpeg(w, h, nComp, sh, JpegCodec.flatQuant,
              JpegCodec.flatQuant, rst, px, subsampleV = sv)
          MultimodalOps.MediaRecord(id, payload, "jpeg", w, h)
        }
      MultimodalOps.decode(media)
        .select(col("doc_id"), col("format"), col("decoded_bytes"),
          col("thumb_hash"))
    },

    // REAL pixel resample under the oracle gate (the former resize stub
    // is gone): mixed BMP/PNG/JPEG mosaics of constant 8x8 blocks at
    // 16x16 or 32x32 resize into an 8-px box — every output pixel's
    // integer box average lies inside ONE source block, so the
    // thumbnail is the exactly-scaled mosaic and the oracle recomputes
    // the decoded thumbnail statistics in closed form. The path under
    // test per row: container decode -> boxResample -> lossless
    // re-encode (BMP->BMP, PNG->PNG, JPEG->PNG) -> second decode of the
    // RE-ENCODED payload (the hash-compare sits on the full round
    // trip, both codecs' encoders included).
    Gate("q116_media_resize",
      // Replays the q116 fixture: thumbnails are the exactly-scaled
      // mosaics (box averages never cross a constant block), so each
      // 8x8 thumbnail's sums weight every block by its (8//n)^2-pixel
      // footprint; the JPEG branch first replays the decoder's integer
      // YCbCr conversion.
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |g AS (SELECT id, id % 3 AS kind,
        |    CASE WHEN id % 9 = 0 THEN 4 ELSE 2 END AS n,
        |    128 + 4 * (id % 7) AS cb, 128 + 6 * (id % 5) AS cr FROM p),
        |b AS (SELECT id, kind, n, cb, cr,
        |    16 + 8 * ((bx + 2 * by + id) % 24) AS yv,
        |    16 + 8 * ((bx + by + id) % 20) AS gv,
        |    (bx * 64 + by * 32 + id) % 256 AS bv
        |  FROM g, range(0, 4) r1(bx), range(0, 4) r2(by)
        |  WHERE bx < n AND by < n),
        |c AS (SELECT id, kind, n,
        |    CASE WHEN kind = 2 THEN LEAST(255, GREATEST(0,
        |      yv + (91881 * (cr - 128) + 32768) // 65536)) ELSE yv END AS r,
        |    CASE WHEN kind = 2 THEN LEAST(255, GREATEST(0,
        |      yv - (22554 * (cb - 128) + 46802 * (cr - 128) + 32768) // 65536))
        |      ELSE gv END AS gg,
        |    CASE WHEN kind = 2 THEN LEAST(255, GREATEST(0,
        |      yv + (116130 * (cb - 128) + 32768) // 65536)) ELSE bv END AS bb
        |  FROM b),
        |f AS (SELECT id, MIN(kind) AS kind,
        |    SUM(((8 // n) * (8 // n)) * (r + gg + bb)) AS s,
        |    MAX(GREATEST(r, gg, bb)) AS m
        |  FROM c GROUP BY id)
        |SELECT id AS doc_id,
        |  CASE WHEN kind = 0 THEN 'bmp' ELSE 'png' END AS format,
        |  CAST(192 AS BIGINT) AS decoded_bytes,
        |  md5(CASE WHEN kind = 0 THEN 'bmp 8x8 ' ELSE 'png rgb 8x8 ' END
        |    || s || ' ' || m) AS thumb_hash
        |FROM f""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.llm.{JpegCodec, MediaCodecs, MultimodalOps}
      val media = mediaIds(s, dir)
        .map { id =>
          val kind = (id % 3).toInt
          // n must DIVIDE 8 (output boxes stay inside one constant
          // block); a 1/9 slice at 32px keeps the 4x scale gated while
          // the bulk stays at q112-convention fixture size
          val n = if (id % 9 == 0) 4 else 2
          val wh = 8 * n
          val cb = 128 + 4 * (id % 7).toInt
          val cr = 128 + 6 * (id % 5).toInt
          def yv(bx: Int, by: Int): Int =
            16 + 8 * ((bx + 2 * by + id) % 24).toInt
          def gv(bx: Int, by: Int): Int =
            16 + 8 * ((bx + by + id) % 20).toInt
          def bv(bx: Int, by: Int): Int =
            ((bx * 64 + by * 32 + id) % 256).toInt
          val payload = kind match {
            case 0 => MediaCodecs.encodeBmp(wh, wh, (x, y) =>
              (yv(x / 8, y / 8), gv(x / 8, y / 8), bv(x / 8, y / 8)))
            case 1 => MediaCodecs.encodePng(wh, wh, 2, (x, y) =>
              Array(yv(x / 8, y / 8), gv(x / 8, y / 8), bv(x / 8, y / 8)))
            case _ => JpegCodec.encodeJpeg(wh, wh, 3, 1,
              JpegCodec.flatQuant, JpegCodec.flatQuant, 0,
              (x, y) => (yv(x / 8, y / 8), cb, cr))
          }
          MultimodalOps.MediaRecord(id, payload,
            Seq("bmp", "png", "jpeg")(kind), wh, wh)
        }
      val back = MultimodalOps.resize(media, maxDim = 8)
        .map(r => MultimodalOps.MediaRecord(r.doc_id, r.payload,
          r.format, r.width, r.height))
      MultimodalOps.decode(back)
        .select(col("doc_id"), col("format"), col("decoded_bytes"),
          col("thumb_hash"))
    },

    // REAL video frame sampling under the oracle gate — the former
    // chunking stub now dispatches sniffed RIFF/AVI payloads to a
    // container walk (AviCodec) + per-frame baseline-JPEG decode, and
    // only the KEPT frames ever pay entropy decode. Each doc
    // synthesizes a valid single-stream MJPEG AVI of 2-6 DC-only 8x8
    // frames (gray/color alternating, restart intervals on a subset,
    // frame CONTENT varying by frame index — the frames dimension is
    // what this gate adds; intra-frame MCU geometry AND chroma
    // sampling are q115's job, so color frames stay 4:4:4: a 4:2:0
    // 8x8 frame would pad luma to a 16x16 MCU and quadruple the
    // fixture's DCT volume for no new coverage); stride-2 sampling
    // keeps frames
    // 0,2,4 and the oracle replays each kept frame's exact channel
    // statistics in closed form (the q115 argument, per frame). The
    // SKIPPED frames are deliberately NON-JPEG filler chunks: the
    // extent walk must index past them, and a sampler that eagerly
    // decoded every frame would hash the filler fallback and fail the
    // oracle — the gate proves 1-in-N laziness, not just decode.
    Gate("q117_video_frames",
      // Replays the q117 fixture in closed form: AVI docs' kept frames
      // (fi even, fi < nf) are single DC-only 8x8 blocks running the
      // q115 fixed-point YCbCr replay with the frame index folded into
      // the block-luma formula; GIF docs (id % 4 = 3) are solid-color
      // frames over the id-derived palette — lossless, pure arithmetic.
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |g AS (SELECT id, 2 + id % 5 AS nf, id % 4 AS m4,
        |    CASE WHEN id % 2 = 0 THEN 3 ELSE 1 END AS ch,
        |    128 + 4 * (id % 7) AS cb, 128 + 6 * (id % 5) AS cr,
        |    100 + 4 * (id % 7) AS c1g, 8 * (id % 9) AS c2r,
        |    id % 256 AS c3b FROM p),
        |fr AS (SELECT id, m4, ch, cb, cr, c1g, c2r, c3b, fi,
        |    16 + 8 * ((id + 5 * fi) % 24) AS yv,
        |    (id + fi) % 4 AS cidx
        |  FROM g, range(0, 6) r0(fi) WHERE fi < nf AND fi % 2 = 0),
        |c AS (SELECT id, fi, ch, m4,
        |    LEAST(255, GREATEST(0, yv + (91881 * (cr - 128) + 32768) // 65536)) AS r,
        |    LEAST(255, GREATEST(0, yv - (22554 * (cb - 128) + 46802 * (cr - 128) + 32768) // 65536)) AS gg,
        |    LEAST(255, GREATEST(0, yv + (116130 * (cb - 128) + 32768) // 65536)) AS bb,
        |    yv,
        |    CASE cidx WHEN 0 THEN 10 WHEN 1 THEN 200 WHEN 2 THEN c2r
        |      ELSE 255 END AS pr,
        |    CASE cidx WHEN 0 THEN 20 WHEN 1 THEN c1g WHEN 2 THEN 0
        |      ELSE 255 END AS pg,
        |    CASE cidx WHEN 0 THEN 30 WHEN 1 THEN 50 WHEN 2 THEN 120
        |      ELSE c3b END AS pb
        |  FROM fr)
        |SELECT id AS doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(CASE WHEN m4 = 3 THEN 192 ELSE 64 * ch END AS BIGINT)
        |    AS frame_bytes,
        |  CASE WHEN m4 = 3 THEN
        |    md5('gif-frame rgb 8x8 ' || (64 * (pr + pg + pb)) || ' '
        |      || GREATEST(pr, pg, pb))
        |  ELSE
        |    md5('avi-frame ' || CASE WHEN ch = 1 THEN 'gray' ELSE 'ycc' END
        |      || ' 8x8 ' || 64 * (CASE WHEN ch = 1 THEN yv ELSE r + gg + bb END)
        |      || ' ' || (CASE WHEN ch = 1 THEN yv ELSE GREATEST(r, gg, bb) END))
        |  END AS frame_hash
        |FROM c""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.llm.{AviCodec, GifCodec, JpegCodec, MultimodalOps}
      val media = mediaIds(s, dir)
        .map { id =>
          val nf = 2 + (id % 5).toInt
          // every 4th doc is an ANIMATED GIF instead of an MJPEG AVI:
          // the sampler's other real container path (one walk, kept
          // frames only pay LZW decode), solid-color frames over a
          // q118-style id-derived palette keep the closed form
          val payload =
            if (id % 4 == 3) {
              val pal = Array(10, 20, 30,
                200, 100 + 4 * (id % 7).toInt, 50,
                8 * (id % 9).toInt, 0, 120,
                255, 255, (id % 256).toInt)
              GifCodec.encodeGifAnimation(8, 8, pal,
                (0 until nf).map { fi =>
                  val c = ((id + fi) % 4).toInt
                  (_: Int, _: Int) => c
                })
            } else {
              val nComp = if (id % 2 == 0) 3 else 1
              val cb = 128 + 4 * (id % 7).toInt
              val cr = 128 + 6 * (id % 5).toInt
              val rst = if (id % 4 <= 1) 1 else 0
              val frames = (0 until nf).map { fi =>
                if (fi % 2 == 1) Array.fill[Byte](16)((fi + id).toByte)
                else {
                  val yv = 16 + 8 * ((id + 5 * fi) % 24).toInt
                  JpegCodec.encodeJpeg(8, 8, nComp, 1, JpegCodec.flatQuant,
                    JpegCodec.flatQuant, rst, (_, _) => (yv, cb, cr))
                }
              }
              AviCodec.encodeAviMjpeg(8, 8, 10, frames)
            }
          MultimodalOps.MediaRecord(id, payload,
            if (id % 4 == 3) "gif" else "avi", 8, 8)
        }
      MultimodalOps.frameSample(media, frameSize = 64, stride = 2)
        .select(col("doc_id"), col("frame_idx"), col("frame_bytes"),
          col("frame_hash"))
    },

    // REAL GIF decode under the oracle gate — the palette format a
    // 20-year crawl carries alongside JPEG/PNG. Each doc synthesizes
    // a valid GIF89a of 4x4-px tiles over a 4-color id-derived
    // palette; GIF is LOSSLESS over a palette, so the oracle is pure
    // arithmetic — no IDCT replay, each color covers exactly 64 of
    // the 256 pixels ((tx+ty)%4 is uniform on the 4x4 tile grid).
    // Slices: every 3rd doc interlaced (same pixels, different stream
    // row order — decode must agree), every 5th transparent at index
    // 2 (RGBA out, transparent pixels contribute 0, opaque alpha
    // 255). The full LZW path (code growth, clear handling) sits
    // under the hash-compare; GifCodecSpec pins the codec against
    // javax.imageio byte-exactly both directions.
    Gate("q118_gif_decode",
      // Replays the q118 fixture arithmetically: 64 pixels per palette
      // color; transparent docs drop color 2 and add 255 alpha per
      // opaque pixel (3 colors x 64 px); max channel is always 255
      // (color 3 is opaque white-ish in every slice).
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |g AS (SELECT id, CASE WHEN id % 5 = 0 THEN 1 ELSE 0 END AS tr,
        |    100 + 4 * (id % 7) AS c1g, 8 * (id % 9) AS c2r,
        |    id % 256 AS c3b FROM p),
        |f AS (SELECT id, tr,
        |    64 * ((10 + 20 + 30) + (200 + c1g + 50)
        |      + (CASE WHEN tr = 1 THEN 0 ELSE c2r + 0 + 120 END)
        |      + (255 + 255 + c3b))
        |      + tr * 192 * 255 AS s
        |  FROM g)
        |SELECT id AS doc_id, 'gif' AS format,
        |  CAST(256 * (3 + tr) AS BIGINT) AS decoded_bytes,
        |  md5('gif ' || CASE WHEN tr = 1 THEN 'rgba' ELSE 'rgb' END
        |    || ' 16x16 1 ' || s || ' 255') AS thumb_hash
        |FROM f""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.llm.{GifCodec, MultimodalOps}
      val media = mediaIds(s, dir, fan = false)
        .map { id =>
          val tr = id % 5 == 0
          val pal = Array(
            10, 20, 30,
            200, 100 + 4 * (id % 7).toInt, 50,
            8 * (id % 9).toInt, 0, 120,
            255, 255, (id % 256).toInt)
          val bytes = GifCodec.encodeGif(16, 16, pal,
            (x, y) => ((x / 4) + (y / 4)) % 4,
            interlaced = id % 3 == 0,
            transparentIndex = if (tr) 2 else -1)
          MultimodalOps.MediaRecord(id, bytes, "gif", 16, 16)
        }
      MultimodalOps.decode(media)
        .select(col("doc_id"), col("format"), col("decoded_bytes"),
          col("thumb_hash"))
    },

    // REAL MP4 frame sampling under the oracle gate — the ISO-BMFF
    // container walk (Mp4Codec): frame extents come from the moov
    // sample tables (stsc runs x stco/co64 offsets x stsz sizes), not
    // a linear chunk scan, so the walk is O(moov) on a seekable store.
    // Fixture mirrors q117's AVI arithmetic exactly (DC-only 8x8
    // frames, gray/color by parity, restart slices) so the oracle is
    // the SAME proven closed form — what this gate adds is the TABLE
    // RESOLUTION under the hash-compare: samples-per-chunk cycles
    // 1/2/3 by doc (ragged last chunks whenever spc does not divide
    // nf), every 3rd doc declares 64-bit co64 offsets, every 2nd doc
    // carries an stss. Odd sample slots hold NON-JPEG filler, so an
    // eager decoder — or an extent walk that mis-resolves one stsc
    // run and slices a byte off — hashes the wrong answer.
    Gate("q119_mp4_frames",
      // Replays the q119 fixture in closed form — q117's AVI arithmetic
      // verbatim (kept frames fi even, fi < nf, DC-only 8x8 fixed-point
      // YCbCr replay) with the 'mp4-frame' feature prefix; the stsc/
      // stco/co64/stsz table resolution sits under the hash-compare.
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |g AS (SELECT id, 2 + id % 5 AS nf,
        |    CASE WHEN id % 2 = 0 THEN 3 ELSE 1 END AS ch,
        |    128 + 4 * (id % 7) AS cb, 128 + 6 * (id % 5) AS cr FROM p),
        |fr AS (SELECT id, ch, cb, cr, fi,
        |    16 + 8 * ((id + 5 * fi) % 24) AS yv
        |  FROM g, range(0, 6) r0(fi) WHERE fi < nf AND fi % 2 = 0),
        |c AS (SELECT id, fi, ch,
        |    LEAST(255, GREATEST(0, yv + (91881 * (cr - 128) + 32768) // 65536)) AS r,
        |    LEAST(255, GREATEST(0, yv - (22554 * (cb - 128) + 46802 * (cr - 128) + 32768) // 65536)) AS gg,
        |    LEAST(255, GREATEST(0, yv + (116130 * (cb - 128) + 32768) // 65536)) AS bb,
        |    yv
        |  FROM fr)
        |SELECT id AS doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(64 * ch AS BIGINT) AS frame_bytes,
        |  md5('mp4-frame ' || CASE WHEN ch = 1 THEN 'gray' ELSE 'ycc' END
        |    || ' 8x8 ' || 64 * (CASE WHEN ch = 1 THEN yv ELSE r + gg + bb END)
        |    || ' ' || (CASE WHEN ch = 1 THEN yv ELSE GREATEST(r, gg, bb) END))
        |  AS frame_hash
        |FROM c""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.llm.{JpegCodec, Mp4Codec, MultimodalOps}
      val media = mediaIds(s, dir)
        .map { id =>
          val nf = 2 + (id % 5).toInt
          val nComp = if (id % 2 == 0) 3 else 1
          val cb = 128 + 4 * (id % 7).toInt
          val cr = 128 + 6 * (id % 5).toInt
          val rst = if (id % 4 <= 1) 1 else 0
          val frames = (0 until nf).map { fi =>
            if (fi % 2 == 1) Array.fill[Byte](16)((fi + id).toByte)
            else {
              val yv = 16 + 8 * ((id + 5 * fi) % 24).toInt
              JpegCodec.encodeJpeg(8, 8, nComp, 1, JpegCodec.flatQuant,
                JpegCodec.flatQuant, rst, (_, _) => (yv, cb, cr))
            }
          }
          val payload = Mp4Codec.encodeMp4Mjpeg(8, 8, 10, frames,
            samplesPerChunk = 1 + (id % 3).toInt,
            syncEvery = if (id % 2 == 0) 2 else 0,
            forceCo64 = id % 3 == 0)
          MultimodalOps.MediaRecord(id, payload, "mp4", 8, 8)
        }
      MultimodalOps.frameSample(media, frameSize = 64, stride = 2)
        .select(col("doc_id"), col("frame_idx"), col("frame_bytes"),
          col("frame_hash"))
    },

    // REAL Matroska/WebM frame sampling under the oracle gate — the
    // EBML walk (MkvCodec): one pass over the element tree collects
    // the V_MJPEG video track's SimpleBlock extents; an INTERLEAVED
    // audio track's blocks ride the same clusters and must be skipped
    // by block-level track-number dispatch — a walk that mis-dispatches
    // one audio block shifts every later frame index and fails the
    // hash. Same q117/q119 closed-form frame arithmetic ('mkv-frame'
    // prefix); odd video slots again hold non-JPEG filler (laziness),
    // cluster grouping cycles 1/2/3 by doc.
    Gate("q120_mkv_frames",
      // Replays the q120 fixture — identical closed form to q119 with
      // the 'mkv-frame' prefix; the EBML walk + audio-track dispatch
      // sit under the hash-compare.
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |g AS (SELECT id, 2 + id % 5 AS nf,
        |    CASE WHEN id % 2 = 0 THEN 3 ELSE 1 END AS ch,
        |    128 + 4 * (id % 7) AS cb, 128 + 6 * (id % 5) AS cr FROM p),
        |fr AS (SELECT id, ch, cb, cr, fi,
        |    16 + 8 * ((id + 5 * fi) % 24) AS yv
        |  FROM g, range(0, 6) r0(fi) WHERE fi < nf AND fi % 2 = 0),
        |c AS (SELECT id, fi, ch,
        |    LEAST(255, GREATEST(0, yv + (91881 * (cr - 128) + 32768) // 65536)) AS r,
        |    LEAST(255, GREATEST(0, yv - (22554 * (cb - 128) + 46802 * (cr - 128) + 32768) // 65536)) AS gg,
        |    LEAST(255, GREATEST(0, yv + (116130 * (cb - 128) + 32768) // 65536)) AS bb,
        |    yv
        |  FROM fr)
        |SELECT id AS doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(64 * ch AS BIGINT) AS frame_bytes,
        |  md5('mkv-frame ' || CASE WHEN ch = 1 THEN 'gray' ELSE 'ycc' END
        |    || ' 8x8 ' || 64 * (CASE WHEN ch = 1 THEN yv ELSE r + gg + bb END)
        |    || ' ' || (CASE WHEN ch = 1 THEN yv ELSE GREATEST(r, gg, bb) END))
        |  AS frame_hash
        |FROM c""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.llm.{JpegCodec, MkvCodec, MultimodalOps}
      val media = mediaIds(s, dir)
        .map { id =>
          val nf = 2 + (id % 5).toInt
          val nComp = if (id % 2 == 0) 3 else 1
          val cb = 128 + 4 * (id % 7).toInt
          val cr = 128 + 6 * (id % 5).toInt
          val rst = if (id % 4 <= 1) 1 else 0
          val frames = (0 until nf).map { fi =>
            if (fi % 2 == 1) Array.fill[Byte](16)((fi + id).toByte)
            else {
              val yv = 16 + 8 * ((id + 5 * fi) % 24).toInt
              JpegCodec.encodeJpeg(8, 8, nComp, 1, JpegCodec.flatQuant,
                JpegCodec.flatQuant, rst, (_, _) => (yv, cb, cr))
            }
          }
          // every doc interleaves audio noise blocks (track 2) between
          // the video blocks — never sampled, only dodged
          val noise = (0 until nf).map(fi =>
            Array.fill[Byte](11)((3 * fi + id + 1).toByte))
          val payload = MkvCodec.encodeMkvMjpeg(8, 8, frames,
            clusterSize = 1 + (id % 3).toInt,
            syncEvery = if (id % 2 == 0) 2 else 0,
            audioFiller = noise)
          MultimodalOps.MediaRecord(id, payload, "mkv", 8, 8)
        }
      MultimodalOps.frameSample(media, frameSize = 64, stride = 2)
        .select(col("doc_id"), col("frame_idx"), col("frame_bytes"),
          col("frame_hash"))
    },

    // Crawl → media END-TO-END under the oracle gate: WARC member walk
    // → entity payload extraction (WarcExtract.payloadRows: HTTP
    // headers stripped, chunked bodies DE-chunked — the same byte
    // conventions the CDX digests use) → MultimodalOps.decode over the
    // binary column. Every 5th record's image arrives CHUNKED, so one
    // framing byte wrong in the binary de-chunk makes the codec see a
    // broken magic and the hash fail; revisits must be skipped by
    // type; the corrupt tail exercises --skip-bad. This composes two
    // pipelines that are elsewhere gated separately (q42 extraction,
    // q106/q112/q115/q118 codecs) into the query a crawl-media
    // curation run actually executes.
    Gate("q121_warc_media",
      // Replays the q121 fixture in closed form: constant-pixel images
      // per id (BMP/PNG solid RGB, JPEG DC-only via the q115 fixed-point
      // replay, GIF solid palette color), revisits (id%9=4) excluded by
      // record type; the WARC walk + binary de-chunk sit under the hash.
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |g AS (SELECT id, id % 4 AS m4,
        |    10 + id % 200 AS rv, (3 * id) % 256 AS gv, (7 * id) % 251 AS bv,
        |    CASE WHEN (id // 4) % 2 = 0 THEN 3 ELSE 1 END AS ch,
        |    128 + 4 * (id % 7) AS cb, 128 + 6 * (id % 5) AS cr,
        |    16 + 8 * (id % 24) AS yv,
        |    (id // 4) % 4 AS cidx,
        |    100 + 4 * (id % 7) AS c1g, 8 * (id % 9) AS c2r, id % 256 AS c3b
        |  FROM p WHERE id % 9 <> 4),
        |c AS (SELECT id, m4, ch, yv, rv, gv, bv,
        |    LEAST(255, GREATEST(0, yv + (91881 * (cr - 128) + 32768) // 65536)) AS jr,
        |    LEAST(255, GREATEST(0, yv - (22554 * (cb - 128) + 46802 * (cr - 128) + 32768) // 65536)) AS jg,
        |    LEAST(255, GREATEST(0, yv + (116130 * (cb - 128) + 32768) // 65536)) AS jb,
        |    CASE cidx WHEN 0 THEN 10 WHEN 1 THEN 200 WHEN 2 THEN c2r
        |      ELSE 255 END AS pr,
        |    CASE cidx WHEN 0 THEN 20 WHEN 1 THEN c1g WHEN 2 THEN 0
        |      ELSE 255 END AS pg,
        |    CASE cidx WHEN 0 THEN 30 WHEN 1 THEN 50 WHEN 2 THEN 120
        |      ELSE c3b END AS pb
        |  FROM g)
        |SELECT id AS doc_id,
        |  CASE m4 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/png'
        |    WHEN 2 THEN 'image/jpeg' ELSE 'image/gif' END AS format,
        |  CAST(CASE m4 WHEN 0 THEN 192 WHEN 1 THEN 192
        |    WHEN 2 THEN 64 * ch ELSE 768 END AS BIGINT) AS decoded_bytes,
        |  CASE m4
        |    WHEN 0 THEN md5('bmp 8x8 ' || 64 * (rv + gv + bv) || ' '
        |      || GREATEST(rv, gv, bv))
        |    WHEN 1 THEN md5('png rgb 8x8 ' || 64 * (rv + gv + bv) || ' '
        |      || GREATEST(rv, gv, bv))
        |    WHEN 2 THEN md5('jpeg ' || CASE WHEN ch = 1 THEN 'gray' ELSE 'ycc' END
        |      || ' 8x8 ' || 64 * (CASE WHEN ch = 1 THEN yv ELSE jr + jg + jb END)
        |      || ' ' || (CASE WHEN ch = 1 THEN yv ELSE GREATEST(jr, jg, jb) END))
        |    ELSE md5('gif rgb 16x16 1 ' || 256 * (pr + pg + pb) || ' '
        |      || GREATEST(pr, pg, pb))
        |  END AS thumb_hash
        |FROM c""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.llm.MultimodalOps
      val file = mediaWarcFixture(s, dir)
      val media = graft.operators.WarcExtract
        .payloadRows(s, Seq(file.getAbsolutePath), soft = true)
        .rows
        .map { r =>
          val id = r.original_url
            .substring(r.original_url.lastIndexOf('/') + 1).toLong
          MultimodalOps.MediaRecord(id, r.payload, r.mimetype, 8, 8)
        }
      MultimodalOps.decode(media)
        .select(col("doc_id"), col("format"), col("decoded_bytes"),
          col("thumb_hash"))
    },

    // Video DECODE under the oracle gate — q117/q119/q120 gate the
    // SAMPLING path; this gates decodeBatch's container branches (the
    // eager whole-video feature pass): every doc is a 2-6-frame
    // DC-only MJPEG video in AVI, MP4 or MKV by id % 3, and the
    // container-level feature sums EVERY frame's decoded stats — the
    // q117 per-frame closed form without the stride filter. One wrong
    // extent in any of the three walks, or a feature fed through the
    // damage fallback, fails the hash.
    Gate("q125_video_decode",
      // Replays q125 in closed form: the q117 per-frame DC-only replay
      // without the stride filter, summed per doc into the
      // container-level feature (format by id % 3).
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |g AS (SELECT id, 2 + id % 5 AS nf, id % 3 AS m3,
        |    CASE WHEN id % 2 = 0 THEN 3 ELSE 1 END AS ch,
        |    128 + 4 * (id % 7) AS cb, 128 + 6 * (id % 5) AS cr FROM p),
        |fr AS (SELECT id, m3, ch, cb, cr, fi,
        |    16 + 8 * ((id + 5 * fi) % 24) AS yv
        |  FROM g, range(0, 6) r0(fi) WHERE fi < nf),
        |c AS (SELECT id, m3, ch, fi, yv,
        |    LEAST(255, GREATEST(0, yv + (91881 * (cr - 128) + 32768) // 65536)) AS r,
        |    LEAST(255, GREATEST(0, yv - (22554 * (cb - 128) + 46802 * (cr - 128) + 32768) // 65536)) AS gg,
        |    LEAST(255, GREATEST(0, yv + (116130 * (cb - 128) + 32768) // 65536)) AS bb
        |  FROM fr),
        |f AS (SELECT id, m3, ch, COUNT(*) AS nf,
        |    SUM(64 * (CASE WHEN ch = 1 THEN yv ELSE r + gg + bb END)) AS s,
        |    MAX(CASE WHEN ch = 1 THEN yv ELSE GREATEST(r, gg, bb) END) AS mx
        |  FROM c GROUP BY id, m3, ch)
        |SELECT id AS doc_id,
        |  CASE m3 WHEN 0 THEN 'avi' WHEN 1 THEN 'mp4' ELSE 'mkv' END
        |    AS format,
        |  CAST(nf * 64 * ch AS BIGINT) AS decoded_bytes,
        |  md5(CASE m3 WHEN 0 THEN 'avi' WHEN 1 THEN 'mp4' ELSE 'mkv' END
        |    || ' 8x8 ' || nf || ' ' || s || ' ' || mx) AS thumb_hash
        |FROM f""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.llm.{AviCodec, JpegCodec, MkvCodec,
        Mp4Codec, MultimodalOps}
      val media = mediaIds(s, dir)
        .map { id =>
          val nf = 2 + (id % 5).toInt
          val nComp = if (id % 2 == 0) 3 else 1
          val cb = 128 + 4 * (id % 7).toInt
          val cr = 128 + 6 * (id % 5).toInt
          val frames = (0 until nf).map { fi =>
            val yv = 16 + 8 * ((id + 5 * fi) % 24).toInt
            JpegCodec.encodeJpeg(8, 8, nComp, 1, JpegCodec.flatQuant,
              JpegCodec.flatQuant, 0, (_, _) => (yv, cb, cr))
          }
          val (fmt, payload) = (id % 3) match {
            case 0 => ("avi", AviCodec.encodeAviMjpeg(8, 8, 10, frames))
            case 1 => ("mp4", Mp4Codec.encodeMp4Mjpeg(8, 8, 10, frames,
              samplesPerChunk = 1 + (id % 3).toInt))
            case _ => ("mkv", MkvCodec.encodeMkvMjpeg(8, 8, frames,
              clusterSize = 1 + (id % 4).toInt))
          }
          MultimodalOps.MediaRecord(id, payload, fmt, 8, 8)
        }
      MultimodalOps.decode(media)
        .select(col("doc_id"), col("format"), col("decoded_bytes"),
          col("thumb_hash"))
    }
  )
}
