package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.llm._

class LlmOpsSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("shingles: k-grams in order, short docs dropped") {
    val df = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val sh = Shingles.explodeShingles(df, "doc_id", "text", 3)
      .as[(Long, String)].collect().toSeq
    assert(sh == Seq((1L, "a b c"), (1L, "b c d")))
  }

  test("decontamination: shared k-grams counted once, clean docs absent") {
    import graft.operators.llm.TextAnalysis
    val evalSet = Seq((100L, "q w e r t")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "q w e r t"),             // exact copy: both 4-grams hit
      (2L, "z q w e r t z"),         // embedded: both hit
      (3L, "q w e r x"),             // partial: one 4-gram hits
      (4L, "q w e r x q w e r x"),   // repeated hit counts ONCE (distinct)
      (5L, "totally clean text here five")).toDF("doc_id", "text")
    val got = TextAnalysis.contaminationHits(
      corpus, "doc_id", "text", evalSet, "text", k = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("fuzzy decontamination: identical and near-verbatim eval leaks hit " +
      "all bands, disjoint docs are absent, hits bounded by band count") {
    import graft.operators.llm.TextAnalysis
    val evalSet = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("eid", "etext")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      // near-verbatim: appended tail — NO exact long-gram span match
      // needed; min-hashes over the shared shingles survive
      (2L, "the quick brown fox jumps over the lazy dog again and again " +
        "says the benchmark"),
      (3L, "completely different words entirely here nothing shared at all ok"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.fuzzyContamination(
      corpus, "doc_id", "text", evalSet, "etext",
      shingleK = 3, numHashes = 6, rowsPerBand = 2)
      .as[(Long, Long)].collect().toMap
    assert(got.contains(1L) && got(1L) == 3L) // identical: every band
    assert(got.contains(2L) && got(2L) >= 1L) // near-verbatim still flags
    assert(!got.contains(3L))                 // disjoint: absent
    assert(got.values.forall(v => v >= 1L && v <= 3L))
  }

  test("minhash-lsh: identical docs always pair; disjoint docs never do") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words entirely here nothing shared at all ok"))
      .toDF("doc_id", "text")
    val pairs = MinHashLsh(df, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("candidate-pair bucket cap: oversized buckets dropped, REPORTED") {
    // 6 identical docs land in the same bucket for every band; 2 more
    // identical docs form a small bucket that must survive the cap
    val df = ((1L to 6L).map(i => (i, "w1 w2 w3 w4 w5 w6 w7 w8")) ++
      Seq((10L, "a b c d e f g h i"), (11L, "a b c d e f g h i")))
      .toDF("doc_id", "text")
    val bands = MinHashLsh.bands(
      MinHashLsh.signature(
        Shingles.explodeShingles(df, "doc_id", "text", 3), "doc_id", 6),
      "doc_id", 6, 2)
    val (pairs, dropped) =
      MinHashLsh.candidatePairsCapped(bands, "doc_id", maxBucket = 4)
    assert(pairs.as[(Long, Long)].collect().toSet == Set((10L, 11L)))
    val d = dropped.as[(Int, String, Int)].collect()
    assert(d.nonEmpty && d.forall(_._3 == 6)) // the 6-doc bucket, per band
    // uncapped keeps everything
    val all = MinHashLsh.candidatePairs(bands, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(all.size == 15 + 1) // C(6,2) + the small-bucket pair
  }

  test("simhash: identical text ⇒ identical 32-bit signature") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val sigs = SimHash(df, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L).length == 32 && sigs(1L).forall(c => c == '0' || c == '1'))
  }

  test("ann dot product: integer quantization is exact") {
    val df = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(0.5f, -1.0f)),
      (2L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = AnnOps.bruteTopK(df, "vec_id", "embedding",
      col("vec_id") === 0, k = 2)
      .select("cand_id", "dot").as[(Long, Long)].collect().toMap
    // q=(1000,2000): dot with (500,-1000) = -1_500_000; with (1000,1000) = 3_000_000
    assert(top == Map(2L -> 3000000L, 1L -> -1500000L))
  }

  test("connected components: chains, cliques, separate components") {
    // component {1,2,3,4} as a CHAIN (forces >1 propagation iteration),
    // component {10,11,12} as a triangle, pair {20,21}; 99 is a singleton
    // (not in any pair) and must NOT appear in the output
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val cc = ConnectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: empty pair set converges to empty output") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(ConnectedComponents(pairs, "doc_a", "doc_b").count() == 0)
    assert(ConnectedComponents.distributed(pairs, "doc_a", "doc_b")
      .count() == 0)
  }

  test("connected components: un-converged run fails loudly") {
    // a 5-chain needs ~4 propagation rounds; maxIter=1 must throw, not
    // return partial labels
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.distributed(pairs, "doc_a", "doc_b", maxIter = 1)
        .collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connected components: pointer doubling closes a deep chain fast") {
    // a 33-node chain has diameter 32: plain min-propagation moves the
    // min ONE hop per iteration and cannot finish in 8; with shortcut
    // (two jumps per round) label-tree depth divides by ~4 per round —
    // done within 5 rounds, pinning the double-jump convergence rate
    val chain = (0L until 32L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    assertThrows[IllegalArgumentException] {
      ConnectedComponents.distributed(chain, "doc_a", "doc_b", maxIter = 8)
        .collect()
    }
    val cc = ConnectedComponents.distributed(chain, "doc_a", "doc_b",
      maxIter = 5, shortcut = true).as[(Long, Long)].collect()
    assert(cc.length == 33 && cc.forall(_._2 == 0L))
  }

  test("connected components: shortcut agrees with plain on mixed shapes") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val plain = ConnectedComponents.distributed(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    val fast = ConnectedComponents.distributed(pairs, "doc_a", "doc_b",
      shortcut = true).as[(Long, Long)].collect().toMap
    assert(plain == fast)
  }

  test("connected components: local union-find endgame matches the fixpoint") {
    // mixed shapes + a SELF-edge (its node must still be labeled) + a
    // deep chain (the local path has no iteration limit to trip)
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (30L, 30L)) ++
      (100L until 164L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val dist = ConnectedComponents.distributed(pairs, "doc_a", "doc_b",
      shortcut = true).as[(Long, Long)].collect().toMap
    val local = ConnectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert(local.get(30L).contains(30L)) // self-edge node labeled by both
    // a 65-deep chain at maxIter=2 cannot converge in the fixpoint, and
    // the endgame has no iteration limit — proving which path executed
    assertThrows[IllegalArgumentException] {
      ConnectedComponents.distributed(pairs, "doc_a", "doc_b", maxIter = 2)
        .collect()
    }
    assert(ConnectedComponents(pairs, "doc_a", "doc_b", maxIter = 2)
      .as[(Long, Long)].collect().toMap == dist)
    // output id type follows the input edge type (int stays int)
    val intPairs = Seq((1, 2), (2, 3)).toDF("doc_a", "doc_b")
    for (t <- Seq(ConnectedComponents(intPairs, "doc_a", "doc_b"),
        ConnectedComponents.distributed(intPairs, "doc_a", "doc_b"))) {
      assert(t.schema("node").dataType ==
        org.apache.spark.sql.types.IntegerType)
      assert(t.as[(Int, Int)].collect().toMap == Map(1 -> 1, 2 -> 1, 3 -> 1))
    }
    // STRING ids: the local endgame's long-cast ordering ("9" < "10")
    // disagrees with the column type's own ordering ("10" < "9"), so
    // apply must decline the endgame and keep the distributed path —
    // labels identical to the distributed body's (r19 review finding)
    val strPairs = Seq(("9", "10"), ("10", "11")).toDF("doc_a", "doc_b")
    val strDist = ConnectedComponents.distributed(strPairs, "doc_a", "doc_b")
      .as[(String, String)].collect().toMap
    val strLocal = ConnectedComponents(strPairs, "doc_a", "doc_b")
      .as[(String, String)].collect().toMap
    assert(strDist == Map("9" -> "10", "10" -> "10", "11" -> "10"))
    assert(strLocal == strDist)
    // ...and the fixpoint it runs is the one that needs a second round
    assertThrows[IllegalArgumentException] {
      ConnectedComponents(strPairs, "doc_a", "doc_b", maxIter = 1).collect()
    }
  }

  test("hash split: deterministic, exhaustive, order-insensitive") {
    val df = (0L until 512L).toDF("doc_id")
    val a = Sampling.hashSplit(df, "doc_id", "s",
      Seq("train" -> "cc", "val" -> "e6"), "test")
      .as[(Long, String)].collect().toMap
    val b = Sampling.hashSplit(df.orderBy(col("doc_id").desc), "doc_id", "s",
      Seq("train" -> "cc", "val" -> "e6"), "test")
      .as[(Long, String)].collect().toMap
    assert(a == b)                      // pure function of (salt, id)
    assert(a.values.toSet == Set("train", "val", "test"))
    val n = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(n("train") > n("val") && n("train") > n("test"))
    // misordered bounds must fail loudly, not silently shadow a label
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, "doc_id", "s",
        Seq("a" -> "e6", "b" -> "cc"), "c")
    }
    // so must a DUPLICATE bound — the later label's range is empty
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, "doc_id", "s",
        Seq("a" -> "cc", "b" -> "cc"), "c")
    }
  }

  test("hash sample: different salts give independent subsets") {
    val df = (0L until 1024L).toDF("doc_id")
    val s1 = Sampling.hashSample(df, "doc_id", "s1", "80")
      .as[Long].collect().toSet
    val s2 = Sampling.hashSample(df, "doc_id", "s2", "80")
      .as[Long].collect().toSet
    assert(s1 != s2)                    // not the same nested subset
    assert(s1.size > 300 && s1.size < 700) // ~50% each
    assert(s2.size > 300 && s2.size < 700)
  }

  test("multimodal: binary payload survives the batch decode plumbing") {
    val recs = Seq(
      MultimodalOps.MediaRecord(1L, Array[Byte](1, 2, 3), "png", 10, 10),
      MultimodalOps.MediaRecord(2L, "hello".getBytes("UTF-8"), "jpg", 5, 5))
    val out = MultimodalOps.decode(spark.createDataset(recs))
      .collect().map(d => d.doc_id -> d).toMap
    assert(out(1L).decoded_bytes == 3L)
    assert(out(2L).decoded_bytes == 5L)
    // md5("hello")
    assert(out(2L).thumb_hash == "5d41402abc4b2a76b9719d911017c592")
  }

  test("multimodal resize: aspect-preserving fit, never upscales") {
    val recs = Seq(
      MultimodalOps.MediaRecord(1L, Array[Byte](1), "png", 4000, 1000),
      MultimodalOps.MediaRecord(2L, Array[Byte](2), "png", 300, 500),
      MultimodalOps.MediaRecord(3L, Array[Byte](3), "png", 10, 3000))
    val out = MultimodalOps.resize(spark.createDataset(recs), maxDim = 1000)
      .collect().map(r => r.doc_id -> (r.width, r.height)).toMap
    assert(out(1L) == (1000, 250))   // scaled by 1/4
    assert(out(2L) == (300, 500))    // fits: untouched
    assert(out(3L) == (3, 1000))     // extreme aspect, floor-scaled, >= 1
  }

  test("multimodal resize: huge declared dimensions don't overflow Int") {
    // width * maxDim would overflow Int (3e6 * 1024 > 2^31); the Long
    // scaling must yield the true floor-scaled box, not a clamped 1px
    val recs = Seq(
      MultimodalOps.MediaRecord(1L, Array[Byte](1), "png", 3000000, 1500000))
    val out = MultimodalOps.resize(spark.createDataset(recs), maxDim = 1024)
      .collect().map(r => r.doc_id -> (r.width, r.height)).toMap
    assert(out(1L) == (1024, 512))
  }

  test("boxResample: rounded integer box means equal brute force, " +
      "non-divisible scales included") {
    import graft.operators.llm.MediaCodecs
    val w = 13; val h = 7
    val samples = Array.tabulate(w * h * 3)(i => (i * 37 + 11) % 256)
    val r = MediaCodecs.Raster(w, h, 3, samples)
    val out = MediaCodecs.boxResample(r, 5, 3)
    assert(out.width == 5 && out.height == 3 && out.channels == 3)
    for (oy <- 0 until 3; ox <- 0 until 5; c <- 0 until 3) {
      val sy0 = oy * h / 3
      val sy1 = math.max(sy0 + 1, (oy + 1) * h / 3)
      val sx0 = ox * w / 5
      val sx1 = math.max(sx0 + 1, (ox + 1) * w / 5)
      var s = 0L
      for (sy <- sy0 until sy1; sx <- sx0 until sx1)
        s += samples((sy * w + sx) * 3 + c)
      val n = (sy1 - sy0) * (sx1 - sx0)
      assert(out.samples((oy * 5 + ox) * 3 + c) == ((s + n / 2) / n).toInt,
        s"($ox,$oy,$c)")
    }
  }

  test("real resize: BMP and PNG payloads resample pixel-for-pixel; " +
      "JPEG and GIF thumbnails come back as lossless PNG") {
    import graft.operators.llm.{GifCodec, JpegCodec, MediaCodecs}
    // 16x16 mosaic of constant 8x8 blocks -> maxDim 8 halves it: each
    // output pixel's 2x2 box lies inside one block, so the resampled
    // image IS the 2x2-scaled mosaic, exactly
    def block(bx: Int, by: Int): (Int, Int, Int) =
      (40 * bx + 20, 40 * by + 30, 60 * (bx + by) + 10)
    val bmp = MediaCodecs.encodeBmp(16, 16,
      (x, y) => block(x / 8, y / 8))
    val png = MediaCodecs.encodePng(16, 16, 2, (x, y) => {
      val (r, g, b) = block(x / 8, y / 8); Array(r, g, b)
    })
    val jpg = JpegCodec.encodeJpeg(16, 16, 3, 1, JpegCodec.flatQuant,
      JpegCodec.flatQuant, 0, (x, y) => (block(x / 8, y / 8)._1, 128, 128))
    val gifPal = (for (by <- 0 to 1; bx <- 0 to 1) yield block(bx, by))
      .flatMap { case (r, g, b) => Seq(r, g, b) }.toArray
    val gif = GifCodec.encodeGif(16, 16, gifPal,
      (x, y) => (x / 8) + 2 * (y / 8))
    val recs = Seq(
      MultimodalOps.MediaRecord(0L, bmp, "bmp", 16, 16),
      MultimodalOps.MediaRecord(1L, png, "png", 16, 16),
      MultimodalOps.MediaRecord(2L, jpg, "jpeg", 16, 16),
      MultimodalOps.MediaRecord(3L, gif, "gif", 16, 16))
    val out = MultimodalOps.resize(spark.createDataset(recs), maxDim = 8)
      .collect().map(r => r.doc_id -> r).toMap
    assert(out.values.forall(r => r.width == 8 && r.height == 8))
    // BMP stays BMP, pixels = the block colors
    assert(out(0L).format == "bmp")
    val backBmp = MediaCodecs.decodeBmpPixels(out(0L).payload)
    for (y <- 0 until 8; x <- 0 until 8) {
      val (r, g, b) = block(x / 4, y / 4)
      val o = (y * 8 + x) * 3
      assert((backBmp.samples(o), backBmp.samples(o + 1),
        backBmp.samples(o + 2)) == ((r, g, b)), s"bmp ($x,$y)")
    }
    // PNG stays PNG
    assert(out(1L).format == "png")
    val backPng = MediaCodecs.decodePngPixels(out(1L).payload)
    for (y <- 0 until 8; x <- 0 until 8) {
      val (r, g, b) = block(x / 4, y / 4)
      val o = (y * 8 + x) * 3
      assert((backPng.samples(o), backPng.samples(o + 1),
        backPng.samples(o + 2)) == ((r, g, b)), s"png ($x,$y)")
    }
    // neutral-chroma DC-only JPEG decodes exactly, thumbnails as PNG
    assert(out(2L).format == "png")
    val backJpg = MediaCodecs.decodePngPixels(out(2L).payload)
    for (y <- 0 until 8; x <- 0 until 8) {
      val v = block(x / 4, y / 4)._1
      val o = (y * 8 + x) * 3
      assert((backJpg.samples(o), backJpg.samples(o + 1),
        backJpg.samples(o + 2)) == ((v, v, v)), s"jpeg ($x,$y)")
    }
    // GIF (lossless palette) thumbnails as PNG, pixels exact
    assert(out(3L).format == "png")
    val backGif = MediaCodecs.decodePngPixels(out(3L).payload)
    for (y <- 0 until 8; x <- 0 until 8) {
      val (r, g, b) = block(x / 4, y / 4)
      val o = (y * 8 + x) * 3
      assert((backGif.samples(o), backGif.samples(o + 1),
        backGif.samples(o + 2)) == ((r, g, b)), s"gif ($x,$y)")
    }
  }

  test("real resize: already-fitting decodable payloads pass through " +
      "untouched; decoded dims override declared metadata") {
    import graft.operators.llm.MediaCodecs
    val bmp = MediaCodecs.encodeBmp(6, 6, (x, y) => (x * 40, y * 40, 7))
    // declared 4000x4000 lies; the decode says 6x6, which fits
    val recs = Seq(MultimodalOps.MediaRecord(0L, bmp, "bmp", 4000, 4000))
    val out = MultimodalOps.resize(spark.createDataset(recs), maxDim = 8)
      .collect().head
    assert(out.width == 6 && out.height == 6)
    assert(out.payload.sameElements(bmp))
  }

  test("connected components: shortcut mode releases iteration storage") {
    // each shortcut iteration local-checkpoints a label table; the RDD
    // handles must be unpersisted as they are superseded, leaving at most
    // the FINAL iteration's blocks behind (plus the operator's own edges
    // cache is released on exit)
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (0L until 32L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = ConnectedComponents.distributed(chain, "doc_a", "doc_b",
      maxIter = 8, shortcut = true)
    assert(cc.count() == 33)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"leaked ${after - before} persistent RDDs across shortcut iterations")
  }

  test("multimodal frame sample: strided chunks, deterministic hashes") {
    val payload = (0 until 100).map(_.toByte).toArray  // 10 frames of 10
    val recs = Seq(MultimodalOps.MediaRecord(7L, payload, "mp4", 0, 0))
    val frames = MultimodalOps.frameSample(
      spark.createDataset(recs), frameSize = 10, stride = 3).collect()
    assert(frames.map(_.frame_idx).sorted.toSeq == Seq(0, 3, 6, 9))
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(payload, 30, 10)   // frame 3's bytes
    val expect = md.digest().map("%02x".format(_)).mkString
    assert(frames.find(_.frame_idx == 3).get.frame_hash == expect)
  }

  test("bpe token count: punctuation and runs split like a pre-tokenizer") {
    val df = Seq((1L, "don't do that!"), (2L, "a  b")).toDF("doc_id", "text")
    val out = df.select($"doc_id",
        TextAnalysis.bpeTokenCount($"text").as("n"),
        TextAnalysis.tokenCount($"text").as("ws"))
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // don / ' / t / do / that / !  = 6 bpe tokens vs 3 whitespace
    assert(out(1L) == (6, 3))
    // double space: 2 alnum runs; whitespace split keeps the empty token
    assert(out(2L) == (2, 3))
  }

  test("hyperplanes: deterministic ±1, derived from the md5 high bit") {
    val p0 = AnnOps.hyperplane(0, 8)
    assert(p0 == AnnOps.hyperplane(0, 8))          // stable
    assert(p0.forall(v => v == 1L || v == -1L))
    assert(AnnOps.hyperplane(1, 8) != p0)          // planes differ
    // spelled-out rule for component (0,0): first hex char of md5("0|0")
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect0 = if ((md.digest("0|0".getBytes("UTF-8"))(0) & 0x80) == 0)
      1L else -1L
    assert(p0.head == expect0)
  }

  test("hyperplane LSH: identical vectors share a bucket; top-k exact in it") {
    // 15 odd-valued components: every plane dot is a sum of an ODD count
    // of odd multiples of 1000, hence never zero — so a ±10 perturbation
    // can't flip a sign bit (near stays in-bucket) and negation flips
    // EVERY sign bit (far never shares) — deterministically, not w.h.p.
    val base = (0 until 15).map(i => (2 * (i * 37 % 13) - 13).toFloat)
    val near = base.updated(0, base(0) + 0.01f)
    val far = base.map(v => -v)
    val df = Seq((0L, base), (1L, base), (2L, near), (3L, far))
      .toDF("vec_id", "embedding")
    val out = AnnOps.hyperplaneTopK(df, "vec_id", "embedding",
        queryPred = col("vec_id") === 0, numPlanes = 4, dim = 15, k = 10)
      .select($"cand_id", $"rn").as[(Long, Int)].collect().toMap
    assert(out.contains(1L) && out(1L) == 1)  // identical vec ranks first
    assert(out.contains(2L))                  // near vec shares the bucket
    assert(!out.contains(3L))                 // negated vec flips every sign
  }

  test("product quantization: encode + ADC exactly match a JVM " +
      "recomputation of the seeded codebooks; codes stay in range") {
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => graft.functions.VectorCodegen.roundCastLong(x.toDouble * 1000.0))
    val dim = 16; val mSub = 4; val kC = 8; val sd = dim / mSub
    val vecs = (0L until 30L).map(i => (i, Array.tabulate(dim)(d =>
      (((i * 13 + d * 7) % 23) - 11).toFloat / 4.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = AnnOps.pqTopK(df, "vec_id", "embedding",
        col("vec_id") === 0, mSub, kC, dim, k = 3)
      .select("query_id", "cand_id", "dot")
      .as[(Long, Long, Long)].collect().toSet

    val cbs = AnnOps.pqCodebooks(mSub, kC, dim)
    assert(cbs.flatten.flatten.forall(v => v >= -128 && v <= 127))
    def code(q: Array[Long], m: Int): Int =
      (0 until kC).minBy { c =>
        val cv = cbs(m)(c)
        val dist = (0 until sd).map { j =>
          val d = q(m * sd + j) - cv(j); d * d
        }.sum
        (dist, c) // ties -> smallest code, the documented rule
      }
    def adc(qv: Array[Long], codes: IndexedSeq[Int]): Long =
      (0 until mSub).map(m =>
        (0 until sd).map(j => qv(m * sd + j) * cbs(m)(codes(m))(j)).sum).sum
    val qv = quant(vecs.head._2)
    val want = vecs.tail.map { case (id, v) =>
        val q = quant(v)
        (id, adc(qv, (0 until mSub).map(code(q, _))))
      }.sortBy { case (id, d) => (-d, id) }.take(3)
      .map { case (id, d) => (0L, id, d) }.toSet
    assert(got == want)

    val codesOut = AnnOps.pqEncode(df, "vec_id", "embedding", mSub, kC, dim)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codesOut.values.forall(cs =>
      cs.length == mSub && cs.forall(c => c >= 0 && c < kC)))
    // identical vectors encode identically (vec 0 vs a clone)
    val twin = (100L, vecs.head._2.clone())
    val both = AnnOps.pqEncode((vecs :+ twin).toDF("vec_id", "embedding"),
      "vec_id", "embedding", mSub, kC, dim).as[(Long, Seq[Int])]
      .collect().toMap
    assert(both(0L) == both(100L))
  }

  test("trained PQ codebooks (per-subspace k-means) drop into " +
      "pqTopKWithCodebooks and retrieve the query's own cluster") {
    // 4 well-separated prototypes x 10 members each, deterministic
    // per-member noise far smaller than the cluster separation
    val dim = 8; val mSub = 2
    val protos = Array(
      Array.fill(dim)(2.0f), Array.fill(dim)(-2.0f),
      Array.tabulate(dim)(d => if (d < dim / 2) 2.0f else -2.0f),
      Array.tabulate(dim)(d => if (d % 2 == 0) 2.0f else -2.0f))
    val vecs = (0L until 40L).map { i =>
      val p = protos((i / 10).toInt)
      (i, Array.tabulate(dim)(d => p(d) + 0.001f * (((i + d) % 7) - 3)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cbs = AnnOps.pqTrain(df, "vec_id", "embedding",
      seedPred = col("vec_id") % 10 === 0, mSub, dim)
    assert(cbs.length == mSub && cbs.forall(_.nonEmpty))
    val got = AnnOps.pqTopKWithCodebooks(df, "vec_id", "embedding",
        col("vec_id") === 0, cbs, dim, k = 5)
      .select("cand_id").as[Long].collect().toSet
    // trained centroids separate the clusters, so ADC ranks the
    // query's own cluster (ids 1-9) above every other prototype
    assert(got.forall(_ < 10), s"top-5 leaked other clusters: $got")
    // the small-input endgame must train the IDENTICAL codebooks (the
    // q126 oracle replays the distributed rounds, so any divergence in
    // the driver path breaks the gate)
    val cbsDist = AnnOps.pqTrainDistributed(df, "vec_id", "embedding",
      seedPred = col("vec_id") % 10 === 0, mSub, dim)
    assert(cbsDist == cbs, "pqTrain endgame diverged from distributed")
  }

  test("shared IVF-PQ encode: ivfPqTopKFromCodes and pqTopKRerankedFromCodes " +
      "over one ivfPqEncode reproduce the per-method encode paths exactly") {
    // the r21 q129 optimization: one materialized corpus encode feeds
    // BOTH approximate methods; this pins that the (id, __codes)
    // projection of ivfPqEncode is interchangeable with the plain PQ
    // encode, and the FromCodes search wrappers match the monolithic
    // entrypoints row for row
    val dim = 16; val mSub = 4; val kC = 8
    val vecs = (0L until 40L).map(i => (i, Array.tabulate(dim)(d =>
      (((i * 17 + d * 5) % 19) - 9).toFloat / 3.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val qp = col("vec_id") % 13 === 0
    val coarse = KMeans.codebook(df, "vec_id", "embedding",
      seedPred = col("vec_id") < 4, iters = 2)
    val cbs = AnnOps.pqCodebooks(mSub, kC, dim)

    val cand = AnnOps.ivfPqEncode(df, "vec_id", "embedding", coarse,
      cbs, dim).localCheckpoint()
    // encode equivalence: (id, __codes) == pqEncodeWithCodebooks output
    val viaIvf = cand.select(col("vec_id"), col("__codes"))
      .as[(Long, Seq[Int])].collect().toMap
    val viaPq = AnnOps.pqEncodeWithCodebooks(df, "vec_id", "embedding",
      cbs, dim).as[(Long, Seq[Int])].collect().toMap
    assert(viaIvf == viaPq, "ivfPqEncode codes diverge from pqEncode")

    // search equivalence, both methods
    def rows(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      d.select(col("query_id"), col("cand_id"), col("dot"))
        .as[(Long, Long, Long)].collect().toSet
    assert(rows(AnnOps.ivfPqTopKFromCodes(cand, "vec_id", "__sid",
        "__codes", df.where(qp), "vec_id", "embedding", coarse, cbs,
        dim, k = 3)) ==
      rows(AnnOps.ivfPqTopK(df, "vec_id", "embedding", coarse, qp,
        cbs, dim, k = 3)),
      "ivfPqTopKFromCodes diverges from ivfPqTopK")
    assert(rows(AnnOps.pqTopKRerankedFromCodes(
        cand.select(col("vec_id"), col("__codes")), "vec_id", "__codes",
        df, "embedding", qp, cbs, dim, k = 3, overscan = 4)) ==
      rows(AnnOps.pqTopKReranked(df, "vec_id", "embedding", qp, cbs,
        dim, k = 3, overscan = 4)),
      "pqTopKRerankedFromCodes diverges from pqTopKReranked")
  }

  test("pqTrainWithCoarse: the one-probe training pins identical to the " +
      "separate KMeans.codebook + pqTrain calls, on and off the endgame") {
    val dim = 8; val mSub = 2
    val vecs = (0L until 36L).map(i => (i, Array.tabulate(dim)(d =>
      (((i * 11 + d * 3) % 17) - 8).toFloat / 2.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val sp = col("vec_id") < 3
    val (coarse, cbs) = AnnOps.pqTrainWithCoarse(df, "vec_id",
      "embedding", sp, mSub, dim, iters = 2)
    assert(coarse == KMeans.codebook(df, "vec_id", "embedding", sp,
      iters = 2), "coarse diverged from KMeans.codebook")
    assert(cbs == AnnOps.pqTrain(df, "vec_id", "embedding", sp, mSub,
      dim, iters = 2), "pq codebooks diverged from pqTrain")
    // off the endgame: the distributed bodies its large-input branch runs
    assert(coarse == KMeans.codebookWithCountsDistributed(df, "vec_id",
      "embedding", sp, iters = 2).map { case (id, _, s) => (id, s) },
      "coarse diverged from the distributed rounds")
    assert(cbs == AnnOps.pqTrainDistributed(df, "vec_id", "embedding", sp,
      mSub, dim, iters = 2), "pq codebooks diverged from the distributed rounds")
  }

  test("vocab: df dedups per doc, tf counts occurrences, ties break on token") {
    val df = Seq(
      (1L, "b b a c"),
      (2L, "b a"),
      (3L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabTopK(df, "doc_id", "text", 10)
      .as[(String, Long, Long)].collect().toSeq
    // a: df 2 tf 2; b: df 2 tf 3; c: df 2 tf 2 — order: b (tf), then a/c (token)
    assert(out == Seq(("b", 2L, 3L), ("a", 2L, 2L), ("c", 2L, 2L)))
  }

  test("hyperplane multi-probe: exact pin vs a JVM recomputation of the probe rule") {
    // independent recomputation with the same deterministic plane rule,
    // across several (dim, planes, probes, seed) fixtures — margin
    // ranking with index tie-break, one-bit flips, in-probe top-k
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => graft.functions.VectorCodegen.roundCastLong(x.toDouble * 1000.0))
    def dotl(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    var exercised = 0
    for ((dim, np, probes, seed) <- Seq((8, 4, 2, 0), (8, 4, 4, 7),
        (16, 5, 1, 3), (4, 3, 3, 11))) {
      val k = 3
      val vecs = (0L until 24L).map(i => (i, Array.tabulate(dim)(d =>
        (((i * 31 + d * 17 + seed * 7) % 19) - 9).toFloat / 3.0f)))
      val df = vecs.toDF("vec_id", "embedding")
      val got = AnnOps.hyperplaneTopK(df, "vec_id", "embedding",
          col("vec_id") === 0, np, dim, k, probes)
        .select("query_id", "cand_id", "dot")
        .as[(Long, Long, Long)].collect().toSet

      val planes = (0 until np).map(p => AnnOps.hyperplane(p, dim).toArray)
      def bucket(q: Array[Long]): String =
        planes.map(pl => if (dotl(q, pl) >= 0) '1' else '0').mkString
      val qv = quant(vecs.head._2)
      val margins = planes.indices.map(p => (math.abs(dotl(qv, planes(p))), p))
      val flipIdx = margins.sorted.take(probes).map(_._2)
      val own = bucket(qv)
      val probeSet = (own +: flipIdx.map { i =>
        own.updated(i, if (own(i) == '1') '0' else '1')
      }).toSet
      val expected = vecs.drop(1)
        .map { case (id, v) => (id, quant(v)) }
        .filter { case (_, q) => probeSet.contains(bucket(q)) }
        .map { case (id, q) => (0L, id, dotl(qv, q)) }
        .sortBy { case (_, id, d) => (-d, id) }
        .take(k).toSet
      assert(got == expected, s"(dim=$dim np=$np probes=$probes seed=$seed)")
      if (expected.nonEmpty) exercised += 1
    }
    assert(exercised >= 3) // the fixtures must actually exercise the probe
  }

  test("exact-dedup follow-up: drops byte-exact copies WITHIN the skip-list only") {
    val corpus = Seq(
      (1L, "same text"),     // not skip-listed — never dropped, and does
      (5L, "same text"),     //   not make 5 a duplicate (5 is its group min)
      (2L, "dup dup"),
      (4L, "dup dup"),       // exact copy of 2 inside the skip-list → drop
      (3L, "unique three"),
      (6L, "dup dup")        // another copy of 2 → drop
    ).toDF("doc_id", "text")
    val skip = Seq(2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val dropped = MinHashLsh.exactDropWithin(corpus, "doc_id", "text", skip)
      .as[Long].collect().toSet
    assert(dropped == Set(4L, 6L))
  }

  test("fused pii scrub == composed built-ins on adversarial shapes") {
    // Every boundary case the fusion argument leans on: digit runs inside
    // email local parts (counted in n_numbers, vanish into <EMAIL> in
    // clean), a digit run starting immediately AFTER a TLD (backtracked
    // out of the email match, must still scrub), runs of exactly 5 vs 6,
    // adjacent emails, non-ASCII around matches, empty string.
    val cases = Seq(
      "plain text no pii at all",
      "user123456@example.com",                       // digits inside local part
      "a@b.com123456 tail",                           // run right after the TLD
      "12345 a 123456 b 1234567",                     // 5 (kept) / 6 / 7
      "x@y.io z@w.org",                               // two emails
      "x@y.ioz@w.org",                                // greedy domain overlap
      "héllo 99999999 wörld ü@例.com",                 // non-ASCII neighbors
      "ref 1234567890123456789012345 end",            // very long run
      ".-_%+@not-an-email@@double@@at",               // regex stress
      "",
      "999999@999999.com999999")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fused = df.select(col("doc_id"),
        TextAnalysis.scrubPiiAll(col("text")).as("p"))
      .select(col("doc_id"), col("p.clean"), col("p.n_emails"),
        col("p.n_numbers"))
      .as[(Long, String, Int, Int)].collect()
      .map { case (i, a, b, c) => i -> ((a, b, c)) }.toMap
    val composed = df.select(col("doc_id"),
        TextAnalysis.scrubPii(col("text")).as("clean"),
        size(regexp_extract_all(col("text"),
          lit(TextAnalysis.PiiEmailPattern), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"),
          lit(TextAnalysis.PiiNumberPattern), lit(0))).as("n_numbers"))
      .as[(Long, String, Int, Int)].collect()
      .map { case (i, a, b, c) => i -> ((a, b, c)) }.toMap
    assert(fused == composed)
    // and the fused path detected what the fixtures planted
    assert(fused(1L) == (("<EMAIL>", 1, 1)))
    assert(fused(2L) == (("<EMAIL><NUM> tail", 1, 1)))
    assert(fused(3L) == (("12345 a <NUM> b <NUM>", 0, 2)))
  }

  test("chunk dedup: keep-first across AND within docs, position order") {
    val docs = Seq(
      (1L, "a b c d a b"), // chunks [a b][c d][a b] — in-doc repeat drops
      (2L, "c d e f"),     // [c d] seen at doc1 → drops; [e f] survives
      (3L, "a b c d"))     // every chunk seen earlier → doc vanishes
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDedup(docs, "doc_id", "text", 2)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L, "a b c d"), (2L, 1L, "e f")))
    // a tail chunk shorter than chunkWords is a chunk of its own, and
    // does NOT collide with the same words inside a full chunk
    val odd = Seq((7L, "x y z")).toDF("doc_id", "text")
    val o2 = TextAnalysis.chunkDedup(odd, "doc_id", "text", 2)
      .as[(Long, Long, String)].collect()
    assert(o2.toSeq == Seq((7L, 2L, "x y z")))
  }

  // ---- k-means (Lloyd) codebook training ----

  /** The exact algorithm KMeans.lloyd claims, in plain Scala: integer
    * sums, exact-double cosine, smallest-id tie-break, dead clusters
    * drop. */
  private def refLloyd(data: Seq[(Long, Array[Long])], seedIds: Set[Long],
                       iters: Int): Map[Long, Long] = {
    var cents: Seq[(Long, Array[Long])] =
      data.filter(d => seedIds(d._1)).sortBy(_._1)
    def assign(q: Array[Long]): Long =
      cents.map { case (cid, s) =>
        val dot = q.zip(s).map { case (a, b) => a * b }.sum.toDouble
        val norm = math.sqrt(s.map(v => v * v).sum.toDouble)
        (dot / norm, -cid)
      }.max match { case (_, nid) => -nid }
    for (_ <- 1 until iters) {
      cents = data.groupBy(d => assign(d._2)).toSeq.sortBy(_._1)
        .map { case (cid, members) =>
          (cid, members.map(_._2).transpose.map(_.sum).toArray)
        }
    }
    data.map(d => d._1 -> assign(d._2)).toMap
  }

  private def toEmb(rows: Seq[(Long, Array[Long])]) =
    rows.map { case (id, q) => (id, q.map(_ / 1000.0f)) }
      .toDF("vec_id", "embedding")

  test("kmeans: separated groups converge to their seeds, deterministic") {
    // group A hugs direction (1,0,..), group B hugs (0,1,..); seeds 0, 10
    val rows = (0L until 10L).map(i =>
      (i, Array(1000L - i * 7, i * 3, 50L, 0L))) ++
      (10L until 20L).map(i =>
        (i, Array((i - 10) * 3, 1000L - (i - 10) * 7, 0L, 50L)))
    val got = graft.operators.llm.KMeans.lloyd(
      toEmb(rows), "vec_id", "embedding", col("vec_id").isin(0L, 10L), 3)
      .as[(Long, Long)].collect().toMap
    assert(got == rows.map(r => r._1 -> (if (r._1 < 10) 0L else 10L)).toMap)
    val again = graft.operators.llm.KMeans.lloyd(
      toEmb(rows), "vec_id", "embedding", col("vec_id").isin(0L, 10L), 3)
      .as[(Long, Long)].collect().toMap
    assert(again == got)
  }

  test("kmeans: matches the reference algorithm on pseudo-random data") {
    val r = new scala.util.Random(42)
    val rows = (0L until 60L).map(i =>
      (i, Array.fill(6)((r.nextInt(2001) - 1000).toLong)))
    // floats round-trip: embed v/1000f, re-quantize the way lloyd will,
    // and hand THAT to the reference — both sides see identical ints
    val quant = rows.map { case (id, q) =>
      (id, q.map(v => math.round((v / 1000.0f).toDouble * 1000)))
    }
    for (iters <- Seq(1, 2, 4);
         lloyd <- Seq(KMeans.lloyd _, KMeans.lloydDistributed _)) {
      val got = lloyd(toEmb(rows), "vec_id", "embedding", col("vec_id") < 5,
        iters).as[(Long, Long)].collect().toMap
      assert(got == refLloyd(quant, Set(0L, 1L, 2L, 3L, 4L), iters),
        s"iters=$iters")
    }
  }

  test("kmeans: the small-input endgame labels == the distributed rounds") {
    val r = new scala.util.Random(7)
    val rows = (0L until 50L).map(i =>
      (i, Array.fill(5)((r.nextInt(2001) - 1000).toLong)))
    for (iters <- Seq(1, 3)) {
      val dist = KMeans.lloydDistributed(
        toEmb(rows), "vec_id", "embedding", col("vec_id") < 4, iters)
        .as[(Long, Long)].collect().toMap
      val local = KMeans.lloyd(
        toEmb(rows), "vec_id", "embedding", col("vec_id") < 4, iters)
        .as[(Long, Long)].collect().toMap
      assert(local == dist, s"iters=$iters")
      // the codebook stats: counts and exact sums per final cluster
      assert(KMeans.codebookWithCounts(toEmb(rows), "vec_id", "embedding",
          col("vec_id") < 4, iters) ==
        KMeans.codebookWithCountsDistributed(toEmb(rows), "vec_id",
          "embedding", col("vec_id") < 4, iters), s"iters=$iters codebook")
    }
  }

  test("kmeans: centroid squared norm past int64 aborts loudly, not NaN") {
    // one seed component of 4e15 quantizes to 4e18; its square (~1.6e37)
    // overflows int64 — the old Long-sum norm silently wrapped (negative
    // ss -> sqrt NaN -> garbage labels); now a loud require (r19 review)
    val rows = Seq((0L, Array(4.0e15f)), (1L, Array(1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      KMeans.lloyd(rows, "vec_id", "embedding",
        col("vec_id") === 0L, iters = 1).collect()
    }
    assert(e.getMessage.contains("exceeds int64"))
    // distributed path hits the same guard when it builds the assignment
    val e2 = intercept[IllegalArgumentException] {
      KMeans.lloydDistributed(rows, "vec_id", "embedding",
        col("vec_id") === 0L, iters = 1).collect()
    }
    assert(e2.getMessage.contains("exceeds int64"))
  }

  test("kmeans: NULL-valued seedPred reads as false on both paths") {
    // when() with no otherwise: NULL for non-seeds — getBoolean on the
    // endgame's probe must not NPE, and NULL must mean "not a seed"
    // exactly like the distributed where()
    val r = new scala.util.Random(11)
    val rows = (0L until 30L).map(i =>
      (i, Array.fill(4)((r.nextInt(2001) - 1000).toLong)))
    val pred = when(col("vec_id") < 3, true)
    val dist = KMeans.lloydDistributed(
      toEmb(rows), "vec_id", "embedding", pred, 2)
      .as[(Long, Long)].collect().toMap
    val local = KMeans.lloyd(toEmb(rows), "vec_id", "embedding", pred, 2)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert(dist.keySet == rows.map(_._1).toSet)
  }

  test("kmeans: duplicate seeds tie-break to the smaller id; loser dies") {
    val rows = Seq(
      (0L, Array(1000L, 0L)), (1L, Array(1000L, 0L)),
      (2L, Array(990L, 10L)), (3L, Array(980L, 20L)))
    val got = graft.operators.llm.KMeans.lloyd(
      toEmb(rows), "vec_id", "embedding", col("vec_id") < 2, 3)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(0L)) // cluster 1 lost every tie and died
  }

  test("kmeans: codebook emits the final clusters' exact sum vectors") {
    val rows = (0L until 8L).map(i =>
      (i, Array(if (i < 4) 1000L else 0L, if (i < 4) 0L else 1000L)))
    val cb = graft.operators.llm.KMeans.codebook(
      toEmb(rows), "vec_id", "embedding", col("vec_id").isin(0L, 4L), 2)
    assert(cb == Seq((0L, Seq(4000L, 0L)), (4L, Seq(0L, 4000L))))
  }

  test("gopher stats: fused byte walk is byte-identical to the regex " +
      "formulation on unicode / multi-space / edge texts") {
    val stops = Seq("the", "a", "of", "to", "and", "in")
    val texts = Seq(
      "", " ", "  ", "the", "the the THE", "héllo wörld é中文 the",
      "a  b   c#d e!", "100% of $5 to-go", "\ttab\nnl the",
      "ümlaut-only ßtraße", "mixed é1a 中 the of of",
      "trailing space ", " leading", "a#b the... (in) [of]")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fused = df.select(col("doc_id"),
      graft.functions.GopherStatsFunctions.gopherStats(col("text"), stops)
        .as("g")).select(col("doc_id"), col("g.*"))
      .orderBy("doc_id").collect().toSeq
    val ref = df.select(col("doc_id"),
        filter(split(col("text"), " ", -1), w => w =!= "").as("__w"),
        col("text").as("__t"))
      .select(col("doc_id"),
        size(col("__w")).cast("long").as("n_words"),
        aggregate(col("__w"), lit(0L), (acc, x) => acc + length(x))
          .as("sum_len"),
        length(regexp_replace(col("__t"), "[A-Za-z0-9 ]", ""))
          .cast("long").as("n_sym"),
        size(filter(col("__w"), w => w.rlike("[A-Za-z]")))
          .cast("long").as("n_alpha"),
        size(filter(array(stops.map(lit(_)): _*),
          s => array_contains(col("__w"), s))).cast("long").as("n_stop"))
      .orderBy("doc_id").collect().toSeq
    assert(fused == ref)
  }

  test("gopher quality: metrics are exact on a hand-computed doc") {
    // 4 words, lengths 3+1+7+2=13, one 7-symbol run, 3 alpha words,
    // stopwords {the, a, to} of the default list
    val df = Seq((1L, "the a #$%&!?* to")).toDF("doc_id", "text")
    val r = TextAnalysis.gopherQuality(df, "doc_id", "text",
      minWords = 1, maxWords = 10).collect()(0)
    assert(r.getAs[Long]("n_words") == 4)
    // words: the(3) a(1) #$%&!?*(7) to(2) => sum 13, (10*13) div 4 = 32
    assert(r.getAs[Long]("mean_word_len_x10") == 32)
    assert(r.getAs[Long]("symbol_bp") == (10000L * 7) / 4)
    assert(r.getAs[Long]("alpha_bp") == (10000L * 3) / 4)
    assert(r.getAs[Long]("n_stop") == 3) // the, a, to
    assert(!r.getAs[Boolean]("passes")) // symbol ratio way over 10%
  }

  test("gopher quality: zero-word doc fails with null ratio metrics") {
    val r = TextAnalysis.gopherQuality(
      Seq((1L, "")).toDF("doc_id", "text"), "doc_id", "text").collect()(0)
    assert(r.getAs[Long]("n_words") == 0)
    assert(r.isNullAt(r.fieldIndex("mean_word_len_x10")))
    assert(!r.getAs[Boolean]("passes"))
  }

  test("gopher quality: keepCols pass through unchanged") {
    val df = Seq((1L, "a b c", "en", "s0")).toDF("doc_id", "text", "lang", "src")
    val r = TextAnalysis.gopherQuality(df, "doc_id", "text",
      keepCols = Seq("lang", "src")).collect()(0)
    assert(r.getAs[String]("lang") == "en" && r.getAs[String]("src") == "s0")
    assert(r.getAs[Long]("n_words") == 3) // metrics still computed
  }

  test("gopher quality: word-count bounds gate an otherwise-clean doc") {
    val clean = "the quick brown fox jumps over a lazy dog again"
    val df = Seq((1L, clean)).toDF("doc_id", "text")
    assert(TextAnalysis.gopherQuality(df, "doc_id", "text",
      minWords = 5, maxWords = 20).collect()(0).getAs[Boolean]("passes"))
    assert(!TextAnalysis.gopherQuality(df, "doc_id", "text",
      minWords = 20, maxWords = 30).collect()(0).getAs[Boolean]("passes"))
  }

  test("dup-gram fraction matches a brute-force reference") {
    val docs = Seq(
      (1L, "a b c d e f"),           // grams: abcd bcde cdef
      (2L, "a b c d x y z w"),       // shares abcd with doc 1
      (3L, "p q r s t u"),           // all unique
      (4L, "a b c d a b c d e"))     // abcd twice + bcda cdab dabc bcde
    val k = 4
    // brute force in plain Scala
    val grams = docs.flatMap { case (id, t) =>
      t.split(" ").sliding(k).filter(_.size == k)
        .map(g => (id, g.mkString(" "))).toSeq
    }
    val ndocs = grams.distinct.groupBy(_._2).map { case (g, xs) => g -> xs.size }
    val expect = grams.groupBy(_._1).map { case (id, xs) =>
      val dup = xs.count(x => ndocs(x._2) >= 2).toLong
      (id, xs.size.toLong, dup, 10000L * dup / xs.size)
    }.toSet
    val got = TextAnalysis.dupGramFraction(
      docs.toDF("doc_id", "text").repartition(3), "doc_id", "text", k)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expect)
  }

  test("withWeightCol: broadcast-join path (big map) == literal-map path") {
    // above LiteralMapMaxEntries the helper switches from element_at
    // over a literal map to a broadcast hash join; both must attach
    // identical weights (inner join never misses: every key present)
    val weights: Map[Long, Long] =
      (0L until (TextAnalysis.LiteralMapMaxEntries + 500L))
        .map(b => b -> (b * 37 + 5)).toMap
    val df = Seq((1L, 3L), (2L, 999L), (3L, 1400L), (4L, 3L))
      .toDF("doc", "__b")
    def out(w: Map[Long, Long]) =
      TextAnalysis.withWeightCol(df, "__b", w, "__w")
        .select("doc", "__b", "__w")
        .as[(Long, Long, Long)].collect().toSet
    val viaJoin = out(weights)
    val viaMap = out(weights.view.filterKeys(Set(3L, 999L, 1400L)).toMap)
    assert(viaJoin == viaMap)
    assert(viaJoin == Set((1L, 3L, 116L), (2L, 999L, 36968L),
      (3L, 1400L, 51805L), (4L, 3L, 116L)))
  }

  test("dsir: identical target and corpus gives every bucket weight ~10000") {
    // cnt_t == cnt_c and total_t == total_c => w = 10000 exactly, so
    // every doc scores 10000 per token
    val docs = Seq((1L, "x y z"), (2L, "x q"), (3L, "y")).toDF("doc_id", "text")
    val got = TextAnalysis.dsirScore(docs, "doc_id", "text", docs, "text")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 30000L, 10000L), (2L, 2L, 20000L, 10000L),
      (3L, 1L, 10000L, 10000L)))
  }

  test("dsir: target-heavy tokens score above corpus-background tokens") {
    val corpus = Seq(
      (1L, "ml ml ml ml"), (2L, "sports sports sports sports"),
      (3L, "ml sports")).toDF("doc_id", "text")
    val target = Seq((10L, "ml ml ml")).toDF("doc_id", "text")
    val scores = TextAnalysis.dsirScore(
      corpus, "doc_id", "text", target, "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert(scores(1L) > scores(3L) && scores(3L) > scores(2L))
  }

  test("bigram fluency: hand-computed MLE weights on a tiny corpus") {
    // doc 1 "a b a b": bigrams (a b)x2, (b a)x1; doc 2 "a c": (a c)x1.
    // c(a b)=2, c(b a)=1, c(a c)=1; prefixes c(a.)=3, c(b.)=1.
    // w(a b)=20000 DIV 3=6666, w(b a)=10000, w(a c)=3333.
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramFluency(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 3L, 2 * 6666L + 10000L, (2 * 6666L + 10000L) / 3),
      (2L, 1L, 3333L, 3333L)))
  }

  test("bigram fluency: sub-2-word docs absent; repartition-invariant") {
    val docs = Seq((1L, "one"), (2L, ""), (3L, "u v w"), (4L, "u v"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.bigramFluency(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().toSet
    val b = TextAnalysis.bigramFluency(
      docs.repartition(5), "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(a == b && a.map(_._1) == Set(3L, 4L))
    // "u v" appears in both docs: c(u v)=2, c(v w)=1, c(u.)=2, c(v.)=1
    // doc 3: w(u v)=10000, w(v w)=10000 -> bp 10000; doc 4: bp 10000
    assert(a.forall(_._4 == 10000L))
  }

  test("random projection: coordinates match the plane family brute-force") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.25f, 2.0f, 0.001f)),
      (2L, Array(-0.75f, 0.0f, 1.5f, -2.5f))).toDF("vec_id", "embedding")
    val got = AnnOps.randomProjection(vecs, "vec_id", "embedding",
      outDim = 3, dim = 4)
      .as[(Long, Seq[Long])].collect().toMap
    val quant = Map(
      1L -> Seq(500L, -1250L, 2000L, 1L),  // 0.001f*1000 rounds to 1
      2L -> Seq(-750L, 0L, 1500L, -2500L))
    for ((id, q) <- quant; p <- 0 until 3) {
      val plane = AnnOps.hyperplane(p, 4)
      val expect = q.zip(plane).map { case (x, s) => x * s }.sum
      assert(got(id)(p) == expect, s"vec $id plane $p")
    }
  }
}
