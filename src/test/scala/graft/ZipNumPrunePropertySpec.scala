package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Cdx
import graft.operators.ClusterOps
import graft.sources.zipnum.{DistributedZipNumScan, ZipNumIndex, ZipNumReader}

/** Property-based pin of the serving-path bound semantics, generalizing
  * the r18 strictly-below regression test in [[ZipNumRoundtripSpec]]
  * into an invariant: for ANY cluster shape — random same-key run
  * lengths, random lines-per-block (down to 1, so key runs straddle
  * block boundaries and tied firstKeys are routine) — and ANY
  * [start, end) drawn from the key population (block firstKeys
  * included, the exact tie class that lost data for 18 rounds),
  * `ZipNumReader.localLines` must equal a brute-force filter of every
  * line, and `ClusterOps.range` over a pair of such clusters must equal
  * the filtered union in exact byte order.
  * Deterministic seeds, same pattern as [[SketchPropertySpec]]; cluster
  * writes are the expensive part, so a handful of generated clusters
  * each serve many probes. */
class ZipNumPrunePropertySpec extends AnyFunSuite with SparkTestSession {

  private def sample[A](g: Gen[A], seed: Long): A =
    Iterator.from(0)
      .map(i => g.apply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(seed + i * 7919L)))
      .collectFirst { case Some(a) => a }.get

  /** Random cluster: keys with shared prefixes (adjacent keys often agree
    * on a prefix, like SURTs), per-key run lengths 1..7, linesPerBlock
    * 1..5 → runs longer than a block are common, ties at block starts
    * guaranteed across seeds. Payload suffix makes every line unique so
    * content equality is multiset-exact. */
  private case class Shape(lines: Seq[String], linesPerBlock: Int, parts: Int)

  /** `fams`: one family tag per cluster; `segs`: the path segment after
    * it, cycling over the cluster's keys. */
  private def shapeGen(fams: IndexedSeq[String] = IndexedSeq("k0", "k1", "k2"),
                       segs: IndexedSeq[String] = IndexedSeq("p0", "p1", "p2", "p3"))
      : Gen[Shape] = for {
    nKeys <- Gen.chooseNum(3, 14)
    runs <- Gen.listOfN(nKeys, Gen.chooseNum(1, 7))
    lpb <- Gen.chooseNum(1, 5)
    parts <- Gen.chooseNum(1, 3)
    fam <- Gen.chooseNum(0, fams.size - 1)
  } yield {
    val keys = (0 until nKeys).map(i =>
      f"org,${fams(fam)})/${segs(i % segs.size)}/$i%03d")
    val lines = keys.zip(runs).flatMap { case (k, r) =>
      // at most TWO timestamps per key run: duplicate (urlkey, ts) pairs
      // are the tie fuel — they make adjacent summary firstKeys EQUAL
      // whenever a run spans a block, which is the exact class the r18
      // strictly-below fix exists for (distinct timestamps never tie and
      // would let an off-by-one prune bound pass this spec — verified by
      // mutation: `lteq` in ClusterIndex.prune must fail here)
      (0 until r).map(j =>
        s"$k 2012010100000${j.min(1)} row-$k-$j")
    }.sorted(graft.util.KeyOrder)
    Shape(lines, lpb, parts)
  }

  private def writeCluster(sh: Shape): String = {
    val d = SparkTestSession.tmpDir("zipnum-prop").toString
    import spark.implicits._
    val ds = spark.createDataset(sh.lines)(implicitly)
      .repartitionByRange(sh.parts, org.apache.spark.sql.functions.col("value"))
      .sortWithinPartitions("value")
    ds.write.format("zipnum").option("linesPerBlock", sh.linesPerBlock)
      .mode("overwrite").save(s"$d/cluster")
    s"$d/cluster"
  }

  private lazy val conf = spark.sparkContext.hadoopConfiguration

  /** Probe population: every block firstKey (the r18 tie class), bare
    * urlkeys, keys nudged past a run ("~" sorts after digits/space), and
    * the open bound. */
  private def boundGen(shapes: Seq[Shape],
                       dirs: Seq[String]): Gen[(Option[String], Option[String])] = {
    val firstKeys = dirs.flatMap(ZipNumIndex.load(_, conf).blocks.map(_.firstKey))
    val bareKeys = shapes.flatMap(_.lines.map(_.takeWhile(_ != ' '))).distinct
    val population: Seq[Option[String]] =
      firstKeys.map(Some(_)) ++ bareKeys.map(Some(_)) ++
        bareKeys.map(k => Some(k + "~")) ++ Seq(None)
    for {
      s <- Gen.oneOf(population)
      e <- Gen.oneOf(population)
    } yield (s, e)
  }

  /** An inverted [start, end) is vacuous; probes skip it. */
  private def wellFormed(s: Option[String], e: Option[String]): Boolean =
    (s, e) match {
      case (Some(a), Some(b)) => graft.util.KeyOrder.lteq(a, b)
      case _ => true
    }

  private def brute(lines: Seq[String], start: Option[String],
                    end: Option[String]): Seq[String] =
    lines.filter(l =>
      start.forall(s => graft.util.KeyOrder.gteq(l, s)) &&
        end.forall(e => graft.util.KeyOrder.lt(l, e)))

  test("lines(start, end) == brute-force filter for random clusters and " +
      "random bounds (firstKey ties, mid-run starts, open ends)") {
    (0 until 6).foreach { seed =>
      val sh = sample(shapeGen(), seed.toLong)
      val dir = writeCluster(sh)
      val probeGen = boundGen(Seq(sh), Seq(dir))
      (0 until 15).foreach { p =>
        val (s0, e0) = sample(probeGen, seed * 1000L + p)
        if (wellFormed(s0, e0)) {
          val got = ZipNumReader.localLines(conf, dir, s0, e0)
            .toSeq.sorted(graft.util.KeyOrder)
          val want = brute(sh.lines, s0, e0)
          assert(got == want,
            s"seed=$seed lpb=${sh.linesPerBlock} parts=${sh.parts} " +
              s"start=$s0 end=$e0: got ${got.size} want ${want.size}")
        }
      }
    }
  }

  test("ClusterOps.range over cluster pairs == brute-force filter of the " +
      "union in exact byte order (ties, supplementary-plane keys)") {
    // one family, so the pair's key ranges interleave; the segments
    // straddle the UTF-16 vs byte-order split (U+FFFD sorts below a
    // surrogate pair in byte order, above it in UTF-16)
    val gen = shapeGen(IndexedSeq("k0"),
      IndexedSeq("p0", "\uFFFD", "\uD83D\uDE00", "p1"))
    (0 until 6).foreach { seed =>
      val shapes = Seq(sample(gen, 300L + seed), sample(gen, 400L + seed))
      val dirs = shapes.map(writeCluster)
      val union = shapes.flatMap(_.lines)
      val probeGen = boundGen(shapes, dirs)
      (0 until 15).foreach { p =>
        val (s0, e0) = sample(probeGen, 5000L + seed * 1000L + p)
        if (wellFormed(s0, e0)) {
          val got = ClusterOps.range(spark, s0, e0, dirs).toVector
          val want = brute(union, s0, e0).sorted(graft.util.KeyOrder)
          assert(got == want,
            s"seed=$seed lpb=${shapes.map(_.linesPerBlock)} " +
              s"start=$s0 end=$e0: got ${got.size} want ${want.size}")
        }
      }
    }
  }

  /** One pushed urlkey predicate: its Column, its data-source Filter, and
    * a brute-force reference in [[graft.util.KeyOrder]] byte order. */
  private case class Pred(kind: String, v: String) {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.sources._
    private def k = F.col("urlkey")
    def column: org.apache.spark.sql.Column = kind match {
      case ">=" => k >= v
      case ">" => k > v
      case "<" => k < v
      case "<=" => k <= v
      case "=" => k === v
      case "startsWith" => k.startsWith(v)
      case "isNotNull" => k.isNotNull
    }
    def filter: Filter = kind match {
      case ">=" => GreaterThanOrEqual("urlkey", v)
      case ">" => GreaterThan("urlkey", v)
      case "<" => LessThan("urlkey", v)
      case "<=" => LessThanOrEqual("urlkey", v)
      case "=" => EqualTo("urlkey", v)
      case "startsWith" => StringStartsWith("urlkey", v)
      case "isNotNull" => IsNotNull("urlkey")
    }
    def holds(key: String): Boolean = key != null && (kind match {
      case ">=" => graft.util.KeyOrder.gteq(key, v)
      case ">" => graft.util.KeyOrder.gt(key, v)
      case "<" => graft.util.KeyOrder.lt(key, v)
      case "<=" => graft.util.KeyOrder.lteq(key, v)
      case "=" => key == v
      case "startsWith" => key.startsWith(v)
      case "isNotNull" => true
    })
  }

  test("pushed urlkey predicates are exact in the local and the " +
      "distributed reader, with and without urlkey in the projection") {
    import org.apache.spark.sql.execution.{FilterExec, LocalTableScanExec}
    // the same supplementary-plane segments as the range pair property;
    // lines become CDX-11 so the DSv2 reader parses them
    val gen = shapeGen(IndexedSeq("k0", "k1"),
      IndexedSeq("p0", "\uFFFD", "\uD83D\uDE00", "p1")).map { sh =>
      sh.copy(lines = sh.lines.map { l =>
        val Array(k, ts, tag) = l.split(" ", 3)
        s"$k $ts http://x.org/ text/html 200 $tag - - 1 0 f.warc.gz"
      }.sorted(graft.util.KeyOrder))
    }
    val projections = Seq(Cdx.schema.fieldNames.toSeq,
      Seq("timestamp", "digest", "offset"))
    (0 until 5).foreach { seed =>
      val sh = sample(gen, 700L + seed)
      val dir = writeCluster(sh)
      val dump = ZipNumReader.localLines(conf, dir).toVector
      assert(dump == sh.lines)
      val cells = dump.flatMap(Cdx.splitLine(_))
      val keys = cells.map(_(0)).distinct
      // bare keys, nudged keys, code-point prefixes of keys and summary
      // firstKeys ("urlkey ts": a space inside the bound value)
      val values = (keys ++ keys.map(_ + "~") ++
        keys.flatMap(k => (0 to k.codePointCount(0, k.length))
          .map(n => k.substring(0, k.offsetByCodePoints(0, n)))) ++
        ZipNumIndex.load(dir, conf).blocks.map(_.firstKey)).distinct
      val predGen = for {
        kind <- Gen.oneOf(">=", ">", "<", "<=", "=", "startsWith", "isNotNull")
        v <- Gen.oneOf(values)
      } yield Pred(kind, v)
      val conjGen = Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, predGen))
      (0 until 16).foreach { p =>
        val preds = sample(conjGen, seed * 1000L + p)
        val wantRows = cells.filter(c => preds.forall(_.holds(c(0))))
        projections.foreach { cols =>
          val ords = cols.map(Cdx.schema.fieldIndex)
          val want = wantRows.map(c => ords.map(c(_)))
          val ctx = s"seed=$seed lpb=${sh.linesPerBlock} parts=${sh.parts} " +
            s"preds=$preds cols=${cols.mkString(",")}"
          val q = spark.read.format("zipnum").load(dir)
            .where(preds.map(_.column).reduce(_ && _))
            .select(cols.map(org.apache.spark.sql.functions.col): _*)
          val plan = q.queryExecution.executedPlan
          assert(plan.collectFirst { case f: FilterExec => f }.isEmpty,
            s"$ctx: urlkey predicates left a Filter\n$plan")
          assert(plan.collectFirst { case l: LocalTableScanExec => l }.nonEmpty ==
            preds.exists(_.kind != "isNotNull"), s"$ctx: wrong scan\n$plan")
          val local = q.collect().toSeq.map(_.toSeq.map(v =>
            if (v == null) null else v.toString))
          assert(local == want, s"$ctx: format(zipnum) got ${local.size} " +
            s"want ${want.size}")
          val required = org.apache.spark.sql.types.StructType(
            cols.map(c => Cdx.schema(c)))
          val (residual, rows) = DistributedZipNumScan.rows(dir,
            preds.map(_.filter).toArray, required)
          assert(residual.isEmpty, s"$ctx: residual $residual")
          val dist = rows.map(r => r.toSeq(required).map(v =>
            if (v == null) null else v.toString))
          assert(dist == want, s"$ctx: ZipNumScan got ${dist.size} " +
            s"want ${want.size}")
        }
      }
    }
  }

  test("rangesRdd partitions tile the cluster exactly against random " +
      "boundaries (the merge path's aligned-read contract)") {
    (0 until 3).foreach { seed =>
      val sh = sample(shapeGen(), 100L + seed)
      val dir = writeCluster(sh)
      val bareKeys = sh.lines.map(_.takeWhile(_ != ' ')).distinct
      val bGen = Gen.someOf(bareKeys).map(_.sorted(graft.util.KeyOrder))
      val bounds = sample(bGen, 200L + seed).toIndexedSeq
      val perPart = ZipNumReader.rangesRdd(spark, dir, bounds)
        .mapPartitionsWithIndex((i, it) => it.map((i, _)))
        .collect().toSeq
      // global content: tiling is exact, no loss, no duplication
      assert(perPart.map(_._2).sorted(graft.util.KeyOrder) == sh.lines,
        s"seed=$seed bounds=${bounds.size}: union of ranges != cluster")
      // per-partition ranges: partition i holds [bounds(i-1), bounds(i))
      perPart.foreach { case (i, l) =>
        if (i > 0) assert(graft.util.KeyOrder.gteq(l, bounds(i - 1)),
          s"seed=$seed line in partition $i below its lower bound")
        if (i < bounds.size) assert(graft.util.KeyOrder.lt(l, bounds(i)),
          s"seed=$seed line in partition $i at/above its upper bound")
      }
    }
  }
}
