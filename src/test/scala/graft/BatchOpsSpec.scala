package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{IntervalJoin, Sessionize, SkewAgg}

class BatchOpsSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("interval join: day-bucketed equi-join matches the exact bounds") {
    val rows = Seq(
      (1L, 1L, ts("2024-01-01 05:00:00")),   // inside w0
      (2L, 1L, ts("2024-01-01 06:00:00")),   // == end: excluded ([s, e))
      (3L, 1L, ts("2024-01-01 00:00:00")),   // == start: included
      (4L, 2L, ts("2024-01-01 05:00:00")),   // wrong key
      (5L, 1L, ts("2024-01-02 23:30:00")),   // inside w1 (spans midnight)
      (6L, 1L, ts("2024-01-03 00:30:00")))   // inside w1, next day
      .toDF("event_id", "k", "t")
    val win = Seq(
      (10L, 1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 06:00:00")),
      (11L, 1L, ts("2024-01-02 23:00:00"), ts("2024-01-03 01:00:00")))
      .toDF("win_id", "wk", "ws", "we")
    val out = IntervalJoin.byDay(rows, "k", "t", win, "wk", "ws", "we")
      .select($"event_id", $"win_id").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 10L), (3L, 10L), (5L, 11L), (6L, 11L)))
  }

  test("interval join: overlapping windows match a row more than once") {
    val rows = Seq((1L, 1L, ts("2024-01-01 02:00:00"))).toDF("event_id", "k", "t")
    val win = Seq(
      (10L, 1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 04:00:00")),
      (11L, 1L, ts("2024-01-01 01:00:00"), ts("2024-01-01 03:00:00")))
      .toDF("win_id", "wk", "ws", "we")
    val out = IntervalJoin.byDay(rows, "k", "t", win, "wk", "ws", "we")
      .select($"win_id").as[Long].collect().toSet
    assert(out == Set(10L, 11L))
  }

  test("skew-safe distinct matches countDistinct, excludes NULLs") {
    val df = Seq(
      ("a", Some(1L)), ("a", Some(1L)), ("a", Some(2L)), ("a", None),
      ("b", Some(1L)), ("b", None))
      .toDF("k", "v")
    val two = SkewAgg.distinctByKey(df, "k", "v")
      .as[(String, Long)].collect().toMap
    val ref = df.groupBy($"k").agg(countDistinct($"v").as("n"))
      .as[(String, Long)].collect().toMap
    assert(two == ref && two == Map("a" -> 2L, "b" -> 1L))
  }

  test("skew-safe distinct keeps a group whose values are all NULL") {
    val df = Seq(("a", Some(1L)), ("c", None), ("c", None)).toDF("k", "v")
    val out = SkewAgg.distinctByKey(df, "k", "v")
      .as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 1L, "c" -> 0L))
  }

  test("interval join: end < start interval is dropped, not exploded") {
    val rows = Seq((1L, 1L, ts("2024-01-01 05:00:00"))).toDF("event_id", "k", "t")
    val win = Seq(
      (10L, 1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 06:00:00")),
      // corrupt: years-long reversed span must not inflate the explode
      (11L, 1L, ts("2030-01-01 00:00:00"), ts("2024-01-01 00:00:00")))
      .toDF("win_id", "wk", "ws", "we")
    val out = IntervalJoin.byDay(rows, "k", "t", win, "wk", "ws", "we")
    assert(out.select($"win_id").as[Long].collect().toSeq == Seq(10L))
  }

  test("sessionize: gap starts a new session; ties break on tieCol") {
    val df = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (1L, 2L, ts("2024-01-01 10:20:00")),   // 20 min: same session
      (1L, 3L, ts("2024-01-01 11:00:00")),   // 40 min: new session
      (1L, 4L, ts("2024-01-01 11:30:00")),   // exactly gap: same (> only)
      (2L, 5L, ts("2024-01-01 10:00:00")))   // other key: own session 1
      .toDF("user_id", "event_id", "t")
    val out = Sessionize(df, "user_id", "t", gapSeconds = 1800, "event_id")
      .select($"event_id", $"session_idx").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("sessionize: one Exchange for the two window passes") {
    val df = Seq((1L, 1L, ts("2024-01-01 10:00:00")))
      .toDF("user_id", "event_id", "t")
    val plan = Sessionize(df, "user_id", "t", 60, "event_id")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("as-of join: latest prior right row, inclusive ties, null when none") {
    import graft.operators.AsOfJoin
    val trades = Seq(
      (1L, 100L, ts("2024-01-01 10:00:00")),
      (1L, 101L, ts("2024-01-01 12:00:00")),
      (2L, 102L, ts("2024-01-01 09:00:00")))   // before any price
      .toDF("k", "trade_id", "t")
    val prices = Seq(
      (1L, ts("2024-01-01 09:00:00"), 10L),
      (1L, ts("2024-01-01 10:00:00"), 20L),    // same second as trade 100
      (1L, ts("2024-01-01 11:00:00"), 30L),
      (2L, ts("2024-01-01 11:00:00"), 40L))
      .toDF("k", "pt", "price")
    val out = AsOfJoin.latestPrior(trades, prices, Seq("k"), "t", "pt",
      payloadCols = Seq("price"), rightTieCols = Seq("price"))
      .select($"trade_id", $"asof_price")
      .as[(Long, Option[Long])].collect().toMap
    assert(out == Map(100L -> Some(20L),   // inclusive: same-ts price wins
      101L -> Some(30L), 102L -> None))
  }

  test("as-of join: same-timestamp right rows break ties deterministically") {
    import graft.operators.AsOfJoin
    val l = Seq((1L, 9L, ts("2024-01-01 10:00:00"))).toDF("k", "id", "t")
    val rRows = Seq(
      (1L, ts("2024-01-01 09:00:00"), 5L),
      (1L, ts("2024-01-01 09:00:00"), 7L))    // tie: larger tie col wins
    for (perm <- Seq(rRows, rRows.reverse)) {
      val out = AsOfJoin.latestPrior(l, perm.toDF("k", "pt", "v"),
        Seq("k"), "t", "pt", Seq("v"), rightTieCols = Seq("v"))
        .select($"asof_v").as[Long].collect()
      assert(out.toSeq == Seq(7L))
    }
  }

  test("as-of join: latest right ROW wins even when its payload is NULL") {
    import graft.operators.AsOfJoin
    val l = Seq((1L, 9L, ts("2024-01-01 12:00:00"))).toDF("k", "id", "t")
    val r = Seq(
      (1L, ts("2024-01-01 10:00:00"), Some(5L)),
      (1L, ts("2024-01-01 11:00:00"), None))   // latest row, NULL payload
      .toDF("k", "pt", "v")
    val out = AsOfJoin.latestPrior(l, r, Seq("k"), "t", "pt", Seq("v"))
      .select($"asof_v").as[Option[Long]].collect()
    assert(out.toSeq == Seq(None))   // NOT the older 5L
  }

  test("as-of join: NULL-timestamp right rows never match (no prior stays " +
      "NULL)") {
    import graft.operators.AsOfJoin
    // NULL ts satisfies no <= bound, but it would sort FIRST in the
    // union window and leak its payload as the earliest prior (r19)
    val l = Seq((1L, 9L, ts("2024-01-01 12:00:00"))).toDF("k", "id", "t")
    val r = Seq((1L, None: Option[java.sql.Timestamp], 5L))
      .toDF("k", "pt", "v")
    val out = AsOfJoin.latestPrior(l, r, Seq("k"), "t", "pt", Seq("v"))
      .select($"asof_v").as[Option[Long]].collect()
    assert(out.toSeq == Seq(None))
  }

  test("salted join equals the plain join") {
    import graft.operators.SkewAgg
    val big = (0L until 500L).map(i => (s"k${i % 3}", i)).toDF("bk", "v")
    val small = Seq(("k0", 10L), ("k1", 20L), ("k3", 99L)).toDF("sk", "w")
    val salted = SkewAgg.saltedJoin(big, small, "bk", "sk", buckets = 4)
      .groupBy($"bk").agg(count(lit(1)).as("n"), sum($"v" * $"w").as("s"))
      .as[(String, Long, Long)].collect().toSet
    val plain = big.join(small, $"bk" === $"sk")
      .groupBy($"bk").agg(count(lit(1)).as("n"), sum($"v" * $"w").as("s"))
      .as[(String, Long, Long)].collect().toSet
    assert(salted == plain && salted.map(_._1) == Set("k0", "k1"))
  }

  test("stratified sample: per-stratum rates, deterministic") {
    import graft.operators.llm.Sampling
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val kept = Sampling.stratifiedHashSample(df, "doc_id", "lang", "s",
      Seq("en" -> "cc", "de" -> "1a"), "00")
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    // en ~ cc/256 = 79.7% of 1000; de ~ 1a/256 = 10.2% of 1000
    assert(kept("en") > 700 && kept("en") < 900, kept)
    assert(kept("de") > 50 && kept("de") < 160, kept)
    val again = Sampling.stratifiedHashSample(df, "doc_id", "lang", "s",
      Seq("en" -> "cc", "de" -> "1a"), "00")
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(kept == again)
  }

  test("budget mixture sample: derived rates track budgets, caps never blow") {
    import graft.operators.llm.Sampling
    val df = (0L until 3000L).map { i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "zh")
    }.toDF("doc_id", "lang") // 1000 docs per lang
    val kept = Sampling.budgetSample(df, "doc_id", "lang", "m",
      Seq("en" -> 250L, "de" -> 5000L), defaultBudget = 0L)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    // en: rate floor(250*65536/1000)/65536 ≈ 25% of 1000, hash-uniform
    // error ~ ±3σ·sqrt(250); the floor means the cap is never EXCEEDED
    // by more than hash noise, so bound the top at budget + 3σ
    assert(kept("en") > 180 && kept("en") < 295, kept)
    assert(kept("de") == 1000L)     // over-budget stratum kept whole
    assert(!kept.contains("zh"))    // default budget 0 drops the stratum
    // determinism + subset property: the kept set is a subset of the
    // kept set under a LARGER budget (same salt ⇒ nested samples)
    val small = Sampling.budgetSample(df, "doc_id", "lang", "m",
      Seq("en" -> 100L), 0L).select($"doc_id").as[Long].collect().toSet
    val large = Sampling.budgetSample(df, "doc_id", "lang", "m",
      Seq("en" -> 500L), 0L).select($"doc_id").as[Long].collect().toSet
    assert(small.subsetOf(large) && small.nonEmpty)
    // a NULL stratum is still a stratum: it takes the default budget
    // instead of being silently dropped by a null-key equi-join
    val withNull = (0L until 100L).map(i => (i, null: String))
      .toDF("doc_id", "lang")
    val keptNull = Sampling.budgetSample(withNull, "doc_id", "lang", "m",
      Nil, defaultBudget = 1000L).count()
    assert(keptNull == 100L)
    // budget validation: negative and overflow-range budgets fail loudly
    intercept[IllegalArgumentException] {
      Sampling.budgetSample(df, "doc_id", "lang", "m", Seq("en" -> -1L), 0L)
    }
    intercept[IllegalArgumentException] {
      Sampling.budgetSample(df, "doc_id", "lang", "m", Nil, Long.MaxValue)
    }
  }

  test("sequence packing: exact global prefix sums, partition-invariant") {
    import graft.operators.llm.Packing
    // token counts 1..200 in shuffled insertion order; the prefix sum
    // must follow ID order, not input order
    val rows = scala.util.Random.shuffle(
      (1L to 200L).map(i => (i, i)).toList)
    // both bodies: the small-input endgame and the distributed prefix sum
    for (parts <- Seq(1, 7);
         pack <- Seq(Packing.byTokenBudget _,
           Packing.byTokenBudgetDistributed _)) {
      val df = rows.toDF("doc_id", "n_tok").repartition(parts)
      val got = pack(df, "doc_id", "n_tok", 100L)
        .as[(Long, Long, Long, Long)].collect()
        .map { case (id, tok, start, seq) =>
          assert(tok == id) // the token column rides through unchanged
          id -> ((start, seq))
        }.toMap
      // exact exclusive prefix sums: start(i) = sum(1..i-1) = i(i-1)/2
      (1L to 200L).foreach { i =>
        val exp = i * (i - 1) / 2
        assert(got(i) == ((exp, exp / 100)), s"doc $i parts=$parts")
      }
    }
    // a doc can straddle a chunk boundary: it belongs to the chunk its
    // FIRST token lands in (doc 14 starts at 91 -> seq 0 even though it
    // ends at 105)
    val df2 = (1L to 20L).map(i => (i, i)).toDF("doc_id", "n_tok")
    val s14 = Packing.byTokenBudget(df2, "doc_id", "n_tok", 100L)
      .where($"doc_id" === 14L)
      .as[(Long, Long, Long, Long)].collect()(0)
    assert(s14 == ((14L, 14L, 91L, 0L)))
    // invalid budget, on both bodies
    intercept[IllegalArgumentException] {
      Packing.byTokenBudget(df2, "doc_id", "n_tok", 0L)
    }
    intercept[IllegalArgumentException] {
      Packing.byTokenBudgetDistributed(df2, "doc_id", "n_tok", 0L)
    }
  }

  test("tfidf: rare tokens outweigh common ones, integer-exact") {
    import graft.operators.llm.TextAnalysis
    val docs = Seq(
      (1L, "common common rare"),
      (2L, "common other"),
      (3L, "common other")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdf(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // N = 3 docs with tokens; df: common=3, rare=1, other=2;
    // weight = (10000*3) DIV df
    // doc1 = 2*10000 + 1*30000 = 50000; doc2 = doc3 = 10000 + 15000
    assert(out(1L) == (2L, 50000L))
    assert(out(2L) == (2L, 25000L) && out(3L) == (2L, 25000L))
    // the catalog-stats path (explicit N, no persist/derivation) must
    // produce the identical weighting
    val statsPath = TextAnalysis.tfIdf(docs, "doc_id", "text", Some(3L))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(statsPath == out)
  }

  test("stratum cap: exactly min(cap, n) kept, hash-order prefix, NULL stratum") {
    import graft.operators.llm.Sampling
    // 3 strata: "big" (40 rows), "small" (3 rows), NULL (10 rows)
    val df = ((0L until 40L).map(i => (i, "big")) ++
      (100L until 103L).map(i => (i, "small")) ++
      (200L until 210L).map(i => (i, null: String))).toDF("doc_id", "src")
    // prefixLen only shapes the distributed selection's buckets
    for (pl <- Seq(1, 2, 4)) {
      val kept = Sampling.capPerStratumDistributed(df, "doc_id", "src", "t",
          5L, pl)
        .as[(Long, String)].collect()
      val byStratum = kept.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
      // exact sizes: capped, whole, capped — at every bucket width
      assert(byStratum("big").size == 5, s"prefixLen=$pl")
      assert(byStratum("small") == Set(100L, 101L, 102L), s"prefixLen=$pl")
      assert(byStratum(null).size == 5, s"prefixLen=$pl")
      // the kept rows are exactly the first `cap` in (md5, id) order
      val md = java.security.MessageDigest.getInstance("MD5")
      def h(id: Long): String = md.digest(s"t|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(byStratum("big") ==
        (0L until 40L).sortBy(id => (h(id), id)).take(5).toSet)
      assert(byStratum(null) ==
        (200L until 210L).sortBy(id => (h(id), id)).take(5).toSet)
    }
    // cap 0 drops everything; cap >= all keeps everything
    assert(Sampling.capPerStratum(df, "doc_id", "src", "t", 0L).count() == 0)
    assert(Sampling.capPerStratum(df, "doc_id", "src", "t", 99L).count() == 53)
    // the small-input endgame is BIT-IDENTICAL to the distributed path —
    // capped / whole / NULL strata, at every cap
    for (cap <- Seq(0L, 5L, 99L)) {
      val dist = Sampling.capPerStratumDistributed(df, "doc_id", "src", "t",
        cap).as[(Long, String)].collect().toSet
      val local = Sampling.capPerStratum(df, "doc_id", "src", "t", cap)
        .as[(Long, String)].collect().toSet
      assert(local == dist, s"cap=$cap diverged")
    }
  }

  test("dsirSelect: target-like raw docs outrank off-distribution ones; " +
      "weight table is bucket-bounded") {
    import graft.operators.llm.Sampling
    // target corpus speaks "alpha beta"; raw pool: doc 10 mimics the
    // target, doc 11 shares nothing, doc 12 is half-and-half
    val df = Seq(
      (1L, "alpha beta alpha beta", true),
      (2L, "beta alpha beta", true),
      (10L, "alpha beta alpha", false),
      (11L, "gamma delta gamma delta", false),
      (12L, "alpha gamma", false)).toDF("doc_id", "text", "tgt")
    val B = 64
    val out = Sampling.dsirSelect(df, "doc_id", "text", col("tgt"),
      buckets = B, topK = 3)
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._1).toSet == Set(10L, 11L, 12L))
    // brute-force replication of the exact integer formula (hash
    // collisions at B=64 are part of the contract, not noise)
    val docs = Seq((1L, "alpha beta alpha beta", true),
      (2L, "beta alpha beta", true), (10L, "alpha beta alpha", false),
      (11L, "gamma delta gamma delta", false), (12L, "alpha gamma", false))
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(g: String): Long = {
      md.reset()
      val hex = md.digest(g.getBytes("UTF-8")).take(6)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % B
    }
    def grams(t: String): Seq[String] = {
      val ws = t.split(" ", -1)
      ws.filter(_.nonEmpty).toSeq ++
        (if (ws.length < 2) Seq.empty
         else ws.sliding(2).map(_.mkString(" ")).toSeq)
    }
    val perDoc = docs.map { case (id, t, tgt) =>
      (id, tgt, grams(t).groupBy(bucket).view.mapValues(_.size.toLong).toMap)
    }
    val allB = perDoc.flatMap(_._3.keys).distinct
    val ct = allB.map(b => b -> perDoc.filter(_._2)
      .map(_._3.getOrElse(b, 0L)).sum).toMap
    val cr = allB.map(b => b -> perDoc.filterNot(_._2)
      .map(_._3.getOrElse(b, 0L)).sum).toMap
    val nt = ct.values.sum; val nr = cr.values.sum
    def wbp(b: Long): Long =
      ((ct(b) + 1) * 10000L * (nr + B)) / ((cr(b) + 1) * (nt + B))
    val expected = perDoc.filterNot(_._2).map { case (id, _, m) =>
      val n = m.values.sum
      id -> ((n, m.map { case (b, c) => c * wbp(b) }.sum / n))
    }.toMap
    out.foreach { case (id, n, s) =>
      assert(expected(id) == ((n, s)),
        s"doc $id: expected ${expected(id)}, got ($n, $s)")
    }
    // topK truncation is deterministic: the brute-force argmax wins
    val best = expected.toSeq.sortBy { case (id, (_, s)) => (-s, id) }.head._1
    val top1 = Sampling.dsirSelect(df, "doc_id", "text", col("tgt"),
      buckets = B, topK = 1).as[(Long, Long, Long)].collect()
    assert(top1.map(_._1).toSeq == Seq(best))
  }

  test("dsirSelect gram derivation (r22 native wordGrams+array_remove " +
      "rewrite) equals the HOF formulation on edge-case texts") {
    // the r22 rewrite swapped the interpreted transform/sequence bigram
    // chain for the native wordGrams expression; this pins the exact
    // gram multiset per doc on the shapes that could diverge: empty
    // text, single word, double spaces (empty words), trailing space
    val rows = Seq((1L, ""), (2L, "solo"), (3L, "a  b"), (4L, "x y "),
      (5L, "p q r")).toDF("doc_id", "text")
    val w = rows.select(col("doc_id"),
      split(col("text"), " ", -1).as("__w"))
    val hof = w.select(col("doc_id"), explode(expr(
        "concat(filter(__w, x -> x <> ''), " +
          "CASE WHEN size(__w) < 2 THEN array() ELSE " +
          "transform(sequence(1, size(__w) - 1), " +
          "i -> concat(element_at(__w, i), ' ', element_at(__w, i + 1))) " +
          "END)")).as("g"))
      .as[(Long, String)].collect().toSeq.sorted
    val native = w.select(col("doc_id"), explode(concat(
        array_remove(col("__w"), ""),
        graft.functions.VectorFunctions.wordGrams(col("__w"), 2))).as("g"))
      .as[(Long, String)].collect().toSeq.sorted
    assert(native == hof)
    // and the gram content itself is the documented rule
    assert(native.filter(_._1 == 3L).map(_._2) ==
      Seq("a", "a ", " b", "b").sorted)
  }

  test("deterministic shard: exact hash-order permutation, partition-invariant") {
    import graft.operators.llm.Sampling
    val df = (0L until 200L).toDF("doc_id")
    val out = Sampling.deterministicShardDistributed(df, "doc_id", "s", 32L)
      .as[(Long, Long, Long)].collect()
    // ranks are exactly the permutation 0..n-1
    assert(out.map(_._2).sorted.toSeq == (0L until 200L).toSeq)
    // rank order == independently computed (md5("s|id"), id) sort order
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): String = md.digest(s"s|$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expect = (0L until 200L).sortBy(id => (h(id), id)).toSeq
    assert(out.sortBy(_._2).map(_._1).toSeq == expect)
    // shard is the rank's block
    assert(out.forall { case (_, r, sh) => sh == r / 32L })
    // input partitioning must not change a single assignment
    val out2 = Sampling.deterministicShardDistributed(
      df.repartition(7), "doc_id", "s", 32L)
      .as[(Long, Long, Long)].collect().toSet
    assert(out2 == out.toSet)
    // the small-input endgame is bit-identical to the distributed rank
    val outLocal = Sampling.deterministicShard(
      df.repartition(7), "doc_id", "s", 32L)
      .as[(Long, Long, Long)].collect().toSet
    assert(outLocal == out.toSet)
  }
}
