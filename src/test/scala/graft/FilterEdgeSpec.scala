package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AccessControl, PrefixFilter}

/** Edge behaviors of the row-filter operators that the oracle queries
  * (q09/q35) can't exercise: null keys and degenerate prefix lists. */
class FilterEdgeSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("access control fails CLOSED on null keys, on both surfaces") {
    val rules = Seq(AccessControl.Rule("org,bad", "block"))
    val df = Seq(Some("org,good)/x"), Some("org,bad)/y"), None)
      .toDF("urlkey")
    val kept = AccessControl.allowCaptures(df, rules)
      .select("urlkey").as[String].collect().toSeq
    assert(kept == Seq("org,good)/x")) // null row blocked, not fail-open
    assert(!AccessControl.isAllowed(rules)(null))
  }

  test("prefixJoin with an empty prefix keeps everything (predicate parity)") {
    val df = Seq("alpha", "beta", "").toDF("k")
    val viaPredicate = PrefixFilter(df, "k", Seq("", "al")).count()
    val viaJoin = PrefixFilter.prefixJoin(df, "k", Seq("", "al")).count()
    assert(viaPredicate == 3 && viaJoin == 3)
    // and without the empty prefix the two paths still agree
    assert(PrefixFilter(df, "k", Seq("al")).count() ==
      PrefixFilter.prefixJoin(df, "k", Seq("al")).count())
  }

  test("cleanup keeps a NULL-status warc/ revisit on a live-* file (batch == streaming)") {
    // statuscode NULL is NOT 502/504: bare three-valued isin would
    // NULL-drop the row in the batch form while the streaming form keeps
    // it — both surfaces must agree (and match the reference's parse-then-
    // compare, where a non-numeric status simply fails the comparison)
    val line = "org,x)/p 20120101000000 http://x.org/p warc/revisit xx " +
      "DIGEST - - 10 100 live-20120101-c/live.arc.gz"
    val batch = graft.operators.GlobalCdxCleanup.filters(
      Seq(line).toDF("line")
        .select(expr("split(line, ' ')").as("f"))
        .select(col("f")(0).as("urlkey"), col("f")(1).as("timestamp"),
          col("f")(2).as("original_url"), col("f")(3).as("mimetype"),
          expr("try_cast(f[4] AS INT)").as("statuscode"),
          col("f")(5).as("digest"), lit(null: String).as("redirect_url"),
          lit(null: String).as("meta_flags"), lit(10L).as("compressed_size"),
          lit(100L).as("offset"), col("f")(10).as("filename")))
    assert(batch.count() == 1)
    val streamed = graft.operators.GlobalCdxCleanup
      .streamingLine(dayLimit = 0)(Iterator(line)).toSeq
    assert(streamed.size == 1)
  }

  private def cdxDf(line: String) = {
    import graft.model.Cdx
    Seq(line).toDF("line")
      .flatMap(r => Cdx.parseLine(r.getString(0)))(
        org.apache.spark.sql.Encoders.product[graft.model.CdxRecord])
      .toDF(Cdx.columnNames: _*)
  }

  test("cleanup: a warc/ row with numeric 502 on a live-* file RIDES " +
      "(the reference nests liveError in the ELSE of its warc branch)") {
    val line = "org,x)/p 20120101000000 http://x.org/p warc/revisit 502 " +
      "DIGEST - - 10 100 live-20120101-c/live.arc.gz"
    assert(graft.operators.GlobalCdxCleanup.filters(cdxDf(line)).count() == 1)
    assert(graft.operators.GlobalCdxCleanup
      .streamingLine(dayLimit = 0)(Iterator(line)).size == 1)
    // ... while the same row WITHOUT the warc mime is discarded
    val nonWarc = line.replace("warc/revisit", "text/html")
    assert(graft.operators.GlobalCdxCleanup.filters(cdxDf(nonWarc)).count() == 0)
    assert(graft.operators.GlobalCdxCleanup
      .streamingLine(dayLimit = 0)(Iterator(nonWarc)).isEmpty)
  }

  test("cleanup keeps a 502 row whose filename is NULL ('-') — the " +
      "liveError predicate must coalesce, not NULL-drop") {
    val line = "org,x)/p 20120101000000 http://x.org/p text/html 502 " +
      "DIGEST - - 10 100 -"
    assert(graft.operators.GlobalCdxCleanup.filters(cdxDf(line)).count() == 1)
    assert(graft.operators.GlobalCdxCleanup
      .streamingLine(dayLimit = 0)(Iterator(line)).size == 1)
  }

  test("cleanup survives a '-' timestamp (parses to null): day bucket '-', " +
      "no NPE, both surfaces") {
    val line = "org,x)/p - http://x.org/p text/html 200 " +
      "DIGEST - - 10 100 crawl/w.warc.gz"
    // full pipeline incl. the pre-cap mapPartitions and the window
    assert(graft.operators.GlobalCdxCleanup(cdxDf(line), dayLimit = 2)
      .count() == 1)
    val streamed = graft.operators.GlobalCdxCleanup
      .streamingLine(dayLimit = 2)(Iterator(line, line, line, line)).toSeq
    assert(streamed.size == 3) // dayLimit 2 admits 3, under the '-' day
  }

  test("streamed cleanup keeps byte order when cutting digests inverts " +
      "two lines of one urlkey and timestamp") {
    def line(key: String, digest: String, size: Int) =
      s"org,x)/$key 20120101000000 http://x.org/$key text/html 200 " +
        s"$digest - - $size 100 crawl/w.warc.gz"
    val in = Seq(line("p", "ABCA", 300), line("p", "ABCZ", 200),
      line("q", "ABCA", 300))
    assert(in == in.sorted(graft.util.KeyOrder))
    val out = graft.operators.GlobalCdxCleanup
      .streamingLine(dayLimit = 0)(in.iterator).toSeq
    assert(out == Seq(line("p", "ABC", 200), line("p", "ABC", 300),
      line("q", "ABC", 300)))
  }

  test("CdxFilter passes a NULL key through (it is not a dropped " +
      "pseudo-capture prefix; three-valued logic used to discard it)") {
    val df = Seq(Some("org,x)/p"), Some("dns:example.org"), None)
      .toDF("urlkey")
    val kept = graft.operators.CdxFilter(df)
      .select("urlkey").as[Option[String]].collect().toSet
    assert(kept == Set(Some("org,x)/p"), None))
  }

  test("prefixJoin honors surtList like predicate() (the doc sends large " +
      "lists — the case that needs SURT canonicalization most — to it)") {
    val df = Seq("com,example)/a", "org,other)/b").toDF("k")
    val urls = Seq("http://www.example.com/")
    val viaPredicate = PrefixFilter(df, "k", urls, surtList = true)
      .as[String].collect().toSeq
    val viaJoin = PrefixFilter.prefixJoin(df, "k", urls, surtList = true)
      .as[String].collect().toSeq
    assert(viaPredicate == Seq("com,example)/a"))
    assert(viaJoin == viaPredicate)
  }

  test("policyCol stays a flat CaseWhen: thousands of rules neither " +
      "stack-overflow the analyzer nor change longest-prefix-first wins") {
    val rules = (0 until 3000).map(i =>
      AccessControl.Rule(f"org,r$i%04d", "block")) :+
      AccessControl.Rule("org,r0001)/deep", "allow")
    val df = Seq("org,r0001)/deep/x", "org,r0001)/other", "org,free)/y")
      .toDF("urlkey")
    val kept = AccessControl.allowCaptures(df, rules)
      .select("urlkey").as[String].collect().toSet
    // longest prefix wins: the deep allow overrides its shorter block
    assert(kept == Set("org,r0001)/deep/x", "org,free)/y"))
  }

  test("negative dayLimit aborts loudly on both surfaces (it used to mean " +
      "drop-everything in batch but disabled in streaming)") {
    intercept[IllegalArgumentException] {
      graft.operators.GlobalCdxCleanup.dayCap(-1)(cdxDf(
        "org,x)/p 20120101000000 u text/html 200 D - - 10 100 f"))
    }
    intercept[IllegalArgumentException] {
      graft.operators.GlobalCdxCleanup.streamingLine(-1)(Iterator.empty)
    }
  }
}
