package graft
package gates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import GateSupport._

/** The text family: the gates that process document text. One [[Gate]] per gate.
  * [[graft.SparkEntry]] derives its registry views from these lists. */
object TextGates {

  lazy val all: Seq[Gate] = Seq(

    // ------------------------------------------------------------------
    // LLM-training-data pipeline operators (beyond-reference surface).
    // Corpus trick: derived duplicates/near-duplicates are injected with
    // deterministic arithmetic so the DuckDB oracle reproduces them.
    // ------------------------------------------------------------------

    // Exact content dedup: digest groupBy, keep-first (P5 at document
    // granularity — one hash-partitioned aggregation, map-side combinable).
    Gate("q20_doc_dedup",
      """SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 1000000, text FROM documents
        |      WHERE doc_id % 10 = 0)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val dups = d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      d.unionByName(dups)
        .groupBy(md5(col("text")).as("digest"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },

    // MinHash-LSH near-dup candidates: shingle → 6 minhashes → 3 banded
    // bucket keys → equi-join inside buckets only (never all-pairs).
    Gate("q21_minhash_lsh",
      (s"WITH corpus AS ($nearDupCorpusSql),\n" +
        """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
          |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(w)-1),
          |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
          |       FROM w WHERE len(w) >= 3),
          |pool AS (SELECT doc_id, md5('0|' || s) || md5('1|' || s) AS p FROM sh),
          |sig AS (SELECT doc_id,
          |  min(substring(p,  1, 10)) AS h0, min(substring(p, 11, 10)) AS h1,
          |  min(substring(p, 21, 10)) AS h2, min(substring(p, 31, 10)) AS h3,
          |  min(substring(p, 41, 10)) AS h4, min(substring(p, 51, 10)) AS h5
          |FROM pool GROUP BY 1),
          |bands AS (SELECT doc_id, 0 AS band, md5(h0 || h1) AS bh FROM sig
          |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
          |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig)
          |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |FROM bands a JOIN bands b
          |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""".stripMargin)) { (s, dir) =>
      graft.operators.llm.MinHashLsh(nearDupCorpus(s, dir, fan = true),
        "doc_id", "text")
    },

    // Exact n-gram Jaccard over known near-dup pairs (the verify stage
    // after LSH candidate generation) — integer counts + basis points.
    Gate("q22_ngram_jaccard",
      (s"WITH corpus AS ($nearDupCorpusSql),\n" +
        """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
          |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w)-1),
          |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
          |       FROM w WHERE len(w) >= 3),
          |orig AS (SELECT * FROM sh WHERE doc_id < 1000000 AND doc_id % 7 = 0),
          |var AS (SELECT doc_id - 1000000 AS doc_id, s FROM sh WHERE doc_id >= 1000000),
          |na AS (SELECT doc_id, count(*) AS n_a FROM orig GROUP BY 1),
          |nb AS (SELECT doc_id, count(*) AS n_b FROM var GROUP BY 1),
          |c AS (SELECT o.doc_id, count(*) AS common FROM orig o
          |      JOIN var v ON o.doc_id = v.doc_id AND o.s = v.s GROUP BY 1)
          |SELECT na.doc_id AS doc_a, na.doc_id + 1000000 AS doc_b, common,
          |  n_a + n_b - common AS union_cnt,
          |  (common * 10000) // (n_a + n_b - common) AS jaccard_bp
          |FROM na JOIN nb ON na.doc_id = nb.doc_id
          |JOIN c ON na.doc_id = c.doc_id""".stripMargin)) { (s, dir) =>
      // Single-pass set algebra: ONE shingle scan, flags folded in the
      // (doc, shingle) aggregation (which also dedups — no separate
      // distinct), set sizes in a second aggregation. Two shuffles total;
      // the naive two-sided self-join recomputes the shingle lineage four
      // times and shuffles six. `common > 0` reproduces the inner-join
      // semantics (a pair appears iff the sides share ≥ 1 shingle).
      val sh = graft.operators.llm.Shingles
        .explodeShingles(nearDupCorpus(s, dir), "doc_id", "text", 3)
        .where(col("doc_id") >= 1000000L ||
          (col("doc_id") % 7 === 0 && col("doc_id") < 1000000L))
      val flagged = sh.select(
        when(col("doc_id") >= 1000000L, col("doc_id") - 1000000L)
          .otherwise(col("doc_id")).as("doc_id"),
        col("shingle"),
        when(col("doc_id") < 1000000L, 1L).otherwise(0L).as("in_a"),
        when(col("doc_id") >= 1000000L, 1L).otherwise(0L).as("in_b"))
      flagged.groupBy(col("doc_id"), col("shingle"))
        .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("in_a")).as("n_a"), sum(col("in_b")).as("n_b"),
          sum(col("in_a") * col("in_b")).as("common"))
        .where(col("common") > 0)
        .select(col("doc_id").as("doc_a"),
          (col("doc_id") + 1000000L).as("doc_b"),
          col("common"),
          (col("n_a") + col("n_b") - col("common")).as("union_cnt"),
          expr("CAST(common * 10000 DIV (n_a + n_b - common) AS BIGINT)")
            .as("jaccard_bp"))
    },

    // SimHash 32-bit fingerprint — single agg pass, ±1 nibble-bit votes.
    // fanOut: one md5 per word of every document is exactly the
    // hash-heavy map profile that buys back the fan-out shuffle.
    Gate("q23_simhash", simhashSql) { (s, dir) =>
      graft.operators.llm.SimHash(
        fanOut(tbl(s, dir, "documents").select(col("doc_id"), col("text"))),
        "doc_id", "text")
    },

    // Text analysis: per-(lang, source) doc/char/token stats. The token
    // count is PROJECTED once per row before the aggregation — sum() and
    // max() each evaluate their own expression tree, so referencing the
    // split from both would tokenize every document twice.
    Gate("q26_text_stats",
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(max(len(string_split(text, ' '))) AS INTEGER) AS max_tokens
        |FROM documents GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val toks = graft.operators.llm.TextAnalysis.tokenCount(col("text"))
      tbl(s, dir, "documents")
        .select(col("lang"), col("source"), col("n_chars"), toks.as("__t"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("__t")).as("sum_tokens"),
          max(col("__t")).as("max_tokens"))
    },

    // Language-ID heuristic shape: marker-token frequency argmax vs the
    // metadata lang label (the synthetic vocab is language-free, so the
    // markers are vocab words; the operator is the scoring pipeline).
    Gate("q27_langid",
      """WITH t AS (SELECT lang,
        |  len(list_filter(string_split(text, ' '), x -> x = 'the')) AS c1,
        |  len(list_filter(string_split(text, ' '), x -> x = 'value')) AS c2,
        |  len(list_filter(string_split(text, ' '), x -> x = 'table')) AS c3
        |FROM documents)
        |SELECT lang,
        |  CASE WHEN c1 >= greatest(c2, c3) THEN 'the'
        |       WHEN c2 >= c3 THEN 'value' ELSE 'table' END AS top_marker,
        |  count(*) AS n
        |FROM t GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.operators.llm.TextAnalysis.countToken
      val c1 = countToken(col("text"), "the")
      val c2 = countToken(col("text"), "value")
      val c3 = countToken(col("text"), "table")
      val pred = when(c1 >= greatest(c2, c3), lit("the"))
        .when(c2 >= c3, lit("value")).otherwise(lit("table"))
      tbl(s, dir, "documents")
        .select(col("lang"), pred.as("top_marker"))
        .groupBy(col("lang"), col("top_marker"))
        .agg(count(lit(1)).as("n"))
    },

    // Quality scoring: integer features + stopword-rate basis points.
    Gate("q28_quality",
      """WITH t AS (SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x = 'the'))
        |     + len(list_filter(string_split(text, ' '), x -> x = 'a'))
        |     + len(list_filter(string_split(text, ' '), x -> x = 'and'))
        |    AS INTEGER) AS n_stop
        |FROM documents)
        |SELECT doc_id, n_tokens, n_stop,
        |  CAST((CAST(n_stop AS BIGINT) * 10000) // n_tokens AS BIGINT) AS score_bp,
        |  n_chars >= 100 AND n_chars <= 2000
        |    AND (CAST(n_stop AS BIGINT) * 10000) // n_tokens > 0 AS keep
        |FROM t""".stripMargin) { (s, dir) =>
      import graft.operators.llm.TextAnalysis.{countToken, tokenCount}
      val stop = countToken(col("text"), "the") +
        countToken(col("text"), "a") + countToken(col("text"), "and")
      tbl(s, dir, "documents")
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"),
          stop.as("n_stop"), col("n_chars"))
        .withColumn("score_bp",
          expr("CAST(CAST(n_stop AS BIGINT) * 10000 DIV n_tokens AS BIGINT)"))
        .withColumn("keep",
          col("n_chars").between(100, 2000) && col("score_bp") > 0)
        .select(col("doc_id"), col("n_tokens"), col("n_stop"),
          col("score_bp"), col("keep"))
    },

    // Winnowing-style content-defined fingerprint (1/16 gram sample).
    // fanOut KEYED on doc_id: fingerprint's collect_set partials do not
    // shrink the shuffle, so eliding the agg exchange wins here (measured
    // -24%) — unlike the signature pipelines, where it loses to doc-length
    // skew (see nearDupCorpus).
    Gate("q29_fingerprint",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w)-2),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
        |       FROM w WHERE len(w) >= 4),
        |h AS (SELECT doc_id, md5(s) AS hh FROM sh)
        |SELECT doc_id,
        |  md5(array_to_string(list_sort(list(hh)), ',')) AS fingerprint,
        |  count(*) AS n_sampled
        |FROM h WHERE substr(hh, 1, 1) = '0' GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.operators.llm.TextAnalysis.fingerprint(
        fanOut(tbl(s, dir, "documents").select(col("doc_id"), col("text")),
          col("doc_id")),
        "doc_id", "text")
    },

    // Token counting two ways: whitespace tokens + a BPE-ish regex
    // (letter runs / digit runs / single punctuation).
    Gate("q37_token_count",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |    AS INTEGER) AS n_bpe_tokens
        |FROM documents""".stripMargin) { (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).as("n_ws_tokens"),
          size(expr(
            "regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .as("n_bpe_tokens"))
    },

    // PII scrubbing: deterministic synthesized PII appended to each doc,
    // scrubbed map-side; emails and 6+-digit runs are counted before the
    // scrub so the oracle checks both detection and replacement. The
    // scrub + both counts are ONE fused expression evaluation per row
    // (PiiScrubExpression) — the round-8 shape ran four regex passes
    // over the same column; CollapseProject leaves the two-step
    // projection alone (the struct expr is non-cheap and multiply
    // referenced), so the plan evaluates it once.
    Gate("q47_pii_scrub",
      """WITH t AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com ref 1234567'
        |      || doc_id || ' tel 555123' AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(dirty,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS clean,
        |  CAST(len(regexp_extract_all(dirty,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(dirty, '[0-9]{6,}')) AS INTEGER) AS n_numbers
        |FROM t""".stripMargin) { (s, dir) =>
      import graft.operators.llm.TextAnalysis
      val dirty = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com ref 1234567"), col("doc_id"), lit(" tel 555123"))
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.scrubPiiAll(dirty).as("__pii"))
        .select(col("doc_id"),
          col("__pii.clean").as("clean"),
          col("__pii.n_emails").as("n_emails"),
          col("__pii.n_numbers").as("n_numbers"))
    },

    // Repetition scoring: word-bigram distinct/total ratio, entirely
    // map-side (staged array projections, no explode); looped text scores
    // high.
    Gate("q48_repetition",
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0 THEN text || ' ' || text ELSE text END AS tx
        |  FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(string_split(tx, ' ')) >= 2
        |    THEN list_transform(range(1, len(string_split(tx, ' '))),
        |      i -> string_split(tx, ' ')[i] || ' ' || string_split(tx, ' ')[i+1])
        |    ELSE [] END AS grams FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(grams) > 0
        |    THEN 10000 - CAST(len(list_distinct(grams)) AS BIGINT) * 10000 // len(grams)
        |    ELSE NULL END AS rep_bp,
        |  CAST(len(grams) AS INTEGER) AS n_grams
        |FROM g""".stripMargin) { (s, dir) =>
      val looped = when(col("doc_id") % 9 === 0,
        concat(col("text"), lit(" "), col("text"))).otherwise(col("text"))
      graft.operators.llm.TextAnalysis.repetitionScore(
        tbl(s, dir, "documents").select(col("doc_id"), looped.as("__t")),
        "doc_id", "__t", k = 2)
    },

    // Dedup clustering: LSH candidate pairs → connected components
    // (min-label propagation to fixpoint; one join + one agg per
    // iteration, no all-pairs, no driver-side graph) — each near-dup
    // component's canonical doc is its min id.
    Gate("q52_neardup_components",
      (s"WITH RECURSIVE corpus AS ($nearDupCorpusSql),\n" +
        """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
          |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(w)-1),
          |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
          |       FROM w WHERE len(w) >= 3),
          |pool AS (SELECT doc_id, md5('0|' || s) || md5('1|' || s) AS p FROM sh),
          |sig AS (SELECT doc_id,
          |  min(substring(p,  1, 10)) AS h0, min(substring(p, 11, 10)) AS h1,
          |  min(substring(p, 21, 10)) AS h2, min(substring(p, 31, 10)) AS h3,
          |  min(substring(p, 41, 10)) AS h4, min(substring(p, 51, 10)) AS h5
          |FROM pool GROUP BY 1),
          |bands AS (SELECT doc_id, 0 AS band, md5(h0 || h1) AS bh FROM sig
          |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
          |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig),
          |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          |  UNION ALL SELECT doc_b, doc_a FROM pairs),
          |reach AS (SELECT a AS node, a AS r FROM edges
          |  UNION SELECT e.b AS node, reach.r FROM reach
          |    JOIN edges e ON e.a = reach.node)
          |SELECT node AS doc_id, min(r) AS component
          |FROM reach GROUP BY 1""".stripMargin)) { (s, dir) =>
      val pairs = graft.operators.llm.MinHashLsh(
        nearDupCorpus(s, dir, fan = true), "doc_id", "text")
      // a few thousand edges at this scale: CC's union-find endgame
      graft.operators.llm.ConnectedComponents(pairs, "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("component"))
    },

    // Deterministic train/val/test split: assignment is a pure function
    // of (salt, doc_id) via md5-prefix ranges — reproducible across
    // engines and stable when the corpus grows; pure map-side.
    Gate("q53_hash_split",
      """WITH s AS (SELECT doc_id, n_chars,
        |  CASE WHEN substr(md5('graft|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
        |         THEN 'train'
        |       WHEN substr(md5('graft|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc
        |FROM s GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.operators.llm.Sampling.hashSplit(
        tbl(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", salt = "graft",
        bounds = Seq("train" -> "cc", "val" -> "e6"),
        defaultLabel = "test")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"))
    },

    // Corpus vocabulary: top-50 tokens by document frequency (then total
    // occurrences, then token) — the df/tf table behind vocab building
    // and IDF weighting.
    Gate("q56_vocab",
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |per_doc AS (SELECT token, doc_id, count(*) AS n FROM toks
        |  WHERE token <> '' GROUP BY 1, 2)
        |SELECT token, count(*) AS doc_freq,
        |  CAST(sum(n) AS BIGINT) AS term_freq
        |FROM per_doc GROUP BY 1
        |ORDER BY doc_freq DESC, term_freq DESC, token LIMIT 50""".stripMargin) { (s, dir) =>
      graft.operators.llm.TextAnalysis.vocabTopK(
        tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", k = 50)
    },

    // Exact per-group quantiles of doc length — corpus length profiling
    // (the filter-threshold picker for q28-style quality gates). Exact
    // `percentile` aggregates per-group value COUNTS (map-side combined),
    // so memory tracks distinct lengths per group, not rows; interpolated
    // values are scaled x10 to integers (p50/p90 fractions have one
    // decimal digit) so the cross-engine compare is integer-exact.
    Gate("q58_quantiles",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  CAST(round(quantile_cont(n_chars, 0.5) * 10) AS BIGINT) AS p50_x10,
        |  CAST(round(quantile_cont(n_chars, 0.9) * 10) AS BIGINT) AS p90_x10
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      tbl(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"),
          round(expr("percentile(n_chars, 0.5)") * 10).cast("long")
            .as("p50_x10"),
          round(expr("percentile(n_chars, 0.9)") * 10).cast("long")
            .as("p90_x10"))
    },

    // BPE-style pre-tokenization count vs whitespace count per doc — the
    // token-budget signal an LLM pipeline bills by; pure map-side.
    Gate("q59_bpe_tokens",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]'))
        |    AS BIGINT) AS n_bpe,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws
        |FROM documents""".stripMargin) { (s, dir) =>
      import graft.operators.llm.TextAnalysis
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"))
    },

    // Integer-exact TF-IDF weighting: ONE corpus pass — the (token, doc)
    // tf agg is localCheckpoint-materialized (raw UnsafeRow blocks,
    // context-cleaned; never the session CacheManager) and shared by the
    // broadcast df table, the derived N = countDistinct(doc) one-row
    // broadcast, and the per-doc weighted sum;
    // weight = tf * ((10000 * N) DIV df), all integers.
    Gate("q60_tfidf",
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |per_doc AS (SELECT token, doc_id, count(*) AS tf FROM toks
        |  WHERE token <> '' GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS dfreq FROM per_doc GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM per_doc)
        |SELECT doc_id, count(*) AS n_distinct_tokens,
        |  CAST(sum(tf * ((10000 * n.n) // dfreq)) AS BIGINT) AS tfidf
        |FROM per_doc JOIN dfq USING (token) CROSS JOIN n
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.operators.llm.TextAnalysis.tfIdf(
        tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text")
    },

    // Stratified deterministic sampling: per-language keep rates as a
    // pure map-side filter — downsample the dominant language, keep the
    // rare ones, reproducibly (pure function of salt + doc_id).
    Gate("q61_stratified_sample",
      """WITH s AS (SELECT lang, doc_id,
        |    substr(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 2) AS p,
        |    CASE lang WHEN 'en' THEN 'cc' WHEN 'de' THEN '66'
        |      ELSE '1a' END AS bound
        |  FROM documents)
        |SELECT lang, count(*) AS n_kept, min(doc_id) AS min_doc
        |FROM s WHERE p < bound GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.operators.llm.Sampling.stratifiedHashSample(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", salt = "strat",
        rates = Seq("en" -> "cc", "de" -> "66"), defaultBound = "1a")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_doc"))
    },

    // Connected components at ADVERSARIAL depth: a single 128-node chain
    // (doc_id i — i+1), the worst case for plain min-label propagation
    // (O(diameter) = 127 iterations > maxIter) — solvable only by the
    // pointer-doubling path (`shortcut = true`, two jumps per round —
    // measured 5 rounds).
    // q52 exercises the shallow LSH graph; this row pins the deep one.
    // Gaps in doc_id (if any) split the chain into runs; the oracle's
    // islands formulation reproduces exactly that.
    Gate("q68_cc_chain",
      // islands-and-gaps over doc_id < 128: nodes of each consecutive run
      // label with the run's min; single-node runs are singletons (no edge)
      // and are excluded, matching CC's pairs-only node set
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents
        |           WHERE CAST(doc_id AS BIGINT) < 128),
        |g AS (SELECT id, id - row_number() OVER (ORDER BY id) AS grp FROM d)
        |SELECT id AS doc_id,
        |  CAST(min(id) OVER (PARTITION BY grp) AS BIGINT) AS component
        |FROM g
        |QUALIFY count(*) OVER (PARTITION BY grp) > 1""".stripMargin) { (s, dir) =>
      val d = tbl(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .where(col("doc_id") < 128)
      val pairs = d
        .select((col("doc_id") - 1).as("doc_a"), col("doc_id").as("doc_b"))
        .join(d.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      // same scoped shape as q52: the fixpoint executes eagerly, label
      // tables are hundreds of rows — size the shuffle to the data and
      // skip AQE's per-iteration re-planning jobs
      withScopedConf(s,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "1") {
        // A 127-edge graph takes CC's union-find endgame, so these
        // pointer-doubling knobs (4 jumps/round + broadcast jump tables,
        // 3 rounds for depth 128) only run past its edge limit; the
        // depth-equality tests in LlmOpsSpec pin that path.
        graft.operators.llm.ConnectedComponents(pairs, "doc_a", "doc_b",
          maxIter = 40, shortcut = true, jumpsPerRound = 4,
          broadcastJumpTable = true)
          .select(col("node").as("doc_id"), col("component"))
      }
    },

    // The flagship LLM-curation pipeline END TO END under one oracle:
    // corpus → MinHash-LSH candidates → connected components → keep one
    // canonical doc per near-dup cluster (the component's min id) plus
    // every singleton. This is the query a 100 TB dedup run actually
    // issues; q21/q52 pin its stages, this row pins the composition.
    Gate("q69_dedup_keep",
      // q52's component CTE + the keep rule: drop every node whose
      // component label is not its own id; singletons never enter the
      // pair graph and survive by absence
      (s"WITH RECURSIVE corpus AS ($nearDupCorpusSql),\n" +
        """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
          |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(w)-1),
          |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
          |       FROM w WHERE len(w) >= 3),
          |pool AS (SELECT doc_id, md5('0|' || s) || md5('1|' || s) AS p FROM sh),
          |sig AS (SELECT doc_id,
          |  min(substring(p,  1, 10)) AS h0, min(substring(p, 11, 10)) AS h1,
          |  min(substring(p, 21, 10)) AS h2, min(substring(p, 31, 10)) AS h3,
          |  min(substring(p, 41, 10)) AS h4, min(substring(p, 51, 10)) AS h5
          |FROM pool GROUP BY 1),
          |bands AS (SELECT doc_id, 0 AS band, md5(h0 || h1) AS bh FROM sig
          |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
          |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig),
          |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          |  UNION ALL SELECT doc_b, doc_a FROM pairs),
          |reach AS (SELECT a AS node, a AS r FROM edges
          |  UNION SELECT e.b AS node, reach.r FROM reach
          |    JOIN edges e ON e.a = reach.node),
          |cc AS (SELECT node, min(r) AS component FROM reach GROUP BY 1)
          |SELECT c.doc_id FROM corpus c
          |WHERE c.doc_id NOT IN
          |  (SELECT node FROM cc WHERE node != component)""".stripMargin)) { (s, dir) =>
      val corpus = nearDupCorpus(s, dir, fan = true)
      val pairs = graft.operators.llm.MinHashLsh(corpus, "doc_id", "text")
      val cc = graft.operators.llm.ConnectedComponents(pairs, "doc_a", "doc_b")
      val nonCanonical = cc.where(col("node") =!= col("component"))
        .select(col("node").as("doc_id"))
      corpus.select(col("doc_id"))
        .join(nonCanonical, Seq("doc_id"), "left_anti")
    },

    // Benchmark decontamination under the oracle: an eval set (every
    // 97th doc) is checked against a corpus that contains both the
    // originals and planted contaminated variants (eval text + a
    // trailing canary — all the original's 8-grams survive); per-doc
    // distinct shared-8-gram counts must match DuckDB's recomputation.
    // The eval gram set broadcasts; the corpus side never shuffles its
    // gram explosion.
    Gate("q72_decontaminate",
      // 8-gram construction mirrors the native wordGrams rule: grams of a
      // doc with n (space-split, empties kept) words = n-7 windows
      """WITH corpus AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 3000000,
        |         text || ' trailing decontam canary'
        |  FROM documents WHERE CAST(doc_id AS BIGINT) % 97 = 0),
        |cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |cg AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |         ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7])) AS shingle
        |  FROM cw WHERE len(w) >= 8),
        |ew AS (SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE CAST(doc_id AS BIGINT) % 97 = 0),
        |eg AS (SELECT DISTINCT unnest(list_transform(range(1, len(w) - 6),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |         ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7])) AS shingle
        |  FROM ew WHERE len(w) >= 8)
        |SELECT doc_id, count(DISTINCT shingle) AS n_hits
        |FROM cg JOIN eg USING (shingle) GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val evalSet = docs.where(col("doc_id") % 97 === 0)
      val corpus = docs.unionByName(
        evalSet.select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" trailing decontam canary")).as("text")))
      // no fanOut: measured neutral here — the gram explosion feeds a
      // broadcast hash join whose map side is cheap enough that the
      // fan-out shuffle buys nothing back (unlike q21/q23's md5 work)
      graft.operators.llm.TextAnalysis.contaminationHits(
        corpus, "doc_id", "text", evalSet, "text", k = 8)
    },

    // Budget-driven mixture sampling (data mixing): per-language keep
    // rates DERIVED from observed sizes vs row budgets — cap English,
    // keep German whole (budget > stratum), drop Chinese, default-cap
    // the rest. sum(doc_id) pins the exact kept row set, not just its
    // size. One tiny count agg broadcast back; the corpus never
    // shuffles.
    Gate("q75_budget_mixture",
      """WITH n AS (SELECT lang, count(*) AS nn FROM documents GROUP BY 1),
        |k AS (SELECT d.doc_id, d.lang, n.nn,
        |    CASE d.lang WHEN 'en' THEN 500 WHEN 'de' THEN 100000
        |      WHEN 'zh' THEN 0 ELSE 300 END AS b
        |  FROM documents d JOIN n USING (lang))
        |SELECT lang, count(*) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM k
        |WHERE substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE WHEN b >= nn THEN 'g'
        |       ELSE printf('%04x', CAST((b * 65536) // nn AS INTEGER)) END
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.operators.llm.Sampling.budgetSample(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", salt = "mix",
        budgets = Seq("en" -> 500L, "de" -> 100000L, "zh" -> 0L),
        defaultBudget = 300L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
    },

    // Sequence packing (concatenate-then-chunk): every doc assigned to
    // the 4096-token training sequence its first token lands in, via an
    // exact global prefix sum done scale-properly (range partition +
    // per-partition totals + map-side offsets — never a one-partition
    // window). Aggregated per sequence; sum(global_start) pins the
    // exact prefix sums, not just the chunk assignment.
    Gate("q76_sequence_pack",
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |p AS (SELECT doc_id,
        |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS global_start
        |  FROM t)
        |SELECT global_start // 4096 AS seq_id, count(*) AS n_docs,
        |  min(doc_id) AS first_doc,
        |  CAST(sum(global_start) AS BIGINT) AS sum_starts
        |FROM p GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.operators.llm.{Packing, TextAnalysis}
      Packing.byTokenBudget(
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok")),
        "doc_id", "n_tok", budget = 4096L)
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"),
          sum(col("global_start")).as("sum_starts"))
    },

    // C4-style line-level exact dedup: docs cut into 10-word chunks,
    // every chunk occurrence after its global-first (by (doc, pos)) is
    // dropped corpus-wide, docs reassembled from surviving chunks —
    // fully-duplicated docs vanish. Two map-side-combinable shuffles
    // (min-key keep-first, per-doc regroup); never a window, never a
    // join back. clean_md5 pins the exact reassembled text.
    Gate("q77_chunk_dedup",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |    array_to_string(w[i*10+1 : i*10+10], ' ') AS chunk
        |  FROM t, LATERAL (SELECT unnest(range((len(w)+9)//10)) AS i) u),
        |k AS (SELECT chunk, min(doc_id*4294967296 + chunk_idx) AS kk
        |  FROM c GROUP BY 1)
        |SELECT kk // 4294967296 AS doc_id, count(*) AS n_kept,
        |  md5(string_agg(chunk, ' ' ORDER BY kk % 4294967296)) AS clean_md5
        |FROM k GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.operators.llm.TextAnalysis.chunkDedup(
        tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", chunkWords = 10)
        .select(col("doc_id"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
    },

    // Deterministic corpus shuffle + sharding (training order): rows
    // totally ordered by (md5(salt|id), id), exact global rank via
    // range-partition + per-partition counts + map-side offsets (never
    // a one-partition window), cut into 64-row shards. perm_check =
    // sum(rank * doc_id) pins the exact permutation, not just shard
    // sizes.
    Gate("q78_shuffle_shard",
      """WITH r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY
        |      md5('ord|' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rnk
        |  FROM documents)
        |SELECT rnk // 64 AS shard, count(*) AS n_docs,
        |  min(rnk) AS first_rank,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(rnk * doc_id) AS BIGINT) AS perm_check
        |FROM r GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.operators.llm.Sampling.deterministicShard(
        tbl(s, dir, "documents").select(col("doc_id")),
        "doc_id", salt = "ord", shardSize = 64L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("rank")).as("first_rank"),
          sum(col("doc_id")).as("sum_ids"),
          sum(expr("`rank` * doc_id")).as("perm_check"))
    },

    // Exact deterministic per-source cap (per-domain cap of web-corpus
    // curation): each source keeps exactly min(17, |source|) docs, the
    // first 17 in salted-hash order, via distributed selection — bucket
    // counts + per-stratum cutoff; only the cutoff bucket's rows ever
    // enter a window. sum_ids pins the exact kept set.
    Gate("q79_stratum_cap",
      """WITH r AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM r WHERE rn <= 17 GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.operators.llm.Sampling.capPerStratum(
        tbl(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", salt = "cap", cap = 17L, prefixLen = 2)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("sum_ids"))
    },

    // Exact heavy hitters over the token stream without shuffling the
    // tail: per-partition Misra-Gries candidate summaries (<= k-1 rows
    // each), then ONE exact aggregation where non-candidates collapse
    // into a NULL group. k=40 → every token above 2.5% corpus share.
    Gate("q82_heavy_hitters",
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS v
        |  FROM documents),
        |tok AS (SELECT v FROM t WHERE v <> ''),
        |tot AS (SELECT count(*) AS total FROM tok)
        |SELECT v AS value, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST((10000 * count(*)) // total AS BIGINT) AS share_bp
        |FROM tok, tot GROUP BY v, total
        |HAVING count(*) * 40 > total""".stripMargin) { (s, dir) =>
      val toks = tbl(s, dir, "documents")
        .select(explode(graft.operators.llm.Shingles.words(col("text")))
          .as("token"))
        .where(col("token") =!= "")
      graft.operators.Sketches.heavyHitters(toks, "token", k = 40)
    },

    // Gopher-style quality rules as one map-side projection; word-count
    // bounds tightened to [30, 80] so the synthetic corpus (10–99 words
    // per doc) exercises both outcomes of the filter.
    Gate("q83_gopher_quality",
      """WITH base AS (SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(COALESCE(list_sum(list_transform(w, x -> len(x))), 0)
        |      AS BIGINT) AS sum_len,
        |    CAST(len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
        |      AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(['the','a','of','to','and','in'],
        |      s -> list_contains(w, s))) AS BIGINT) AS n_stop
        |  FROM base),
        |r AS (SELECT doc_id, n_words,
        |    CASE WHEN n_words > 0 THEN (10 * sum_len) // n_words END
        |      AS mean_word_len_x10,
        |    CASE WHEN n_words > 0 THEN (10000 * n_sym) // n_words END
        |      AS symbol_bp,
        |    CASE WHEN n_words > 0 THEN (10000 * n_alpha) // n_words END
        |      AS alpha_bp,
        |    n_stop
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len_x10, symbol_bp, alpha_bp,
        |  n_stop,
        |  (n_words BETWEEN 30 AND 80)
        |    AND (mean_word_len_x10 BETWEEN 30 AND 100)
        |    AND symbol_bp <= 1000 AND alpha_bp >= 8000 AND n_stop >= 2
        |    AS passes
        |FROM r""".stripMargin) { (s, dir) =>
      graft.operators.llm.TextAnalysis.gopherQuality(
        tbl(s, dir, "documents"), "doc_id", "text",
        minWords = 30, maxWords = 80)
    },

    // Duplicate-text fraction: share of each doc's overlapping 8-gram
    // occurrences whose gram appears in >= 2 distinct documents.
    Gate("q84_dup_fraction",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, md5(array_to_string(ws[i:i+7], ' ')) AS h
        |  FROM w, UNNEST(range(1, len(ws) - 6)) AS t(i)
        |  WHERE len(ws) >= 8),
        |per AS (SELECT doc_id, h, count(*) AS occ FROM g GROUP BY 1, 2),
        |nd AS (SELECT h, count(*) AS ndocs FROM per GROUP BY 1)
        |SELECT per.doc_id,
        |  CAST(sum(occ) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN ndocs >= 2 THEN occ ELSE 0 END) AS BIGINT)
        |    AS dup_grams,
        |  CAST((10000 * sum(CASE WHEN ndocs >= 2 THEN occ ELSE 0 END))
        |    // sum(occ) AS BIGINT) AS dup_bp
        |FROM per JOIN nd USING (h) GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.operators.llm.TextAnalysis.dupGramFraction(
        tbl(s, dir, "documents"), "doc_id", "text", k = 8)
    },

    // DSIR-style importance scoring: hashed-unigram probability-ratio
    // weights (target = the English subset) summed per corpus doc.
    Gate("q85_dsir",
      """WITH ct AS (SELECT doc_id, substr(md5(t), 1, 2) AS b
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents) WHERE t <> ''),
        |tt AS (SELECT substr(md5(t), 1, 2) AS b
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t
        |        FROM documents WHERE lang = 'en') WHERE t <> ''),
        |cb AS (SELECT b, count(*) AS cnt_c FROM ct GROUP BY 1),
        |tb AS (SELECT b, count(*) AS cnt_t FROM tt GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM ct) AS total_c,
        |               (SELECT count(*) FROM tt) AS total_t),
        |wt AS (SELECT cb.b,
        |    ((COALESCE(cnt_t, 0) + 1) * (total_c + 256) * 10000) //
        |    ((cnt_c + 1) * (total_t + 256)) AS w
        |  FROM cb LEFT JOIN tb ON cb.b = tb.b, tot)
        |SELECT ct.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(w) AS BIGINT) AS score,
        |  CAST(sum(w) // count(*) AS BIGINT) AS avg_bp
        |FROM ct JOIN wt ON ct.b = wt.b GROUP BY 1""".stripMargin) { (s, dir) =>
      // NO fanOut here (A/B'd: 0.68 -> 0.85 s — docs is consumed twice,
      // corpus + target side, so the fan-out exchange outweighs the
      // parallelism; q108's single-consumer lineage is the shape where
      // it wins)
      val docs = tbl(s, dir, "documents")
      graft.operators.llm.TextAnalysis.dsirScore(
        docs, "doc_id", "text",
        docs.where(col("lang") === "en"), "text")
    },

    // End-to-end curation pipeline as ONE composed query — the corpus
    // assembly a training run actually performs: Gopher quality gate
    // (map-side, filtered inline via keepCols — no join back), exact
    // content dedup (keep-min-id per digest, a single struct-min agg —
    // the winner rows ARE the agg output), budget-driven language
    // mixture (count broadcast, corpus never shuffles), and sequence
    // packing at a 2048-token budget (distributed prefix sum). Output:
    // per-training-sequence stats.
    Gate("q86_curation_pipeline",
      """WITH base AS (SELECT doc_id, text, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |m AS (SELECT doc_id, text, lang,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(COALESCE(list_sum(list_transform(w, x -> len(x))), 0)
        |      AS BIGINT) AS sum_len,
        |    CAST(len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
        |      AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(['the','a','of','to','and','in'],
        |      s -> list_contains(w, s))) AS BIGINT) AS n_stop
        |  FROM base),
        |pass AS (SELECT doc_id, text, lang FROM m
        |  WHERE n_words BETWEEN 30 AND 80
        |    AND (10 * sum_len) // n_words BETWEEN 30 AND 100
        |    AND (10000 * n_sym) // n_words <= 1000
        |    AND (10000 * n_alpha) // n_words >= 8000
        |    AND n_stop >= 2),
        |c AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5(text) AS dg FROM pass),
        |win AS (SELECT min(doc_id) AS doc_id FROM c GROUP BY dg),
        |wr AS (SELECT c.doc_id, c.lang, c.n_tok FROM c JOIN win USING (doc_id)),
        |n AS (SELECT lang, count(*) AS nn FROM wr GROUP BY 1),
        |mixed AS (SELECT wr.doc_id, wr.n_tok FROM wr JOIN n USING (lang)
        |  WHERE substr(md5('cur|' || CAST(doc_id AS VARCHAR)), 1, 4) <
        |    CASE WHEN (CASE lang WHEN 'en' THEN 120 ELSE 60 END) >= nn
        |      THEN 'g'
        |      ELSE printf('%04x',
        |        CAST(((CASE lang WHEN 'en' THEN 120 ELSE 60 END) * 65536)
        |          // nn AS INTEGER)) END),
        |p AS (SELECT doc_id, n_tok,
        |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS gs
        |  FROM mixed)
        |SELECT gs // 2048 AS seq_id, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens, min(doc_id) AS first_doc
        |FROM p GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val clean = graft.operators.llm.TextAnalysis.gopherQuality(
        docs, "doc_id", "text", minWords = 30, maxWords = 80,
        keepCols = Seq("text", "lang"))
        .where(col("passes"))
        .select(col("doc_id"), col("lang"),
          graft.operators.llm.TextAnalysis.tokenCount(col("text"))
            .cast("long").as("n_tok"),
          md5(col("text")).as("__d"))
      val winners = clean.groupBy(col("__d"))
        .agg(min(struct(col("doc_id"), col("lang"), col("n_tok"))).as("__w"))
        .select(col("__w.doc_id").as("doc_id"),
          col("__w.lang").as("lang"), col("__w.n_tok").as("n_tok"))
      val mixed = graft.operators.llm.Sampling.budgetSample(
        winners, "doc_id", "lang", salt = "cur",
        budgets = Seq("en" -> 120L), defaultBudget = 60L)
      // packing passes n_tok through, so the per-sequence stats read the
      // packed rows alone — no join back against `mixed`, whose
      // regex-heavy quality lineage would otherwise run a second time
      val packed = graft.operators.llm.Packing.byTokenBudget(
        mixed, "doc_id", "n_tok", budget = 2048L)
      packed.groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"))
    },

    // Incremental dedup via deterministic Bloom probe: the even-doc_id
    // half plays the 100 TB historical corpus (reduced to a broadcast
    // bitset, never joined), the odd half is today's batch (probed pure
    // map-side). No false negatives by construction; fp rate is the
    // filter-sizing knob.
    Gate("q87_bloom_dedup",
      // Replays the Bloom bit positions exactly (seed-striped md5-prefix
      // indices are a bijection of these seed-tagged hex-prefix strings),
      // so hits/membership match the bitset probe bit for bit.
      """WITH hist AS (SELECT DISTINCT
        |    CAST(s.i AS VARCHAR) || ':' ||
        |      substr(md5(CAST(s.i AS VARCHAR) || ':' || md5(text)), 1, 4)
        |      AS pos
        |  FROM documents, (VALUES (0), (1), (2)) s(i) WHERE doc_id % 2 = 0),
        |newb AS (SELECT doc_id, md5(text) AS dg FROM documents
        |  WHERE doc_id % 2 = 1),
        |probes AS (SELECT doc_id,
        |    CAST(s.i AS VARCHAR) || ':' ||
        |      substr(md5(CAST(s.i AS VARCHAR) || ':' || dg), 1, 4) AS pos
        |  FROM newb, (VALUES (0), (1), (2)) s(i)),
        |hits AS (SELECT doc_id, count(*) AS h
        |  FROM probes JOIN hist USING (pos) GROUP BY 1)
        |SELECT n.doc_id, CAST(COALESCE(h, 0) AS BIGINT) AS bloom_hits,
        |  COALESCE(h, 0) = 3 AS maybe_member
        |FROM newb n LEFT JOIN hits USING (doc_id)""".stripMargin) { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val hist = docs.where(col("doc_id") % 2 === 0)
        .select(md5(col("text")).as("dg"))
      val batch = docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), md5(col("text")).as("dg"))
      graft.operators.Sketches.bloomProbe(batch, "dg", hist, "dg")
        .select(col("doc_id"), col("bloom_hits"), col("maybe_member"))
    },

    // CCNet-style fluency scoring: corpus-trained bigram LM, integer MLE
    // weights, per-doc average in basis points — the perplexity-filter
    // stage of a web-corpus pipeline, one corpus pass.
    Gate("q88_bigram_fluency",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bg
        |  FROM w, UNNEST(range(1, len(ws))) AS t(i)
        |  WHERE len(ws) >= 2),
        |per AS (SELECT doc_id, bg, count(*) AS cnt FROM g GROUP BY 1, 2),
        |cb AS (SELECT bg, string_split(bg, ' ')[1] AS w1,
        |    sum(cnt) AS cbn FROM per GROUP BY 1, 2),
        |cw AS (SELECT w1, sum(cbn) AS cwn FROM cb GROUP BY 1),
        |wt AS (SELECT bg, (10000 * cbn) // cwn AS wgt
        |  FROM cb JOIN cw USING (w1))
        |SELECT per.doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |  CAST(sum(cnt * wgt) AS BIGINT) AS score,
        |  CAST(sum(cnt * wgt) // sum(cnt) AS BIGINT) AS fluency_bp
        |FROM per JOIN wt USING (bg) GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.operators.llm.TextAnalysis.bigramFluency(
        tbl(s, dir, "documents"), "doc_id", "text")
    },

    // Exact duplicated-SPAN removal (Lee et al. 2022 substring dedup):
    // sliding 15-word grams, every non-first occurrence's span dropped
    // corpus-wide, docs reassembled minus covered words. clean_md5 pins
    // the exact surviving text of every document.
    Gate("q90_substring_dedup",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+14], ' ') AS gram
        |  FROM w, UNNEST(range(1, len(ws) - 13)) t(i)
        |  WHERE len(ws) >= 15),
        |r AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |  FROM g),
        |c AS (SELECT DISTINCT doc_id, pos + j AS cp
        |  FROM r, UNNEST(range(15)) s(j) WHERE rn > 1),
        |wo AS (SELECT doc_id, unnest(ws) AS word,
        |    generate_subscripts(ws, 1) AS p FROM w),
        |k AS (SELECT wo.doc_id, wo.word, wo.p, c.cp IS NULL AS keep
        |  FROM wo LEFT JOIN c ON wo.doc_id = c.doc_id AND wo.p = c.cp)
        |SELECT doc_id,
        |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped,
        |  md5(coalesce(string_agg(word, ' ' ORDER BY p)
        |    FILTER (WHERE keep), '')) AS clean_md5
        |FROM k GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.operators.llm.TextAnalysis.substringDedup(
        tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", k = 15)
        .select(col("doc_id"), col("n_kept").cast("long").as("n_kept"),
          col("n_dropped").cast("long").as("n_dropped"),
          md5(col("clean_text")).as("clean_md5"))
    },

    // Train-and-apply quality classifier (CCNet/fastText filter stage):
    // add-one-smoothed per-token class odds in integer basis points,
    // fitted on a deterministic source-derived label, scored over every
    // document in the same plan.
    // Two-round drift (0.281 -> 0.368 -> 0.468 s) adjudicated r14 with
    // Diag min-of-3: the r13 colocated repartition(__tok) shape itself
    // was the regression — it shuffled RAW occurrences, defeating the
    // vocab fit's map-side combine, and pinned the scoring join to a
    // colocated sort-merge over strings. The shape now declares the
    // join unhinted with no pre-partitioning: AQE broadcasts the fitted
    // vocab at this scale (0.688 -> 0.345 s same-JVM, 5 -> 4 jobs) and
    // falls back to the single token exchange when the vocab is
    // web-scale. Full A/B table in CorpusModels.nbQualityScore.
    Gate("q91_nb_quality",
      """WITH d AS (SELECT doc_id,
        |    CAST(substring(source, 4, 8) AS INT) % 2 = 0 AS pos,
        |    string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, pos, unnest(ws) AS tok FROM d),
        |vw AS (SELECT tok,
        |    (10000 * (sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1))
        |      // (count(*) + 2) AS wbp
        |  FROM t GROUP BY 1),
        |dt AS (SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  CAST(sum(cnt * wbp) // sum(cnt) AS BIGINT) AS score_bp,
        |  sum(cnt * wbp) // sum(cnt) >= 5000 AS pred
        |FROM dt JOIN vw USING (tok) GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.operators.llm.CorpusModels.nbQualityScore(
        tbl(s, dir, "documents")
          .withColumn("label",
            expr("CAST(substring(source, 4, 8) AS INT) % 2 = 0")),
        "doc_id", "text", "label")
    },

    // One BPE merge step over the corpus (Sennrich 2016): adjacent
    // character pairs weighted by word frequency, top 20 merge
    // candidates under a deterministic total order. (The full iterative
    // trainer — same aggregate, local merge loop — is bpeTrain,
    // unit-tested.)
    Gate("q93_bpe_pairs",
      """WITH wf AS (SELECT w, count(*) AS f FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 2 GROUP BY 1),
        |p AS (SELECT substring(w, i, 2) AS pair, f
        |  FROM wf, UNNEST(range(1, len(w))) t(i))
        |SELECT pair, CAST(sum(f) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      graft.operators.llm.CorpusModels.bpePairCounts(
        tbl(s, dir, "documents"), "text", topK = 20)
    },

    // Collocation mining by integer LIFT (the log-free exact order of
    // PMI): within-doc adjacent word pairs, n>=5, top 30.
    Gate("q94_collocation",
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT ws[i] AS w1, ws[i+1] AS w2
        |  FROM w, UNNEST(range(1, len(ws))) t(i) WHERE len(ws) >= 2),
        |bg AS (SELECT w1, w2, count(*) AS n_xy FROM b GROUP BY 1, 2),
        |u AS (SELECT w, count(*) AS n_w
        |  FROM (SELECT unnest(ws) AS w FROM w) GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM bg)
        |SELECT bg.w1, bg.w2, CAST(bg.n_xy AS BIGINT) AS n_xy,
        |  CAST((10000 * bg.n_xy * tot.n) // (ux.n_w * uy.n_w) AS BIGINT)
        |    AS lift_bp
        |FROM bg JOIN u ux ON bg.w1 = ux.w JOIN u uy ON bg.w2 = uy.w
        |CROSS JOIN tot
        |WHERE bg.n_xy >= 5
        |ORDER BY lift_bp DESC, w1, w2 LIMIT 30""".stripMargin) { (s, dir) =>
      graft.operators.llm.CorpusModels.collocationLift(
        tbl(s, dir, "documents"), "text", minCount = 5, topK = 30)
    },

    // Apply a trained BPE merge table (offline artifact, here a fixed
    // literal) and count tokens per doc under the learned vocab — the
    // billing signal of a training pipeline; pure map-side + one agg.
    // fanOut (r21, AbText one-JVM ABAB, 5 pairs all favoring fanned:
    // min 1.018 -> 0.844 s): the per-word regexp_replace + 12-literal
    // replace chain otherwise runs inside the single-row-group scan's
    // ONE task (guide §2.5); the fan-out exchange carries raw (id,
    // text) rows once. q88/q90 probed the same way and LOST/washed
    // (q88 min 0.656 vs 0.977 fanned — its colocated __gh exchange
    // already amortizes three consumers), so only q95 opts in.
    Gate("q95_bpe_apply", {
      // identical replace chain, generated from the same merge table
      val chain = BpeMerges.foldLeft(
        "' ' || regexp_replace(word, '(.)', ' \\1 ', 'g') || ' '") {
        case (acc, (a, b)) => s"replace($acc, ' $a  $b ', ' ${a + b} ')"
      }
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |t AS (SELECT doc_id,
         |    len(string_split(trim($chain), '  ')) AS ntok
         |  FROM w WHERE word <> '')
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  CAST((100 * sum(ntok)) // count(*) AS BIGINT) AS tokens_per_100w
         |FROM t GROUP BY 1""".stripMargin
    }) { (s, dir) =>
      graft.operators.llm.CorpusModels.bpeApply(
        fanOut(tbl(s, dir, "documents").select(col("doc_id"), col("text"))),
        "doc_id", "text", BpeMerges)
    },

    // Snapshot diff between two corpus versions (re-crawl simulation:
    // every 11th doc removed, every 7th changed, every 13th re-added
    // under a new key): one full-outer join on the primary key
    // classifies added/removed/changed/unchanged; per-status summary
    // with a key checksum pins the exact classification.
    Gate("q97_snapshot_diff",
      """WITH v1 AS (SELECT CAST(doc_id AS BIGINT) AS key, md5(text) AS fp
        |  FROM documents),
        |v2 AS (SELECT CAST(doc_id AS BIGINT) AS key,
        |    CASE WHEN doc_id % 7 = 0 THEN md5(text || ' v2')
        |         ELSE md5(text) END AS fp
        |  FROM documents WHERE doc_id % 11 <> 3
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 1000000, md5(text || ' new')
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT CASE WHEN v1.fp IS NULL THEN 'added'
        |            WHEN v2.fp IS NULL THEN 'removed'
        |            WHEN v1.fp = v2.fp THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |  count(*) AS n,
        |  CAST(sum(coalesce(v1.key, v2.key)) AS BIGINT) AS sum_keys
        |FROM v1 FULL OUTER JOIN v2 ON v1.key = v2.key
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val v1 = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      val v2 = docs.where(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            md5(concat(col("text"), lit(" v2"))))
            .otherwise(md5(col("text"))).as("fp"))
        .union(docs.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            md5(concat(col("text"), lit(" new"))).as("fp")))
      graft.operators.GraphOps.snapshotDiff(v1, v2, "doc_id", "fp")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("key")).as("sum_keys"))
    },

    // RAG/embedding chunking: 64-word windows at stride 48 (16-word
    // overlap), partial tail kept; pure map-side projection. chunk_md5
    // pins the exact text of every window.
    Gate("q98_chunk_overlap",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |    array_to_string(ws[i*48+1 : i*48+64], ' ') AS chunk
        |  FROM w, UNNEST(range((len(ws) - 1) // 48 + 1)) t(i))
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_words,
        |  md5(chunk) AS chunk_md5
        |FROM c""".stripMargin) { (s, dir) =>
      graft.operators.llm.CorpusModels.overlapChunks(
        tbl(s, dir, "documents"), "doc_id", "text",
        chunkWords = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"), col("n_words"),
          md5(col("chunk_text")).as("chunk_md5"))
    },

    // Token-distribution drift between corpus versions (v2 = every 5th
    // doc removed): smoothed per-token frequency-ratio in basis points,
    // top 25 most-drifted under a deterministic order — the per-snapshot
    // monitoring op of an evolving corpus.
    Gate("q99_token_drift",
      """WITH t1 AS (SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |t2 AS (SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id % 5 <> 0),
        |c1 AS (SELECT token, count(*) AS c_old FROM t1
        |  WHERE token <> '' GROUP BY 1),
        |c2 AS (SELECT token, count(*) AS c_new FROM t2
        |  WHERE token <> '' GROUP BY 1),
        |m AS (SELECT coalesce(c1.token, c2.token) AS token,
        |    coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
        |  FROM c1 FULL OUTER JOIN c2 ON c1.token = c2.token),
        |tot AS (SELECT sum(c_old) AS n1, sum(c_new) AS n2 FROM m),
        |r AS (SELECT token, c_old, c_new,
        |    CAST((10000 * (c_new + 1) * tot.n1)
        |      // ((c_old + 1) * tot.n2) AS BIGINT) AS ratio_bp
        |  FROM m, tot WHERE c_old + c_new >= 20)
        |SELECT token, CAST(c_old AS BIGINT) AS c_old,
        |  CAST(c_new AS BIGINT) AS c_new, ratio_bp,
        |  abs(ratio_bp - 10000) AS dev_bp
        |FROM r ORDER BY dev_bp DESC, token LIMIT 25""".stripMargin) { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      graft.operators.llm.CorpusModels.tokenDrift(
        docs, docs.where(col("doc_id") % 5 =!= 0), "text",
        minCount = 20L, topK = 25)
    },

    // Mixture epoch planning: observed per-source token counts + target
    // weights + a 2M-token budget → proportional allocations and
    // repeat-epochs (×100, capped at 4 epochs), all exact integer
    // arithmetic.
    Gate("q101_epoch_plan",
      """WITH s AS (SELECT source,
        |    count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    200 + 100 * (CAST(substring(source, 4, 8) AS INT) % 7)
        |      AS weight_bp
        |  FROM documents GROUP BY 1),
        |w AS (SELECT CAST(sum(weight_bp) AS BIGINT) AS wsum FROM s)
        |SELECT source, n_docs, n_tokens, CAST(weight_bp AS BIGINT)
        |    AS weight_bp,
        |  CAST((2000000 * weight_bp) // wsum AS BIGINT) AS target_tokens,
        |  CAST(least(400, (100 * ((2000000 * weight_bp) // wsum))
        |    // greatest(n_tokens, 1)) AS BIGINT) AS epochs_x100
        |FROM s, w""".stripMargin) { (s, dir) =>
      graft.operators.llm.Sampling.epochPlan(
        tbl(s, dir, "documents")
          .select(col("source"),
            graft.operators.llm.TextAnalysis.tokenCount(col("text"))
              .cast("long").as("n_tok")),
        "source", "n_tok",
        weightBp = expr("200 + 100 * (CAST(substring(source, 4, 8) " +
          "AS INT) % 7)"),
        budget = 2000000L)
    },

    // Edit-distance verification of near-dup candidate pairs — the
    // exact-verify stage after LSH candidates, on a bounded 120-char
    // prefix (the built-in codegen'd levenshtein, never a UDF). The
    // candidate set pairs each 7th doc with its appended-text variant
    // (true near-dups) and each 11th doc with its successor (mostly
    // unrelated).
    Gate("q102_editdist_verify",
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    substring(text, 1, 120) AS t FROM documents),
        |c AS (SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b,
        |    t AS t_a, t || ' tail' AS t_b
        |  FROM d WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT l.doc_id, r.doc_id, l.t, r.t
        |  FROM d l JOIN d r ON r.doc_id = l.doc_id + 1
        |  WHERE l.doc_id % 11 = 0)
        |SELECT doc_a, doc_b,
        |  CAST(levenshtein(t_a, t_b) AS BIGINT) AS dist,
        |  levenshtein(t_a, t_b) <= 30 AS is_dup
        |FROM c""".stripMargin) { (s, dir) =>
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          substring(col("text"), 1, 120).as("t"))
      val cands = docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("doc_a"),
          concat(col("t"), lit(" tail")).as("t_b"), col("t").as("t_a"))
        .select(col("doc_a"), (col("doc_a") + 1000000L).as("doc_b"),
          col("t_a"), col("t_b"))
        .union(docs.where(col("doc_id") % 11 === 0).as("l")
          .join(docs.as("r"), expr("r.doc_id = l.doc_id + 1"))
          .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
            col("l.t").as("t_a"), col("r.t").as("t_b")))
      cands.select(col("doc_a"), col("doc_b"),
          levenshtein(col("t_a"), col("t_b")).cast("long").as("dist"))
        .withColumn("is_dup", col("dist") <= 30)
    },

    // Per-GROUP KMV distinct sketch via a custom typed Aggregator (the
    // TypedColumn extension tier): distinct-token estimates per source,
    // the sketch living inside the hash-aggregate buffer so map-side
    // partials merge exactly (KMV union-then-truncate IS its merge).
    Gate("q103_kmv_per_group",
      """WITH t AS (SELECT DISTINCT source, tok FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |h AS (SELECT DISTINCT source, CAST(concat('0x',
        |    substring(md5(tok), 1, 12)) AS BIGINT) AS hv FROM t),
        |r AS (SELECT source, hv,
        |    row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        |  FROM h)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_mins,
        |  max(hv) AS h_k,
        |  CASE WHEN count(*) < 64 THEN CAST(count(*) AS BIGINT)
        |       ELSE CAST(63 * 281474976710656 // max(hv) AS BIGINT)
        |  END AS est_distinct
        |FROM r WHERE rn <= 64 GROUP BY 1""".stripMargin) { (s, dir) =>
      val toks = tbl(s, dir, "documents")
        .select(col("source"),
          explode(graft.operators.llm.Shingles.words(col("text")))
            .as("tok"))
        .where(col("tok") =!= "")
        .select(col("source"),
          graft.operators.Sketches.hash48Col(col("tok")).as("hv"))
      val sk = udaf(graft.operators.Sketches.kmvGroupAgg(64))
      toks.groupBy(col("source")).agg(sk(col("hv")).as("s"))
        .select(col("source"), col("s._1").as("n_mins"),
          col("s._2").as("h_k"), col("s._3").as("est_distinct"))
    },

    // Per-group bounded top-k via the typed-Aggregator tier (vs q14's
    // window form): the buffer holds <= k pairs per group, map-side
    // partials merge in O(k) — "top 3 longest docs per source" without
    // sorting whole groups.
    Gate("q105_topk_group_agg",
      """WITH r AS (SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents)
        |SELECT source, CAST(rank AS BIGINT) AS rank,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(doc_id AS BIGINT) AS doc_id
        |FROM r WHERE rank <= 3""".stripMargin) { (s, dir) =>
      val sk = udaf(graft.operators.Sketches.topKGroupAgg(3))
      tbl(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sk(col("n_chars").cast("long"),
          col("doc_id").cast("long")).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("r0", "p")))
        .select(col("source"), (col("r0") + 1).cast("long").as("rank"),
          col("p._1").as("n_chars"), col("p._2").as("doc_id"))
    },

    // DSIR data SELECTION under the oracle (the resampling stage q85's
    // dsirScore stops short of): English docs play the target
    // distribution, every other doc is the raw pool; hashed
    // unigram+bigram bucket profiles (1024 cells) give each raw doc an
    // integer target-likeness score and the top 50 are selected — the
    // curated-subset output, where q85 emits per-doc scores only.
    Gate("q108_dsir_select",
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    lang = 'en' AS tgt, string_split(text, ' ') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, tgt, unnest(ws) AS gram FROM d
        |  UNION ALL
        |  SELECT doc_id, tgt, ws[i] || ' ' || ws[i+1] AS gram
        |  FROM d, UNNEST(range(1, len(ws))) t(i) WHERE len(ws) >= 2),
        |gb AS (SELECT doc_id, tgt,
        |    CAST(concat('0x', substring(md5(gram), 1, 12)) AS BIGINT)
        |      % 1024 AS b
        |  FROM g WHERE gram <> ''),  -- bigrams always contain ' ', never ''
        |dc AS (SELECT doc_id, tgt, b, count(*) AS c FROM gb GROUP BY 1, 2, 3),
        |bt AS (SELECT b, sum(CASE WHEN tgt THEN c ELSE 0 END) AS ct,
        |    sum(CASE WHEN NOT tgt THEN c ELSE 0 END) AS cr
        |  FROM dc GROUP BY 1),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bt),
        |wt AS (SELECT b, ((ct + 1) * 10000 * (nr + 1024))
        |    // ((cr + 1) * (nt + 1024)) AS wbp FROM bt, tot),
        |sc AS (SELECT doc_id, sum(c) AS n_grams, sum(c * wbp) AS s
        |  FROM dc JOIN wt USING (b) WHERE NOT tgt GROUP BY 1)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(s // n_grams AS BIGINT) AS score_bp
        |FROM sc ORDER BY score_bp DESC, doc_id LIMIT 50""".stripMargin) { (s, dir) =>
      graft.operators.llm.Sampling.dsirSelect(
        // fanOut: the gram explosion + per-doc profile agg otherwise run
        // on the single-row-group scan's 1-2 tasks (SCALE.md caveat)
        fanOut(tbl(s, dir, "documents").select(col("doc_id"), col("text"),
          col("lang")), col("doc_id")),
        "doc_id", "text", targetPred = col("lang") === "en",
        buckets = 1024, topK = 50)
    },

    // KMV sketch SET OPERATIONS under the oracle: per-source distinct-
    // token estimates for corpus v1 (all docs) vs v2 (every 5th doc
    // removed, the q99 rule), plus union / intersection / Jaccard from
    // the two bounded sketches alone — the version-overlap monitor that
    // at 100 TB replaces an exact distinct-join.
    Gate("q109_kmv_setops",
      """WITH t1 AS (SELECT DISTINCT source,
        |    CAST(concat('0x', substring(md5(tok), 1, 12)) AS BIGINT) AS hv
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents) WHERE tok <> ''),
        |t2 AS (SELECT DISTINCT source,
        |    CAST(concat('0x', substring(md5(tok), 1, 12)) AS BIGINT) AS hv
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents WHERE CAST(doc_id AS BIGINT) % 5 <> 0)
        |  WHERE tok <> ''),
        |r1 AS (SELECT source, hv,
        |    row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        |  FROM t1),
        |r2 AS (SELECT source, hv,
        |    row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        |  FROM t2),
        |s1 AS (SELECT source, list(hv ORDER BY hv) AS ma FROM r1
        |  WHERE rn <= 64 GROUP BY 1),
        |s2 AS (SELECT source, list(hv ORDER BY hv) AS mb FROM r2
        |  WHERE rn <= 64 GROUP BY 1),
        |j AS (SELECT source, ma, mb,
        |    list_sort(list_distinct(ma || mb))[1:64] AS u
        |  FROM s1 JOIN s2 USING (source)),
        |e AS (SELECT source, ma, mb, u, len(u) AS nu,
        |    len(list_filter(u, x -> list_contains(ma, x)
        |      AND list_contains(mb, x))) AS com
        |  FROM j)
        |SELECT source,
        |  CAST(CASE WHEN len(ma) < 64 THEN len(ma)
        |    ELSE 63 * 281474976710656 // ma[len(ma)] END AS BIGINT) AS est_a,
        |  CAST(CASE WHEN len(mb) < 64 THEN len(mb)
        |    ELSE 63 * 281474976710656 // mb[len(mb)] END AS BIGINT) AS est_b,
        |  CAST(CASE WHEN nu < 64 THEN nu
        |    ELSE 63 * 281474976710656 // u[nu] END AS BIGINT) AS est_union,
        |  CAST(10000 * com // nu AS BIGINT) AS jaccard_bp,
        |  CAST(com * (CASE WHEN nu < 64 THEN nu
        |    ELSE 63 * 281474976710656 // u[nu] END) // nu AS BIGINT)
        |    AS est_intersect
        |FROM e""".stripMargin) { (s, dir) =>
      def toks(filter: Column): DataFrame =
        tbl(s, dir, "documents").where(filter)
          .select(col("source"),
            explode(graft.operators.llm.Shingles.words(col("text")))
              .as("tok"))
          .where(col("tok") =!= "")
          .select(col("source"),
            graft.operators.Sketches.hash48Col(col("tok")).as("hv"))
      graft.operators.Sketches.kmvSetOps(
        toks(lit(true)), toks(col("doc_id") % 5 =!= 0),
        "source", "hv", k = 64)
    },

    // Per-GROUP approximate quantiles via the typed-Aggregator tier —
    // the missing cell next to q74 (global approx) and q58 (per-group
    // exact): p25/p50/p99 doc length per source from a counting-KMV
    // buffer (k smallest distinct values by hash + exact counts), no
    // whole-group sort, map-side partials merge exactly.
    Gate("q111_group_quantiles",
      """WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v
        |  FROM documents),
        |dv AS (SELECT DISTINCT source, v,
        |    CAST(concat('0x', substring(md5(CAST(v AS VARCHAR)), 1, 12))
        |      AS BIGINT) AS hv FROM v),
        |rk AS (SELECT source, v,
        |    row_number() OVER (PARTITION BY source ORDER BY hv, v) AS rn
        |  FROM dv),
        |sampled AS (SELECT source, v FROM rk WHERE rn <= 64),
        |cnts AS (SELECT v.source, v.v, count(*) AS cnt
        |  FROM v JOIN sampled USING (source, v) GROUP BY 1, 2),
        |cum AS (SELECT source, v, sum(cnt) OVER (PARTITION BY source
        |      ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY source) AS total
        |  FROM cnts)
        |SELECT source,
        |  min(CASE WHEN cum * 10000 >= 2500 * total THEN v END) AS p25,
        |  min(CASE WHEN cum * 10000 >= 5000 * total THEN v END) AS p50,
        |  min(CASE WHEN cum * 10000 >= 9900 * total THEN v END) AS p99
        |FROM cum GROUP BY 1""".stripMargin) { (s, dir) =>
      val sk = udaf(graft.operators.Sketches.kmvQuantilesGroupAgg(64))
      tbl(s, dir, "documents")
        .select(col("source"), col("n_chars").cast("long").as("v"))
        .select(col("source"),
          graft.operators.Sketches.hash48Col(col("v")).as("hv"), col("v"))
        .groupBy(col("source"))
        .agg(sk(col("hv"), col("v")).as("q"))
        .select(col("source"), col("q._1").as("p25"),
          col("q._2").as("p50"), col("q._3").as("p99"))
    },

    // Integer-exact BM25 retrieval (k1=1.2, b=0.75 as exact rationals)
    // over word-BIGRAM terms: every 97th doc's first five words play
    // the query set (4 bigram terms each), the corpus is ranked per
    // query, top 5 kept. Bigram terms because the synthetic 31-word
    // vocabulary puts every UNIGRAM in ~78% of docs — unigram df
    // carries no signal there and the candidate set degenerates to
    // queries x corpus (936k rows; bigram terms average df ~285 and cut
    // it 16x — exactly why phrase-gram BM25 exists). The tf-saturation
    // fraction is cleared of division by multiplying through with
    // k1d·bd·avgdl_x100, the IDF is the log-free lift form — every DIV
    // a deterministic truncation DuckDB replays in HUGEINT.
    Gate("q114_bm25",
      // BM25 constants as literals: k1=12/10 -> (k1n+k1d)=22, k1d*bd=40;
      // b=3/4 -> (bd-bn)=1, bn=3, bd=4.
      """WITH w AS (SELECT doc_id AS d, string_split(text, ' ') AS ws
        |  FROM documents),
        |tf AS (SELECT d, t, count(*) AS tf FROM (
        |    SELECT d, array_to_string(ws[i:i+1], ' ') AS t
        |    FROM w, unnest(range(1, len(ws))) s(i) WHERE len(ws) >= 2)
        |  GROUP BY 1, 2),
        |dl AS (SELECT d, sum(tf) AS dl FROM tf GROUP BY 1),
        |tot AS (SELECT N, (100 * A) // N AS avg100 FROM
        |  (SELECT count(*) AS N, sum(dl) AS A FROM dl)),
        |q AS (SELECT DISTINCT q, t FROM (
        |    SELECT q, array_to_string(w5[i:i+1], ' ') AS t FROM (
        |      SELECT doc_id AS q,
        |        list_slice(string_split(text, ' '), 1, 5) AS w5
        |      FROM documents WHERE doc_id % 97 = 0),
        |      unnest(range(1, len(w5))) s(i) WHERE len(w5) >= 2)),
        |dft AS (SELECT t, count(*) AS df FROM tf
        |  WHERE t IN (SELECT t FROM q) GROUP BY 1),
        |sc AS (SELECT q.q, tf.d,
        |    (CAST((10000 * (N - df + 1)) // (df + 1) AS HUGEINT) *
        |     ((10000 * tf.tf * 88 * avg100) //
        |      (tf.tf * 40 * avg100 + 12 * (avg100 + 300 * dl.dl))))
        |    // 10000 AS term
        |  FROM q JOIN tf ON q.t = tf.t JOIN dft ON q.t = dft.t
        |  JOIN dl ON tf.d = dl.d, tot),
        |agg AS (SELECT q, d, CAST(sum(term) AS BIGINT) AS score,
        |    count(*) AS n_terms FROM sc GROUP BY 1, 2)
        |SELECT q AS query_id, CAST(rank AS BIGINT) AS rank, d AS doc_id,
        |  CAST(n_terms AS BIGINT) AS n_terms, score
        |FROM (SELECT q, d, score, n_terms, row_number() OVER (
        |    PARTITION BY q ORDER BY score DESC, d) AS rank FROM agg)
        |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val queries = docs.where(col("doc_id") % 97 === 0)
        .select(col("doc_id").cast("long").as("query_id"),
          array_join(slice(split(col("text"), " ", -1), 1, 5), " ")
            .as("qtext"))
      // the gate rebuilds the INDEX on every run, exactly like its
      // oracle SQL rebuilds its tf CTE — a symmetric pairing (a
      // session-cached index was measured 0.5 vs 1.4 s but times a
      // different lifecycle than the denominator; production callers
      // use bm25Index once + bm25Query per batch)
      graft.operators.llm.CorpusModels.bm25TopK(
        docs, "doc_id", "text", queries, "query_id", "qtext", k = 5,
        gram = 2)
    },

    // FUZZY decontamination — near-verbatim eval leakage that exact
    // 8-grams miss: corpus docs flagged by how many of their MinHash-LSH
    // bands collide with ANY eval doc's buckets (q21's exact md5 hash
    // family, so the oracle replays signature+bands for BOTH sides).
    // The synthetic eval set is every 41st doc's text with an appended
    // tail — near-verbatim by construction: trailing shingles change,
    // the min-hashes mostly survive. Asymmetric scale shape: only the
    // eval side's distinct bucket keys broadcast; the corpus pays one
    // signature shuffle, no pair expansion, no self-join.
    Gate("q127_fuzzy_decontaminate",
      // Replays q21's signature+bands pipeline on BOTH sides (corpus as
      // is; eval = every 41st doc + appended tail), then the band-bucket
      // membership count per corpus doc.
      """WITH corpus AS (SELECT doc_id, text FROM documents),
        |ev AS (SELECT doc_id AS eid, text || ' benchmark answer key' AS text
        |  FROM documents WHERE doc_id % 41 = 0),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(w)-1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |       FROM w WHERE len(w) >= 3),
        |pool AS (SELECT doc_id, md5('0|' || s) || md5('1|' || s) AS p FROM sh),
        |sig AS (SELECT doc_id,
        |  min(substring(p,  1, 10)) AS h0, min(substring(p, 11, 10)) AS h1,
        |  min(substring(p, 21, 10)) AS h2, min(substring(p, 31, 10)) AS h3,
        |  min(substring(p, 41, 10)) AS h4, min(substring(p, 51, 10)) AS h5
        |FROM pool GROUP BY 1),
        |bands AS (SELECT doc_id, 0 AS band, md5(h0 || h1) AS bh FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig),
        |ew AS (SELECT eid, string_split(text, ' ') AS w FROM ev),
        |esh AS (SELECT eid, unnest(list_transform(range(1, len(w)-1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |       FROM ew WHERE len(w) >= 3),
        |epool AS (SELECT eid, md5('0|' || s) || md5('1|' || s) AS p FROM esh),
        |esig AS (SELECT eid,
        |  min(substring(p,  1, 10)) AS h0, min(substring(p, 11, 10)) AS h1,
        |  min(substring(p, 21, 10)) AS h2, min(substring(p, 31, 10)) AS h3,
        |  min(substring(p, 41, 10)) AS h4, min(substring(p, 51, 10)) AS h5
        |FROM epool GROUP BY 1),
        |ebands AS (SELECT DISTINCT band, bh FROM (
        |  SELECT 0 AS band, md5(h0 || h1) AS bh FROM esig
        |  UNION ALL SELECT 1, md5(h2 || h3) FROM esig
        |  UNION ALL SELECT 2, md5(h4 || h5) FROM esig))
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bands_hit
        |FROM bands b JOIN ebands e
        |  ON b.band = e.band AND b.bh = e.bh
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      // fanOut probed and REJECTED (r22, one-JVM AbQuery ABAB, two
      // independent 5-pair runs): NOFAN min 1.368/0.757 s vs FANNED
      // min 2.085/0.958 s — 10/10 pairs favor the narrow scan. Unlike
      // q21 (whose larger unioned corpus + pair expansion buys the
      // exchange back), q127's signature map-side work is too light
      // and the round-robin exchange of full (doc_id, text) rows plus
      // its sort-before-repartition costs more than the extra cores
      // recover at this shape.
      graft.operators.llm.TextAnalysis.fuzzyContamination(
        docs, "doc_id", "text",
        docs.where(col("doc_id") % 41 === 0)
          .select(concat(col("text"), lit(" benchmark answer key"))
            .as("etext")),
        "etext", shingleK = 3, numHashes = 6, rowsPerBand = 2)
    },

    // Per-group HLL — the tier where the fixed-size register state
    // actually earns its place (q103's KMV carries up to k hash values
    // PER GROUP; this carries exactly m bytes per group through the
    // hash-agg at any group count): per-source distinct-token
    // estimates, fed the RAW occurrence stream (no pre-distinct — a
    // distinct sketch must be duplicate-insensitive by construction,
    // which the oracle exploits by replaying over DISTINCT pairs).
    Gate("q132_hll_per_group",
      """WITH t AS (SELECT DISTINCT source, tok FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |h AS (SELECT DISTINCT source, CAST(concat('0x',
        |    substring(md5(tok), 1, 12)) AS BIGINT) AS hv FROM t),
        |r AS (SELECT source, hv // 4398046511104 AS bucket,
        |    hv % 4398046511104 AS suffix FROM h),
        |regs AS (SELECT source, bucket, max(CASE WHEN suffix = 0 THEN 43
        |    ELSE 43 - length(bin(suffix)) END) AS mj
        |  FROM r GROUP BY 1, 2),
        |one AS (SELECT source, count(*) AS filled,
        |    CAST(sum(CAST(1 AS BIGINT) << (43 - mj)) AS BIGINT) AS sobs
        |  FROM regs GROUP BY 1)
        |SELECT source, filled,
        |  CAST(sobs + (64 - filled) * (CAST(1 AS BIGINT) << 43)
        |    AS BIGINT) AS s,
        |  CAST((709 * ((4096 * (CAST(1 AS BIGINT) << 43))
        |    // (sobs + (64 - filled) * (CAST(1 AS BIGINT) << 43))))
        |    // 1000 AS BIGINT) AS est_distinct
        |FROM one""".stripMargin) { (s, dir) =>
      val toks = tbl(s, dir, "documents")
        .select(col("source"),
          explode(graft.operators.llm.Shingles.words(col("text")))
            .as("tok"))
        .where(col("tok") =!= "")
        .select(col("source"),
          graft.operators.Sketches.hash48Col(col("tok")).as("hv"))
      val sk = udaf(graft.operators.Sketches.hllGroupAgg(6))
      toks.groupBy(col("source")).agg(sk(col("hv")).as("h"))
        .select(col("source"), col("h._1").as("filled"),
          col("h._2").as("s"), col("h._3").as("est_distinct"))
    }
  )
}
