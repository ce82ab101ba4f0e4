package graft.operators.llm

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.SmallInput

/**
 * Deterministic, engine-portable sampling/split assignment for corpus
 * curation (beyond-reference surface): every row's fate is a pure
 * function of (salt, id), so the split is reproducible run-over-run,
 * engine-over-engine (no `rand()`, no seed plumbing), stable under
 * repartitioning, and documents keep their assignment when the corpus
 * grows — the properties a train/val/test split must have at 100 TB,
 * where "re-roll the RNG" means re-shuffling the entire training set.
 *
 * Mechanism: the first two hex chars of md5(salt + "|" + id) give 256
 * uniform buckets; labels are assigned by hex-string range so ANY engine
 * with md5 reproduces the assignment with string comparison alone (no
 * hex→int parsing, which SQL dialects disagree on). Pure map-side
 * projection — no shuffle at any scale.
 */
object Sampling {

  /** Assign a split label per row: `bounds` are (label, exclusive upper
    * 2-hex-char prefix) in ascending order — e.g.
    * `Seq("train" -> "cc", "val" -> "e6")` with default "test" is
    * ~79.7% / ~10.2% / ~10.1%. */
  def hashSplit(df: DataFrame, idCol: String, salt: String,
                bounds: Seq[(String, String)],
                defaultLabel: String): DataFrame = {
    require(bounds.nonEmpty, "at least one (label, bound) is required")
    bounds.foreach { case (lbl, hi) => requireHexBound(hi, lbl) }
    require(bounds.map(_._2) == bounds.map(_._2).sorted,
      "bounds must be ascending — a later smaller bound is unreachable")
    require(bounds.map(_._2).distinct.length == bounds.length,
      "bounds must be strictly ascending — a duplicate bound makes the " +
        "later label unreachable (its range is empty)")
    val prefix = substring(saltedMd5(salt, col(idCol)), 1, 2)
    val label = bounds.foldRight(lit(defaultLabel): Column) {
      case ((lbl, hi), acc) => when(prefix < lit(hi), lit(lbl)).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** Deterministic subsample: keep rows whose 2-hex-char prefix falls
    * below `bound` (e.g. "1a" keeps ~26/256 ≈ 10.2%). Same hash family
    * as [[hashSplit]] with a DIFFERENT salt, or the subsample would be
    * nested inside the train split rather than independent of it. */
  def hashSample(df: DataFrame, idCol: String, salt: String,
                 bound: String): DataFrame = {
    requireHexBound(bound, "sample")
    df.where(substring(saltedMd5(salt, col(idCol)), 1, 2) < lit(bound))
  }

  /** Stratified deterministic subsample: each stratum keeps rows whose
    * hash prefix falls below ITS bound — per-language / per-source
    * rebalancing (downsample the dominant crawl, keep the rare language)
    * as a pure map-side filter with [[hashSample]]'s determinism. Strata
    * not listed in `rates` use `defaultBound` ("00" drops them). */
  def stratifiedHashSample(df: DataFrame, idCol: String, strataCol: String,
                           salt: String, rates: Seq[(String, String)],
                           defaultBound: String): DataFrame = {
    rates.foreach { case (stratum, b) => requireHexBound(b, stratum) }
    requireHexBound(defaultBound, "default")
    val bound = rates.foldRight(lit(defaultBound): Column) {
      case ((stratum, b), acc) =>
        when(col(strataCol) === stratum, lit(b)).otherwise(acc)
    }
    df.where(substring(saltedMd5(salt, col(idCol)), 1, 2) < bound)
  }

  /** Budget-driven mixture sampling — the data-mixing step of corpus
    * assembly ("cap the dominant crawl at N docs, keep the rare
    * language whole"): each stratum's keep rate is DERIVED from its
    * observed size, rate = min(1, budget / n), then applied with the
    * same salted-hash determinism as [[hashSample]]. Unlike
    * [[stratifiedHashSample]] the caller states the outcome (row
    * budgets), not the mechanism (rates), so the mix holds as the
    * corpus grows — re-running after ingest re-derives the rates.
    *
    * Rates are quantized to 1/65536 (first FOUR hex chars of the salted
    * md5 compare against a 4-hex bound string), so the kept fraction
    * tracks the budget within hash-uniformity error (~1/sqrt(n)) plus
    * at most 1/65536 of quantization — and any engine with md5
    * reproduces the exact row set with string comparison alone.
    * floor()ing the bound keeps AT MOST ~the budget (never blows a
    * cap); a stratum at or under budget keeps every row (bound
    * "10000" sorts above all 4-hex prefixes).
    *
    * Scale shape: one tiny groupBy(strata) count (map-side partials,
    * <= |strata| rows on the wire) broadcast back onto the corpus; the
    * corpus itself never shuffles — the filter is a map-side
    * projection at any scale. Strata absent from `budgets` fall back
    * to `defaultBudget` rows (0 drops them; any budget >= the stratum
    * size keeps it whole — budgets cap at 2^47 so the rate arithmetic
    * stays in exact signed-64 integer range). */
  def budgetSample(df: DataFrame, idCol: String, strataCol: String,
                   salt: String, budgets: Seq[(String, Long)],
                   defaultBudget: Long): DataFrame = {
    // below 2^47: budget * 65536 must stay inside a signed long in the
    // under-budget branch (2^47 * 65536 is exactly 2^63 — one past max)
    def ok(b: Long, s: String): Unit = require(
      b >= 0L && b < (1L << 47),
      s"budget for '$s' must be in [0, 2^47), got $b")
    budgets.foreach { case (s, b) => ok(b, s) }
    ok(defaultBudget, "default")
    val budget = budgets.foldRight(lit(defaultBudget): Column) {
      case ((stratum, b), acc) =>
        when(col(strataCol) === stratum, lit(b)).otherwise(acc)
    }
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("__n"))
      .withColumnRenamed(strataCol, "__stratum")
    // null-safe join: a NULL stratum is still a stratum (it groups, gets
    // the default budget, and must not be silently dropped the way a
    // plain equi-join on a null key would)
    df.join(broadcast(counts), col(strataCol) <=> col("__stratum"))
      .withColumn("__budget", budget)
      .withColumn("__bound",
        // over-budget: keep all ("g" sorts after every lowercase hex
        // char). The under-budget rate uses SQL `div` — `/` on columns
        // is DOUBLE division, which both loses integer exactness past
        // 2^53 and only reaches hex() through an implicit re-cast
        when(col("__budget") >= col("__n"), lit("g"))
          .otherwise(lpad(lower(hex(
            expr("(__budget * 65536) div __n"))), 4, "0")))
      .where(substring(saltedMd5(salt, col(idCol)), 1, 4) < col("__bound"))
      .drop("__stratum", "__n", "__budget", "__bound")
  }

  /** DSIR-shaped data SELECTION (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — the resampling stage
    * that [[graft.operators.llm.TextOps.dsirScore]] (q85) stops short
    * of: where dsirScore attaches a target-likeness score to every doc
    * (unigram features, caller applies their own threshold), this
    * SELECTS — richer unigram+bigram features, weights fit from the
    * same corpus split, and the top-`topK` raw docs returned as the
    * curated subset. Features are unigrams + word bigrams hashed into
    * `buckets` cells (the bounded feature space is THE scale property:
    * the weight table is `buckets` rows whatever the corpus size); each
    * bucket's weight is the add-1-smoothed target/raw frequency ratio in
    * basis points, and a doc's score is its gram-count-weighted mean
    * bucket weight. Integer-exact throughout — the log-free ratio form
    * of the paper's log-likelihood ratio, the same deterministic trade
    * as collocationLift's log-free PMI and nbQualityScore's integer-bp
    * odds (ranking differs from the log form only through the weighted
    * MEAN, and every engine replays it bit-for-bit, which the float-log
    * form cannot promise).
    *
    * Scale shape: grams explode map-side; ONE (doc, bucket) count agg
    * (map-side combinable — the only corpus-keyed shuffle); the bucket
    * weight table is a <= `buckets`-row aggregate of THAT (never a
    * second corpus pass), computed on the driver and folded back in as
    * a literal map inside one codegen'd projection; the per-doc score
    * agg runs over <= `buckets` rows per doc; top-k is a TakeOrdered.
    * The corpus text itself never shuffles. Returns (idCol, n_grams,
    * score_bp) for the topK raw docs, (score_bp desc, id) order. */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
                 targetPred: Column, buckets: Int, topK: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val w = df.select(col(idCol).cast("long").as("__doc"),
      targetPred.as("__tgt"), Shingles.words(col(textCol)).as("__w"))
    // unigrams (empties dropped) and bigrams in ONE exploded array — a
    // two-branch union would scan and re-split the corpus twice.
    // r22 per-task fix (guide §1.2 step 2): the bigram branch was a
    // transform/sequence/element_at HOF chain — an INTERPRETED lambda
    // walked per word occurrence of the whole corpus. The native
    // wordGrams expression (codegen, one concatWs per gram) emits the
    // byte-identical "w1 w2" grams: for k=2, transform(sequence(1,n-1),
    // i -> concat(w_i, ' ', w_(i+1))) ≡ word_grams(__w, 2) including
    // empty-word and short-doc (< 2 words → empty array) cases — pinned
    // in LlmOpsSpec. array_remove(__w, '') replaces the filter() HOF
    // for the unigram branch (split() never yields NULLs, so removing
    // '' is exactly the x <> '' filter).
    val grams = w.select(col("__doc"), col("__tgt"), explode(concat(
        array_remove(col("__w"), ""),
        graft.functions.VectorFunctions.wordGrams(col("__w"), 2))).as("__g"))
      .select(col("__doc"), col("__tgt"),
        pmod(graft.operators.Sketches.hash48Col(col("__g")),
          lit(buckets.toLong)).as("__b"))
    // the single corpus-keyed aggregation; target and raw profiles both
    // derive from it
    val docBuckets = grams.groupBy(col("__doc"), col("__tgt"), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)   // two consumers: weight fit + scoring
    // The bucket table is <= `buckets` rows — FIXED-SIZE metadata (the
    // bounded feature space is the operator's scale property), so the
    // weight table is computed on the DRIVER in BigInt (exact at any
    // corpus size — the same widening the former DECIMAL(38,0) SQL did,
    // minus its overflow ceiling; DIV on nonnegative BigInt matches
    // DECIMAL DIV) and shipped back as a literal map: same data
    // movement as the broadcast-join chain (B rows to the driver, B
    // entries to every task) without the totals crossJoin, the second
    // broadcast exchange, or the join — the weight lookup stays inside
    // one codegen'd projection (the q85 dsirScore trade).
    val bucketTable: Array[(Long, Long, Long)] = docBuckets
      .groupBy(col("__b"))
      .agg(sum(when(col("__tgt"), col("__c")).otherwise(0L)).as("__ct"),
        sum(when(!col("__tgt"), col("__c")).otherwise(0L)).as("__cr"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nt = bucketTable.iterator.map(_._2).sum
    val nr = bucketTable.iterator.map(_._3).sum
    val weights: Map[Long, Long] = bucketTable.iterator.map {
      case (b, ct, cr) =>
        val w = (BigInt(ct + 1) * 10000 * (BigInt(nr) + buckets)) /
          (BigInt(cr + 1) * (BigInt(nt) + buckets))
        // loud, not wrapped: BigInt.toLong silently truncates past
        // int64, and a wrapped (possibly negative) weight would corrupt
        // every downstream score instead of failing (r19 review finding;
        // reachable only when target/raw sizes are absurdly lopsided)
        require(w.isValidLong,
          s"bucket $b weight $w exceeds int64 — target/raw corpus sizes " +
            s"too lopsided (nt=$nt, nr=$nr) for the bp-integer weight form")
        b -> w.toLong
    }.toMap
    // literal map for small B only — above TextAnalysis
    // .LiteralMapMaxEntries element_at's per-row linear scan loses to a
    // broadcast hash join (user-supplied `buckets` is unbounded here)
    TextAnalysis.withWeightCol(docBuckets.where(!col("__tgt")),
        "__b", weights, "__wbp")
      .groupBy(col("__doc"))
      .agg(sum(col("__c")).as("n_grams"),
        // DECIMAL(38,0) BEFORE the product: wbp reaches ~10^16 in
        // near-empty raw buckets at design-scale nt/nr, so c·wbp — and
        // a fortiori the per-doc sum — can exceed int64 exactly at the
        // scale this operator serves; `div` (IntegralDivide) brings the
        // final score back to BIGINT
        sum(col("__c").cast("decimal(38,0)") * col("__wbp")).as("__s"))
      .select(col("__doc").as(idCol), col("n_grams"),
        expr("__s div n_grams").as("score_bp"))
      .orderBy(desc("score_bp"), col(idCol)).limit(topK)
  }

  /** Mixture EPOCH planning — the arithmetic step between "what the
    * corpus has" and "what the training run samples": given observed
    * per-stratum token counts and target mixture weights (basis
    * points), allocate a total token budget proportionally and express
    * each stratum's allocation as repeat-epochs-×100 over its actual
    * tokens, capped at `maxEpochsX100` (data-constrained strata repeat;
    * the cap is the standard ≤4-epoch repetition guidance). All
    * arithmetic is exact integer division in a fixed order, so any
    * engine replays the plan bit-for-bit.
    *
    * Scale shape: ONE map-side-combinable aggregation to the stratum
    * table (|strata| rows — the corpus shuffles nothing but its
    * per-partition partial counts), then the weight-sum as a window
    * over that tiny table (single-partition by construction, |strata|
    * rows — a crossJoin against a separate sum-aggregate would
    * recompute the corpus pass for the second consumer). Returns
    * (strataCol, n_docs, n_tokens, weight_bp, target_tokens,
    * epochs_x100). */
  def epochPlan(df: DataFrame, strataCol: String, tokCol: String,
                weightBp: Column, budget: Long,
                maxEpochsX100: Long = 400L): DataFrame = {
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    val perStratum = df
      .select(col(strataCol), col(tokCol).cast("long").as("__t"))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"))
      .withColumn("weight_bp", weightBp.cast("long"))
    perStratum
      .withColumn("__wsum",
        sum(col("weight_bp")).over(Window.partitionBy()))
      .withColumn("target_tokens",
        // nullif: a ZERO weight sum must yield NULL like a NULL one —
        // under ANSI mode (the session default) a bare `div 0` throws
        // DIVIDE_BY_ZERO instead, turning "no defined allocation" into
        // a job failure (r19 review finding)
        expr(s"($budget * weight_bp) div nullif(__wsum, 0)"))
      .select(col(strataCol), col("n_docs"), col("n_tokens"),
        col("weight_bp"), col("target_tokens"),
        // guarded: least() SKIPS nulls, so an undefined allocation
        // (zero/NULL weight sum) must stay NULL rather than silently
        // reporting the cap as a real 4-epoch plan
        when(col("target_tokens").isNotNull,
          least(lit(maxEpochsX100),
            expr("(100 * target_tokens) div greatest(n_tokens, 1)")))
          .as("epochs_x100"))
  }

  /** EXACT deterministic per-stratum cap — "at most `cap` documents per
    * domain/source", the per-domain cap of web-corpus curation, keeping
    * for each stratum exactly min(cap, |stratum|) rows: the ones whose
    * salted hash ranks first in (md5(salt|id), id) order. Equivalent to
    * `row_number() over (partition by stratum order by hash) <= cap`,
    * WITHOUT ranking whole strata: a hot domain holding 1% of a 100 TB
    * corpus would funnel through one reducer under that window.
    * Keeps all input columns. Unlike [[budgetSample]] (rate-quantized,
    * ~budget) the cap here is exact — and costs a second small pass
    * where budgetSample is one count + a map-side filter.
    *
    * Distributed-selection shape: (1) count rows per (stratum,
    * `prefixLen`-hex hash-prefix bucket) — a map-side-combinable agg of
    * at most 16^prefixLen rows per stratum; (2) a per-stratum running
    * sum over those BUCKET COUNTS (a keyed window over <= 16^prefixLen
    * rows per stratum, never over data rows) finds each stratum's
    * cutoff bucket and how many rows it still needs from it; (3) rows
    * in buckets strictly below the cutoff pass with NO shuffle, and
    * only the cutoff bucket's rows — ~16^-prefixLen of each stratum —
    * are ranked in a window. Strata at or under the cap never reach
    * the window at all (no cutoff row joins them).
    *
    * The below/boundary union reads the source twice (both reads
    * map-side, filters pushed) — chosen over the single-pass
    * alternative, a corpus-wide shuffle into (stratum, bucket) windows,
    * because at 100 TB a second columnar scan is cheaper than shuffling
    * every row to rank the ~16^-prefixLen that can straddle a cutoff.
    * The cutoff table carries one small row per OVER-cap stratum and is
    * broadcast — right up to millions of capped domains; past that,
    * drop the hint and let the corpus shuffle-join on stratum. */
  def capPerStratum(df: DataFrame, idCol: String, strataCol: String,
                    salt: String, cap: Long,
                    prefixLen: Int = 4): DataFrame =
    // small-input endgame: the per-stratum selection runs in-driver
    // over the same (md5(salt|id), id) order, kept set bit-identical to
    // capPerStratumDistributed (pinned; idCol is unique, so no hash ties)
    SmallInput.probe(capInput(df, idCol, salt, cap, prefixLen),
        SmallInput.Rows) match {
      case None =>
        capPerStratumDistributed(df, idCol, strataCol, salt, cap, prefixLen)
      case Some(probe) if probe.isEmpty => df.limit(0)
      case Some(probe) =>
        val spark = df.sparkSession
        val sIdx = probe.head.fieldIndex(strataCol)
        val hIdx = probe.head.fieldIndex("__h")
        val keepN = math.min(cap, Int.MaxValue.toLong).toInt
        val kept = probe.toSeq.groupBy(r => r.get(sIdx)).valuesIterator
          .flatMap(_.sortBy(_.getString(hIdx)).take(keepN))
          .map(r => org.apache.spark.sql.Row.fromSeq(
            df.schema.fieldNames.toSeq.map(f => r.get(r.fieldIndex(f)))))
          .toSeq
        spark.createDataFrame(spark.sparkContext.parallelize(kept, 1),
          df.schema)
    }

  /** `df` with its salted hash `__h`, after checking the arguments. */
  private def capInput(df: DataFrame, idCol: String, salt: String,
                       cap: Long, prefixLen: Int): DataFrame = {
    require(cap >= 0L, s"cap must be >= 0, got $cap")
    require(prefixLen >= 1 && prefixLen <= 8,
      s"prefixLen must be in [1, 8], got $prefixLen")
    df.withColumn("__h", saltedMd5(salt, col(idCol)))
  }

  /** [[capPerStratum]]'s distributed selection, at any input size. */
  private[graft] def capPerStratumDistributed(df: DataFrame, idCol: String,
      strataCol: String, salt: String, cap: Long,
      prefixLen: Int = 4): DataFrame = {
    val outCols = df.columns.map(col).toSeq
    val withH = capInput(df, idCol, salt, cap, prefixLen)
      .withColumn("__b", substring(col("__h"), 1, prefixLen))
    val counts = withH.groupBy(col(strataCol).as("__stratum"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    val cum = counts.withColumn("__cum",
      sum(col("__n")).over(
        Window.partitionBy(col("__stratum")).orderBy(col("__b"))))
    // first bucket where the running count reaches the cap; __need =
    // rows still wanted from it. Strata under the cap produce no row.
    val cut = cum.where(col("__cum") >= lit(cap))
      .groupBy(col("__stratum"))
      .agg(min(struct(col("__b"), (col("__cum") - col("__n"))
        .as("__before"))).as("__c"))
      .select(col("__stratum"), col("__c.__b").as("__bStar"),
        (lit(cap) - col("__c.__before")).as("__need"))
    // null-safe: a NULL stratum is capped like any other
    val joined = withH.join(broadcast(cut),
      col(strataCol) <=> col("__stratum"), "left")
    val below = joined
      .where(col("__bStar").isNull || col("__b") < col("__bStar"))
      .select(outCols: _*)
    val boundary = joined.where(col("__b") === col("__bStar"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(strataCol))
          .orderBy(col("__h"), col(idCol))))
      .where(col("__rn") <= col("__need"))
      .select(outCols: _*)
    below.union(boundary)
  }

  /** Deterministic corpus shuffle + sharding — the training-order step:
    * rows are totally ordered by (md5(salt|id), id), a reproducible
    * pseudo-random permutation any engine with md5 replays, assigned
    * their exact 0-based global rank, and cut into `shardSize`-row
    * shards (shard = rank div shardSize) so a data loader can address
    * shard files directly. Re-salting re-shuffles; re-running does not.
    * Returns (idCol, rank, shard). `idCol` must be unique (it is the
    * order tie-break).
    *
    * Scale shape — an exact global rank WITHOUT a one-partition window
    * (`row_number() over (order by hash)` funnels the corpus through a
    * single task — dead at 100 TB): range-partition + sort by the hash
    * (ONE boundary shuffle, the same total-order primitive as the
    * cluster build), per-partition row counts to the driver (one row of
    * metadata per partition), then each partition emits offset + local
    * position map-side. The same technique as [[Packing.byTokenBudget]]'s
    * prefix sum, with row count as the measure.
    *
    * Small-input endgame: up to [[SmallInput.Rows]] rows the one
    * probe carries the (id, salted hash) rows and the rank is an
    * in-driver sort over the same (hash, id) order (lowercase-hex ASCII
    * compares identically as a Java String and as UTF8String bytes),
    * output bit-identical to [[deterministicShardDistributed]] (pinned). */
  def deterministicShard(df: DataFrame, idCol: String, salt: String,
                         shardSize: Long): DataFrame =
    SmallInput.probe(shardInput(df, idCol, salt, shardSize),
        SmallInput.Rows) match {
      case None => deterministicShardDistributed(df, idCol, salt, shardSize)
      case Some(probe) =>
        import df.sparkSession.implicits._
        probe.map(r => (r.getLong(0), r.getString(1)))
          .sortBy { case (id, h) => (h, id) }.toSeq.zipWithIndex
          .map { case ((id, _), r) => (id, r.toLong, r.toLong / shardSize) }
          .toDF(idCol, "rank", "shard")
    }

  /** (id as long, salted hash), after checking `shardSize`. */
  private def shardInput(df: DataFrame, idCol: String, salt: String,
                         shardSize: Long): DataFrame = {
    require(shardSize >= 1L, s"shardSize must be >= 1, got $shardSize")
    df.select(col(idCol).cast("long").as("__id"))
      .select(col("__id"), saltedMd5(salt, col("__id")).as("__h"))
  }

  /** [[deterministicShard]]'s distributed rank, at any input size. */
  private[graft] def deterministicShardDistributed(df: DataFrame,
      idCol: String, salt: String, shardSize: Long): DataFrame = {
    val spark = df.sparkSession
    val keyed = shardInput(df, idCol, salt, shardSize)
      .repartitionByRange(col("__h"), col("__id"))
      .sortWithinPartitions(col("__h"), col("__id"))
      .persist()
    try {
      val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
      val totals = keyed.select(col("__id")).as(Encoders.scalaLong)
        .mapPartitions { it =>
          var n = 0L
          it.foreach(_ => n += 1L)
          Iterator.single((TaskContext.getPartitionId().toLong, n))
        }(enc)
        .collect()
        .sortBy(_._1)
      // exclusive prefix: a partition's first rank is the row count of
      // every partition before it in hash order
      var running = 0L
      val offsets = totals.map { case (pid, n) =>
        val o = pid -> running; running += n; o
      }.toMap
      val bOffsets = spark.sparkContext.broadcast(offsets)
      val ranked = keyed
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
        .mapPartitions { it =>
          var r = bOffsets.value
            .getOrElse(TaskContext.getPartitionId().toLong, 0L)
          it.map { case (id, _) => val row = (id, r); r += 1L; row }
        }(enc)
        .toDF("__id", "rank")
        .select(col("__id").as(idCol), col("rank"),
          expr(s"`rank` div $shardSize").as("shard"))
      // materialize before the finally unpersists the sorted cache the
      // two passes (totals + ranked) both read
      ranked.localCheckpoint(true)
    } finally keyed.unpersist(blocking = false)
  }

  /** md5 hex of "salt|id" — the salted hash every sampler orders or
    * buckets by. */
  private def saltedMd5(salt: String, id: Column): Column =
    graft.functions.Md5Functions.md5Hex(
      concat(lit(salt + "|"), id.cast("string")))

  /** Bounds compare lexicographically against LOWERCASE md5 hex — an
    * uppercase, non-hex, or wrong-length bound (e.g. "CC", "c") would
    * silently mis-assign every row instead of failing. */
  private def requireHexBound(bound: String, label: String): Unit =
    require(bound.length == 2 && bound.forall(c =>
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')),
      s"bound for '$label' must be exactly 2 lowercase hex chars " +
        s"([0-9a-f]{2}), got '$bound' — anything else compares " +
        "lexicographically against lowercase md5 hex and silently " +
        "mis-assigns rows")
}
