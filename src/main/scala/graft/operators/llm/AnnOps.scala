package graft.operators.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (beyond-reference surface).
 *
 * Scores are inner products over INTEGER-quantized vectors
 * (round(x*1000) per dimension): integer sums are order-independent and
 * bit-exact across engines, so top-k results hash-compare exactly — a
 * float dot product would be reduction-order-dependent and unverifiable.
 *
 * Two plans:
 *  - [[bruteTopK]] — exact baseline: broadcast the (small) query set over
 *    the candidate scan; one pass, no candidate-side shuffle, the window
 *    top-k shuffles only (query_id, score) pairs.
 *  - [[bucketedTopK]] — the scale path (IVF shape): candidates are probed
 *    only within the query's coarse bucket (here a precomputed partition
 *    label; in production the nearest centroid id), cutting the scored
 *    pairs by the bucket fan-out. Same broadcast-join shape, bucket
 *    equality in the join key.
 */
object AnnOps {

  /** Float vector → integer-quantized vector (×1000, rounded) — a native
    * codegen'd expression; the `transform(round(...))` higher-order
    * formulation is interpreted per element. */
  def quantize(vec: Column): Column =
    graft.functions.VectorFunctions.quantize1000(vec)

  /** Exact integer inner product — native codegen'd tight loop; the
    * `aggregate(zip_with(...))` formulation walks an interpreted
    * expression tree per element and dominated every ANN query's cost. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotl(a, b)

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** Exact top-k: every query scored against every candidate (minus self). */
  def bruteTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, k: Int): DataFrame = {
    val e = emb.select(col(idCol), quantize(col(vecCol)).as("__q"))
    // query side filters BEFORE quantize — building the broadcast from
    // `e` would re-run the whole corpus projection for 1/queryRate rows
    val qs = emb.where(queryPred)
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("__qv"))
    val scored = e.crossJoin(broadcast(qs))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("cand_id"),
        dot(col("__qv"), col("__q")).as("dot"))
    topK(scored, k)
  }

  /**
   * All near-dup pairs within a bucket whose inner product ≥ minDot —
   * ONE hash shuffle on the bucket key, pairs expanded inside each
   * bucket task (never an all-pairs product, never a self-join: a join
   * formulation shuffles and scans the table twice and sort-merges on a
   * low-cardinality key). `sort_array` on struct(id, …) orders by id, so
   * expansion yields each unordered pair exactly once with vec_a < vec_b.
   * Bucket contents must fit a task (the same bounded-bucket contract as
   * [[MinHashLsh.candidatePairs]]); cap bucket size upstream if not.
   */
  def withinBucketPairs(emb: DataFrame, idCol: String, vecCol: String,
                        bucketCol: String, minDot: Long): DataFrame = {
    // NULL buckets match nothing (join semantics) — without this filter,
    // groupBy would collect every unbucketed row into ONE degenerate
    // bucket and expand all-pairs inside it
    val e = emb.where(col(bucketCol).isNotNull)
      .select(col(bucketCol).as("label"),
        struct(col(idCol).as("id"), quantize(col(vecCol)).as("q")).as("r"))
    e.groupBy(col("label"))
      .agg(sort_array(collect_list(col("r"))).as("rs"))
      .where(size(col("rs")) > 1)
      // native n²-loop expansion (BucketPairsExpression): ids/vectors
      // extracted once per bucket, primitive-long dots, threshold
      // applied BEFORE any output allocation — replaces the interpreted
      // transform/slice HOF lambdas that dominated the in-bucket cost
      .select(col("label"), explode(
        graft.functions.BucketPairsFunctions.dotPairs(col("rs"), minDot))
        .as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        col("label"), col("p.dot").as("dot"))
  }

  /**
   * Cosine variant of [[withinBucketPairs]]: pairs whose squared cosine
   * clears `minCos2Bp` basis points. Cosine needs the norms, and a float
   * cosine would be reduction-order-dependent — instead the comparison is
   * ALL integers, computed as `((dot*dot DIV |a|²) * 10000) DIV |b|²`
   * with deterministic truncation an external oracle replays exactly
   * (DuckDB side: the same order in HUGEINT).
   *
   * Range proof: the squaring is widened to DECIMAL(38,0), so the only
   * precondition is that the int64 NORMS are valid — i.e. dims·max(q)²
   * < 2^63 (64 dims x |q| ≤ ~3.8e8, i.e. raw values ≤ ~3.8e5 after the
   * ×1000 quantization). Given valid norms, Cauchy–Schwarz bounds
   * |dot| ≤ √(na2·nb2) < 2^63 (the dot itself cannot wrap) and
   * dot² ≤ na2·nb2 < 2^126 < 10^38 (fits the decimal); the first
   * quotient ≤ nb2 < 2^63 and ×10000 < 10^23 also fit. A long-typed
   * dot² would wrap silently past |dot| ~3.0e9 while DuckDB errors —
   * exactly the cross-engine divergence the decimal removes.
   *
   * Non-positive dots score 0 (opposite-direction vectors are not
   * near-dups), as do zero-norm vectors (a zero embedding is degenerate,
   * never a duplicate). Same single-shuffle in-bucket expansion and
   * bounded-bucket contract as the dot-product form.
   */
  def withinBucketCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                              bucketCol: String,
                              minCos2Bp: Long): DataFrame = {
    val e = emb.where(col(bucketCol).isNotNull)
      .select(col(bucketCol).as("label"),
        struct(col(idCol).as("id"), quantize(col(vecCol)).as("q")).as("r"))
    e.groupBy(col("label"))
      .agg(sort_array(collect_list(col("r"))).as("rs"))
      .where(size(col("rs")) > 1)
      // native n²-loop expansion (BucketPairsExpression): each member's
      // squared norm is computed ONCE inside the loop's setup (not per
      // pair — 2/3 of the dot work, measured as the q81 hot spot before
      // the hoist), dot² runs in 128-bit with the same truncation
      // points as the HUGEINT oracle, and the threshold is applied
      // before any output allocation — replaces the interpreted
      // transform/slice HOF lambdas plus post-explode CASE/filter
      .select(col("label"), explode(
        graft.functions.BucketPairsFunctions.cosinePairs(col("rs"), minCos2Bp))
        .as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        col("label"), col("p.cos2_bp").as("cos2_bp"))
  }

  /**
   * IVF top-k with REAL centroid assignment (vs [[bucketedTopK]]'s
   * precomputed label) against a PRECOMPUTED codebook — the production
   * shape: a codebook is trained offline ([[KMeans.codebook]]) and
   * reused across queries and jobs, so assignment needs no seed-harvest
   * job at all. `codebook` is (centroid id, quantized vector), folded
   * into a literal argmax expression — the assignment is MAP-SIDE (zero
   * shuffle at any scale; an assignment window over a crossJoin would
   * shuffle every vector ×centroids). Ties go to the lowest centroid id
   * (max over struct(sdot, -sid)). Only the final top-k window shuffles,
   * and it carries (query, cand, dot) pairs, not vectors.
   *
   * The literal fold is sized for COARSE codebooks: each centroid adds a
   * dot-product aggregate to one projection, and past a few hundred the
   * generated method outgrows codegen limits and degrades to interpreted
   * eval — enforced below; a larger codebook needs a broadcast centroid
   * table + per-bucket argmax formulation instead. (Measured at 8
   * centroids x 64 dims, sf0.1: the broadcast+max_by alternative is
   * ~15% SLOWER than this fold — its assignment costs a shuffle of
   * every (vector x centroid) score through a groupBy that must carry
   * the vector, where the fold assigns map-side. The crossover is
   * codebook size, not a constant win.)
   */
  def ivfTopKWithCodebook(emb: DataFrame, idCol: String, vecCol: String,
                          codebook: Seq[(Long, Seq[Long])],
                          queryPred: Column, k: Int): DataFrame = {
    require(codebook.nonEmpty, "codebook has no centroid vectors")
    require(codebook.length <= 256,
      s"${codebook.length} centroids: the literal-fold assignment is for " +
        "coarse codebooks (<= 256); use a broadcast centroid table beyond that")
    def assign(d: DataFrame): DataFrame =
      d.select(col(idCol), quantize(col(vecCol)).as("__q"))
        .select(col(idCol), col("__q"),
          coarseAssignCol(col("__q"), codebook).as("__sid"))
    val assigned = assign(emb)
    // the QUERY side filters BEFORE the quantize+assign projection: the
    // broadcast build otherwise re-runs the codebook dots over the whole
    // corpus just to keep 1/queryRate of the rows — the corpus-side pass
    // is the only full-width one
    val qs = assign(emb.where(queryPred))
      .select(col(idCol).as("query_id"), col("__q").as("__qv"),
        col("__sid").as("__qb"))
    val scored = assigned.join(broadcast(qs),
        col("__sid") === col("__qb") && col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("cand_id"),
        dot(col("__qv"), col("__q")).as("dot"))
    topK(scored, k)
  }

  /** Map-side coarse-centroid assignment: argmax dot against
    * literal-fold centroids, ties to the lowest centroid id (max over
    * struct(sdot, -sid)) — the shared core of [[ivfTopKWithCodebook]]
    * and [[ivfPqTopK]]. */
  private def coarseAssignCol(q: Column,
                              codebook: Seq[(Long, Seq[Long])]): Column = {
    val scoreStructs = codebook.map { case (sid, sq) =>
      struct(dot(q, typedLit(sq)).as("sdot"), lit(-sid).as("nsid"))
    }
    -array_max(array(scoreStructs.toIndexedSeq: _*)).getField("nsid")
  }

  /** Deterministic ±1 hyperplane `p` over `dim` dimensions: component c
    * is +1 iff the first hex char of md5("p|c") is below '8' (i.e. the
    * digest's high bit is 0) — engine-portable, so an external oracle
    * reproduces the exact same planes from the same rule. */
  def hyperplane(p: Int, dim: Int): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { c =>
      if ((md.digest(s"$p|$c".getBytes("UTF-8"))(0) & 0x80) == 0) 1L else -1L
    }
  }

  /** Sign-bit bucket over `numPlanes` deterministic hyperplanes: bit p of
    * the bucket id is the sign of the vector's dot product with plane p.
    * Random-hyperplane LSH — vectors at small cosine angle agree on most
    * sign bits, so near neighbors land in the same bucket with high
    * probability. The plane vectors are folded in as literals, so
    * assignment is a pure MAP-SIDE projection (one native dot per plane),
    * zero shuffle at any scale. */
  def hyperplaneBucket(quantized: Column, numPlanes: Int, dim: Int): Column =
    concat((0 until numPlanes).map { p =>
      when(dot(quantized, typedLit(hyperplane(p, dim))) >= 0, "1")
        .otherwise("0")
    }: _*)

  /** Random-projection dimensionality reduction — the Johnson–
    * Lindenstrauss workhorse that precedes pairwise work on embeddings
    * (Achlioptas 2003 showed ±1 projections suffice): coordinate p of
    * the output is the INTEGER dot of the quantized vector with
    * deterministic ±1 plane p (the same md5-derived [[hyperplane]]
    * family the LSH bucket uses, so one plane definition serves both).
    * dim→outDim shrinks every downstream transfer and pairwise score by
    * dim/outDim while preserving dots in expectation; keeping the
    * output integer keeps it engine-replayable bit for bit.
    *
    * Scale shape: the planes fold in as codegen literals — the whole
    * operator is ONE map-side projection, zero shuffle, zero state at
    * any input size. */
  def randomProjection(emb: DataFrame, idCol: String, vecCol: String,
                       outDim: Int, dim: Int): DataFrame = {
    require(outDim >= 1 && outDim <= dim,
      s"outDim must be in [1, dim=$dim], got $outDim")
    val q = quantize(col(vecCol))
    emb.select(col(idCol), array((0 until outDim).map(p =>
      dot(q, typedLit(hyperplane(p, dim)))): _*).as("proj"))
  }

  /** LSH-bucketed ANN top-k — the alternative scale path to
    * [[ivfTopKWithCodebook]]: no codebook to train or broadcast; the
    * bucket is a pure function of the vector itself. `probes = 0` is single-probe (the query's own
    * bucket only); `probes = t > 0` is standard multi-probe: each query
    * ADDITIONALLY visits the `t` adjacent buckets reached by flipping
    * one sign bit at the planes where its |dot| margin is smallest —
    * exactly the planes a near neighbor most plausibly falls on the
    * other side of. The probe expansion happens on the QUERY side only
    * (the broadcast side: ×(t+1) rows of it), the corpus side is
    * untouched, so the plan stays a map-side broadcast probe with ~zero
    * shuffle — only the final top-k window shuffles (query, cand, dot)
    * pairs, never vectors. Probe buckets are distinct strings and each
    * candidate lives in exactly one bucket, so no pair is scored twice. */
  def hyperplaneTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, numPlanes: Int, dim: Int,
                     k: Int, probes: Int = 0): DataFrame = {
    require(probes >= 0 && probes <= numPlanes,
      s"probes must be in [0, numPlanes=$numPlanes], got $probes")
    def proj(d: DataFrame): DataFrame =
      d.select(col(idCol), quantize(col(vecCol)).as("__q"))
        .withColumn("__b", hyperplaneBucket(col("__q"), numPlanes, dim))
    val e = proj(emb)
    // query side filters BEFORE the quantize+bucket projection (the
    // broadcast build otherwise re-runs numPlanes corpus-wide dots to
    // keep 1/queryRate rows)
    val qs0 = proj(emb.where(queryPred))
      .select(col(idCol).as("query_id"), col("__b").as("__qb0"),
        col("__q").as("__qv"))
    val qs =
      if (probes == 0)
        qs0.select(col("query_id"), col("__qb0").as("__qb"), col("__qv"))
      else {
        val dots = array((0 until numPlanes).map(p =>
          dot(col("__qv"), typedLit(hyperplane(p, dim)))): _*)
        // plane indices ranked by |margin| ascending (ties: lower index),
        // then each ranked index flips its one bucket char
        qs0.withColumn("__dots", dots)
          .withColumn("__flips", expr(
            s"""transform(
               |  slice(transform(array_sort(transform(
               |    sequence(0, ${numPlanes - 1}),
               |    i -> struct(abs(element_at(__dots, i + 1)) AS m,
               |                i AS i))), s -> s.i), 1, $probes),
               |  i -> concat(substring(__qb0, 1, i),
               |              CASE WHEN substring(__qb0, i + 1, 1) = '1'
               |                   THEN '0' ELSE '1' END,
               |              substring(__qb0, i + 2, ${numPlanes})))"""
              .stripMargin))
          .select(col("query_id"),
            explode(concat(array(col("__qb0")), col("__flips"))).as("__qb"),
            col("__qv"))
      }
    val scored = e.join(broadcast(qs),
        col("__b") === col("__qb") && col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("cand_id"),
        dot(col("__qv"), col("__q")).as("dot"))
    topK(scored, k)
  }

  /** Deterministic PQ codebook centroid (Jégou et al. 2011, product
    * quantization): component j of code c in subspace m is the FIRST
    * BYTE of md5("pq|m|c|j") minus 128 — an integer in [-128, 127],
    * engine-portable (an external oracle recomputes it from the two
    * leading hex chars: 16·h1 + h2 − 128, the same derivation family
    * as [[hyperplane]]). Production codebooks come from per-subspace
    * k-means ([[KMeans]] on sliced columns); this seeded rule exists so
    * the DuckDB gate can replay ENCODE and ADC exactly — the mechanics
    * are identical for trained codebooks via [[pqTopKWithCodebooks]]. */
  def pqCentroid(m: Int, c: Int, subDim: Int): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until subDim).map { j =>
      (md.digest(s"pq|$m|$c|$j".getBytes("UTF-8"))(0) & 0xff) - 128L
    }
  }

  /** All `mSub` seeded codebooks of `kCodes` centroids each. */
  def pqCodebooks(mSub: Int, kCodes: Int, dim: Int): Seq[Seq[Seq[Long]]] = {
    require(mSub >= 1 && dim % mSub == 0,
      s"dim=$dim must split evenly into mSub=$mSub subspaces")
    require(kCodes >= 1 && kCodes <= 256,
      s"kCodes must be in [1, 256] (a code is a byte), got $kCodes")
    (0 until mSub).map(m =>
      (0 until kCodes).map(c => pqCentroid(m, c, dim / mSub)))
  }

  /** All mSub codes (argmin_c ‖x_m − cent_c‖², ties → smallest c) as
    * one array — the shared candidate-side projection of
    * [[pqEncodeWithCodebooks]] and [[ivfPqTopK]]. A native expression
    * (codebooks as ONE reference object): the literal-fold
    * formulation — mSub×kCodes struct(dist, c) sub-expressions over
    * slices — outgrew JIT-able generated code at the q122 shape and
    * ran interpreter-bound (~200 µs/row; the native loop is ~1 µs). */
  private def pqCodesCol(q: Column, cbs: Seq[Seq[Seq[Long]]]): Column =
    graft.functions.VectorFunctions.pqEncode(q, cbs)

  /** Per-subspace LUT offsets into the flattened query LUT — cumulative
    * codebook sizes, so RAGGED codebooks (uneven dead-cluster drops
    * from [[pqTrain]]) address correctly. */
  private def pqLutOffsets(cbs: Seq[Seq[Seq[Long]]]): IndexedSeq[Int] =
    cbs.scanLeft(0)(_ + _.length).toIndexedSeq

  /** Query-side flattened ADC lookup table: dot of the query's
    * subvector m with every centroid of codebook m, in (m, c) order. */
  private def pqLutCol(qv: Column, cbs: Seq[Seq[Seq[Long]]],
                       subDim: Int): Column =
    array((for {
      m <- cbs.indices; cv <- cbs(m)
    } yield dot(slice(qv, m * subDim + 1, subDim),
      typedLit(cv))).toIndexedSeq: _*)

  /** ADC score: Σ_m lut[offset(m) + code_m] — mSub lookups and adds. */
  private def adcScoreCol(lut: Column, codes: Column,
                          cbs: Seq[Seq[Seq[Long]]]): Column = {
    val offs = pqLutOffsets(cbs)
    cbs.indices.map(m => element_at(lut,
      lit(offs(m) + 1) + element_at(codes, m + 1))).reduce(_ + _)
  }

  /**
   * Product-quantization encode: every vector becomes `mSub` byte-range
   * codes — (id, codes array<int>). Pure MAP-SIDE (the codebooks fold
   * in as literals), zero shuffle at any scale, and the corpus
   * representation shrinks from `dim` longs to `mSub` small ints —
   * the memory-bounded ANN path: at 100 TB of embeddings, the code
   * table is dim/mSub·8× smaller than the vectors and is the ONLY
   * thing the search stage ever scans.
   */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               mSub: Int, kCodes: Int, dim: Int): DataFrame =
    pqEncodeWithCodebooks(emb, idCol, vecCol,
      pqCodebooks(mSub, kCodes, dim), dim)

  /** [[pqEncode]] with explicit (e.g. [[pqTrain]]ed) codebooks —
    * ragged codebooks (uneven sizes across subspaces) are fine. */
  def pqEncodeWithCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                            cbs: Seq[Seq[Seq[Long]]], dim: Int): DataFrame = {
    val mSub = cbs.length
    require(mSub >= 1 && dim % mSub == 0,
      s"dim=$dim must split evenly into ${mSub} codebooks")
    // validated HERE, not only in the search: the eager checkpoint in
    // pqTopKWithCodebooks runs this encode before the search's own
    // require would fire, and an empty book must raise cleanly, not
    // AIOOBE inside an executor
    require(cbs.forall(_.nonEmpty), "a subspace codebook is empty")
    emb.select(col(idCol), quantize(col(vecCol)).as("__q"))
      .select(col(idCol), pqCodesCol(col("__q"), cbs).as("codes"))
  }

  /** ADC search over a PRECOMPUTED code table — the production shape:
    * [[pqEncodeWithCodebooks]] runs once at ingest, this is what every
    * query batch executes; the vectors are never read again. `codes` is
    * (idCol, codesCol); `queries` carries full-precision query vectors
    * (queryIdCol, queryVecCol). Self-pairs (same id value on both
    * sides) are excluded, matching [[pqTopK]]. */
  def pqTopKFromCodes(codes: DataFrame, idCol: String, codesCol: String,
                      queries: DataFrame, queryIdCol: String,
                      queryVecCol: String, cbs: Seq[Seq[Seq[Long]]],
                      dim: Int, k: Int): DataFrame = {
    val mSub = cbs.length
    require(mSub >= 1 && dim % mSub == 0,
      s"dim=$dim must split evenly into ${mSub} codebooks")
    require(cbs.forall(_.nonEmpty), "a subspace codebook is empty")
    val subDim = dim / mSub
    val qs = queries
      .select(col(queryIdCol).as("query_id"),
        quantize(col(queryVecCol)).as("__qv"))
      .select(col("query_id"), pqLutCol(col("__qv"), cbs, subDim).as("__lut"))
    val scored = codes.crossJoin(broadcast(qs))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("cand_id"),
        adcScoreCol(col("__lut"), col(codesCol), cbs).as("dot"))
    topK(scored, k)
  }

  /**
   * PQ top-k by asymmetric distance computation (ADC): the query keeps
   * full precision and precomputes a lookup table of its dot product
   * with every centroid (mSub·kCodes entries, QUERY-side only); each
   * candidate's approximate score is then mSub table lookups on its
   * codes — no per-candidate vector arithmetic at all. The corpus side
   * of the broadcast join carries ONLY (id, codes); scoring is mSub
   * element_at + adds (plain codegen, no HOF). Exhaustive over
   * candidates by design — PQ's point is making the exhaustive scan
   * cheap and the scan input small; compose with
   * [[ivfTopKWithCodebook]]'s coarse buckets for IVF-PQ when even the
   * code scan must prune.
   */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, mSub: Int, kCodes: Int, dim: Int,
             k: Int): DataFrame =
    pqTopKWithCodebooks(emb, idCol, vecCol, queryPred,
      pqCodebooks(mSub, kCodes, dim), dim, k)

  /** Train per-subspace PQ codebooks with [[KMeans.lloyd]] on SLICED
    * subvectors — the production codebook path (the seeded
    * [[pqCodebooks]] exist for oracle replay): subspace m's codebook
    * is k-means over components [m·subDim, (m+1)·subDim), centroids
    * are floor-divided exact integer means (deterministic, like every
    * integer op here), densely re-indexed in cluster-id order (dead
    * clusters drop). `seedPred` picks the initial centroid rows as in
    * [[KMeans.lloyd]]. Feed the result to [[pqTopKWithCodebooks]]. */
  def pqTrain(emb: DataFrame, idCol: String, vecCol: String,
              seedPred: Column, mSub: Int, dim: Int,
              iters: Int = 3): Seq[Seq[Seq[Long]]] =
    KMeans.probed(emb, idCol, vecCol, seedPred) match {
      case Some((data, seeds)) => localPqTrain(data, seeds, mSub, dim, iters)
      case None =>
        pqTrainDistributed(emb, idCol, vecCol, seedPred, mSub, dim, iters)
    }

  /** [[pqTrain]]'s small-input endgame: ALL subspaces train off ONE
    * probe of the full quantized vectors, sliced driver-side (quantize
    * is element-wise, so quantize-then-slice ≡ slice-then-quantize) —
    * training really is one job, not one per subspace. Codebooks pinned
    * identical to [[pqTrainDistributed]] (the q126 oracle replays
    * those rounds). */
  private def localPqTrain(data: Array[(Long, Array[Long])],
                           seeds: Seq[(Long, Array[Long])], mSub: Int,
                           dim: Int, iters: Int): Seq[Seq[Seq[Long]]] = {
    val subDim = subspaceDim(mSub, dim)
    data.headOption.foreach { case (_, q) =>
      require(q.length >= dim,
        s"vectors have ${q.length} components, need dim=$dim") }
    (0 until mSub).map { m =>
      def sub(r: (Long, Array[Long])) = (r._1,
        java.util.Arrays.copyOfRange(r._2, m * subDim, (m + 1) * subDim))
      floorMeans(KMeans.localCodebookWithCounts(data.map(sub),
        seeds.map(sub), iters))
    }
  }

  /** [[pqTrain]]'s distributed rounds, at any input size: one
    * k-means per subspace, sequential — acceptable because codebook
    * training is a ONE-TIME offline step that amortizes over every
    * later encode/search (the rehearsal reports it separately); if
    * retraining ever becomes hot, the fusion is one Lloyd loop whose
    * per-round agg groups by (subspace, cluster). */
  private[graft] def pqTrainDistributed(emb: DataFrame, idCol: String,
      vecCol: String, seedPred: Column, mSub: Int, dim: Int,
      iters: Int = 3): Seq[Seq[Seq[Long]]] = {
    val subDim = subspaceDim(mSub, dim)
    (0 until mSub).map { m =>
      val sub = emb.select(col(idCol),
        slice(col(vecCol), m * subDim + 1, subDim).as("__sub"))
      floorMeans(KMeans.codebookWithCountsDistributed(sub, idCol, "__sub",
        seedPred, iters))
    }
  }

  private def subspaceDim(mSub: Int, dim: Int): Int = {
    require(mSub >= 1 && dim % mSub == 0,
      s"dim=$dim must split evenly into mSub=$mSub subspaces")
    dim / mSub
  }

  /** Exact integer floor-means of a codebook-with-counts — the PQ
    * centroid finalization shared by [[pqTrain]] and
    * [[pqTrainWithCoarse]]. */
  private def floorMeans(cb: Seq[(Long, Long, Seq[Long])]): Seq[Seq[Long]] =
    cb.map { case (_, n, sums) =>
      sums.map(s => Math.floorDiv(s, n)): Seq[Long]
    }

  /** One-probe training for the fully-trained IVF-PQ stack (q128/q129
    * shape): the COARSE full-vector codebook ([[KMeans.codebook]]'s
    * integer sum vectors) and the per-subspace PQ codebooks
    * ([[pqTrain]]'s floor-divided means). A small input trains both
    * from a SINGLE probe of (id, quantized vector, seed) — separate
    * calls would each run an IDENTICAL probe of the same projection, so
    * this halves the training jobs and scans (r21 opt, guide §1.2 step
    * 1: don't compute things twice). Outputs are PINNED identical to
    * the distributed bodies ([[KMeans.codebookWithCountsDistributed]],
    * [[pqTrainDistributed]]), which a larger input runs after its one
    * probe. */
  def pqTrainWithCoarse(emb: DataFrame, idCol: String, vecCol: String,
                        seedPred: Column, mSub: Int, dim: Int,
                        iters: Int = 3)
      : (Seq[(Long, Seq[Long])], Seq[Seq[Seq[Long]]]) =
    KMeans.probed(emb, idCol, vecCol, seedPred) match {
      case Some((data, seeds)) =>
        val cbs = localPqTrain(data, seeds, mSub, dim, iters)
        (KMeans.localCodebookWithCounts(data, seeds, iters)
          .map { case (id, _, s) => (id, s) }, cbs)
      case None =>
        val cbs =
          pqTrainDistributed(emb, idCol, vecCol, seedPred, mSub, dim, iters)
        (KMeans.codebookWithCountsDistributed(emb, idCol, vecCol, seedPred,
          iters).map { case (id, _, s) => (id, s) }, cbs)
    }

  /** [[pqTopK]] with explicit codebooks — the trained-codebook
    * production shape (per-subspace k-means output, [[pqTrain]]).
    * Encode-then-search: the code table is MATERIALIZED
    * (localCheckpoint) before the search joins it — without the
    * barrier, codegen inlines the per-row encode through the join and
    * re-evaluates it per (candidate, query) PAIR, once per ADC lookup
    * (measured: 1.4 s vs 0.46 s at the q122 shape). That is also PQ's
    * own semantics: codes are computed once at ingest; when the same
    * corpus serves many query batches, persist
    * [[pqEncodeWithCodebooks]] yourself and call [[pqTopKFromCodes]].
    * The query side filters BEFORE the quantize+LUT projection (the
    * broadcast build otherwise runs mSub·kCodes corpus-wide dots to
    * keep 1/queryRate rows). */
  def pqTopKWithCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                          queryPred: Column, cbs: Seq[Seq[Seq[Long]]],
                          dim: Int, k: Int): DataFrame =
    pqTopKFromCodes(
      pqEncodeWithCodebooks(emb, idCol, vecCol, cbs, dim).localCheckpoint(),
      idCol, "codes",
      emb.where(queryPred), idCol, vecCol, cbs, dim, k)

  /**
   * IVF-PQ — the composed published architecture (coarse quantizer +
   * product codes): the coarse codebook prunes candidates to the
   * query's bucket via the map-side argmax fold (as
   * [[ivfTopKWithCodebook]]), and PQ codes make scanning the survivors
   * cheap — the candidate side of the join carries (id, bucket, mSub
   * codes), never a vector; ADC scores via the query's broadcast LUT
   * exactly as [[pqTopK]]. At
   * 100 TB this is the standard billion-scale ANN shape: vectors are
   * read once at encode time, search touches only buckets and codes.
   */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                coarse: Seq[(Long, Seq[Long])], queryPred: Column,
                cbs: Seq[Seq[Seq[Long]]], dim: Int, k: Int): DataFrame =
    // materialized for the same reason as pqTopKWithCodebooks: the
    // assignment + encode must run once per ROW, not once per joined
    // pair (codegen would inline them through the broadcast join)
    ivfPqTopKFromCodes(
      ivfPqEncode(emb, idCol, vecCol, coarse, cbs, dim).localCheckpoint(),
      idCol, "__sid", "__codes",
      emb.where(queryPred), idCol, vecCol, coarse, cbs, dim, k)

  /** Corpus-side IVF-PQ ENCODE — (idCol, __sid coarse bucket, __codes PQ
    * codes), the ingest-time table every IVF-PQ and plain-PQ search
    * scans. NOT materialized here: the caller decides the persistence
    * boundary (localCheckpoint / parquet), because the same encode can
    * feed [[ivfPqTopKFromCodes]] AND [[pqTopKFromCodes]]/
    * [[pqTopKRerankedFromCodes]] (its (id, __codes) projection is
    * byte-identical to [[pqEncodeWithCodebooks]]'s output for the same
    * `cbs` — one corpus pass serves every consumer, where separate
    * per-method encodes would each re-scan and re-encode the corpus). */
  def ivfPqEncode(emb: DataFrame, idCol: String, vecCol: String,
                  coarse: Seq[(Long, Seq[Long])],
                  cbs: Seq[Seq[Seq[Long]]], dim: Int): DataFrame = {
    require(coarse.nonEmpty && coarse.length <= 256,
      s"coarse codebook must have 1..256 centroids, got ${coarse.length}")
    val mSub = cbs.length
    require(mSub >= 1 && dim % mSub == 0,
      s"dim=$dim must split evenly into ${mSub} codebooks")
    require(cbs.forall(_.nonEmpty), "a subspace codebook is empty")
    emb.select(col(idCol), quantize(col(vecCol)).as("__q"))
      .select(col(idCol),
        coarseAssignCol(col("__q"), coarse).as("__sid"),
        pqCodesCol(col("__q"), cbs).as("__codes"))
  }

  /** [[ivfPqTopK]] over a PRECOMPUTED (id, bucket, codes) table — the
    * production shape ([[ivfPqEncode]] runs once at ingest, persisted;
    * every query batch executes only this): query side computes its own
    * coarse bucket + ADC LUT, candidates prune by bucket equality and
    * score by LUT lookups, vectors never read. */
  def ivfPqTopKFromCodes(cand: DataFrame, idCol: String, sidCol: String,
                         codesCol: String, queries: DataFrame,
                         queryIdCol: String, queryVecCol: String,
                         coarse: Seq[(Long, Seq[Long])],
                         cbs: Seq[Seq[Seq[Long]]], dim: Int,
                         k: Int): DataFrame = {
    require(coarse.nonEmpty && coarse.length <= 256,
      s"coarse codebook must have 1..256 centroids, got ${coarse.length}")
    val mSub = cbs.length
    require(mSub >= 1 && dim % mSub == 0,
      s"dim=$dim must split evenly into ${mSub} codebooks")
    require(cbs.forall(_.nonEmpty), "a subspace codebook is empty")
    val subDim = dim / mSub
    val qs = queries
      .select(col(queryIdCol).as("query_id"),
        quantize(col(queryVecCol)).as("__qv"))
      .select(col("query_id"),
        coarseAssignCol(col("__qv"), coarse).as("__qb"),
        pqLutCol(col("__qv"), cbs, subDim).as("__lut"))
    val scored = cand.join(broadcast(qs),
        col(sidCol) === col("__qb") && col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("cand_id"),
        adcScoreCol(col("__lut"), col(codesCol), cbs).as("dot"))
    topK(scored, k)
  }

  /** Exact re-rank of a candidate SHORTLIST — the standard recall fix
    * behind any approximate proposer (PQ / IVF / LSH): the shortlist
    * (queries × a few dozen ids) BROADCASTS against the corpus scan,
    * so only shortlisted vectors are ever scored exactly and nothing
    * corpus-sized shuffles; the final top-k window carries (query,
    * cand, dot) pairs only. */
  def exactRerank(shortlist: DataFrame, emb: DataFrame, idCol: String,
                  vecCol: String, queryPred: Column, k: Int): DataFrame = {
    val vecs = emb.select(col(idCol).as("cand_id"),
      quantize(col(vecCol)).as("__cq"))
    val qs = emb.where(queryPred)
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("__qv"))
    val scored = vecs
      .join(broadcast(shortlist.select(col("query_id"), col("cand_id"))),
        Seq("cand_id"))
      .join(broadcast(qs), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        dot(col("__qv"), col("__cq")).as("dot"))
    topK(scored, k)
  }

  /** PQ propose + exact re-rank: the ADC scan proposes `k·overscan`
    * candidates per query (cheap, code-table only), [[exactRerank]]
    * re-scores that shortlist with true dots — recall approaches the
    * shortlist's coverage while the exact work stays
    * O(queries·k·overscan), never O(corpus). */
  def pqTopKReranked(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, cbs: Seq[Seq[Seq[Long]]],
                     dim: Int, k: Int, overscan: Int = 4): DataFrame =
    pqTopKRerankedFromCodes(
      pqEncodeWithCodebooks(emb, idCol, vecCol, cbs, dim).localCheckpoint(),
      idCol, "codes", emb, vecCol, queryPred, cbs, dim, k, overscan)

  /** [[pqTopKReranked]] over a PRECOMPUTED code table — lets one
    * materialized encode (e.g. the (id, codes) projection of
    * [[ivfPqEncode]], byte-identical for the same `cbs`) serve both the
    * ADC propose stage here and any other PQ consumer, instead of each
    * method re-encoding the corpus. `emb` supplies full-precision
    * vectors for the exact re-rank of the shortlist only. */
  def pqTopKRerankedFromCodes(codes: DataFrame, idCol: String,
                              codesCol: String, emb: DataFrame,
                              vecCol: String, queryPred: Column,
                              cbs: Seq[Seq[Seq[Long]]], dim: Int, k: Int,
                              overscan: Int = 4): DataFrame = {
    require(overscan >= 1, s"overscan must be >= 1, got $overscan")
    exactRerank(
      pqTopKFromCodes(codes, idCol, codesCol,
        emb.where(queryPred), idCol, vecCol, cbs, dim, k * overscan),
      emb, idCol, vecCol, queryPred, k)
  }

  /** Bucketed top-k: probe only candidates sharing the query's bucket. */
  def bucketedTopK(emb: DataFrame, idCol: String, vecCol: String,
                   bucketCol: String, queryPred: Column, k: Int): DataFrame = {
    val e = emb.select(col(idCol), col(bucketCol).as("__b"),
      quantize(col(vecCol)).as("__q"))
    val qs = e.where(queryPred)
      .select(col(idCol).as("query_id"), col("__b").as("__qb"),
        col("__q").as("__qv"))
    val scored = e.join(broadcast(qs),
        col("__b") === col("__qb") && col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("cand_id"),
        dot(col("__qv"), col("__q")).as("dot"))
    topK(scored, k)
  }
}
