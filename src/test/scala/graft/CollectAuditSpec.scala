package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Institutional guard on driver-side materialization (the r15 verdict's
  * "keep the collect() inventory audited"): every Spark-action
  * `.collect()` under src/main is inventoried here with WHY its result
  * is small-by-construction. A NEW site — or a removed one — fails this
  * test until the inventory is consciously updated with its bound.
  * (The empty-paren form is the Spark action; Scala's partial-function
  * `collect { ... }` never matches.) */
class CollectAuditSpec extends AnyFunSuite {

  // file (relative to src/main/scala) -> expected .collect() count.
  // Bounds, per file:
  //  - graft/ScaleRehearsal.scala: diagnostic harness — every collect is
  //    a k-row stats/centroid/recall readback printed to the operator.
  //    r20: +3 one-row agg readbacks (joinsRehearsal invariants) and
  //    +1 sketch-summary readback (sketchesRehearsal `rows`: 1-row
  //    KMV/HLL summaries, <= 20 per-group cells).
  //  - graft/gates/GateSupport.scala + graft/gates/CdxGates.scala (the
  //    gates' 8): fixture generation (test corpora written once per
  //    source-table identity: the W/ARC and media-WARC ids, q39's part
  //    records, q113's generation slices), the q43 codebook harvest
  //    (8 vectors), q49's served corpus (limit maxServedLines + 1),
  //    q50's repackaged member offsets — all gate-scale metadata.
  //  - operators/llm/CorpusModels.scala: BPE merge rounds (1 row each),
  //    vocab tables bounded by topK/nMerges, and the bm25 driver-fold
  //    pair probe HARD-CLAMPED at driverPairLimit <= 65536 (r16 guard).
  //    r22 (+3, fused one-shot bm25TopK): the occurrence probe
  //    (limit(8193) collect), the merged totals+df(t) stats union
  //    (1 totals row + <= distinct-query-terms <= 8192 rows), and the
  //    fallback totals readback (1 row) — each bounded by the same
  //    driverPairLimit clamp or by construction.
  //  - operators/llm/KMeans.scala: per-round centroid readback — K×dim
  //    longs regardless of corpus size (the MLlib topology).
  //  - operators/llm/TextOps.scala: DSIR/NB feature tables over a
  //    BOUNDED md5-bucket space (<= buckets rows).
  //  - operators/llm/Sampling.scala: per-stratum count tables
  //    (|strata| rows) and exact-rank range boundaries (partitions).
  //  - operators/llm/Packing.scala: per-partition row counts for the
  //    exact distributed prefix sum (partitions rows).
  //  - operators/llm/ConnectedComponents.scala: the 1-row convergence
  //    flag per fixpoint round.
  //  - operators/Sketches.scala: the <= k·partitions sketch-sample merge.
  //  - operators/ArchiveRepackage.scala: one (file, bytes) report row
  //    per written archive.
  //  - cli/GraftCli.scala: the http-import per-task report — bounded by
  //    the operator-written manifest, not by any corpus.
  private val allowed: Map[String, Int] = Map(
    // 16: joins 3, dedup 2, semdedup 2 (the cluster-size agg and the
    // kept/maxId agg), one in each other mode but spine, which has none;
    // all are one-row aggregates, k-row summaries or recall sets, except
    // stream's read of the (id, source) column pair it writes as input
    "graft/ScaleRehearsal.scala" -> 16,
    // r22: 9 -> 8 — the q43/q123 codebook harvest is one shared
    // harvestCoarseCodebook (8 rows, per-invocation — the cross-rep
    // TrieMap memoization is gone per the r21 verdict's adjudication)
    "graft/gates/GateSupport.scala" -> 4,
    "graft/gates/CdxGates.scala" -> 4,
    "graft/operators/llm/CorpusModels.scala" -> 7,
    "graft/operators/llm/KMeans.scala" -> 3,
    "graft/operators/llm/TextOps.scala" -> 2,
    "graft/operators/llm/Sampling.scala" -> 2,
    "graft/operators/llm/Packing.scala" -> 1,
    "graft/operators/llm/ConnectedComponents.scala" -> 1,
    "graft/operators/Sketches.scala" -> 1,
    "graft/operators/ArchiveRepackage.scala" -> 1,
    "graft/cli/GraftCli.scala" -> 1)

  /** Each src/main source: (path relative to src/main/scala, text). */
  private def mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') ->
        Files.readString(p))
      .toSeq
  }

  test("every driver-side collect() site is inventoried with its bound") {
    val pattern = "\\.collect\\(\\)".r
    val found = mainSources
      .map { case (p, text) => p -> pattern.findAllIn(text).length }
      .filter(_._2 > 0)
      .toMap
    val added = (found.keySet -- allowed.keySet).toSeq.sorted
    val removed = (allowed.keySet -- found.keySet).toSeq.sorted
    val changed = allowed.keySet.intersect(found.keySet)
      .filter(k => allowed(k) != found(k)).toSeq.sorted
    assert(added.isEmpty && removed.isEmpty && changed.isEmpty,
      s"collect() inventory drifted — new files: $added; " +
        s"gone: $removed; " +
        s"count changes: ${changed.map(k =>
          s"$k ${allowed(k)}->${found(k)}").mkString(", ")}. " +
        "If the new site's result is small-by-construction, add it " +
        "here WITH its bound; if it is not, it does not belong on " +
        "the driver.")
  }

  test("no src/main source names the checkout's absolute path") {
    // program paths resolve against the working directory (as the
    // gates' scratch does), so the program runs from any checkout; the
    // forked test JVM's working directory is the checkout root
    val literal = scala.util.matching.Regex.quote(
      "\"" + Paths.get("").toAbsolutePath.toString).r
    val sites = mainSources
      .map { case (p, text) => p -> literal.findAllIn(text).length }
      .filter(_._2 > 0).toMap
    assert(sites.isEmpty, s"absolute checkout path literals: $sites")
  }
}
