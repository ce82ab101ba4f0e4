package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Encoders, SparkSession}

import graft.sources.zipnum.{ZipNumFormat, ZipNumIndex, ZipNumReader}

/**
 * The three headline cluster pipelines (SURVEY §3.1–§3.3), Spark-first.
 *
 * build  — CDX lines → deterministic range shards → sorted ZipNum cluster
 *          (jobs/BuildCluster.java:71-204): one shuffle, on the boundary
 *          partitioner; sort + write happen inside the same stage.
 * merge  — N sorted clusters → 1 cluster, ZERO shuffle
 *          (jobs/MergeClusters.java:68-152 had a map-side merge; here each
 *          output partition block-prunes its key range from every input,
 *          heap-merges, and streams cleanup state over the sorted run).
 * range  — [start, end) dump, blocks pruned via ALL.summary, read and
 *          k-way merged on the driver with no Spark job, like the
 *          single-process cdx/CDXClusterRangeDumper.java:39-74.
 */
object ClusterOps {

  /** Build a cluster from CDX text lines. `interior` boundaries (P1 split
    * file or sampled) fix the shard layout deterministically. */
  def build(spark: SparkSession, lines: RDD[String], outDir: String,
            interior: IndexedSeq[String],
            linesPerBlock: Int = ZipNumFormat.DefaultLinesPerBlock,
            surtOutput: Boolean = false,
            overwrite: Boolean = false): Unit = {
    val prepared: RDD[String] =
      if (surtOutput)
        // legacy CDX-9/10 → CDX-11 with fresh SURT keys (O1, CDXMapper)
        lines.flatMap(l =>
          graft.model.Cdx.convertLegacy(l).map(graft.model.Cdx.formatLine))
      else
        lines.filter(l => l.nonEmpty && !l.startsWith(" CDX "))
    implicit val keyOrder: Ordering[String] = graft.util.KeyOrder
    val sorted = prepared
      .map((_, null))
      .repartitionAndSortWithinPartitions(new BoundaryPartitioner(interior))
      .keys
    write(spark, sorted, outDir, linesPerBlock, overwrite)
  }

  /** Merge sorted clusters without any shuffle: align every input to shared
    * boundaries (block-pruned range reads), heap-merge aligned partitions,
    * optionally apply the global-CDX rules as streaming state over the
    * sorted run, write. */
  def merge(spark: SparkSession, inputs: Seq[String], outDir: String,
            nShards: Int,
            globalCdx: Boolean = false,
            dayLimit: Int = GlobalCdxCleanup.DefaultDayLimit,
            linesPerBlock: Int = ZipNumFormat.DefaultLinesPerBlock,
            boundaries: Option[IndexedSeq[String]] = None,
            overwrite: Boolean = false): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val given = boundaries.getOrElse(
      Boundaries.fromClusterSummaries(inputs, nShards, conf))
    // Under global-cdx the per-partition day counter is exact ONLY when
    // every partition starts at a urlkey start (fromClusterSummaries
    // guarantees it; see Boundaries.fromClusterSummaries doc). Externally
    // supplied boundaries (--splits, q113-style callers) may carry a
    // "urlkey ts" tail — truncate so a (urlkey, day) group never straddles.
    // Idempotent on already-bare boundaries; only applied when the day
    // counter is in play, so plain merges honor the given layout exactly.
    val interior =
      if (globalCdx)
        given.map(_.takeWhile(_ != ' ')).distinct.toIndexedSeq
      else given
    val aligned = inputs.map(d => ZipNumReader.rangesRdd(spark, d, interior))
    val merged = SortedMerge.merge(aligned)
    val cleaned =
      if (globalCdx)
        merged.mapPartitions(GlobalCdxCleanup.streamingLine(dayLimit),
          preservesPartitioning = true)
      else merged
    write(spark, cleaned, outDir, linesPerBlock, overwrite)
  }

  /** Write `lines` through the `zipnum` DSv2 sink, partition i as shard i.
    * The Dataset hop keeps the RDD's partitions as they are (no shuffle,
    * no sort: the sink requires no distribution or ordering). */
  private def write(spark: SparkSession, lines: RDD[String], outDir: String,
                    linesPerBlock: Int, overwrite: Boolean): Unit =
    spark.createDataset(lines)(Encoders.STRING).write.format("zipnum")
      .option("linesPerBlock", linesPerBlock.toLong)
      .mode(if (overwrite) "overwrite" else "append").save(outDir)

  /** Stream [start, end) of one or more clusters, globally sorted. */
  def range(spark: SparkSession, start: Option[String], end: Option[String],
            dirs: Seq[String]): Iterator[String] =
    range(spark.sparkContext.hadoopConfiguration, start, end, dirs)

  /** Stream [start, end) of one or more clusters, globally sorted: each
    * cluster's pruned block slices are read on the calling thread and
    * k-way merged in byte order — no Spark job, one open gzip stream per
    * cluster at a time. */
  def range(conf: Configuration, start: Option[String], end: Option[String],
            dirs: Seq[String]): Iterator[String] =
    mergeRanges(conf, start, end, dirs.map(ZipNumIndex.load(_, conf)))

  /** [[range]] over indexes already loaded (the `cluster-range` verb
    * reports each one's pruned block count first). */
  private[graft] def mergeRanges(conf: Configuration, start: Option[String],
                                 end: Option[String],
                                 indexes: Seq[ZipNumIndex.ClusterIndex]): Iterator[String] =
    SortedMerge.mergeIterators(
      indexes.map(ZipNumReader.localLines(conf, _, start, end)))(graft.util.KeyOrder)
}
