package graft.sources.zipnum

import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import graft.sources.zipnum.ZipNumIndex.Slice

/**
 * ZipNum cluster reader (SURVEY §2 S5/Q1/Q2, §3.3). Planning happens over
 * `ALL.summary`; each slice of a shard streams through a single open
 * stream (gzip members are concatenated, `GZIPInputStream` walks them
 * natively), splits on LF only (interior CR is data), and residual-trims
 * to [start, end) — inclusive start / exclusive end, the bound semantics of
 * /root/reference/src/main/java/org/archive/hadoop/cdx/ClusterRange.java:57-62
 * (StartBoundedStringIterator / BoundedStringIterator over raw lines).
 *
 * The trim relies on the cluster being sorted in [[graft.util.KeyOrder]]
 * byte order, as summary pruning does: lines below `start` are skipped
 * undecoded, and a slice stops inflating at its first line >= `end`.
 *
 * Key-range lookups read driver-local ([[localLines]]), like the
 * reference's single-process range dumper; whole-cluster distributed
 * reads go through [[rangesRdd]] (merge) or the DSv2 `zipnum` scan.
 */
object ZipNumReader {

  /** Lines of `[start, end)` from one cluster, in cluster key order, read
    * on the calling thread with no Spark job. */
  def localLines(conf: Configuration, dir: String,
                 start: Option[String] = None,
                 end: Option[String] = None): Iterator[String] =
    localLines(conf, ZipNumIndex.load(dir, conf), start, end)

  /** [[localLines]] over an already-loaded summary. Slices open lazily, one
    * at a time, and each closes once exhausted. */
  def localLines(conf: Configuration, index: ZipNumIndex.ClusterIndex,
                 start: Option[String], end: Option[String]): Iterator[String] =
    index.slices(index.prune(start, end)).iterator
      .flatMap(readSlice(conf, _, start, end))

  /**
   * RDD whose partition i holds the merged-ready key range
   * [boundaries(i-1), boundaries(i)) of the cluster (partition 0 is
   * (-inf, boundaries(0)), last is [boundaries(last), +inf)) — the shape of
   * MergeClusterRangesInputFormat
   * (/root/reference/src/main/java/org/archive/hadoop/io/MergeClusterRangesInputFormat.java:29-173).
   * Every input cluster rendered against the SAME boundaries has aligned,
   * internally sorted partitions → zipPartitions heap-merge, zero shuffle.
   * This is the merge's one RDD read: the DSv2 scan has one partition per
   * pruned slice, so it cannot split clusters at shared boundaries.
   */
  def rangesRdd(spark: SparkSession, dir: String,
                boundaries: IndexedSeq[String]): RDD[String] = {
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val index = ZipNumIndex.load(dir, spark.sparkContext.hadoopConfiguration)
    val nPart = boundaries.length + 1
    val parts: IndexedSeq[(Option[String], Option[String], Seq[Slice])] =
      (0 until nPart).map { i =>
        val lo = if (i == 0) None else Some(boundaries(i - 1))
        val hi = if (i == nPart - 1) None else Some(boundaries(i))
        (lo, hi, index.slices(index.prune(lo, hi)))
      }
    // `parallelize(seq, n)` with `seq.length == n` deterministically
    // places element i in partition i (ParallelCollectionRDD slices at
    // `i*len/numSlices`), so range i lands in partition i with no
    // partitioner, no shuffle and no extra stage barrier per input cluster
    spark.sparkContext
      .parallelize(parts, nPart)
      .mapPartitions(_.flatMap { case (lo, hi, ss) =>
        ss.iterator.flatMap(readSlice(conf.value, _, lo, hi))
      })
  }

  /** Stream one slice: seek once, read `length` bytes through one handle. */
  def readSlice(conf: Configuration, slice: Slice,
                start: Option[String], end: Option[String]): Iterator[String] =
    readSliceWithCloser(conf, slice, start, end)._1

  /** [[readSlice]] plus an idempotent closer for callers that may stop
    * consuming early (DSv2 PartitionReader.close on limit/kill) — the
    * auto-close-on-exhaustion alone would leak the file handle there. */
  def readSliceWithCloser(conf: Configuration, slice: Slice,
                          start: Option[String], end: Option[String])
      : (Iterator[String], () => Unit) = {
    val p = new Path(slice.shardPath)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    in.seek(slice.offset)
    val bounded = new graft.util.IoUtil.BoundedInputStream(in, slice.length)
    val gz = new GZIPInputStream(bounded, 64 * 1024)
    val it = new graft.util.IoUtil.LfLineIterator(gz, start, end)
    var closed = false
    val closer = () => if (!closed) {
      closed = true
      try gz.close() catch { case _: Exception => () }
      try in.close() catch { case _: Exception => () }
    }
    (new graft.util.IoUtil.AutoCloseIterator(it, closer), closer)
  }

}
