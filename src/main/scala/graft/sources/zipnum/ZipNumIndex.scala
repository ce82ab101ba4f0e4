package graft.sources.zipnum

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.sources.zipnum.ZipNumFormat.Block

/**
 * Driver-side cluster metadata: load `ALL.summary`, prune blocks to a key
 * range, and plan read slices.
 *
 * Pruning semantics match the reference's serving path
 * (/root/reference/src/main/java/org/archive/hadoop/cdx/CDXCluster.java:31-35:
 * getRecordIterator(start, lessThan=true) — binary search to the LAST
 * summary entry strictly BELOW start, then iterate;
 * /root/reference/src/main/java/org/archive/hadoop/cdx/ClusterRange.java:49-66:
 * stop once a block's first key is >= end — inclusive start, exclusive end).
 * The summary is tiny relative to the data (1 line per 3000-record block:
 * ~100 MB of index per 100 TB of cluster), so driver-side planning holds at
 * scale; the data itself never touches the driver.
 */
object ZipNumIndex {

  /** One contiguous byte range of gzip members within a shard — the unit a
    * single task reads with one open stream (the sticky-handle pattern of
    * hadoop/cdx/HDFSBlockLoader.java:20-40, folded into slice planning). */
  final case class Slice(shardPath: String, offset: Long, length: Long, nBlocks: Int)

  final case class ClusterIndex(dir: String, blocks: IndexedSeq[Block]) {

    /** Blocks possibly containing keys in [start, end). Keys compare
      * byte-wise ([[graft.util.KeyOrder]]) — the ordering the cluster was
      * sorted with (SURVEY §7 risk 4: Java String order diverges on
      * supplementary characters). */
    def prune(start: Option[String], end: Option[String]): IndexedSeq[Block] = {
      if (blocks.isEmpty) return blocks
      val from = start match {
        case None => 0
        case Some(s) =>
          // last block with firstKey STRICTLY BELOW s. `<=` here was a
          // data-loss bug (r18 review): a run of records sharing one
          // summary key can span a block boundary, so when s equals a
          // block's firstKey, (a) the PREVIOUS block's tail may hold
          // in-range records under that same key, and (b) with TIED
          // firstKeys ("last <= s" lands on the last tie) the earlier
          // tied blocks — whose contents are entirely >= s — were
          // skipped wholesale. Both matter systematically in the merge
          // path, whose partition boundaries ARE summary firstKeys.
          // The reference serves through SortedTextFile
          // .getRecordIterator(start, /*lessThan=*/true) — position at
          // the last summary entry < start — for exactly this reason
          // (CDXCluster.java:31-35). Cost of the conservative bound: at
          // most one extra block read per query; readSlice's [start, end)
          // trim discards its out-of-range lines.
          var lo = 0; var hi = blocks.length - 1; var ans = 0
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (graft.util.KeyOrder.lt(blocks(mid).firstKey, s)) { ans = mid; lo = mid + 1 }
            else hi = mid - 1
          }
          // if even blocks(0).firstKey >= s, still start at 0
          ans
      }
      val until = end match {
        case None => blocks.length
        case Some(e) =>
          // first block with firstKey >= e (its keys are all >= e → excluded)
          var lo = from; var hi = blocks.length; var ans = blocks.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (graft.util.KeyOrder.gteq(blocks(mid).firstKey, e)) { ans = mid; hi = mid }
            else lo = mid + 1
          }
          ans
      }
      if (from >= until) IndexedSeq.empty else blocks.slice(from, until)
    }

    /** Coalesce a pruned block list into contiguous per-shard byte slices,
      * then bin-pack slices so no task reads more than `maxSliceBytes`
      * compressed. Returns slices in cluster key order. */
    def slices(pruned: Seq[Block],
               maxSliceBytes: Long = DefaultMaxSliceBytes): Seq[Slice] = {
      val out = Seq.newBuilder[Slice]
      var cur: Block = null
      var curOff = 0L; var curLen = 0L; var curN = 0
      def flush(): Unit = if (cur != null) {
        out += Slice(s"$dir/${cur.part}.gz", curOff, curLen, curN)
        cur = null; curLen = 0; curN = 0
      }
      pruned.foreach { b =>
        val contiguous = cur != null && b.part == cur.part &&
          curOff + curLen == b.offset && curLen + b.length <= maxSliceBytes
        if (!contiguous) { flush(); cur = b; curOff = b.offset }
        curLen += b.length; curN += 1
      }
      flush()
      out.result()
    }
  }

  /** ~128 MiB compressed per read slice — aligned with Spark's default
    * `spark.sql.files.maxPartitionBytes` so task granularity matches what a
    * parquet scan of the same data would choose. */
  val DefaultMaxSliceBytes: Long = 128L * 1024 * 1024

  def load(dir: String, conf: Configuration): ClusterIndex =
    ClusterIndex(dir, graft.util.IoUtil.readLines(new Path(dir, "ALL.summary"), conf)
      .map(ZipNumFormat.parseSummaryLine))
}
