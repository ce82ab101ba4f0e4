package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD

/**
 * Fixed-boundary total-order range partitioner (SURVEY §2 P1/P2) —
 * deterministic sharding from explicit boundaries, unlike Spark's sampled
 * `repartitionByRange`: same input + same boundaries ⇒ byte-identical
 * shards, run after run, which is what lets a new build match an existing
 * cluster's layout.
 *
 * Semantics match AlphaPartitioner.getPartition
 * (/root/reference/src/main/java/org/archive/hadoop/mapreduce/AlphaPartitioner.java:31-41):
 * binary search of the key against sorted boundaries; partition i holds keys
 * in [boundaries(i-1), boundaries(i)), partition 0 everything below
 * boundaries(0), the last partition everything at/above the last boundary.
 * Keys are whole CDX lines — comparing "urlkey ts rest" against a bare
 * "urlkey" boundary is the reference's raw-string compare.
 */
final class BoundaryPartitioner(interior: IndexedSeq[String]) extends Partitioner {
  require(interior == interior.sorted(graft.util.KeyOrder),
    "boundaries must be sorted (byte-wise)")
  override val numPartitions: Int = interior.length + 1

  override def getPartition(key: Any): Int = {
    val k = key.asInstanceOf[String]
    // number of boundaries <= k
    var lo = 0; var hi = interior.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (graft.util.KeyOrder.lteq(interior(mid), k)) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def equals(other: Any): Boolean = other match {
    case b: BoundaryPartitioner => b.interiorBoundaries == interior
    case _ => false
  }
  override def hashCode(): Int = interior.hashCode()
  def interiorBoundaries: IndexedSeq[String] = interior
}

/** Boundary sources, in the reference's preference order: explicit split
  * file (P1), an existing cluster's summary quantiles (P2:
  * ZipNumPartitioner.java:92-135 — "partition new data like the existing
  * cluster"), or a seeded sample of the data (deterministic for a given
  * input, unlike repartitionByRange's per-run sampling). */
object Boundaries {

  /** Split-file loader. Two accepted formats:
    *  - AlphaPartitioner: one boundary string per line, sorted; line i is
    *    the START key of shard i, so the FIRST line is always dropped —
    *    keys below it clamp into shard 0 (AlphaPartitioner.java:34-38). An
    *    n-line file yields n partitions, matching the reference layout it
    *    exists to reproduce (dropping only an EMPTY first line used to
    *    yield n+1 when the file led with a real key);
    *  - SplitFile (Q6): `NAME START END` per line → boundaries are the
    *    non-minimal STARTs.
    * Format is sniffed over EVERY line (first-line-only sniffing silently
    * mis-parsed an alpha file whose first key happened to contain two
    * separators); a mixed file aborts loudly. An alpha file where every
    * boundary key itself has exactly two separators is still ambiguous —
    * callers with such keys should pass boundaries programmatically
    * (BulkKvSink does exactly that, see BulkKvSink.scala:95). Lines are
    * CR-stripped: a CRLF split file used to yield boundaries with a
    * trailing \r that silently skewed shard ranges ('\r' < ' '). The
    * dropped-first-key NOTE goes to `err` (the calling verb's stderr). */
  def fromSplitFile(path: String, conf: Configuration,
                    err: java.io.PrintStream): IndexedSeq[String] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val raw = text.split("\n", -1).toIndexedSeq.map(_.stripSuffix("\r"))
    val lines = if (raw.nonEmpty && raw.last.isEmpty) raw.dropRight(1) else raw
    require(lines.nonEmpty, s"split file $path is empty")
    val fieldCounts = lines.map(_.split("\t| ", -1).length).distinct
    if (fieldCounts == IndexedSeq(3))
      graft.sources.SplitFile.interiorBoundaries(
        graft.sources.SplitFile.parse(lines))
    else {
      require(!fieldCounts.contains(3) || fieldCounts.size == 1,
        s"split file $path mixes NAME START END lines with plain boundaries")
      require(lines == lines.sorted(graft.util.KeyOrder),
        s"split file $path must be sorted (byte-wise)")
      // r18 format change: the first line is ALWAYS dropped (line i =
      // shard i's START, exactly AlphaPartitioner). Split files persisted
      // by pre-r18 versions of THIS repo under the old keep-non-empty-
      // first-line convention now yield n instead of n+1 partitions —
      // warn so stale files get regenerated instead of silently
      // reinterpreted (a reference-format file with a real first key is
      // also fine; the warning just makes the dropped key visible).
      if (lines.head.nonEmpty)
        err.println(s"NOTE: split file $path leads with a real key " +
          s"('${lines.head.take(40)}'), dropped as shard 0's START " +
          "(AlphaPartitioner format, since r18); a pre-r18 graft split " +
          "file intending it as an interior boundary must be regenerated")
      lines.tail // line 0 = shard 0's start; getPartition clamps below it
    }
  }

  /** JSON splits file (P2(c), the reference's third boundary source —
    * ZipNumPartitioner.java:204-233 `loadJsonSplits`): the root is a JSON
    * array whose element 0 is the cluster's line count (ignored here, as
    * there) and element 1 is the splits array; the splits array's first and
    * last entries are the empty-line sentinels of the producing sort and
    * are skipped unconditionally (`for (i = 1; i < length - 1; i++)`). A
    * non-array root, a missing/non-array element 1, or a non-string split
    * entry aborts loudly (the reference's JSONException, minus its
    * swallowed printStackTrace); a NON-empty first/last entry warns — the
    * reference drops it silently, which loses a real boundary if a
    * producer ever deviates from the convention. The WARN goes to `err`
    * (the calling verb's stderr).
    *
    * Tie semantics note: the reference's partitioner sends a key EQUAL to
    * a split to the earlier partition (`key <= split → index`,
    * ZipNumPartitioner.java:66-77), while [[BoundaryPartitioner]] starts a
    * partition AT its boundary. Either way a bare-urlkey split never
    * splits a urlkey group — the group lands one partition earlier there
    * than here, a layout shift, not a correctness difference. */
  def fromJsonSplits(path: String, conf: Configuration,
                     err: java.io.PrintStream): IndexedSeq[String] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = try mapper.readTree(text) catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        throw new IllegalArgumentException(
          s"splits file $path is not valid JSON: ${e.getMessage}")
    }
    require(root != null && root.isArray && root.size >= 2,
      s"splits file $path: root must be a JSON array [lineCount, splits]")
    val splits = root.get(1)
    require(splits.isArray,
      s"splits file $path: element 1 must be the splits array")
    require(splits.size >= 2,
      s"splits file $path: splits array needs its empty first/last sentinels")
    Seq(0, splits.size - 1).foreach { i =>
      val s = splits.get(i)
      if (!s.isTextual || s.asText.nonEmpty)
        err.println(s"WARN: splits file $path entry $i is " +
          s"${s.toString.take(40)}; the format's first/last entries are " +
          "empty sentinels and are always dropped")
    }
    val out = (1 until splits.size - 1).map { i =>
      val s = splits.get(i)
      require(s.isTextual,
        s"splits file $path: split entry $i is not a string: ${s.toString.take(40)}")
      s.asText
    }
    require(out == out.sorted(graft.util.KeyOrder),
      s"splits file $path: split points must be sorted (byte-wise)")
    out
  }

  /** Suffix dispatch matching the reference (ZipNumPartitioner.java:164-168):
    * `.json` → [[fromJsonSplits]], anything else → [[fromSplitFile]]. */
  def fromAnySplitFile(path: String, conf: Configuration,
                       err: java.io.PrintStream): IndexedSeq[String] =
    if (path.endsWith(".json")) fromJsonSplits(path, conf, err)
    else fromSplitFile(path, conf, err)

  /** Interior boundaries as every (total/n)-th key of the concatenated
    * summaries of existing clusters — n output partitions shaped like the
    * clusters' own key distribution.
    *
    * Boundaries are TRUNCATED to the bare urlkey (the summary key's first
    * token): a bare-urlkey boundary sorts before every line of that
    * urlkey, so each partition starts at a urlkey start and no
    * (urlkey, day) group ever straddles a partition — which is what makes
    * [[GlobalCdxCleanup.streamingLine]]'s per-partition day counter EXACT
    * in the zero-shuffle merge. The reference's ZipNumPartitioner used the
    * full "urlkey ts" summary key, could split a urlkey across reducers,
    * and its reducer's per-reducer count then over-admitted — a fidelity
    * divergence in our favor, documented here. Cost: a single enormous
    * urlkey caps how evenly quantiles can split — the same skew the
    * reference's urlkey-keyed reducers had. */
  def fromClusterSummaries(dirs: Seq[String], n: Int,
                           conf: Configuration): IndexedSeq[String] = {
    require(n >= 1, "need at least one partition")
    val keys = dirs.flatMap(d =>
      graft.sources.zipnum.ZipNumIndex.load(d, conf).blocks
        .map(b => b.firstKey.takeWhile(_ != ' ')))
      .sorted(graft.util.KeyOrder).toIndexedSeq
    quantiles(keys, n)
  }

  /** Seeded reservoir sample → quantile boundaries; same input ⇒ same
    * boundaries (seed fixed), unlike Spark's RangePartitioner. */
  def sample(lines: RDD[String], n: Int, sampleSize: Int = 20000,
             seed: Long = 42L): IndexedSeq[String] = {
    require(n >= 1, "need at least one partition")
    if (n == 1) return IndexedSeq.empty
    val keys = lines.takeSample(withReplacement = false, sampleSize, seed)
      .sorted(graft.util.KeyOrder).toIndexedSeq
    quantiles(keys, n)
  }

  /** n-1 interior quantile keys out of a sorted key list. */
  def quantiles(sortedKeys: IndexedSeq[String], n: Int): IndexedSeq[String] = {
    if (sortedKeys.isEmpty || n <= 1) return IndexedSeq.empty
    (1 until n).map(i => sortedKeys((i.toLong * sortedKeys.length / n).toInt))
      .distinct
  }
}
