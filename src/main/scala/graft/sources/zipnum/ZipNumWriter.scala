package graft.sources.zipnum

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset
import org.apache.spark.util.SerializableConfiguration

/**
 * Distributed ZipNum cluster writer (SURVEY §2 K1/K2/K5, §3.1 step 6-7).
 *
 * Input: a Dataset[String] of CDX lines whose partitioning IS the shard
 * layout — each partition must already be range-partitioned and sorted
 * (see [[graft.operators.ClusterOps.build]]). Every task writes its own
 * `part-a-NNNNN.gz` + `-idx` pair directly (no driver bottleneck, scales
 * with executors); the driver then folds the per-shard indexes into
 * `ALL.summary` + `manifest.txt` — the reference's separate
 * SummaryGenerator/ManifestAggregator post-passes
 * (/root/reference/src/main/java/org/archive/hadoop/cdx/SummaryGenerator.java:46-122,
 * ManifestAggregator.java:34-81) folded into the commit phase.
 *
 * Tasks write to `_tmp/` and the commit renames into place — same
 * .TMP→rename discipline as the reference's jobs
 * (hadoop/jobs/CDXGenerator.java:171-179).
 */
object ZipNumWriter {

  def write(lines: Dataset[String], outDir: String,
            linesPerBlock: Int = ZipNumFormat.DefaultLinesPerBlock,
            partPrefix: String = "part-a-",
            overwrite: Boolean = false): Unit =
    writeRdd(lines.sparkSession, lines.rdd, outDir, linesPerBlock, partPrefix,
      overwrite)

  /** RDD surface — used when the partitioning was produced by
    * [[graft.operators.BoundaryPartitioner]] (repartitionAndSortWithinPartitions
    * yields an RDD; a Dataset hop would discard the custom partitioner). */
  def writeRdd(spark: org.apache.spark.sql.SparkSession,
               lines: org.apache.spark.rdd.RDD[String], outDir: String,
               linesPerBlock: Int = ZipNumFormat.DefaultLinesPerBlock,
               partPrefix: String = "part-a-",
               overwrite: Boolean = false): Unit = {
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fs = new Path(outDir).getFileSystem(conf.value)
    val stageDir = ZipNumShardIO.prepareStage(fs, outDir, overwrite)

    // Each partition → one shard, written executor-side.
    val shardInfos = lines.mapPartitionsWithIndex { (pid, iter) =>
      if (iter.isEmpty) Iterator.empty
      else {
        val part = f"$partPrefix$pid%05d"
        // attempt-unique tmp names: a speculative or zombie retry of this
        // partition must never write the same file (same discipline as
        // the DSv2 writer's part-tN names)
        val tmpName = s"$part-t${org.apache.spark.TaskContext.get().taskAttemptId()}"
        val fs = new Path(stageDir).getFileSystem(conf.value)
        val shard = new ShardStream(fs, s"$stageDir/_tmp", part, tmpName,
          linesPerBlock)
        // abort on ANY failure: without it a task that dies mid-iteration
        // leaks the shard's two open HDFS output streams (handles/leases
        // held for the job's lifetime) and leaves orphaned _tmp files —
        // the DSv2 path has always aborted; this path had drifted
        try {
          iter.foreach(shard.add)
          Iterator.single((pid, part, tmpName, shard.finish()))
        } catch { case e: Throwable => shard.abort(); throw e }
      }
    }.collect().sortBy(_._1)

    // Commit: rename shards into place, concatenate -idx → ALL.summary.
    ZipNumShardIO.commitShards(fs, stageDir,
      shardInfos.map { case (_, part, tmpName, _) => (part, tmpName) })
    if (stageDir != outDir) ZipNumShardIO.swapIn(fs, outDir, stageDir)
  }
}
