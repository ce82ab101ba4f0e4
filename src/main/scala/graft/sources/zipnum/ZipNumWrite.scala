package graft.sources.zipnum

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/**
 * DSv2 write path: `lines.write.format("zipnum").mode("overwrite").save(dir)`
 * (SURVEY §2 K4 ZipNumStorage). Input contract matches the reference's
 * StoreFunc: a single STRING column of CDX lines whose partitioning/order
 * IS the shard layout (range-partition + sortWithinPartitions upstream,
 * e.g. via BoundaryPartitioner — same assumption Pig's ordered store made).
 *
 * Each task writes its shard + idx under `_tmp/` with a task-attempt
 * suffix (speculative/retried attempts cannot collide); the driver commit
 * renames winners into place and folds the per-shard indexes into
 * ALL.summary + manifest.txt.
 */
private[zipnum] class ZipNumWriteBuilder(dir: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val schema = info.schema()
      require(schema.fields.length == 1 &&
        schema.fields(0).dataType.isInstanceOf[StringType],
        s"zipnum writes a single STRING column of CDX lines; got ${schema.simpleString}")
      val spark = org.apache.spark.sql.SparkSession.active
      val conf = new SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val linesPerBlock = Option(info.options.get("linesPerBlock"))
        .map(_.toInt).getOrElse(ZipNumFormat.DefaultLinesPerBlock)
      new ZipNumBatchWrite(dir, conf, linesPerBlock, doTruncate)
    }
  }
}

private[zipnum] case class ZipNumCommit(partitionId: Int, part: String,
                                        tmpName: String, nLines: Long)
    extends WriterCommitMessage

private[zipnum] class ZipNumBatchWrite(dir: String,
                                       conf: SerializableConfiguration,
                                       linesPerBlock: Int,
                                       truncate: Boolean) extends BatchWrite {

  private val out = new Path(dir)
  // dir when writing fresh; dir + ".__stage" when replacing an existing
  // cluster — set once driver-side in createBatchWriterFactory, read by
  // commit/abort on the same instance
  @volatile private var stageDir: String = dir
  // set when commit() fails AFTER the staged cluster is known complete
  // (the swap-in rename failed): abort() must then NOT delete stageDir —
  // it may be the only intact copy of the new data (r20 advice)
  @volatile private var preserveStageOnAbort: Boolean = false

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // the same atomic-replace staging as ZipNumWriter.writeRdd
    stageDir = ZipNumShardIO.prepareStage(out.getFileSystem(conf.value),
      dir, truncate)
    new ZipNumWriterFactory(stageDir, conf, linesPerBlock)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = out.getFileSystem(conf.value)
    val winners = messages.collect { case m: ZipNumCommit => m }
      .sortBy(_.partitionId)
    ZipNumShardIO.commitShards(fs, stageDir,
      winners.map(m => (m.part, m.tmpName)).toSeq)
    if (stageDir != dir) {
      // commitShards already completed: the staged cluster is whole, so
      // it must survive the abort() Spark fires when the swap throws
      // (r21 advice fix — previously preserveStageOnAbort was still
      // false here, so the message pointed at a stage dir that abort
      // had just deleted)
      preserveStageOnAbort = true
      ZipNumShardIO.swapIn(fs, dir, stageDir)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = out.getFileSystem(conf.value)
    if (preserveStageOnAbort) () // complete staged cluster: sole good copy
    else if (stageDir != dir) fs.delete(new Path(stageDir), true)
    else fs.delete(new Path(dir, "_tmp"), true)
  }
}

private[zipnum] class ZipNumWriterFactory(dir: String,
                                          conf: SerializableConfiguration,
                                          linesPerBlock: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ZipNumDataWriter(dir, conf, linesPerBlock, partitionId, taskId)
}

private[zipnum] class ZipNumDataWriter(dir: String,
                                       conf: SerializableConfiguration,
                                       linesPerBlock: Int,
                                       partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val part = f"part-a-$partitionId%05d"
  private val tmpName = s"$part-t$taskId"
  private val fs = new Path(dir).getFileSystem(conf.value)
  private val shard =
    new ShardStream(fs, s"$dir/_tmp", part, tmpName, linesPerBlock)

  override def write(row: InternalRow): Unit =
    shard.add(row.getUTF8String(0).toString)

  override def commit(): WriterCommitMessage =
    ZipNumCommit(partitionId, part, tmpName, shard.finish())

  override def abort(): Unit = shard.abort()

  override def close(): Unit = ()
}
