package graft.sources.zipnum

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/**
 * The ZipNum writer: `lines.write.format("zipnum").save(dir)` (SURVEY §2
 * K4 ZipNumStorage); `ClusterOps.build`/`merge` write through it too.
 * Input contract matches the reference's StoreFunc: a single STRING column
 * of CDX lines whose partitioning/order IS the shard layout (range-partition
 * + sortWithinPartitions upstream, e.g. via BoundaryPartitioner — same
 * assumption Pig's ordered store made). Partition i becomes shard
 * `part-a-<i>`; an empty partition writes no shard. A partition out of
 * byte order, or a line holding an LF, fails its task (see
 * [[ShardStream.add]]) and the write commits nothing.
 *
 * Modes: `overwrite` replaces `dir` (or creates it); `append` creates
 * `dir` and refuses if it is present — a cluster is never extended in
 * place. Option `linesPerBlock` (default
 * [[ZipNumFormat.DefaultLinesPerBlock]]) must be a positive integer.
 *
 * Each task writes its shard + idx under the stage's `_tmp/` with a
 * task-attempt suffix (speculative/retried attempts cannot collide); the
 * driver commit renames winners into place, folds the per-shard indexes
 * into ALL.summary + manifest.txt, and swaps the stage in (see
 * [[ZipNumShardIO.prepareStage]]).
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
        .fold(ZipNumFormat.DefaultLinesPerBlock) { v =>
          v.toIntOption.filter(_ >= 1).getOrElse(
            throw new IllegalArgumentException(
              s"zipnum: linesPerBlock must be a positive integer; got '$v'"))
        }
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
  // dir + ".__stage" — set once driver-side in createBatchWriterFactory,
  // read by commit/abort on the same instance
  @volatile private var stageDir: String = _
  // set when commit() fails AFTER the staged cluster is known complete
  // (the swap-in rename failed): abort() must then NOT delete stageDir —
  // it may be the only intact copy of the new data (r20 advice)
  @volatile private var preserveStageOnAbort: Boolean = false

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    stageDir = ZipNumShardIO.prepareStage(out.getFileSystem(conf.value),
      dir, truncate)
    new ZipNumWriterFactory(stageDir, conf, linesPerBlock)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = out.getFileSystem(conf.value)
    // an empty partition writes no shard; its empty tmp files go with _tmp/
    val winners = messages.collect { case m: ZipNumCommit if m.nLines > 0 => m }
      .sortBy(_.partitionId)
    ZipNumShardIO.commitShards(fs, stageDir,
      winners.map(m => (m.part, m.tmpName)).toSeq)
    // commitShards already completed: the staged cluster is whole, so it
    // must survive the abort() Spark fires when the swap throws (r21
    // advice fix — previously preserveStageOnAbort was still false here,
    // so the message pointed at a stage dir that abort had just deleted)
    preserveStageOnAbort = true
    ZipNumShardIO.swapIn(fs, dir, stageDir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    if (stageDir != null && !preserveStageOnAbort)
      out.getFileSystem(conf.value).delete(new Path(stageDir), true)
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
