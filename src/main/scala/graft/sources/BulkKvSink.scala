package graft.sources

import org.apache.hadoop.io.Text
import org.apache.hadoop.mapreduce.lib.output.SequenceFileOutputFormat
import org.apache.spark.Partitioner
import org.apache.spark.sql.Dataset

import graft.operators.BoundaryPartitioner

/**
 * Total-order bulk KV sink — the CONCEPT behind HFileStorage (SURVEY §2
 * K7: feed region start keys to a TotalOrderPartitioner so output shards
 * align with the target store's partitions;
 * /root/reference/src/main/java/org/archive/hadoop/pig/HFileStorage.java:175-262).
 * Store-agnostic here: rows are range-partitioned by EXPLICIT boundaries
 * (e.g. the target system's shard start keys), sorted within shards, and
 * written one SequenceFile per shard plus a `_boundaries` manifest for
 * the downstream bulk-load step.
 */
object BulkKvSink {

  def write(kv: Dataset[(String, String)], outDir: String,
            interior: IndexedSeq[String]): Unit = {
    val spark = kv.sparkSession
    implicit val keyOrder: Ordering[String] = graft.util.KeyOrder
    kv.rdd
      .map { case (k, v) => (if (k == null) "" else k, if (v == null) "" else v) }
      .repartitionAndSortWithinPartitions(new BoundaryPartitioner(interior))
      .map { case (k, v) => (new Text(k), new Text(v)) }
      .saveAsNewAPIHadoopFile(outDir, classOf[Text], classOf[Text],
        classOf[SequenceFileOutputFormat[Text, Text]])
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(outDir, "_boundaries")
    val out = p.getFileSystem(conf).create(p, true)
    out.write(interior.mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
  }

  /**
   * K8 concept — versioned writes: each row carries its own cell
   * timestamp (the reference's sole delta vs upstream Pig HBaseStorage:
   * per-row timestamp support, HBaseStorage.java header comment :95-98),
   * rendered bulk-load-style: shards sorted by (rowkey ASC, timestamp
   * DESC) — the KV-store cell order, newest version first — with the
   * timestamp carried in the value as `ts\tvalue`.
   */
  def writeVersioned(kv: Dataset[(String, Long, String)], outDir: String,
                     interior: IndexedSeq[String]): Unit = {
    val spark = kv.sparkSession
    val keyPart = new Partitioner {
      private val bp = new BoundaryPartitioner(interior)
      override def numPartitions: Int = bp.numPartitions
      override def getPartition(key: Any): Int =
        bp.getPartition(key.asInstanceOf[(String, Long)]._1)
    }
    // (rowkey ASC, ts DESC) directly in the Ordering — a
    // `Long.MaxValue - ts` trick would overflow for negative timestamps
    // (pre-1970 epochs) and silently corrupt the cell order
    implicit val pairOrder: Ordering[(String, Long)] =
      Ordering.Tuple2(graft.util.KeyOrder, Ordering.Long.reverse)
    kv.rdd
      .map { case (k, ts, v) =>
        ((if (k == null) "" else k, ts), (ts, v))
      }
      .repartitionAndSortWithinPartitions(keyPart)
      .map { case ((k, _), (ts, v)) =>
        (new Text(k), new Text(s"$ts\t${if (v == null) "" else v}"))
      }
      .saveAsNewAPIHadoopFile(outDir, classOf[Text], classOf[Text],
        classOf[SequenceFileOutputFormat[Text, Text]])
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(outDir, "_boundaries")
    val out = p.getFileSystem(conf).create(p, true)
    out.write(interior.mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
  }

  final case class RangeRead(data: Dataset[(String, String)],
                             filesRead: Int, filesTotal: Int)

  /**
   * Key-range read that PRUNES shards via the `_boundaries` manifest —
   * the load-side concept of HBaseStorage's row-key range pushdown
   * (/root/reference/src/main/java/org/archive/hadoop/pig/HBaseStorage.java:235-248):
   * only shard files whose key range overlaps [start, end) are opened;
   * a residual filter trims within the boundary shards. Start inclusive,
   * end exclusive; None = unbounded.
   */
  def readRange(spark: org.apache.spark.sql.SparkSession, dir: String,
                start: Option[String], end: Option[String]): RangeRead = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    // NOT Boundaries.fromSplitFile: its `NAME START END` format sniffing
    // would misparse a store key that happens to contain two separators;
    // _boundaries is strictly one-boundary-per-line (written above)
    val bp = new org.apache.hadoop.fs.Path(dir, "_boundaries")
    val interior = graft.util.IoUtil.readLines(bp, conf)
    require(interior == interior.sorted(graft.util.KeyOrder),
      s"$bp: boundaries must be sorted (byte-wise)")
    val part = new BoundaryPartitioner(interior)
    val lo = start.map(part.getPartition).getOrElse(0)
    // end is EXCLUSIVE: a shard starting exactly at `end` holds only keys
    // >= end and must not be opened → count boundaries STRICTLY below end
    val hi = end.map(e => interior.count(graft.util.KeyOrder.lt(_, e)))
      .getOrElse(interior.length)
    val numRe = "\\d+".r
    val files = fs.listStatus(dirPath)
      .map(_.getPath).filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
    val kept = files.filter { f =>
      numRe.findAllIn(f.getName).toSeq.lastOption.exists { s =>
        val i = s.toInt; i >= lo && i <= hi
      }
    }
    val raw =
      if (kept.isEmpty) spark.emptyDataset[(String, String)]
      else SequenceFileSink.read(spark, kept.mkString(","))
    val trimmed = raw.filter { case (k, _) =>
      start.forall(graft.util.KeyOrder.gteq(k, _)) &&
        end.forall(graft.util.KeyOrder.lt(k, _))
    }
    RangeRead(trimmed, kept.length, files.length)
  }
}
