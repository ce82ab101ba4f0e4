package graft.sources.zipnum

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.model.Cdx
import graft.sources.zipnum.ZipNumDataSource.hadoopConf
import graft.sources.zipnum.ZipNumIndex.Slice
import graft.util.KeyOrder

/**
 * `spark.read.format("zipnum").load(clusterDir)` — DataSource V2 over a
 * ZipNum cluster (SURVEY §2 S5/Q1/Q2; §4 "Range-partition pruning via sorted
 * block index").
 *
 * Filter pushdown: urlkey range/equality/prefix predicates (and the
 * `IsNotNull(urlkey)` Catalyst infers from `=`) prune gzip blocks via
 * `ALL.summary` when the scan is built — `.explain` shows the pruned block
 * count in the scan description (`blocks=<pruned>/<total>`). The reader
 * then evaluates those predicates exactly on each row's parsed urlkey, in
 * [[KeyOrder]] byte order, so they leave the plan; every other filter
 * stays post-scan. Column pruning is honored when materializing rows
 * (parsing stays line-wise — the format is row-oriented text).
 *
 * A bounded scan whose pruned slices total at most [[LocalScanBudget]]
 * compressed bytes is a [[ZipNumLocalScan]]: Spark plans it as a
 * `LocalTableScan`, so `collect()` runs no job. Its rows are read when the
 * physical plan is made — `explain` and `executedPlan` read the data, and
 * a reused DataFrame keeps the rows it planned with, not a later
 * overwrite. Every other scan is the distributed [[ZipNumScan]].
 */
class ZipNumDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zipnum"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Cdx.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ZipNumTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object ZipNumDataSource {
  private[zipnum] def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  /** Compressed bytes a bounded scan may read on the driver, at planning.
    * A key-range lookup inflates a few blocks (the largest lookup of the
    * cdx-lookup benchmark reads ~1.4 MB), far less than the cost of a
    * Spark job; above this the read is worth distributing. */
  val LocalScanBudget: Long = 4L * 1024 * 1024
}

private[zipnum] class ZipNumTable(props: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  private val dir: String = props.getOrElse("path",
    throw new IllegalArgumentException(
      "zipnum: exactly one cluster directory path is required " +
        "(multi-cluster = union of single-path reads)"))
  override def name(): String = s"zipnum:$dir"
  override def schema(): StructType = Cdx.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZipNumScanBuilder(dir,
      Option(options.get("start")), Option(options.get("end")))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ZipNumWriteBuilder(dir, info)
}

private[zipnum] class ZipNumScanBuilder(dir: String,
                                        optStart: Option[String],
                                        optEnd: Option[String])
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  // raw-line bounds [lo, hi): the `start`/`end` options, tightened by the
  // pushed urlkey predicates
  private var lo: Option[String] = optStart
  private var hi: Option[String] = optEnd
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = Cdx.schema

  private def tightenLo(v: String): Unit =
    if (lo.forall(KeyOrder.lt(_, v))) lo = Some(v)
  private def tightenHi(v: String): Unit =
    if (hi.forall(KeyOrder.lt(v, _))) hi = Some(v)

  /** Tight exclusive upper bound for keys <= v / keys starting with v:
    * rightmost non-maximal CODE POINT incremented (suffix dropped),
    * skipping the surrogate range — monotone under [[KeyOrder]]
    * byte order, where incrementing a raw UTF-16 unit is NOT (0xDFFF→
    * 0xE000 would jump DOWN and pruning would silently drop rows).
    * Assumes well-formed UTF-16 input (no lone surrogates). */
  private def successor(v: String): Option[String] = {
    val cps = v.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) == 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      val next0 = cps(i) + 1
      val next = if (next0 >= 0xD800 && next0 <= 0xDFFF) 0xE000 else next0
      val sb = new java.lang.StringBuilder
      (0 until i).foreach(j => sb.appendCodePoint(cps(j)))
      sb.appendCodePoint(next)
      Some(sb.toString)
    }
  }

  /** Raw-line upper bound for `urlkey < v`. A line is "urlkey ts ...", so
    * a urlkey that is a proper prefix of v keeps its line below v only
    * when v's next char sorts above the space: cut v before its first
    * char <= ' ' and bound by the successor of what is left. */
  private def tightenHiBelow(v: String): Unit = {
    val cut = v.indexWhere(_ <= ' ')
    (if (cut < 0) Some(v) else successor(v.substring(0, cut))).foreach(tightenHi)
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (usable, residual) = filters.partition {
      case GreaterThanOrEqual("urlkey", v: String) => tightenLo(v); true
      case GreaterThan("urlkey", v: String) => tightenLo(v); true
      case LessThan("urlkey", v: String) => tightenHiBelow(v); true
      case LessThanOrEqual("urlkey", v: String) =>
        successor(v).foreach(tightenHiBelow); true
      case EqualTo("urlkey", v: String) =>
        tightenLo(v); successor(v).foreach(tightenHiBelow); true
      case StringStartsWith("urlkey", v: String) =>
        tightenLo(v); successor(v).foreach(tightenHiBelow); true
      case IsNotNull("urlkey") => true
      case _ => false
    }
    pushed = usable
    residual // the reader evaluates `usable` exactly
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Loads and prunes `ALL.summary` once. */
  private[zipnum] def plan(): ZipNumScanPlan = {
    val index = ZipNumIndex.load(dir, hadoopConf)
    val pruned = index.prune(lo, hi)
    ZipNumScanPlan(dir, lo, hi, pushed, required,
      index.slices(pruned), pruned.size, index.blocks.size)
  }

  /** A bounded read within [[ZipNumDataSource.LocalScanBudget]] is served
    * on the driver; everything else is distributed. */
  override def build(): Scan = {
    val p = plan()
    if ((lo.isDefined || hi.isDefined) &&
        p.slices.map(_.length).sum <= ZipNumDataSource.LocalScanBudget)
      new ZipNumLocalScan(p)
    else new ZipNumScan(p)
  }
}

/** What [[ZipNumScanBuilder.build]] planned: raw-line bounds, the urlkey
  * predicates the reader evaluates, the output columns and the slices. */
private[zipnum] final case class ZipNumScanPlan(dir: String,
                                                lo: Option[String],
                                                hi: Option[String],
                                                preds: Array[Filter],
                                                required: StructType,
                                                slices: Seq[Slice],
                                                blocks: Int,
                                                totalBlocks: Int) {
  def description: String =
    s"zipnum $dir [${lo.getOrElse("-inf")}, ${hi.getOrElse("+inf")}) " +
      s"blocks=$blocks/$totalBlocks cols=${required.fieldNames.mkString(",")}"
  def partition(s: Slice): ZipNumInputPartition = ZipNumInputPartition(s, lo, hi)
}

/** Driver-local scan: reads its slices when Spark plans it. */
private[zipnum] class ZipNumLocalScan(plan: ZipNumScanPlan) extends LocalScan {
  override def readSchema(): StructType = plan.required
  override def description(): String = plan.description
  override def rows(): Array[InternalRow] = {
    val out = Array.newBuilder[InternalRow]
    plan.slices.foreach { s =>
      val r = new ZipNumPartitionReader(hadoopConf, plan.partition(s),
        plan.required, plan.preds)
      try while (r.next()) out += r.get()
      finally r.close()
    }
    out.result()
  }
}

private[zipnum] class ZipNumScan(plan: ZipNumScanPlan)
    extends Scan with Batch with SupportsReportOrdering {

  override def readSchema(): StructType = plan.required
  override def toBatch: Batch = this

  /** Each partition streams blocks in cluster key order — report it so
    * downstream per-partition sorts on (urlkey, timestamp) are elided
    * (SURVEY §7 "nice": ordered-output reporting). Only reportable when
    * both key columns survive column pruning. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val names = plan.required.fieldNames.toSet
    if (names.contains("urlkey") && names.contains("timestamp"))
      Array(
        Expressions.sort(Expressions.column("urlkey"), SortDirection.ASCENDING),
        Expressions.sort(Expressions.column("timestamp"), SortDirection.ASCENDING))
    else Array.empty
  }
  override def description(): String = plan.description

  override def planInputPartitions(): Array[InputPartition] =
    plan.slices.map(plan.partition(_): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    new ZipNumReaderFactory(new SerializableConfiguration(hadoopConf),
      plan.required, plan.preds)
  }
}

private[zipnum] case class ZipNumInputPartition(slice: Slice,
                                                lo: Option[String],
                                                hi: Option[String])
    extends InputPartition

private[zipnum] class ZipNumReaderFactory(conf: SerializableConfiguration,
                                          required: StructType,
                                          preds: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ZipNumInputPartition]
    new ZipNumPartitionReader(conf.value, p, required, preds)
  }
}

/** Reads one slice: raw-line trim to [lo, hi), parse, keep the rows whose
  * urlkey satisfies every predicate in `preds` (the ones
  * [[ZipNumScanBuilder.pushFilters]] accepts), then project `required`. */
private[zipnum] class ZipNumPartitionReader(conf: Configuration,
                                            part: ZipNumInputPartition,
                                            required: StructType,
                                            preds: Array[Filter])
    extends PartitionReader[InternalRow] {

  // base-schema ordinal of each required column
  private val ordinals: Array[Int] =
    required.fieldNames.map(Cdx.schema.fieldIndex)

  /** SQL semantics: a null urlkey satisfies no comparison. Evaluated on
    * the parsed cell, before projection — Spark may drop `urlkey` from
    * `required` once its filters are fully handled here. */
  private def holds(key: String): Boolean =
    preds.forall(p => key != null && (p match {
      case GreaterThanOrEqual(_, v: String) => KeyOrder.gteq(key, v)
      case GreaterThan(_, v: String) => KeyOrder.gt(key, v)
      case LessThan(_, v: String) => KeyOrder.lt(key, v)
      case LessThanOrEqual(_, v: String) => KeyOrder.lteq(key, v)
      case EqualTo(_, v: String) => key == v
      case StringStartsWith(_, v: String) => key.startsWith(v)
      case IsNotNull(_) => true
    }))

  private val (rawLines, closer) =
    ZipNumReader.readSliceWithCloser(conf, part.slice, part.lo, part.hi)
  private val it: Iterator[InternalRow] =
    rawLines
      .flatMap(Cdx.splitLine(_))
      .filter(cells => holds(cells(0)))
      .map { cells =>
        val vals = new Array[Any](ordinals.length)
        var i = 0
        while (i < ordinals.length) {
          vals(i) = convert(ordinals(i), cells(ordinals(i)))
          i += 1
        }
        new GenericInternalRow(vals)
      }

  /** Cell → Catalyst value, per base-schema ordinal (4=statuscode INT,
    * 8/9=size/offset LONG, rest STRING; non-numeric → null, matching
    * Cdx.parseLine). */
  private def convert(ord: Int, cell: String): Any = {
    if (cell == null) return null
    ord match {
      case 4 => cell.toIntOption.map(Int.box).orNull
      case 8 | 9 => cell.toLongOption.map(Long.box).orNull
      case _ => UTF8String.fromString(cell)
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (it.hasNext) { current = it.next(); true } else false
  override def get(): InternalRow = current
  // early termination (limit, task kill) must release the shard handle —
  // auto-close only fires on exhaustion
  override def close(): Unit = closer()
}
