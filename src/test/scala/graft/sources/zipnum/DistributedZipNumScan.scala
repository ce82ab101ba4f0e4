package graft.sources.zipnum

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Drives the distributed [[ZipNumScan]] of a `format("zipnum")` read at
  * any size, so specs can pin its reader over small clusters (a bounded
  * read of those plans a [[ZipNumLocalScan]]): push `filters`, prune to
  * `required`, then drain every planned input partition in order through
  * the reader factory. Returns the residual filters and the rows. */
object DistributedZipNumScan {
  def rows(dir: String, filters: Array[Filter],
           required: StructType): (Seq[Filter], Seq[InternalRow]) = {
    val builder = new ZipNumScanBuilder(dir, None, None)
    val residual = builder.pushFilters(filters)
    builder.pruneColumns(required)
    val scan = new ZipNumScan(builder.plan())
    val factory = scan.createReaderFactory()
    residual.toSeq -> scan.planInputPartitions().toSeq.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r.next()).takeWhile(identity).map(_ => r.get()).toVector
      finally r.close()
    }
  }
}
