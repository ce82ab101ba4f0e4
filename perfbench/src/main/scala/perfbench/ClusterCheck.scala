package perfbench

import java.io.{File, RandomAccessFile}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPInputStream

/** An independent reader of the ZipNum layout on local disk, used only to
  * check the program's output: `ALL.summary` lines are
  * `key \t part \t offset \t length`, and each block is one gzip member of
  * LF-terminated CDX lines inside `<part>.gz`. */
object ClusterCheck {

  final case class Block(firstKey: String, part: String, offset: Long, length: Long)

  def summary(dir: String): IndexedSeq[Block] =
    scala.io.Source.fromFile(new File(dir, "ALL.summary"), "UTF-8")
      .getLines().filter(_.nonEmpty).map { l =>
        val f = l.split("\t")
        val n = f.length
        Block(f.take(n - 3).mkString("\t"), f(n - 3), f(n - 2).toLong, f(n - 1).toLong)
      }.toIndexedSeq

  def blockLines(dir: String, b: Block): Array[String] = {
    val raf = new RandomAccessFile(new File(dir, b.part + ".gz"), "r")
    val bytes = new Array[Byte](b.length.toInt)
    try { raf.seek(b.offset); raf.readFully(bytes) } finally raf.close()
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    text.split("\n")
  }

  /** Byte order of UTF-8 strings, the order clusters are sorted in. */
  def byteLt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  /** Bytes of the cluster's shard files. */
  def bytes(dir: String): Long =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".gz")).map(_.length).sum

  /** Problems found in a cluster: lines out of byte order, a block whose
    * first line disagrees with its summary key, or a line outside the key
    * range `[bounds(i-1), bounds(i))` of the shard `part-a-i` it sits in.
    * Returns (line count, problems). */
  def verify(dir: String, bounds: IndexedSeq[String]): (Long, Seq[String]) = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var prev: String = null
    var n = 0L
    summary(dir).foreach { b =>
      val lines = blockLines(dir, b)
      val shard = b.part.stripPrefix("part-a-").toInt
      val lo = if (shard == 0) None else Some(bounds(shard - 1))
      val hi = if (shard >= bounds.length) None else Some(bounds(shard))
      if (lines.nonEmpty && !lines.head.startsWith(b.firstKey.replace("%09", "\t")))
        problems += s"${b.part}@${b.offset}: first line does not match summary key"
      lines.foreach { l =>
        if (prev != null && byteLt(l, prev))
          problems += s"${b.part}@${b.offset}: line out of order"
        if (lo.exists(byteLt(l, _)) || hi.exists(h => !byteLt(l, h)))
          problems += s"${b.part}@${b.offset}: line outside its shard's key range"
        prev = l
        n += 1
      }
    }
    (n, problems.take(5).toSeq)
  }

  /** All lines of a cluster in summary order. */
  def allLines(dir: String): Array[String] =
    summary(dir).iterator.flatMap(b => blockLines(dir, b)).toArray
}
