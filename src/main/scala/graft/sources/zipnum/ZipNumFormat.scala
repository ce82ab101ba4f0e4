package graft.sources.zipnum

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{CRC32, Deflater, DeflaterOutputStream}

/**
 * ZipNum on-disk format (SURVEY §1.2, FIXTURES §2):
 *
 *   cluster/
 *     part-a-00000.gz     sorted CDX lines, concatenated gzip members of
 *                         `linesPerBlock` lines each
 *     part-a-00000-idx    one line per member: firstKey \t part \t offset \t len
 *     ALL.summary         concatenation of -idx files in shard order
 *     manifest.txt        the cluster's own shard basenames in shard order
 *                         (a content listing; the reference's
 *                         ManifestAggregator instead merges INPUT-source
 *                         manifests — per-source provenance is not
 *                         tracked through this writer)
 *
 * Each gzip member is built by hand — raw Deflater + CRC32 and a GZIP header
 * carrying an 'SL' FEXTRA subfield with the member's total compressed length.
 * The header is byte-compatible with the reference's "ALL" writer
 * (/root/reference/src/main/java/org/archive/hadoop/mapreduce/
 * ZipNumAllShardRecordWriter.java:110-152): the SL record lets readers skip
 * member-to-member without inflating. Standard gunzip ignores the extra field.
 * The deflate bytes are level [[DeflateLevel]] (7), not the reference's 9, so
 * members inflate to the same lines but differ from it byte for byte.
 */
object ZipNumFormat {

  val DefaultLinesPerBlock = 3000 // ZipNumOutputFormat.java:33-34
  val AllLinesPerBlock = 5000     // ZipNumAllOutputFormat.java:19-20
  val GzipFooterBytes = 8

  /** The one deflate level of every ZipNum block. Measured on the merged
    * cluster of the archive-ingest benchmark (seed 5, 4 vCPU): level 7
    * deflates 2.2x faster than level 9 and writes 0.78% more bytes
    * (23.07 -> 23.25 B per record); level 6 is 3x faster but writes 2.8%
    * more. Level 9 spent 3.5 s of the merge stage's 4.8 s of executor CPU.
    * Byte budget pinned by ZipNumFormatSpec. */
  val DeflateLevel = 7

  /** One secondary-index entry: block of `length` bytes at `offset` in
    * `part`, first record key `firstKey`.
    * (/root/reference/src/main/java/org/archive/hadoop/cdx/ZipNumBlock.java:3-18) */
  final case class Block(firstKey: String, part: String, offset: Long, length: Long)

  /** Summary key = first two CDX fields (urlkey + timestamp), tabs escaped.
    * ZipNumRecordWriter.java:94-112. */
  def summaryKey(line: String): String = {
    var sp = line.indexOf(' ')
    if (sp >= 0) sp = line.indexOf(' ', sp + 1)
    val key = if (sp >= 0) line.substring(0, sp) else line
    key.replace("\t", "%09")
  }

  def formatSummaryLine(b: Block): String =
    s"${b.firstKey}\t${b.part}\t${b.offset}\t${b.length}"

  def parseSummaryLine(line: String): Block = {
    // Real fields are the LAST three — parse from the end and rejoin the
    // front as the key. Our writer escapes tabs in the key (%09), but the
    // reference's ALL writer does NOT (ZipNumAllShardRecordWriter.writeLine
    // emits the key verbatim), so a reference-built cluster whose key
    // carries a literal tab must still load: taking fields from the front
    // made parts(2).toLong throw on exactly that class.
    val parts = line.split('\t')
    require(parts.length >= 4, s"bad summary line: $line")
    val n = parts.length
    Block(parts.take(n - 3).mkString("\t"), parts(n - 3),
      parts(n - 2).toLong, parts(n - 1).toLong)
  }

  /**
   * Compress `payload` as one standalone gzip member with the SL extra field.
   * Returns the full member bytes (header + deflate stream + footer).
   */
  def gzipMember(payload: Array[Byte]): Array[Byte] = {
    val deflater = new Deflater(DeflateLevel, /*nowrap=*/ true)
    try {
      val body = new ByteArrayOutputStream(math.max(64, payload.length / 4))
      // 64 KiB buffer: the default 512 bytes would push a ~300 KB block
      // through hundreds of JNI deflate hops on the per-block hot path
      val out = new DeflaterOutputStream(body, deflater, 64 * 1024)
      out.write(payload)
      out.finish()
      val crc = new CRC32
      crc.update(payload, 0, payload.length)
      val deflated = body.toByteArray

      val header = slHeader(deflated.length + GzipFooterBytes)
      val member = new ByteArrayOutputStream(header.length + deflated.length + GzipFooterBytes)
      member.write(header)
      member.write(deflated)
      // footer: CRC32 + ISIZE, little endian
      writeIntLE(member, crc.getValue.toInt)
      writeIntLE(member, payload.length)
      member.toByteArray
    } finally deflater.`end`() // native zlib memory — not GC'd promptly
  }

  /** GZIP header with FEXTRA 'SL' subfield: 4-byte LE length of
    * (deflated bytes + footer). Total header = 10 + 2 + 8 = 20 bytes. */
  private def slHeader(recordLength: Int): Array[Byte] = {
    val h = new ByteArrayOutputStream(20)
    h.write(0x1f); h.write(0x8b)    // magic
    h.write(8)                      // CM = deflate
    h.write(4)                      // FLG = FEXTRA
    writeIntLE(h, 0)                // MTIME
    h.write(0)                      // XFL
    h.write(3)                      // OS = unix
    h.write(8); h.write(0)          // XLEN = 8
    h.write('S'); h.write('L')      // subfield id
    h.write(4); h.write(0)          // subfield len = 4
    writeIntLE(h, recordLength)
    h.toByteArray
  }

  private def writeIntLE(o: OutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
    o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
  }
}
