package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.util.zip.{CRC32, Deflater}

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.warc.GzipMembers

/** The gzip member walk over generated multi-member streams whose true
  * extents and payloads are known: every header flag, stored and empty
  * members, members larger than the walk's 64 KiB input window (in both
  * compressed and inflated size), short reads, and each damage class with
  * its exact message and `-soft` count. */
class GzipMembersPropertySpec extends AnyFunSuite {

  private val FHCRC = 2
  private val FEXTRA = 4
  private val FNAME = 8
  private val FCOMMENT = 16

  /** A member's bytes, where its deflate data starts and what it holds. */
  private final case class Gen(bytes: Array[Byte], deflateAt: Int,
                               payload: Array[Byte])

  private def le16(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >>> 8) & 0xff)
  }
  private def le32(o: ByteArrayOutputStream, v: Long): Unit = {
    le16(o, (v & 0xffff).toInt); le16(o, ((v >>> 16) & 0xffff).toInt)
  }

  /** One RFC 1952 member with header flags `flg` at deflate `level`. */
  private def member(payload: Array[Byte], level: Int, flg: Int,
                     r: Random): Gen = {
    val o = new ByteArrayOutputStream()
    o.write(Array[Byte](0x1f, 0x8b.toByte, 8, flg.toByte))
    le32(o, r.nextInt() & 0xffffffffL) // MTIME
    o.write(0); o.write(3)             // XFL, OS
    def text(): Unit = {
      (0 until r.nextInt(30)).foreach(_ => o.write('a' + r.nextInt(26)))
      o.write(0)
    }
    if ((flg & FEXTRA) != 0) {
      val x = Array.fill[Byte](r.nextInt(300))(r.nextInt(256).toByte)
      le16(o, x.length); o.write(x)
    }
    if ((flg & FNAME) != 0) text()
    if ((flg & FCOMMENT) != 0) text()
    if ((flg & FHCRC) != 0) {
      val c = new CRC32; c.update(o.toByteArray)
      le16(o, (c.getValue & 0xffff).toInt)
    }
    val deflateAt = o.size()
    val d = new Deflater(level, true)
    d.setInput(payload); d.finish()
    val chunk = new Array[Byte](8192)
    while (!d.finished()) o.write(chunk, 0, d.deflate(chunk))
    d.end()
    val c = new CRC32; c.update(payload)
    le32(o, c.getValue); le32(o, payload.length.toLong)
    Gen(o.toByteArray, deflateAt, payload)
  }

  /** Payload shapes: empty, short text, incompressible bytes past the
    * 64 KiB window, compressible text that inflates past it. */
  private def payload(r: Random): Array[Byte] = r.nextInt(6) match {
    case 0 => Array.emptyByteArray
    case 1 => Array.fill[Byte](70000 + r.nextInt(90000))(r.nextInt(256).toByte)
    case 2 => ("archive record " * (6000 + r.nextInt(20000))).getBytes("UTF-8")
    case _ => Array.fill[Byte](r.nextInt(2000))(('a' + r.nextInt(8)).toByte)
  }

  private def randomMember(r: Random): Gen =
    member(payload(r), level = r.nextInt(10), flg = r.nextInt(32) & ~1, r)

  /** Serves at most `k` bytes per read, moving every window refill. */
  private final class Trickle(b: Array[Byte], k: Int) extends InputStream {
    private val in = new ByteArrayInputStream(b)
    override def read(): Int = in.read()
    override def read(buf: Array[Byte], off: Int, len: Int): Int =
      in.read(buf, off, math.min(len, k))
  }

  private def stream(bytes: Array[Byte], r: Random): InputStream =
    if (r.nextBoolean()) new ByteArrayInputStream(bytes)
    else new Trickle(bytes, 1 + r.nextInt(5000))

  private def checkWalk(ms: Seq[Gen], got: Seq[GzipMembers.Member]): Unit = {
    assert(got.length == ms.length)
    val offsets = ms.scanLeft(0L)(_ + _.bytes.length)
    got.zip(ms).zip(offsets).foreach { case ((m, g), off) =>
      assert(m.offset == off && m.length == g.bytes.length.toLong)
      assert(java.util.Arrays.equals(m.payload, g.payload))
    }
  }

  test("offsets and lengths tile the file and payloads match, for every " +
      "header flag, level and read size") {
    val r = new Random(20261018L)
    (1 to 60).foreach { _ =>
      val ms = Vector.fill(1 + r.nextInt(8))(randomMember(r))
      val file = ms.flatMap(_.bytes).toArray
      checkWalk(ms, GzipMembers.iterate(stream(file, r)).toVector)
    }
    // each flag alone and all together, stored and empty
    Seq(0, FHCRC, FEXTRA, FNAME, FCOMMENT, 30).foreach { flg =>
      Seq(0, 1, 9).foreach { level =>
        val ms = Vector(member(Array.emptyByteArray, level, flg, r),
          member("x".getBytes("UTF-8"), level, flg, r))
        checkWalk(ms, GzipMembers.iterate(
          new ByteArrayInputStream(ms.flatMap(_.bytes).toArray)).toVector)
      }
    }
  }

  test("a member spanning several 64 KiB windows, stored and deflated") {
    val r = new Random(7L)
    val big = Array.fill[Byte](300000)(r.nextInt(256).toByte)
    val ms = Vector(member(big, 0, 0, r), member(big, 6, FEXTRA, r),
      member("tail".getBytes("UTF-8"), 6, 0, r))
    assert(ms(0).bytes.length > 4 * 65536 && ms(1).bytes.length > 4 * 65536)
    checkWalk(ms, GzipMembers.iterate(
      new ByteArrayInputStream(ms.flatMap(_.bytes).toArray)).toVector)
  }

  /** The good members before the damage, the damaged file, the message. */
  private final case class Damage(good: Vector[Gen], file: Array[Byte],
                                  message: String)

  private def damages(r: Random): Seq[Damage] = {
    val good = Vector.fill(1 + r.nextInt(4))(randomMember(r))
    val prefix = good.flatMap(_.bytes).toArray
    val at = prefix.length
    val last = member(("last " * (1 + r.nextInt(3000))).getBytes("UTF-8"),
      1 + r.nextInt(9), r.nextInt(32) & ~1, r)
    val lb = last.bytes
    def flip(i: Int): Array[Byte] = {
      val b = lb.clone(); b(i) = (b(i) ^ 0x01).toByte; prefix ++ b
    }
    val deflateLen = lb.length - 8 - last.deflateAt
    Seq(
      Damage(good, prefix ++ Array.fill[Byte](32)(0x19),
        "requirement failed: bad gzip magic 1919"),
      Damage(good, prefix :+ 0x1f.toByte,
        "requirement failed: unexpected EOF in gzip member"),
      Damage(good, flip(lb.length - 8 + r.nextInt(4)),
        s"requirement failed: gzip CRC mismatch at offset $at"),
      Damage(good, flip(lb.length - 4 + r.nextInt(4)),
        s"requirement failed: gzip ISIZE mismatch at offset $at"),
      Damage(good, prefix ++ lb.take(last.deflateAt + r.nextInt(deflateLen)),
        "requirement failed: truncated deflate stream"),
      Damage(good, prefix ++ lb.take(lb.length - 1 - r.nextInt(8)),
        "requirement failed: unexpected EOF in gzip member"),
      Damage(good, { val b = lb.clone(); b(2) = 7; prefix ++ b },
        "requirement failed: unsupported compression method 7"))
  }

  test("damage: garbage tail, flipped CRC / ISIZE, truncated deflate and " +
      "footer, bad CM — exact message, and -soft keeps the good prefix " +
      "with one bad member") {
    val r = new Random(99L)
    (1 to 12).foreach { _ =>
      damages(r).foreach { d =>
        val e = intercept[IllegalArgumentException] {
          GzipMembers.iterate(stream(d.file, r)).toVector
        }
        assert(e.getMessage == d.message)
        var bad = 0
        val soft = GzipMembers.iterateSoft(stream(d.file, r), _ => bad += 1)
          .toVector
        assert(bad == 1, d.message)
        checkWalk(d.good, soft)
      }
    }
  }

  test("an exhausted or failed walk stays ended") {
    val r = new Random(3L)
    val ok = member("x".getBytes("UTF-8"), 6, 0, r).bytes
    val it = GzipMembers.iterate(new ByteArrayInputStream(ok))
    assert(it.toVector.length == 1 && !it.hasNext && !it.hasNext)
    val broken = GzipMembers.iterate(new ByteArrayInputStream(ok :+ 0.toByte))
    assert(broken.hasNext)
    broken.next()
    intercept[IllegalArgumentException](broken.hasNext)
    assert(!broken.hasNext)
  }
}
