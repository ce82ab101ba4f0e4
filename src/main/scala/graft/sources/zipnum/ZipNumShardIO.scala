package graft.sources.zipnum

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * The shard-writing state machine, commit fold and staged swap of the one
 * ZipNum writer, the DSv2 `zipnum` sink (ZipNumWrite), which
 * `ClusterOps.build`/`merge` write through too.
 */
private[zipnum] final class ShardStream(fs: FileSystem, tmpDir: String,
                                        part: String, tmpName: String,
                                        linesPerBlock: Int) {
  private val gzOut = fs.create(new Path(s"$tmpDir/$tmpName.gz"), true)
  private val idxOut = fs.create(new Path(s"$tmpDir/$tmpName-idx"), true)
  private val blockLines = new java.io.ByteArrayOutputStream(1 << 20)
  private var firstKey: String = _
  private var prevLine: String = _
  private var count = 0
  private var offset = 0L
  private var nLines = 0L

  private def flushBlock(): Unit = if (count > 0) {
    val member = ZipNumFormat.gzipMember(blockLines.toByteArray)
    gzOut.write(member)
    val b = ZipNumFormat.Block(firstKey, part, offset, member.length.toLong)
    idxOut.write((ZipNumFormat.formatSummaryLine(b) + "\n").getBytes(UTF_8))
    offset += member.length
    blockLines.reset(); firstKey = null; count = 0
  }

  /** Append one line. Summary pruning and the reader's early stop at the
    * range end both assume a shard in [[graft.util.KeyOrder]] (unsigned
    * UTF-8 byte order) with no LF inside a line, so a line that breaks
    * either fails the task rather than commit a cluster whose lookups
    * silently return too few rows. */
  def add(line: String): Unit = {
    if (line.indexOf('\n') >= 0)
      refuse("holds an LF; a ZipNum line cannot contain '\\n'")
    if (prevLine != null && graft.util.KeyOrder.compare(prevLine, line) > 0)
      refuse(s"sorts below line $nLines; a shard must be in unsigned " +
        "UTF-8 byte order")
    if (count == 0) firstKey = ZipNumFormat.summaryKey(line)
    blockLines.write(line.getBytes(UTF_8))
    blockLines.write('\n')
    prevLine = line
    count += 1; nLines += 1
    if (count == linesPerBlock) flushBlock()
  }

  private def refuse(why: String): Nothing =
    throw new IllegalArgumentException(
      s"zipnum: line ${nLines + 1} of $part $why")

  /** Flush + close; returns the line count. */
  def finish(): Long = { flushBlock(); gzOut.close(); idxOut.close(); nLines }

  /** Best-effort cleanup: every step guarded so a close() throwing on an
    * already-broken stream can neither skip the deletes nor mask the
    * original task failure. */
  def abort(): Unit = {
    def quietly(f: => Unit): Unit =
      try f catch { case scala.util.control.NonFatal(_) => () }
    quietly(gzOut.close()); quietly(idxOut.close())
    quietly(fs.delete(new Path(s"$tmpDir/$tmpName.gz"), false))
    quietly(fs.delete(new Path(s"$tmpDir/$tmpName-idx"), false))
  }
}

private[graft] object ZipNumShardIO {

  /** Prepare `outDir.__stage`, where every write stages its cluster.
    *
    * The target is not touched until the new cluster (shards +
    * ALL.summary + manifest) is complete; [[swapIn]] then moves it in by
    * directory renames (old → .__old when replacing, stage → out). So a
    * failed write leaves the target as it was — absent or the old cluster
    * — never a half cluster that serves some shards' lines without error.
    * The data never exists in fewer than one complete cluster: a crash
    * between the renames leaves the old cluster intact at .__old
    * (recovered by the guard below or by hand), unlike a delete-then-rename
    * commit whose mid-commit IO failure could lose both (r18 advice). */
  def prepareStage(fs: FileSystem, outDir: String,
                   overwrite: Boolean): String = {
    val preExisting = fs.exists(new Path(outDir))
    require(!preExisting || overwrite, s"zipnum: target $outDir exists; " +
      "pass overwrite=true (DSv2: mode(overwrite)) to replace it")
    val oldPath = new Path(outDir + ".__old")
    if (fs.exists(oldPath)) {
      // out present → a previous swap completed but its backup delete
      // didn't; out absent → a previous run crashed BETWEEN renames and
      // .__old holds the only copy: never delete it silently
      require(preExisting, s"zipnum: $oldPath exists but $outDir does " +
        "not — a previous overwrite crashed mid-swap; recover by " +
        s"renaming $oldPath back to $outDir")
      fs.delete(oldPath, true)
    }
    val stageDir = outDir + ".__stage"
    fs.delete(new Path(stageDir), true) // stale stage from a crashed run
    fs.mkdirs(new Path(stageDir, "_tmp"))
    stageDir
  }

  /** Move a complete staged cluster (see [[prepareStage]]) to `outDir`:
    * one rename for a fresh target; two over an old cluster, which is
    * always whole somewhere. If the swap-in rename fails the old cluster
    * is renamed back, and the error says whether that restore worked. */
  def swapIn(fs: FileSystem, outDir: String, stageDir: String): Unit = {
    val out = new Path(outDir)
    val oldPath = new Path(outDir + ".__old")
    val replacing = fs.exists(out)
    if (replacing) require(fs.rename(out, oldPath),
      s"zipnum: swap rename $outDir -> $oldPath failed " +
        s"(old cluster untouched; new cluster complete at $stageDir)")
    if (!fs.rename(new Path(stageDir), out)) {
      // report what ACTUALLY happened: the restore rename can itself fail
      val state =
        if (!replacing) s"no cluster at $outDir"
        else if (fs.rename(oldPath, out)) s"old cluster restored at $outDir"
        else s"restore rename ALSO failed — old cluster at $oldPath"
      throw new IllegalStateException(
        s"zipnum: swap rename $stageDir -> $outDir failed; $state" +
          s"; new cluster left complete at $stageDir")
    }
    if (replacing) fs.delete(oldPath, true)
  }

  /** Driver commit: rename winner shards into place (loudly failing on a
    * false rename — a cluster whose summary cites missing shards must
    * never commit), write the summary and manifest ([[writeSummary]]),
    * drop `_tmp/`. `shards` = (part, tmpName) in shard order. */
  def commitShards(fs: FileSystem, outDir: String,
                   shards: Seq[(String, String)]): Unit = {
    val out = new Path(outDir)
    shards.foreach { case (part, tmpName) =>
      require(fs.rename(new Path(s"$outDir/_tmp/$tmpName.gz"),
        new Path(out, s"$part.gz")), s"commit: rename of $part.gz failed")
      require(fs.rename(new Path(s"$outDir/_tmp/$tmpName-idx"),
        new Path(out, s"$part-idx")), s"commit: rename of $part-idx failed")
    }
    writeSummary(fs, out, shards.map(_._1))
    fs.delete(new Path(outDir, "_tmp"), true)
  }

  /** Fold the shard indexes `<part>-idx` of cluster `dir` into
    * ALL.summary and list the shards in manifest.txt, both in `parts`
    * order — the writer's commit and the `summary-generate` verb. Every
    * stream is closed on failure too; the failure propagates. */
  def writeSummary(fs: FileSystem, dir: Path, parts: Seq[String]): Unit = {
    val summary = fs.create(new Path(dir, "ALL.summary"), true)
    try parts.foreach { part =>
      val in = fs.open(new Path(dir, s"$part-idx"))
      try graft.util.IoUtil.copy(in, summary) finally in.close()
    } finally summary.close()
    val manifest = fs.create(new Path(dir, "manifest.txt"), true)
    try parts.foreach(part => manifest.write(s"$part.gz\n".getBytes(UTF_8)))
    finally manifest.close()
  }
}
