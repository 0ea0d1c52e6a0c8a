package graft.sinks

import java.io.{FileNotFoundException, IOException, OutputStream}
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import org.apache.commons.codec.binary.Hex
import org.apache.commons.codec.digest.DigestUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

import graft.sources.WriteChaos

/** The one commit protocol of the engine's sinks, the reference's "stage,
  * verify md5, then publish; skip what already landed"
  * (`src/01-scrape-images.py:99-132`, `:181-188`, `:462-475`): tasks write
  * staged files through [[Writers]], and the job commit lands them with
  * [[publish]]. [[move]] and [[replace]] are the only renames in the
  * engine, and [[fs]] the only `FileSystem` opened from a bare
  * `Configuration` (`SessionSurfaceSpec` pins both). The connectors keep
  * only their record encoding and manifest format. */
object Commit {

  /** The file system that holds `path`, on a default Hadoop configuration. */
  def fs(path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), new Configuration())

  /** Checked move: Hadoop reports a failed rename by returning false (the
    * local file system throws for a missing source), and an unchecked one
    * publishes a manifest over a file that never landed. Throws an
    * `IOException` naming both paths; returns `to`. */
  def move(fs: FileSystem, from: Path, to: Path): Path = {
    def failed(cause: IOException) = new IOException(s"commit: could not move $from to $to", cause)
    val took = try fs.rename(from, to) catch { case e: IOException => throw failed(e) }
    if (!took) throw failed(null)
    to
  }

  /** Atomic replace of the small file `target`: `write` fills a hidden
    * temporary file beside it, which one rename puts over `target`, so a
    * reader or a crash sees the old content or the new, and a body that
    * throws leaves the old. A checksummed file system would rename the
    * file and its `.crc` in two steps, so the temporary file is written
    * without one and the target's stale `.crc` is dropped first. Where a
    * rename does not replace an existing file (HDFS), this fails loudly. */
  def replace(fs: FileSystem, target: Path)(write: OutputStream => Unit): Unit = {
    val raw = fs match { case c: ChecksumFileSystem => c.getRawFileSystem; case f => f }
    val tmp = new Path(target.getParent, s".${target.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = raw.create(tmp, true)
    try {
      try write(out) finally out.close()
      fs match {
        case c: ChecksumFileSystem => raw.delete(c.getChecksumFile(target), false)
        case _ =>
      }
      move(raw, tmp, target)
    } finally raw.delete(tmp, false): Unit
  }

  /** The content of the small file `p`, or None if there is none. */
  def read(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: FileNotFoundException => None }

  def md5Of(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try DigestUtils.md5Hex(in) finally in.close()
  }

  /** A task's report: its staged file, the md5 it digested while writing,
    * and its row and byte counts. */
  case class Staged(file: String, md5: String, rows: Long, bytes: Long)
      extends WriterCommitMessage

  def staging(dir: String, queryId: String): Path = new Path(dir, s"_staging-$queryId")

  def epochStaging(dir: String, queryId: String, epochId: Long): Path =
    new Path(staging(dir, queryId), s"epoch-$epochId")

  /** The job commit of a staged write into `dir`:
    *  1. verify every admitted file's md5 against its task's digest, all
    *     before anything moves (the reference deletes and retries on a
    *     mismatch, `:126-129`);
    *  2. [[move]] them from `staging` into `dir`; if one does not take,
    *     those already moved (names of this query's own) are deleted again;
    *  3. `manifest` publishes the manifest naming them through [[replace]]
    *     and returns the names it no longer lists;
    *  4. delete those, then `staging`.
    * So a failure leaves the old manifest live and every file it names in
    * place until the new one is published. Admitted: a [[Staged]] message
    * with rows (the commit coordinator passes one per partition). */
  def publish(fs: FileSystem, staging: Path, dir: Path, messages: Array[WriterCommitMessage])(
      manifest: Seq[Staged] => Seq[String]): Unit = {
    val admitted = messages.toSeq.collect { case m: Staged if m.rows > 0 => m }
    admitted.foreach { m =>
      val actual = md5Of(fs, new Path(staging, m.file))
      if (actual != m.md5)
        throw new IOException(
          s"commit: verify failed for ${m.file}: task digest ${m.md5}, stored $actual")
    }
    val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
    try admitted.foreach(m => moved += move(fs, new Path(staging, m.file), new Path(dir, m.file)))
    catch { case NonFatal(e) => moved.foreach(fs.delete(_, false)); throw e }
    manifest(admitted).foreach(name => fs.delete(new Path(dir, name), false))
    fs.delete(staging, true): Unit
  }

  /** The task-side writer factory, batch and streaming: each task writes
    * `encode`d records to `part-<qid8>-[<epoch>-]<partition>-<taskId>.<ext>`
    * in its staging directory. The queryId fragment keeps names apart
    * across applications appending to one target (task ids are unique
    * only within a SparkContext); the attempt-unique taskId fences
    * speculative attempts of one partition. */
  case class Writers(dir: String, queryId: String, ext: String,
      encode: InternalRow => Array[Byte])
      extends DataWriterFactory with StreamingDataWriterFactory {
    private def qid = queryId.take(8)
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new Writer(new Path(staging(dir, queryId), f"part-$qid-$partitionId%05d-$taskId.$ext"),
        encode)
    override def createWriter(partitionId: Int, taskId: Long,
        epochId: Long): DataWriter[InternalRow] =
      new Writer(new Path(epochStaging(dir, queryId, epochId),
        f"part-$qid-$epochId-$partitionId%05d-$taskId.$ext"), encode)
  }

  /** Streams records into one staged file, digesting md5 per record; an
    * empty file is deleted at task commit, the file on abort. Carries the
    * [[WriteChaos]] hooks (disarmed, one branch per row). */
  private class Writer(file: Path, encode: InternalRow => Array[Byte])
      extends DataWriter[InternalRow] {
    private val fs = Commit.fs(file.toString)
    private val out = fs.create(file, true)
    private val digest = DigestUtils.getMd5Digest
    private val chaosAfter = WriteChaos.thresholdNow()
    private val chaosSlowMs = WriteChaos.slowPerRowNow()
    private var rows = 0L
    private var bytes = 0L

    override def write(row: InternalRow): Unit = {
      val record = encode(row)
      digest.update(record)
      out.write(record)
      rows += 1
      bytes += record.length
      WriteChaos.maybeFail(chaosAfter, rows)
      WriteChaos.maybeSlow(chaosSlowMs)
    }

    override def commit(): WriterCommitMessage = {
      out.close()
      if (rows == 0) fs.delete(file, false)
      Staged(file.getName, Hex.encodeHexString(digest.digest()), rows, bytes)
    }

    override def abort(): Unit = {
      out.close()
      fs.delete(file, false): Unit
    }

    override def close(): Unit = ()
  }
}
