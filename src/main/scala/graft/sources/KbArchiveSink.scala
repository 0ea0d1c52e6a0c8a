package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.Commit

/** DataSource V2 WRITE connector modeling the reference's verified archive
  * upload (SURVEY §2.1 S7/S9: per-file md5 verify after upload,
  * /root/reference/src/01-scrape-images.py:126-129, and staging-rename
  * commit, :462-475) as a real Spark commit protocol instead of a
  * driver-side loop:
  *
  *  - each task writes its partition to a STAGING file, digesting md5 as
  *    it streams (no second pass), and reports (file, md5, rows, bytes);
  *  - the job commit re-verifies each staged file's md5 against the task's
  *    digest, moves the files into the target, and publishes a
  *    `_manifest.json` of committed files — so readers (and reruns) see
  *    either the whole write or none of it;
  *  - speculative/retried task attempts are naturally fenced: the commit
  *    coordinator admits one attempt per partition, only files named in
  *    admitted messages move, and `abort` deletes the staging dir.
  *
  * The protocol (staged writer, verify, checked move, atomic manifest
  * replace, delete-after-publish) is [[graft.sinks.Commit]]'s; this file
  * keeps the record encoding and the manifest format.
  *
  * Scale notes: the verify pass re-reads what was just written (the
  * reference's download-and-check, done here with one streaming read per
  * file at commit); a 100 TB deployment would swap it for the FS's own
  * checksum facility but keep the same message/manifest flow. Appends
  * MERGE into the manifest; `mode("overwrite")` maps to
  * [[SupportsTruncate]] and replaces it. The archive row shape is
  * deliberately opaque — `key STRING, payload STRING` — the connector
  * archives keyed blobs (the reference archives files by name), it does
  * not interpret them.
  */
class KbArchiveSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KbArchive.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new KbArchiveTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = false
}

object KbArchive {
  val schema: StructType = StructType.fromDDL("key STRING, payload STRING")
  val ManifestName = "_manifest.json"

  case class Entry(name: String, md5: String, rows: Long, bytes: Long)

  private val entryRe =
    """\{"name":"([^"]+)","md5":"([0-9a-f]{32})","rows":(\d+),"bytes":(\d+)\}""".r

  def renderManifest(entries: Seq[Entry]): String =
    entries.sortBy(_.name)
      .map(e => s"""{"name":"${e.name}","md5":"${e.md5}","rows":${e.rows},"bytes":${e.bytes}}""")
      .mkString("{\"files\":[", ",", "]}")

  def parseManifest(s: String): Seq[Entry] =
    entryRe.findAllMatchIn(s)
      .map(m => Entry(m.group(1), m.group(2), m.group(3).toLong, m.group(4).toLong))
      .toSeq

  /** Committed manifest of `dir`, empty if none. */
  def readManifest(dir: String): Seq[Entry] =
    Commit.read(Commit.fs(dir), new Path(dir, ManifestName)).fold(Seq.empty[Entry])(parseManifest)

  /** The record encoding: one `key\tpayload\n` line per row. */
  private[sources] def encode(row: InternalRow): Array[Byte] =
    s"${row.getUTF8String(0)}\t${row.getUTF8String(1)}\n".getBytes(StandardCharsets.UTF_8)

  /** Batch and per-epoch streaming commits: [[Commit.publish]] with the
    * merged manifest (an admitted name that repeats replaces its old
    * entry, as the move replaced its file), or on truncate one naming
    * only the new files, after which the old files are deleted. */
  private[sources] def commit(path: String, staging: Path,
      messages: Array[WriterCommitMessage], truncate: Boolean): Unit = {
    val fs = Commit.fs(path)
    Commit.publish(fs, staging, new Path(path), messages) { admitted =>
      val old = readManifest(path)
      val names = admitted.map(_.file).toSet
      val kept = if (truncate) Nil else old.filterNot(e => names(e.name))
      val entries = kept ++ admitted.map(m => Entry(m.file, m.md5, m.rows, m.bytes))
      Commit.replace(fs, new Path(path, ManifestName))(
        _.write(renderManifest(entries).getBytes(StandardCharsets.UTF_8)))
      if (truncate) old.map(_.name).filterNot(names) else Nil
    }
  }
}

class KbArchiveTable(path: String) extends Table with SupportsWrite {
  require(path != null && path.nonEmpty, "kb_archive requires a 'path' option")
  override def name(): String = s"kb_archive($path)"
  override def schema(): StructType = KbArchive.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fieldNames.sameElements(Array("key", "payload")),
      s"kb_archive expects (key, payload), got ${info.schema().fieldNames.mkString(",")}")
    new KbArchiveWriteBuilder(path, info.queryId(), truncate = false)
  }
}

class KbArchiveWriteBuilder(path: String, queryId: String, truncate: Boolean)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder =
    new KbArchiveWriteBuilder(path, queryId, truncate = true)
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new KbArchiveBatchWrite(path, queryId, truncate)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new KbArchiveStreamingWrite(path, queryId)
    override def description(): String =
      s"kb_archive path=$path ${if (truncate) "truncate" else "append"}"
  }
}

class KbArchiveBatchWrite(path: String, queryId: String, truncate: Boolean)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    Commit.Writers(path, queryId, "kbar", KbArchive.encode)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    KbArchive.commit(path, Commit.staging(path, queryId), messages, truncate)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    Commit.fs(path).delete(Commit.staging(path, queryId), true): Unit
}

/** Streaming (per-epoch) writes into the archive — the reference pipeline's
  * steady state: each micro-batch of harvested issues lands as one verified,
  * manifest-tracked commit. Exactly-once across engine restarts: a marker
  * file per committed epoch makes the commit IDEMPOTENT — when a failed-
  * before-checkpoint batch is replayed, its re-staged files are discarded
  * instead of re-published, so the archive never double-counts (the
  * connector-level analog of the reference's skip-if-exists state file,
  * :462-465). */
class KbArchiveStreamingWrite(path: String, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private def stagingParent = Commit.staging(path, queryId)
  private def epochMarker(epochId: Long) =
    new Path(path, s"_epochs/$queryId/$epochId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    Commit.Writers(path, queryId, "kbar", KbArchive.encode)

  /** Drop the per-query `_staging-<queryId>` parent (the same dir for
    * every epoch) once it is empty: a long-lived archive must not
    * accumulate one empty staging dir per stream that ever wrote it
    * (micro-batches are serial within a query, so nothing can be staging
    * here concurrently). Runs on BOTH the publish and the replayed-epoch
    * path — a replay of a stream's last epoch is exactly the case where
    * nobody comes back to clean up. Caught by the ChaosRetry stream
    * scenario's no-staging-left invariant. */
  private def dropEmptyStagingParent(f: FileSystem): Unit = {
    if (f.exists(stagingParent) && f.listStatus(stagingParent).isEmpty)
      f.delete(stagingParent, false): Unit
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val f = Commit.fs(path)
    if (f.exists(epochMarker(epochId))) {
      // replayed epoch (failure after commit, before checkpoint advance):
      // already published — drop the duplicate staging, change nothing
      f.delete(Commit.epochStaging(path, queryId, epochId), true)
      dropEmptyStagingParent(f)
      return
    }
    KbArchive.commit(path, Commit.epochStaging(path, queryId, epochId), messages,
      truncate = false)
    Commit.replace(f, epochMarker(epochId))(_ => ())
    // the commit dropped this epoch's staging subdir
    dropEmptyStagingParent(f)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    Commit.fs(path).delete(Commit.epochStaging(path, queryId, epochId), true): Unit
}
