package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.Commit

/** `kb.dim` — a WRITABLE keyed dimension table on the V2 catalog, the
  * counterpart to the read-only `kb.search`: it exists to give the SQL
  * surface the row-level DML a warehouse user expects — `INSERT`,
  * `INSERT OVERWRITE`, `DELETE FROM`, `UPDATE`, and `MERGE INTO` — backed
  * by [[SupportsRowLevelOperations]], the same connector contract
  * Delta/Iceberg implement. Spark's rewrite rules turn each DML statement
  * into a ReplaceData plan (matched rows transformed, unmatched rows
  * carried over) executed against this connector's scan + write.
  *
  * Group model: the whole table is ONE replacement group — the scan always
  * reads everything and the row-level write REPLACES everything (the
  * correct degenerate case of group-based copy-on-write; a partitioned
  * production table would report file/partition groups and runtime-filter
  * the scan so only touched groups rewrite, exactly st21's bucket
  * confinement — same contract, finer groups). A commit is
  * [[graft.sinks.Commit]]'s protocol: verified staged files move in, then
  * the `_files` manifest is republished with `Commit.replace` (write a
  * temporary file, rename it over the live one), so readers see the old
  * table or the new one, never a mix; aborted/failed jobs leave only
  * unreferenced staging files. This file keeps the record encoding and
  * the manifest format.
  *
  * Storage is `k\tv\ttag` lines — deliberately trivial: the point of the
  * class is the COMMIT PROTOCOL and the row-level plumbing, not a file
  * format. Cites the reference's rewrite-in-place state updates
  * (/root/reference/src/01-scrape-images.py:462-475) re-expressed as a
  * transactional table operation. */
object KbDim {
  val schema: StructType = StructType.fromDDL("k BIGINT, v BIGINT, tag STRING")
  val ManifestName = "_files"

  /** The group-identity metadata column. Row-level operations REQUIRE it
    * (`requiredMetadataAttributes`): that is what makes Spark build the
    * metadata projection and hand the connector writer clean
    * data-schema rows through `DataWriter.write(metadata, row)` — with no
    * required metadata attribute, ReplaceDataExec degrades to the plain
    * writing task and the writer would see raw pre-projection rows
    * (`__row_operation`, …), which is why group-based connectors
    * (Iceberg's `_file`/`_partition`) always declare one. Ours is the
    * source file — the natural replacement-group id a finer-grained
    * commit would key on. */
  val FileCol = "_file"

  /** Per-JVM default location (the catalog option `dimDir` overrides). */
  lazy val defaultDir: String =
    graft.Engine.tempDir("kb_dim")

  private def readLines(dir: String, name: String): Option[Seq[String]] =
    Commit.read(Commit.fs(dir), new Path(dir, name))
      .map(_.split("\n").toSeq.filter(_.nonEmpty))

  /** Committed file list; empty table if no manifest yet. `name` selects
    * a historical snapshot (`_files.v<N>`) for time travel. The `#v=`
    * header line is metadata, not a file. */
  private[graft] def manifest(dir: String, name: String = ManifestName): Seq[String] =
    readLines(dir, name) match {
      case Some(lines) => lines.filterNot(_.startsWith("#"))
      case None if name == ManifestName => Nil
      case None =>
        throw new IllegalArgumentException(s"kb.dim: no snapshot '$name' in $dir")
    }

  /** Highest COMMITTED version — read from the LIVE manifest's `#v=`
    * header, never from directory listings: a crash can leave an orphan
    * `_files.v<N>` snapshot behind, and counting it would let
    * `VERSION AS OF latestVersion` read a state the table never exposed.
    * The live manifest is the single commit point. 0 = empty table. */
  def latestVersion(dir: String): Long =
    readLines(dir, ManifestName).fold(0L)(
      _.collectFirst { case l if l.startsWith("#v=") => l.stripPrefix("#v=").toLong }
        .getOrElse(0L))

  /** The dimension directory this session's `kb` catalog serves — honors
    * the `spark.sql.catalog.kb.dimDir` override the catalog documents. */
  def resolveDir(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption("spark.sql.catalog.kb.dimDir").getOrElse(defaultDir)

  /** Commit protocol: stage the immutable `_files.v<N+1>` snapshot FIRST
    * (an orphan if we crash — harmless, because versions are counted from
    * the live header, and the next commit replaces it), then republish the
    * live manifest carrying `#v=N+1`; both through `Commit.replace`. Replaced data files
    * are never deleted, so every committed snapshot stays readable (time
    * travel); expiry is a retention policy, not a commit side effect —
    * the VACUUM trade-off every versioned table format makes. */
  private[sources] def writeManifest(dir: String, files: Seq[String]): Unit = {
    val f = Commit.fs(dir)
    val next = latestVersion(dir) + 1
    val body = (s"#v=$next" +: files.sorted).mkString("\n")
      .getBytes(StandardCharsets.UTF_8)
    Commit.replace(f, new Path(dir, s"$ManifestName.v$next"))(_.write(body))
    Commit.replace(f, new Path(dir, ManifestName))(_.write(body))
  }

  /** The record encoding: one `k\tv\ttag\n` line per row. Line-framed
    * storage cannot represent NULLs or tab/newline in `tag`, so those are
    * rejected loudly rather than stored as a silently different value
    * (getLong on a null slot would store 0, a null string the literal
    * "null", and an embedded '\n' would corrupt every later read). */
  private[sources] def encode(row: InternalRow): Array[Byte] = {
    require(!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2),
      "kb.dim: NULL values are not storable in the line-framed format")
    val tag = row.getUTF8String(2).toString
    require(!tag.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"kb.dim: tag value contains line-framing characters: ${tag.take(40)}")
    s"${row.getLong(0)}\t${row.getLong(1)}\t$tag\n".getBytes(StandardCharsets.UTF_8)
  }

  /** ROLLBACK: restore the table to committed version `v` by publishing a
    * NEW commit whose file list is the old snapshot's — history is
    * preserved (the bad versions stay readable for forensics until a
    * vacuum expires them), which is why this is a commit and not a
    * manifest rewind. Fails loudly if `v` was never committed or has
    * been vacuumed. Returns the new live version number. */
  def rollback(dir: String, v: Long): Long = {
    val latest = latestVersion(dir)
    require(v >= 1 && v <= latest,
      s"kb.dim rollback: version $v is not a committed snapshot (latest is $latest)")
    writeManifest(dir, manifest(dir, s"$ManifestName.v$v"))
    latestVersion(dir)
  }

  /** VACUUM: expire every committed snapshot older than the newest
    * `retain` versions, deleting (a) the expired `_files.v<N>` manifests
    * and (b) any data file referenced ONLY by expired snapshots — the
    * retention policy the commit protocol defers to (see writeManifest).
    * Safety rules, same as any versioned table format:
    *  - `retain >= 1` (the live snapshot is never expirable);
    *  - data files still referenced by ANY retained snapshot or by the
    *    live manifest survive, so every retained version stays readable;
    *  - only files named by an expired manifest are deletion candidates —
    *    unrelated files in the directory are never touched;
    *  - orphan snapshots ABOVE the live version (crashed writers) are
    *    left alone: the next commit overwrites them.
    * Reading an expired version afterwards fails loudly with the
    * existing "no snapshot" error. Returns (snapshots, dataFiles)
    * deleted. */
  def vacuum(dir: String, retain: Int): (Long, Long) = {
    require(retain >= 1, "kb.dim vacuum: must retain at least the live snapshot")
    val f = Commit.fs(dir)
    val latest = latestVersion(dir)
    val floor = math.max(1L, latest - retain + 1)
    if (latest == 0L) return (0L, 0L)
    val expired = (1L until floor).filter(v =>
      f.exists(new Path(dir, s"$ManifestName.v$v")))
    val keepFiles = (floor to latest)
      .filter(v => f.exists(new Path(dir, s"$ManifestName.v$v")))
      .flatMap(v => manifest(dir, s"$ManifestName.v$v")).toSet ++
      manifest(dir).toSet
    // read candidates BEFORE deleting their manifests
    val candidates = expired.flatMap(v => manifest(dir, s"$ManifestName.v$v")).toSet
    var snaps = 0L
    expired.foreach { v =>
      if (f.delete(new Path(dir, s"$ManifestName.v$v"), false)) snaps += 1
    }
    var files = 0L
    (candidates -- keepFiles).foreach { name =>
      if (f.delete(new Path(dir, name), false)) files += 1
    }
    (snaps, files)
  }
}

/** `pinnedVersion` makes the table a read-only historical snapshot
  * (`SELECT … FROM kb.dim VERSION AS OF n` — the catalog routes the
  * version string here). */
class KbDimTable(dir: String, pinnedVersion: Option[Long] = None) extends Table
    with SupportsRead with SupportsWrite with SupportsRowLevelOperations
    with SupportsMetadataColumns {
  override def name(): String =
    s"kb.dim($dir${pinnedVersion.fold("")(v => s"@v$v")})"
  override def schema(): StructType = KbDim.schema

  private def manifestName: String =
    pinnedVersion.fold(KbDim.ManifestName)(v => s"${KbDim.ManifestName}.v$v")

  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = KbDim.FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "source data file (replacement-group id)"
    })
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // only COMMITTED versions are readable: an orphan snapshot from a
    // crashed commit exists on disk but was never published by the live
    // manifest, so it must not resolve
    pinnedVersion.foreach { v =>
      val latest = KbDim.latestVersion(dir)
      require(v >= 1 && v <= latest,
        s"kb.dim: version $v is not a committed snapshot (latest is $latest)")
    }
    new KbDimScanBuilder(dir, manifestName)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"kb.dim: historical snapshot v${pinnedVersion.get} is read-only")
    require(info.schema().fieldNames.sameElements(KbDim.schema.fieldNames),
      s"kb.dim expects (k, v, tag), got ${info.schema().fieldNames.mkString(",")}")
    new KbDimWriteBuilder(dir, info.queryId(), replace = false)
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"kb.dim: historical snapshot v${pinnedVersion.get} is read-only")
    () => new KbDimRowLevelOperation(dir, info.command())
  }
}

/** DELETE/UPDATE/MERGE all plan as: scan the (single) group, compute its
  * replacement rows, REPLACE the group on commit. */
class KbDimRowLevelOperation(dir: String, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KbDimScanBuilder(dir)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fieldNames.sameElements(KbDim.schema.fieldNames),
      s"kb.dim row-level write expects (k, v, tag), got " +
        s"${info.schema().map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")}")
    new KbDimWriteBuilder(dir, info.queryId(), replace = true)
  }
  // group identity: requiring `_file` selects the projecting write task
  // (see [[KbDim.FileCol]]) and is what a finer-grained commit would use
  // to replace only touched files
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(KbDim.FileCol))
  override def description(): String = s"kb.dim row-level $cmd (whole-table group)"
}

// ------------------------------------------------------------------ read
/** Column-pruned scan; understands the `_file` metadata column (group
  * identity) alongside the three data columns. */
class KbDimScanBuilder(dir: String, manifestName: String = KbDim.ManifestName)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = KbDim.schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val schema = required
    new Scan with Batch {
      override def readSchema(): StructType = schema
      override def toBatch: Batch = this
      override def description(): String =
        s"kb.dim scan $dir@$manifestName cols=${schema.fieldNames.mkString(",")}"
      override def planInputPartitions(): Array[InputPartition] =
        KbDim.manifest(dir, manifestName)
          .map(f => KbDimInputPartition(s"$dir/$f")).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new KbDimReaderFactory(schema.fieldNames)
    }
  }
}

case class KbDimInputPartition(file: String) extends InputPartition

class KbDimReaderFactory(fields: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[KbDimInputPartition].file
    val fileName = UTF8String.fromString(file.substring(file.lastIndexOf('/') + 1))
    new PartitionReader[InternalRow] {
      private val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        Commit.fs(file).open(new Path(file)), StandardCharsets.UTF_8))
      private var line: String = _
      override def next(): Boolean = { line = in.readLine(); line != null }
      override def get(): InternalRow = {
        val parts = line.split("\t", 3)
        InternalRow.fromSeq(fields.toIndexedSeq.map {
          case "k" => parts(0).toLong
          case "v" => parts(1).toLong
          case "tag" => UTF8String.fromString(parts(2))
          case KbDim.FileCol => fileName
          case other => sys.error(s"kb.dim: unknown column '$other'")
        })
      }
      override def close(): Unit = in.close()
    }
  }
}

// ----------------------------------------------------------------- write
/** `replace = true` (row-level ops, truncate, overwrite-all) swaps the
  * manifest to exactly the new files; append merges them in. */
class KbDimWriteBuilder(dir: String, queryId: String, replace: Boolean)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite {
  override def truncate(): WriteBuilder =
    new KbDimWriteBuilder(dir, queryId, replace = true)
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(filters.forall(_.isInstanceOf[AlwaysTrue]),
      s"kb.dim supports only whole-table overwrite, got ${filters.mkString(",")}")
    new KbDimWriteBuilder(dir, queryId, replace = true)
  }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new KbDimBatchWrite(dir, queryId, replace)
    override def description(): String =
      s"kb.dim ${if (replace) "replace" else "append"} $dir"
  }
}

class KbDimBatchWrite(dir: String, queryId: String, replace: Boolean)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    Commit.Writers(dir, queryId, "kbd", KbDim.encode)

  /** [[Commit.publish]] with ONE manifest write that publishes the new
    * table state — replace swaps the file list wholesale, append unions
    * it. Files a replace drops from the live manifest are NOT deleted:
    * older `_files.v<N>` snapshots still reference them (time travel);
    * expiry is a retention policy, not a commit side effect. */
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    Commit.publish(Commit.fs(dir), Commit.staging(dir, queryId), new Path(dir), messages) {
      admitted =>
        val added = admitted.map(_.file)
        KbDim.writeManifest(dir, if (replace) added else KbDim.manifest(dir) ++ added)
        Nil
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    Commit.fs(dir).delete(Commit.staging(dir, queryId), true): Unit
}
