package graft.sinks

import graft.Engine
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Idempotent incremental sink (SURVEY S6/J1/O4): append only rows whose key
  * is not already present, mirroring the reference's skip-if-exists probe
  * (/root/reference/src/01-scrape-images.py:181-188 driven at :462-465 and
  * the local-file skip :357-359). Re-running the same batch appends nothing.
  *
  * Scale design: the existence probe is a left-anti join on the key columns
  * only (sink is read key-projected, so the parquet scan prunes to the key
  * columns); the join shuffles at most |incoming| + |sink keys| rows and AQE
  * broadcasts the smaller side. No driver-side collection of keys.
  *
  * Key-sidecar index (`keyIndex = true`): at 100 TB sink sizes even a
  * key-projected scan of the DATA files dominates the probe, because key
  * bytes are interleaved with data row groups across the whole sink. The
  * sidecar keeps the distinct keys alone in `<path>.keys/` — key-sorted
  * within files with parquet bloom filters on the leading key — so the
  * per-batch probe reads a structure sized by |keys|, never |sink|, and
  * row-group pruning (min/max + bloom) cuts it further toward O(|batch|).
  * Crash consistency: data is written BEFORE the index, and a `_synced`
  * marker recording the sink's data-file count commits the pair (published
  * with [[Commit.replace]]). A crash between the two leaves marker ≠ actual
  * file count, and the next append detects that and REBUILDS the index
  * from the sink's keys before probing — the probe may pay one full
  * key-scan after a crash, but can never read a stale index and
  * double-append (idempotence is never traded for speed).
  */
class IncrementalWriter(spark: SparkSession, path: String, keys: Seq[String],
    keyIndex: Boolean = false) {

  private val indexPath = path + ".keys"
  private val markerFile = new org.apache.hadoop.fs.Path(indexPath, "_synced")

  private def fs = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sinkExists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  private def visibleFile(st: org.apache.hadoop.fs.FileStatus): Boolean =
    st.isFile && !Engine.hidden(st.getPath.getName)

  /** Number of data files in the sink — the cheap metadata fingerprint the
    * `_synced` marker pins. Appends only add files, so marker == count
    * proves the index saw every committed append. */
  private def dataFileCount: Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) 0L else fs.listStatus(p).count(visibleFile)
  }

  private def readMarker(): Option[Long] = Commit.read(fs, markerFile).map(_.trim.toLong)

  private def writeMarker(n: Long): Unit =
    Commit.replace(fs, markerFile)(_.write(n.toString.getBytes("UTF-8")))

  /** Sink keys read the cheapest way available: the sidecar when it is
    * provably in sync, else the key-projected sink scan (rebuilding the
    * sidecar as a side effect when indexing is on). The scan is not
    * de-duplicated: it only feeds the build side of a left-anti join, whose
    * result duplicates cannot change, and a `distinct()` would add a
    * shuffle stage to every append. */
  private def probeKeys(): DataFrame = {
    val sinkKeys = () => Engine.parquet(spark, path).select(keys.map(col): _*)
    val indexKeys = () => Engine.parquet(spark, indexPath).select(keys.map(col): _*)
    if (!keyIndex) sinkKeys()
    else if (readMarker().contains(dataFileCount)) indexKeys()
    else {
      // marker missing or behind (first use, or a crash between the data
      // write and the index write): rebuild from the source of truth
      writeIndex(sinkKeys().distinct(), SaveMode.Overwrite)
      indexKeys()
    }
  }

  /** Key-sorted + bloom-filtered sidecar write; marker committed after. */
  private def writeIndex(keyDf: DataFrame, mode: SaveMode): Unit = {
    keyDf.sortWithinPartitions(keys.map(col): _*)
      .write.mode(mode)
      .option(s"parquet.bloom.filter.enabled#${keys.head}", "true")
      .parquet(indexPath)
    writeMarker(dataFileCount)
  }

  /** Append the anti-joined remainder; returns the number of rows written.
    *
    * Single-pass shape (r21, guide §1.2 "don't compute things twice"):
    * the pre-r21 form cached the remainder, ran a count() job, then a
    * write job — two scheduled jobs plus a cache materialization per
    * micro-batch, which is pure per-batch floor for the streaming callers
    * (st3 pays it 4x). Now ONE job writes the remainder to a staging dir
    * with an `observe` counting rows in-flight, and the files move into
    * the sink by rename only when the count is nonzero — so an empty
    * replay batch leaves the sink byte-untouched (no empty part files,
    * and the keyIndex marker's file-count fingerprint never drifts).
    * Count and write agree by construction: they are the same pass.
    * Crash window is unchanged: a crash mid-rename leaves a partial
    * append, which the next run's anti-join completes (same property the
    * old multi-file commit had); data-before-index ordering is preserved
    * for the sidecar (see class doc). */
  def append(batch: DataFrame): Long = {
    val fresh =
      if (!sinkExists) batch
      else batch.join(probeKeys(), keys, "left_anti")
    val stage = path + ".stage-" + java.util.UUID.randomUUID
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    val obs = new org.apache.spark.sql.Observation()
    try {
      fresh.observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(stage)
      val n = obs.get("n").asInstanceOf[Long]
      if (n > 0) {
        val sinkP = new org.apache.hadoop.fs.Path(path)
        if (!fs.exists(sinkP)) fs.mkdirs(sinkP): Unit
        val moved = fs.listStatus(stagePath).filter(visibleFile).map { st =>
          Commit.move(fs, st.getPath, new org.apache.hadoop.fs.Path(sinkP, st.getPath.getName))
            .toString
        }
        // data first, index second: a crash in between leaves the marker
        // behind the file count and the next probe rebuilds (see class
        // doc). The index reads back ONLY the files this append moved —
        // |batch|-sized, never |sink|-sized.
        if (keyIndex) writeIndex(
          Engine.parquet(spark, moved.toIndexedSeq: _*)
            .select(keys.map(col): _*).distinct(),
          SaveMode.Append)
      }
      n
    } finally { fs.delete(stagePath, true): Unit }
  }
}

/** Verified write (SURVEY S7/O10): write, read back, and compare content
  * checksums, mirroring the reference's md5 verify-after-upload
  * (/root/reference/src/01-scrape-images.py:99-132, fail at :126-129). */
object VerifiedWriter {

  /** Writes `df` to `path` and returns (written, verified, mismatched) by
    * md5-comparing `contentCol` between source and sink per `keyCol`. */
  def writeVerified(spark: SparkSession, df: DataFrame, path: String,
      keyCol: String, contentCol: String): (Long, Long, Long) = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    val src = df.select(col(keyCol), md5(col(contentCol).cast("binary")).as("md5_src"))
    val snk = Engine.parquet(spark, path)
      .select(col(keyCol), md5(col(contentCol).cast("binary")).as("md5_sink"))
    val joined = src.join(snk, Seq(keyCol), "full_outer")
      .select(when(col("md5_src") === col("md5_sink"), 1L).otherwise(0L).as("ok"))
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("n_ok"))
      .head()
    val n = joined.getLong(0)
    val ok = joined.getLong(1)
    (n, ok, n - ok)
  }
}
