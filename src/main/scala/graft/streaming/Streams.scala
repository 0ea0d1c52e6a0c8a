package graft.streaming

import graft.Engine
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Per-user running (count, max) via the NEW arbitrary-state API
  * (`transformWithState`, Spark 4): typed ValueState slots replace
  * mapGroupsWithState's single state object — independently evolvable,
  * TTL-capable, and backed by the RocksDB state store. Emits the
  * cumulative totals for each key seen in a batch (update semantics). */
class CountMaxProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), (Long, Long, Double)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}

  @transient private var count: ValueState[Long] = _
  @transient private var maxV: ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    count = getHandle.getValueState[Long]("count",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    maxV = getHandle.getValueState[Double]("maxv",
      org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Double)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Double)] = {
    var c = if (count.exists()) count.get() else 0L
    var m = if (maxV.exists()) maxV.get() else Double.NegativeInfinity
    rows.foreach { case (_, v) => c += 1; if (v > m) m = v }
    count.update(c)
    maxV.update(m)
    Iterator.single((key, c, m))
  }
}

/** Bounded-state streaming heavy hitters: Misra-Gries with capacity `k`
  * PER SHARD, held in a typed `MapState` on the RocksDB store. The scale
  * contract this demonstrates is the one that matters on an unbounded
  * stream: state NEVER grows with the key space — at most k counters per
  * shard survive, however many distinct items flow through. Classic MG
  * update per item: increment if tracked, insert if a slot is free, else
  * decrement every counter (evicting zeros). Counters therefore
  * UNDERestimate by at most n_shard/(k+1) — shard sketches merge by
  * summing, preserving the bound (asserted in StreamingSpec); every item
  * with true frequency above the bound is guaranteed to survive. Emits
  * the shard's full sketch each batch (update semantics — the final
  * batch's emission IS the final sketch). Rows are `(shard, item,
  * event_id)`: which counters survive depends on the order items arrive
  * in, so each batch's rows are applied in `event_id` order, not in the
  * order the shuffle happened to deliver them, and a rerun over the same
  * batches yields the same sketch. */
class MisraGriesProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TTLConfig}

  @transient private var sketch: MapState[Long, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    sketch = getHandle.getMapState[Long, Long]("mg",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Long)] = {
    // State-store discipline: the sketch is loaded into a (bounded, ≤ k
    // entries) heap map ONCE, every row of the batch is applied in memory,
    // and the store sees exactly one clear + ≤ k puts at the end. The
    // naive formulation (a containsKey/getValue/updateValue round-trip per
    // ROW) costs a RocksDB call per event and turned a 1.5 s stream into
    // 35 s at sf0.1 — per-batch state I/O must be O(k), never O(rows).
    val local = scala.collection.mutable.HashMap.empty[Long, Long]
    sketch.iterator().foreach { case (it, c) => local(it) = c }
    rows.toArray.sortBy(r => (r._3, r._2)).foreach { case (_, item, _) =>
      local.get(item) match {
        case Some(c) => local(item) = c + 1L
        case None if local.size < k => local(item) = 1L
        case None =>
          // decrement-all admission: k+1 distinct items each give up one
          // count; zeroed counters free their slot
          local.keysIterator.toArray.foreach { it =>
            val c = local(it)
            if (c <= 1L) local.remove(it) else local(it) = c - 1L
          }
      }
    }
    sketch.clear()
    local.foreach { case (it, c) => sketch.updateValue(it, c) }
    local.toList.map { case (it, c) => (key, it, c) }.iterator
  }
}

/** Structured Streaming harness (SURVEY §2.9): the reference is a
  * checkpointed micro-batch stream over the date axis
  * (main.yml:70-95 + scraper_state.json) — here expressed as real
  * `readStream` pipelines run to completion with Trigger.AvailableNow so
  * results are deterministic and oracle-checkable. A stream with state
  * runs on its own [[stateSession]], so streams that run at once, and the
  * caller's batch queries, never see each other's width.
  */
object Streams {

  /** Stage a file-stream source: the partitions of `batches`, frame after
    * frame and partition after partition, become the flat files
    * `part-<i>.parquet` of one directory, staged once per (`name`, `dir`)
    * per JVM through [[Engine.staged]]. The file source admits files in
    * modification-time order, and files written by parallel tasks get their
    * times in whatever order the tasks finish, so the times are pinned to
    * strictly increasing values in file order, and a pin that does not take
    * fails the staging: under `maxFilesPerTrigger` every run puts the same
    * files, and so the same rows, in each micro-batch. `batches` is built
    * only when the source is staged. Read the directory with
    * [[eventsStream]] and its own footer schema (`Engine.parquet`). */
  def stage(spark: SparkSession, name: String, dir: String)(batches: => Seq[DataFrame]): String =
    Engine.staged(name, dir) { out =>
      import org.apache.hadoop.fs.Path
      val fs = new Path(out).getFileSystem(spark.sessionState.newHadoopConf())
      val written = batches.zipWithIndex.map { case (frame, b) =>
        val tmp = new Path(out, s"_batch$b")
        frame.write.parquet(tmp.toString)
        tmp
      }
      written.flatMap { tmp =>
        fs.listStatus(tmp).map(_.getPath).filter(_.getName.startsWith("part-")).sortBy(_.getName)
      }.zipWithIndex.foreach { case (part, i) =>
        val file = new Path(out, s"part-$i.parquet")
        val time = 1700000000000L + i * 1000L
        graft.sinks.Commit.move(fs, part, file)
        fs.setTimes(file, time, -1L)
        require(fs.getFileStatus(file).getModificationTime == time,
          s"mtime pin failed for $file: batch order would be luck")
      }
      written.foreach(fs.delete(_, true))
    }

  /** The events table staged as 4 files, one per partition of
    * `repartition(4)`, so `maxFilesPerTrigger` drives a deterministic
    * number of micro-batches (the per-day batch pacing of
    * main.yml:77-95). Every events stream shares this one copy. */
  def stageEvents(spark: SparkSession, dir: String): String =
    stage(spark, "events_staged", dir)(Seq(Engine.events(spark, dir).repartition(4)))

  def eventsSchema(spark: SparkSession, dir: String): StructType =
    Engine.events(spark, dir).schema

  /** File stream over a staged directory ([[stage]]), admitting at most
    * `maxFilesPerTrigger` files per micro-batch. */
  def eventsStream(spark: SparkSession, staged: String, schema: StructType,
      maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(staged)

  /** The session a stream with its own width starts on: a child of
    * `spark` (see [[Engine.scoped]]) whose shuffle-partition count is
    * `parts` (a stateful stream's state width), and whose state store is
    * RocksDB when `rocksDb` is set (the `transformWithState` queries keep
    * their typed state there). Build the stream on this session; read its
    * sink back on `spark`.
    *
    * A stateful query fixes its state-partition count at the first
    * checkpoint, and every partition is a state-store instance with
    * per-batch commit overhead, so state-heavy operators size this to key
    * cardinality and data volume rather than inherit the batch default
    * (tiny fixtures → fewer, a 100 TB deployment → more; either way an
    * explicit choice, which is the point). */
  def stateSession(spark: SparkSession, parts: Int, rocksDb: Boolean = false): SparkSession = {
    val width = "spark.sql.shuffle.partitions" -> parts.toString
    if (!rocksDb) Engine.scoped(spark, width)
    else Engine.scoped(spark, width, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  /** The one way a stream runs in the engine: `stream` is written in
    * `mode` ("append", "update" or "complete"), checkpointed to a fresh
    * `ck_<name>` directory from [[Engine.tempDir]], triggered with
    * `Trigger.AvailableNow` so it drains what is there and stops, and
    * `each` receives every micro-batch with its batch id. The call blocks
    * until the stream has terminated, and a failed batch is rethrown as a
    * `StreamingQueryException`, so a broken stream fails its query instead
    * of leaving an empty sink behind. Returns the terminated query, whose
    * `recentProgress` is complete by then. */
  def run(stream: DataFrame, name: String, mode: String = "append")(
      each: (DataFrame, Long) => Unit): StreamingQuery =
    start(stream, name, mode)(_.foreachBatch(each))._1

  /** [[run]] into a parquet sink made here: every micro-batch is appended,
    * or in "complete" mode overwrites the sink, so the last snapshot (the
    * final state) is what stays. The write is a distributed parquet job,
    * so nothing buffers on the driver however large the result is. Returns
    * the sink directory and the checkpoint directory (the state a caller
    * can read back through the state data source). */
  def runToParquet(stream: DataFrame, name: String, mode: String = "append"): (String, String) = {
    val out = Engine.tempDir(s"${name}_sink")
    val write = if (mode == "complete") SaveMode.Overwrite else SaveMode.Append
    val (_, ck) = start(stream, name, mode)(
      _.foreachBatch((batch: DataFrame, _: Long) => batch.write.mode(write).parquet(out)))
    (out, ck)
  }

  /** [[run]] into the archive connector at `path`: each micro-batch lands
    * as one verified, epoch-fenced archive commit
    * ([[graft.sources.KbArchiveSink]]). */
  def runToArchive(stream: DataFrame, name: String, path: String): StreamingQuery =
    start(stream, name, "append")(
      _.format(classOf[graft.sources.KbArchiveSink].getName).option("path", path))._1

  private def start(stream: DataFrame, name: String, mode: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): (StreamingQuery, String) = {
    val ck = Engine.tempDir(s"ck_$name")
    val q = sink(stream.writeStream.outputMode(mode))
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (q, ck)
  }
}
