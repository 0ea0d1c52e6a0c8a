package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Queries that share a session must not disturb each other or leave the
  * session changed. A registry slice that sets per-query widths (the
  * stateful streams and the AQE-off iterative builds) runs once serially
  * and once 4-way concurrent on the one spec session, and the spec asserts:
  *
  *   - (i) the concurrent results equal the serial ones, as sorted rows;
  *   - (ii) the caller's `spark.sql.shuffle.partitions` and
  *     `spark.sql.adaptive.enabled`, read at every job start, never move,
  *     and the caller's whole conf after the slice equals its conf before;
  *   - (iii) every stream's checkpoint offset metadata records the state
  *     width the query asks for, and every shuffle exchange g4, l17 and
  *     l49 execute has the width [[graft.queries.Nested.derivedParts]]
  *     derives from their source tables.
  *
  * Attribution rides a thread-local Spark property: every job carries the
  * property of the thread that submitted it, and a stream's execution
  * thread inherits the property of the thread that started the stream. */
class SessionIsolationSpec extends SparkSpec {

  private val labelKey = "graft.isolation.query"

  private val streamWidths = Map(
    "st2_checkpointed_agg" -> 8, "st9_stream_stream_join" -> 2,
    "st13_transform_with_state" -> 4, "st18_stream_heavy_hitters" -> 4,
    "st21_streaming_scd2" -> 8)
  private val rocksDb = Set("st13_transform_with_state", "st18_stream_heavy_hitters")
  private val buildTables = Map(
    "g4_pagerank" -> Seq("orders", "lineitem"),
    "l17_dedup_clusters" -> Seq("documents"),
    "l49_cluster_canonical" -> Seq("documents"))
  private val slice = streamWidths.keys.toSeq.sorted ++ buildTables.keys.toSeq.sorted

  /** Everything the listener saw, keyed by the label of the submitting
    * thread. */
  private final class Recorder extends SparkListener {
    val confSeen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val execLabel = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val execWidths = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Int]]()
    val streamLabel = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val flushJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new java.util.concurrent.CountDownLatch(1)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      confSeen.add((spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled")))
      val props = Option(e.properties)
      if (props.exists(_.getProperty("spark.jobGroup.id") == flushGroup)) flushJobs.add(e.jobId)
      props.flatMap(p => Option(p.getProperty(labelKey))).foreach { label =>
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => execLabel.put(id.toLong, label))
        props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(id => streamLabel.put(id, label))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (flushJobs.contains(e.jobId)) flushed.countDown()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execWidths.put(s.executionId, exchangeWidths(s.sparkPlanInfo)); ()
      case _ =>
    }

    def widthsOf(label: String): Seq[Int] =
      execLabel.asScala.collect { case (id, `label`) =>
        execWidths.asScala.getOrElse(id, Nil)
      }.flatten.toSeq
  }

  private val partitioned = """partitioning\(.*,\s*(\d+)\)""".r.unanchored
  private val roundRobin = """RoundRobinPartitioning\((\d+)\)""".r.unanchored

  private def exchangeWidths(p: SparkPlanInfo): Seq[Int] = {
    val own = if (p.nodeName != "Exchange") Nil else p.simpleString match {
      case partitioned(n) => Seq(n.toInt)
      case roundRobin(n) => Seq(n.toInt)
      case _ => Nil // SinglePartition
    }
    own ++ p.children.flatMap(exchangeWidths)
  }

  private def run(name: String): Seq[String] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(labelKey, name)
    try SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).toSeq.sorted
    finally sc.setLocalProperty(labelKey, null)
  }

  private val flushGroup = "isolation-flush"

  /** Waits until the listener has seen the end of a job submitted after
    * everything else, so every earlier event has been delivered. */
  private def flush(rec: Recorder): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(flushGroup, "listener flush", false)
    try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
    assert(rec.flushed.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "listener bus did not drain")
  }

  /** Checkpoint directories the queries created since `startMs`, by query
    * id (their `metadata` file). */
  private def checkpoints(startMs: Long): Map[String, java.io.File] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val idRe = "\"id\"\\s*:\\s*\"([^\"]+)\"".r.unanchored
    Option(tmp.listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("ck_st") && f.lastModified >= startMs)
      .flatMap { d =>
        val meta = new java.io.File(d, "metadata")
        if (!meta.isFile) None
        else new String(java.nio.file.Files.readAllBytes(meta.toPath), "UTF-8") match {
          case idRe(id) => Some(id -> d)
          case _ => None
        }
      }.toMap
  }

  private def offsetConf(ck: java.io.File, key: String): Option[String] = {
    val first = new java.io.File(ck, "offsets/0")
    val re = ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*\"([^\"]*)\"").r.unanchored
    if (!first.isFile) None
    else new String(java.nio.file.Files.readAllBytes(first.toPath), "UTF-8") match {
      case re(v) => Some(v)
      case _ => None
    }
  }

  test("a concurrent registry slice leaves the shared session as it found it") {
    val before = spark.conf.getAll
    val startMs = System.currentTimeMillis() - 1000L
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val serial = slice.map(n => n -> run(n)).toMap
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val concurrent = Await.result(
        Future.traverse(slice)(n => Future(n -> run(n))), 15.minutes).toMap
      flush(rec)

      // (i) same rows as the serial run
      slice.foreach { n =>
        assert(concurrent(n) == serial(n),
          s"$n: concurrent run returned ${concurrent(n).size} rows, serial ${serial(n).size}")
      }

      // (ii) the caller's settings never moved
      val expected = (before("spark.sql.shuffle.partitions"), before("spark.sql.adaptive.enabled"))
      val seen = rec.confSeen.asScala.toSeq
      assert(seen.nonEmpty)
      assert(seen.forall(_ == expected),
        s"caller's (shuffle.partitions, adaptive.enabled) moved during the slice: " +
          s"${seen.distinct} (expected $expected)")
      assert(spark.conf.getAll == before,
        s"session conf changed: ${(spark.conf.getAll.toSet diff before.toSet)} " +
          s"vs ${(before.toSet diff spark.conf.getAll.toSet)}")

      // (iii) each stream ran at its own state width ...
      val cks = checkpoints(startMs)
      streamWidths.foreach { case (n, width) =>
        val runs = rec.streamLabel.asScala.collect { case (id, `n`) => id }.toSeq
        assert(runs.size >= 2, s"$n: expected a serial and a concurrent stream, saw $runs")
        runs.foreach { id =>
          val ck = cks.getOrElse(id, fail(s"$n: no checkpoint found for stream $id"))
          assert(offsetConf(ck, "spark.sql.shuffle.partitions").contains(width.toString),
            s"$n: checkpoint $ck records width " +
              s"${offsetConf(ck, "spark.sql.shuffle.partitions")}, expected $width")
          if (rocksDb(n))
            assert(offsetConf(ck, "spark.sql.streaming.stateStore.providerClass")
              .exists(_.endsWith("RocksDBStateStoreProvider")), s"$n: not on RocksDB")
        }
      }
      // ... and each iterative build at its derived width
      buildTables.foreach { case (n, tables) =>
        val width = graft.queries.Nested.derivedParts(spark, sfDir, tables)
        val widths = rec.widthsOf(n)
        assert(widths.nonEmpty, s"$n: no shuffle exchange recorded")
        assert(widths.forall(_ == width),
          s"$n: exchange widths ${widths.distinct.sorted}, derived width $width")
      }
    } finally {
      pool.shutdown()
      spark.sparkContext.removeSparkListener(rec)
    }
  }
}
