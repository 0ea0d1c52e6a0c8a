package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

import graft.sinks.Commit
import graft.sources.{KbArchive, WriteChaos}

/** Speculative-execution chaos for the archive sink's commit protocol
  * (r13 verdict item 4) — the hazard ChaosRetry's serial kill-then-retry
  * scenarios cannot reach: TWO LIVE ATTEMPTS of the same partition racing
  * each other to `DataWriter.commit`, where the commit coordinator must
  * admit exactly one.
  *
  * Runs on [[org.apache.spark.deploy.GraftTwoHostCluster]] — a real
  * standalone master + two workers on distinct loopback hostnames with
  * executors in separate JVMs — because that is the ONLY way speculation
  * can launch on one machine (see that object's doc: local masters never
  * start the speculation thread, and the scheduler refuses a speculative
  * copy on any live attempt's host). The chaos seam slows partition 0's
  * first attempt (100 ms/row × 50 rows = ~5 s) via `spark.executorEnv`
  * (driver sys.props don't cross the JVM boundary); speculation is tuned
  * aggressive (quantile 0.5, multiplier 1.5, 50 ms scans) so a copy
  * launches while the original is mid-write.
  *
  * Invariants (any violation → require → nonzero exit):
  *  - a speculative attempt REALLY launched, and partition 0 really had
  *    two concurrent attempts (a race test where nobody raced proves
  *    nothing — both are read off the listener);
  *  - exactly ONE committed file per partition (parsed from the names:
  *    the attempt-unique taskId fences the two copies into different
  *    staged files, and only the coordinator-admitted one may publish);
  *  - manifest rows/md5 == stored files; readers see exactly the input;
  *  - the losing attempt's staged bytes appear NOWHERE: no staging dir,
  *    no orphan file in the target.
  */
object ChaosSpeculation {

  private def visible(dir: String): Set[String] =
    Commit.fs(dir).listStatus(new Path(dir)).map(_.getPath.getName).filterNot(Engine.hidden).toSet

  private def stagingLeft(dir: String): Seq[String] =
    Commit.fs(dir).listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("_staging")).toSeq

  def main(args: Array[String]): Unit = {
    val clusterConf = new SparkConf(false)
    val cluster = org.apache.spark.deploy.GraftTwoHostCluster.start(
      clusterConf, coresPerWorker = 2, memPerWorkerMb = 1024)
    val absoluteCp = sys.props("java.class.path")
      .split(java.io.File.pathSeparator)
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    val spark = SparkSession.builder()
      .master(cluster.masterUrl)
      .appName("graft-chaos-speculation")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.executor.memory", "1g")
      .config("spark.executor.cores", "2")
      // executor cwd is the worker work dir — absolute paths only
      .config("spark.executor.extraClassPath", absoluteCp)
      // the seam: slow partition 0's FIRST attempt only (see WriteChaos)
      .config(s"spark.executorEnv.${WriteChaos.SlowEnv}", "100")
      .config("spark.speculation", "true")
      .config("spark.speculation.interval", "50ms")
      .config("spark.speculation.multiplier", "1.5")
      .config("spark.speculation.quantile", "0.5")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.ansi.enabled", "true") // pinned, see Engine.session
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val speculativeStarts = new java.util.concurrent.atomic.AtomicLong(0)
    // (stageId, partition index) -> live+finished attempt count
    val attempts = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Int]()
    val killedRedundant = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit = {
        if (e.taskInfo.speculative) speculativeStarts.incrementAndGet(): Unit
        attempts.merge((e.stageId, e.taskInfo.index), 1, Integer.sum): Unit
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason.toString.contains("another attempt succeeded"))
          killedRedundant.incrementAndGet(): Unit
    })
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val out = Engine.tempDir("chaos_spec_archive")
      val n = 200L
      spark.range(n)
        .select(concat(lit("k"), $"id").as("key"),
          concat(lit("payload-"), $"id").as("payload"))
        .repartition(4)
        .write.format(classOf[graft.sources.KbArchiveSink].getName)
        .option("path", out).mode("append").save()

      require(speculativeStarts.get >= 1,
        "speculation: no speculative attempt ever launched — the race never happened")
      val racedPartitions = {
        import scala.jdk.CollectionConverters._
        attempts.asScala.filter(_._2 >= 2)
      }
      require(racedPartitions.nonEmpty,
        s"speculation: no partition ever had 2 live attempts (attempts=$attempts)")

      val manifest = KbArchive.readManifest(out)
      require(manifest.map(_.rows).sum == n,
        s"speculation: manifest rows ${manifest.map(_.rows).sum} != $n")
      // single-commit-per-partition: file names embed the partition id —
      // of the two racing attempts of partition 0, exactly one may win
      val partOf = "part-[0-9a-f-]+-(\\d{5})-\\d+\\.kbar".r
      val partCounts = manifest.map(_.name).groupBy {
        case partOf(p) => p.toInt
        case other => sys.error(s"speculation: unparseable file name $other")
      }.view.mapValues(_.size).toMap
      require(partCounts == Map(0 -> 1, 1 -> 1, 2 -> 1, 3 -> 1),
        s"speculation: committed files per partition $partCounts != one each")
      val fs = Commit.fs(out)
      manifest.foreach { e =>
        val p = new Path(out, e.name)
        require(fs.exists(p), s"speculation: manifest lists missing ${e.name}")
        require(fs.getFileStatus(p).getLen == e.bytes,
          s"speculation: ${e.name} size != manifest bytes")
        require(Commit.md5Of(fs, p) == e.md5,
          s"speculation: ${e.name} md5 mismatch")
      }
      require(visible(out) == manifest.map(_.name).toSet,
        s"speculation: loser attempt leaked into target: ${visible(out)}")
      require(stagingLeft(out).isEmpty,
        s"speculation: staging left ${stagingLeft(out)}")
      val got = spark.read.text(out).as[String]
        .map(_.split("\t", 2)(0)).collect().toSet
      require(got == (0L until n).map(i => s"k$i").toSet,
        s"speculation: read-back key set wrong (${got.size} keys)")
      println(s"""{"scenario":"speculation","speculative":${speculativeStarts.get},""" +
        s""""raced_partitions":${racedPartitions.size},""" +
        s""""killed_redundant":${killedRedundant.get},""" +
        s""""rows":$n,"files":${manifest.size},"ok":true}""")
    } finally {
      spark.stop()
      cluster.stop()
    }
  }
}
