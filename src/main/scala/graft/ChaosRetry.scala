package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.sinks.Commit
import graft.sources.{KbArchive, KbDim, WriteChaos}
import graft.streaming.Streams

/** Task-retry chaos runner for the write connectors' commit protocols
  * (round-13 durability ask).
  *
  * Spawned as a subprocess by ArchiveSinkSpec / KbDimSpec (the MemorySpec/
  * SpillProbe pattern) because task retries need a retry-enabled scheduler:
  * the shared test session's `local[4]` master pins maxFailures=1, so a
  * failed task attempt aborts the job instead of retrying. This main runs
  * on `local[4, 2]` — one retry per task — with [[WriteChaos]] armed so
  * EVERY write task's first attempt dies mid-stream after a few rows are
  * already staged, then asserts the committed state is exactly what a
  * clean run produces:
  *
  *  - scenario `archive` (s16's connector): a 4-partition append where all
  *    four first attempts die. Invariants: the manifest row/byte/md5
  *    accounting matches the stored files exactly, readers see exactly the
  *    input rows (no loss, no double-count from the dead attempts' partial
  *    files), and the target dir holds NOTHING beyond manifest + committed
  *    files (no staging leak, no orphan first-attempt files).
  *  - scenario `merge` (s30's connector): seed INSERT OVERWRITE (clean),
  *    then a full MERGE INTO (update + insert + not-matched-by-source
  *    delete) whose ReplaceData write tasks all die on first attempt.
  *    Invariants: final table state equals the set-algebra expectation,
  *    exactly one version was committed by the MERGE (the dead attempts
  *    burned none), time travel to the seed snapshot still reads the old
  *    state, and no staging dirs survive.
  *  - scenario `stream` (st11's epoch-fenced streaming commit): a
  *    two-micro-batch AvailableNow stream into the archive sink where
  *    each epoch's write task dies on its first attempt. Invariants:
  *    both epochs publish exactly once (one epoch marker each), the
  *    merged manifest accounts for every input row with verified md5s,
  *    readers see exactly the input, and neither staging nor dead-attempt
  *    files survive anywhere.
  *
  * Any violated invariant fails a require() → nonzero exit; the specs
  * assert exit 0 plus the injected-failure counts (a chaos run that never
  * injected proves nothing). Prints one JSON line per scenario.
  */
object ChaosRetry {

  /** Non-hidden entries of `dir` (what a reader can see). */
  private def visible(dir: String): Set[String] =
    Commit.fs(dir).listStatus(new Path(dir)).map(_.getPath.getName).filterNot(Engine.hidden).toSet

  private def stagingLeft(dir: String): Seq[String] =
    Commit.fs(dir).listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("_staging")).toSeq

  def main(args: Array[String]): Unit = {
    val dimDir = Engine.tempDir("chaos_dim")
    val spark = SparkSession.builder()
      .master("local[4, 2]") // maxFailures=2: each task gets ONE retry
      .appName("graft-chaos")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.ansi.enabled", "true") // pinned, see Engine.session
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalog.kb", classOf[graft.sources.KbCatalog].getName)
      .config("spark.sql.catalog.kb.dimDir", dimDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR") // retries log scary-looking stacks
    // The WriteChaos seam arms via sys.props and counts injections in a
    // shared AtomicLong — both only reach the write tasks because local
    // mode runs them in THIS JVM. On a cluster master the seam would
    // silently disarm and every scenario would pass vacuously; fail loudly
    // instead if the master line above ever changes. (r13 ADVICE)
    require(spark.sparkContext.isLocal,
      s"ChaosRetry requires a local master (got ${spark.sparkContext.master}): " +
        "the chaos seam and its injected-counter live in the driver JVM")
    try {
      archiveScenario(spark)
      mergeScenario(spark, dimDir)
      streamScenario(spark)
    } finally spark.stop()
  }

  private def armed[T](threshold: Long)(body: => T): (T, Long) = {
    WriteChaos.injected.set(0)
    sys.props(WriteChaos.Prop) = threshold.toString
    try { val r = body; (r, WriteChaos.injected.get) }
    finally sys.props -= WriteChaos.Prop
  }

  private def archiveScenario(spark: SparkSession): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = Engine.tempDir("chaos_archive")
    val n = 200L
    val df = spark.range(n)
      .select(concat(lit("k"), $"id").as("key"),
        concat(lit("payload-"), $"id").as("payload"))
      .repartition(4)
    val (_, injected) = armed(5) {
      df.write.format(classOf[graft.sources.KbArchiveSink].getName)
        .option("path", out).mode("append").save()
    }
    require(injected == 4,
      s"archive: expected all 4 first attempts to die, injected=$injected")

    val manifest = KbArchive.readManifest(out)
    require(manifest.map(_.rows).sum == n,
      s"archive: manifest rows ${manifest.map(_.rows).sum} != $n")
    val fs = Commit.fs(out)
    manifest.foreach { e =>
      val p = new Path(out, e.name)
      require(fs.exists(p), s"archive: manifest lists missing file ${e.name}")
      require(fs.getFileStatus(p).getLen == e.bytes,
        s"archive: ${e.name} size ${fs.getFileStatus(p).getLen} != manifest ${e.bytes}")
      val stored = Commit.md5Of(fs, p)
      require(stored == e.md5, s"archive: ${e.name} md5 $stored != manifest ${e.md5}")
    }
    // the dead attempts' partial files must not leak into the target:
    // readers see exactly the committed files, staging is gone
    require(visible(out) == manifest.map(_.name).toSet,
      s"archive: dir holds ${visible(out)} vs manifest ${manifest.map(_.name).toSet}")
    require(stagingLeft(out).isEmpty, s"archive: staging left ${stagingLeft(out)}")
    val got = spark.read.text(out).as[String]
      .map(_.split("\t", 2)(0)).collect().toSet
    require(got == (0L until n).map(i => s"k$i").toSet,
      s"archive: read-back key set wrong (${got.size} keys)")
    println(s"""{"scenario":"archive","injected":$injected,"rows":$n,""" +
      s""""files":${manifest.size},"ok":true}""")
  }

  private def streamScenario(spark: SparkSession): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two single-file micro-batches (maxFilesPerTrigger=1); 40 rows each
    val src = Streams.stage(spark, "chaos_stream_src", "")((0 until 2).map { b =>
      spark.range(b * 40L, b * 40L + 40L)
        .select(concat(lit("k"), $"id").as("key"),
          concat(lit("p"), $"id").as("payload"))
        .coalesce(1)
    })
    val out = Engine.tempDir("chaos_stream_archive")
    val (_, injected) = armed(3) {
      val rows = Streams.eventsStream(spark, src, Engine.parquet(spark, src).schema, 1)
      Streams.runToArchive(rows, "chaos_stream", out)
    }
    require(injected >= 2,
      s"stream: expected a first-attempt death in each epoch, injected=$injected")

    val manifest = KbArchive.readManifest(out)
    require(manifest.map(_.rows).sum == 80L,
      s"stream: manifest rows ${manifest.map(_.rows).sum} != 80")
    val fs = Commit.fs(out)
    manifest.foreach { e =>
      val p = new Path(out, e.name)
      require(fs.exists(p), s"stream: manifest lists missing file ${e.name}")
      require(Commit.md5Of(fs, p) == e.md5, s"stream: md5 mismatch on ${e.name}")
    }
    require(visible(out) == manifest.map(_.name).toSet,
      s"stream: dir holds ${visible(out)} vs manifest ${manifest.map(_.name).toSet}")
    require(stagingLeft(out).isEmpty, s"stream: staging left ${stagingLeft(out)}")
    // exactly one epoch marker per committed micro-batch — the dead
    // attempts published nothing, the replays nothing twice
    val markers = fs.listStatus(new Path(out, "_epochs"))
      .flatMap(q => fs.listStatus(q.getPath)).map(_.getPath.getName).toSeq
    require(markers.sorted == Seq("0", "1"),
      s"stream: epoch markers $markers != [0, 1]")
    val got = spark.read.text(out).as[String]
      .map(_.split("\t", 2)(0)).collect().toSet
    require(got == (0L until 80L).map(i => s"k$i").toSet,
      s"stream: read-back key set wrong (${got.size} keys)")
    println(s"""{"scenario":"stream","injected":$injected,"rows":80,""" +
      s""""epochs":${markers.size},"ok":true}""")
  }

  private def mergeScenario(spark: SparkSession, dimDir: String): Unit = {
    // seed 0..99: v = 2k (clean write → version 1)
    spark.sql(
      """INSERT OVERWRITE kb.dim
        |SELECT id AS k, id * 2 AS v, 'seed' AS tag FROM range(0, 100)""".stripMargin)
    val seedVersion = KbDim.latestVersion(dimDir)
    require(seedVersion == 1L, s"merge: seed version $seedVersion != 1")

    // source 50..149 — half update, half insert; 0..49 not-matched-by-source
    val (_, injected) = armed(3) {
      spark.sql(
        """MERGE INTO kb.dim t
          |USING (SELECT id + 50 AS k, id AS v, 'm' AS tag FROM range(0, 100)) s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = t.v + s.v, tag = 'merged'
          |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.v, s.tag)
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    require(injected >= 1, "merge: chaos never fired inside the ReplaceData write")

    val got = spark.sql("SELECT k, v, tag FROM kb.dim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want =
      (50L until 100L).map(k => (k, 2 * k + (k - 50), "merged")).toSet ++
        (100L until 150L).map(k => (k, k - 50, "m")).toSet
    require(got == want, s"merge: state diverged, e.g. ${(got -- want).take(3)} / ${(want -- got).take(3)}")

    // exactly ONE version committed by the MERGE — dead attempts burn none
    val v = KbDim.latestVersion(dimDir)
    require(v == seedVersion + 1, s"merge: version $v != ${seedVersion + 1}")
    val before = spark.sql(s"SELECT k, v, tag FROM kb.dim VERSION AS OF $seedVersion")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    require(before == (0L until 100L).map(k => (k, 2 * k, "seed")).toSet,
      "merge: time travel to the seed snapshot no longer reads the old state")
    KbDim.manifest(dimDir).foreach { f =>
      require(Commit.fs(dimDir).exists(new Path(dimDir, f)),
        s"merge: live manifest lists missing file $f")
    }
    require(stagingLeft(dimDir).isEmpty, s"merge: staging left ${stagingLeft(dimDir)}")
    println(s"""{"scenario":"merge","injected":$injected,"version":$v,""" +
      s""""rows":${got.size},"ok":true}""")
  }
}
