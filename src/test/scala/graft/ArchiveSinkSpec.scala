package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sinks.Commit
import graft.sources.{KbArchive, KbArchiveBatchWrite}

class ArchiveSinkSpec extends SparkSpec {
  import spark.implicits._

  private def writeArchive(rows: Seq[(String, String)], path: String, mode: String): Unit =
    rows.toDF("key", "payload")
      .write.format(classOf[graft.sources.KbArchiveSink].getName)
      .option("path", path).mode(mode).save()

  test("manifest renders and parses round-trip, sorted by file name") {
    val entries = Seq(
      KbArchive.Entry("part-00001-7.kbar", "0" * 32, 3L, 42L),
      KbArchive.Entry("part-00000-3.kbar", "ab" * 16, 1L, 7L))
    val parsed = KbArchive.parseManifest(KbArchive.renderManifest(entries))
    assert(parsed == entries.sortBy(_.name))
  }

  test("archive write publishes a manifest whose md5s match the stored files") {
    val dir = tempDir("arch")
    writeArchive(Seq("a" -> "1,x", "b" -> "2,y", "c" -> "3,z"), dir, "append")
    val manifest = KbArchive.readManifest(dir)
    assert(manifest.nonEmpty && manifest.map(_.rows).sum == 3)
    val fs = Commit.fs(dir)
    manifest.foreach { e =>
      val stored = Commit.md5Of(fs, new org.apache.hadoop.fs.Path(dir, e.name))
      assert(stored == e.md5, s"${e.name}: manifest ${e.md5}, stored $stored")
    }
    // appends merge; overwrite (V2 truncate) replaces
    writeArchive(Seq("d" -> "4,w"), dir, "append")
    assert(KbArchive.readManifest(dir).map(_.rows).sum == 4)
    writeArchive(Seq("e" -> "5,v"), dir, "overwrite")
    val after = KbArchive.readManifest(dir)
    assert(after.map(_.rows).sum == 1)
    // truncate really deleted the replaced data files, not just the manifest
    assert(spark.read.text(dir).count() == 1)
  }

  test("commit verifies staged md5s and refuses to publish a corrupt file") {
    val dir = tempDir("arch_bad")
    val queryId = "q-corrupt"
    val staged = Paths.get(dir, s"_staging-$queryId", "part-00000-1.kbar")
    Files.createDirectories(staged.getParent)
    Files.write(staged, "k\tv\n".getBytes(StandardCharsets.UTF_8))
    val lying = Commit.Staged("part-00000-1.kbar", "f" * 32, 1L, 4L)
    val ex = intercept[java.io.IOException] {
      new KbArchiveBatchWrite(dir, queryId, truncate = false)
        .commit(Array(lying))
    }
    assert(ex.getMessage.contains("verify failed"))
    // nothing was renamed into the target and no manifest was published
    assert(KbArchive.readManifest(dir).isEmpty)
    assert(!Files.exists(Paths.get(dir, "part-00000-1.kbar")))
  }

  /** Every file directly under `dir`, hidden ones too, with its bytes. */
  private def contents(dir: String): Map[String, Seq[Byte]] =
    Files.list(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

  /** `content` staged as `name` for query `qid`, with its honest message. */
  private def staged(dir: String, qid: String, name: String, content: String): Commit.Staged = {
    val bytes = content.getBytes(StandardCharsets.UTF_8)
    val p = Paths.get(dir, s"_staging-$qid", name)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString
    Commit.Staged(name, md5, content.linesIterator.size.toLong, bytes.length.toLong)
  }

  test("a move whose source is missing throws and leaves the archive byte-identical") {
    val dir = tempDir("arch_move")
    writeArchive(Seq("a" -> "1,x", "b" -> "2,y"), dir, "append")
    val before = contents(dir)
    val from = new org.apache.hadoop.fs.Path(dir, "_staging-gone/part-x.kbar")
    val to = new org.apache.hadoop.fs.Path(dir, "part-x.kbar")
    val ex = intercept[java.io.IOException](Commit.move(Commit.fs(dir), from, to))
    assert(ex.getMessage.contains(from.toString) && ex.getMessage.contains(to.toString))
    assert(contents(dir) == before)
    // through the commit: two admitted messages name one staged file, so
    // both verify, the first move takes it and the second finds no source
    val m = staged(dir, "q-move", "part-dup.kbar", "c\t3\n")
    val failed = intercept[java.io.IOException] {
      new KbArchiveBatchWrite(dir, "q-move", truncate = false).commit(Array(m, m))
    }
    assert(failed.getMessage.contains("could not move"))
    assert(contents(dir) == before)
    assert(spark.read.text(dir).count() == 2)
  }

  test("a truncate commit that fails after verification leaves the old manifest and its files") {
    val dir = tempDir("arch_trunc")
    writeArchive(Seq("a" -> "1,x", "b" -> "2,y"), dir, "append")
    val manifest = KbArchive.readManifest(dir)
    val m = staged(dir, "q-trunc", "part-new.kbar", "z\t9\n")
    intercept[java.io.IOException] {
      new KbArchiveBatchWrite(dir, "q-trunc", truncate = true).commit(Array(m, m))
    }
    assert(KbArchive.readManifest(dir) == manifest)
    val fs = Commit.fs(dir)
    manifest.foreach { e =>
      assert(Commit.md5Of(fs, new org.apache.hadoop.fs.Path(dir, e.name)) == e.md5, e.name)
    }
    assert(spark.read.text(dir).count() == 2)
  }

  test("streaming commit is epoch-fenced: a replayed epoch publishes nothing twice") {
    val dir = tempDir("arch_epoch")
    val qid = "q-replay"
    val sw = new graft.sources.KbArchiveStreamingWrite(dir, qid)
    def stage(epoch: Long, content: String): Commit.Staged = {
      val name = s"part-$epoch-00000-1.kbar"
      val p = Paths.get(dir, s"_staging-$qid", s"epoch-$epoch", name)
      Files.createDirectories(p.getParent)
      val bytes = content.getBytes(StandardCharsets.UTF_8)
      Files.write(p, bytes)
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
      Commit.Staged(name, md5, content.linesIterator.size.toLong, bytes.length.toLong)
    }
    sw.commit(0L, Array(stage(0L, "a\t1\n")))
    sw.commit(1L, Array(stage(1L, "b\t2\nc\t3\n")))
    assert(KbArchive.readManifest(dir).map(_.rows).sum == 3)
    // epoch 1 replayed after a crash-before-checkpoint: same epoch id,
    // freshly re-staged files — must be discarded, not re-published
    sw.commit(1L, Array(stage(1L, "b\t2\nc\t3\n")))
    assert(KbArchive.readManifest(dir).map(_.rows).sum == 3)
    assert(spark.read.text(dir).count() == 3)
    // and the duplicate staging is cleaned up
    assert(!Files.exists(Paths.get(dir, s"_staging-$qid", "epoch-1")))
  }

  test("abort removes staged files and leaves the committed archive untouched") {
    val dir = tempDir("arch_abort")
    writeArchive(Seq("a" -> "1,x"), dir, "append")
    val before = KbArchive.readManifest(dir)
    // an in-flight write that fails: staged file exists, then the driver aborts
    val qid = "q-abort"
    val staged = Paths.get(dir, s"_staging-$qid", "part-x.kbar")
    Files.createDirectories(staged.getParent)
    Files.write(staged, "z\t9\n".getBytes(StandardCharsets.UTF_8))
    new KbArchiveBatchWrite(dir, qid, truncate = false).abort(Array.empty)
    assert(!Files.exists(Paths.get(dir, s"_staging-$qid")))
    assert(KbArchive.readManifest(dir) == before)
    assert(spark.read.text(dir).count() == 1)
  }

  test("empty partitions leave no files behind") {
    val dir = tempDir("arch_empty")
    // 4-thread session + 1 row => at least 3 empty writers
    spark.range(1).select(lit("only").as("key"), lit("row").as("payload"))
      .repartition(4)
      .write.format(classOf[graft.sources.KbArchiveSink].getName)
      .option("path", dir).mode("append").save()
    val manifest = KbArchive.readManifest(dir)
    assert(manifest.size == 1 && manifest.head.rows == 1)
    assert(spark.read.text(dir).count() == 1)
    assert(!Files.list(Paths.get(dir)).iterator().asScala.exists(
      _.getFileName.toString.startsWith("_staging")))
  }

  private implicit class IterAsScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }

  test("task-retry chaos: every first write attempt dies mid-stream, archive invariants hold") {
    // real Spark job on a retry-enabled local[4, 2] scheduler (subprocess,
    // see ChaosRetryRunner): all 4 write tasks' first attempts throw after
    // 5 rows are already staged. The runner JVM asserts the protocol
    // invariants (manifest rows/bytes/md5 == stored files, readers see
    // exactly the input, no staging leak, no orphan first-attempt files)
    // and exits nonzero on any violation; here we assert it ran, and that
    // the chaos actually fired on every partition — a retry test that
    // never injected proves nothing.
    assert(ChaosRetryRunner.stat("archive", "injected") == 4L)
    assert(ChaosRetryRunner.stat("archive", "rows") == 200L)
    assert(ChaosRetryRunner.stat("archive", "files") == 4L)
  }

  test("speculation chaos: two live attempts of one partition race to commit, exactly one wins") {
    // the r14 scenario (subprocess graft.ChaosSpeculation): a real
    // two-host standalone cluster — the only single-machine topology
    // where speculation can launch at all (local masters never start the
    // speculation thread; the scheduler refuses a copy on a live
    // attempt's host) — slows partition 0's first attempt mid-write
    // while a speculative copy races it through the commit coordinator.
    // The runner asserts single-commit-per-partition, exact manifest/md5
    // accounting, no trace of the losing attempt anywhere; here we
    // assert the race REALLY happened.
    assert(ChaosRetryRunner.stat("speculation", "speculative") >= 1L)
    assert(ChaosRetryRunner.stat("speculation", "raced_partitions") >= 1L)
    assert(ChaosRetryRunner.stat("speculation", "rows") == 200L)
    assert(ChaosRetryRunner.stat("speculation", "files") == 4L)
  }

  test("task-retry chaos: epoch-fenced streaming commits survive a task death per micro-batch") {
    // same runner, scenario `stream`: a two-batch AvailableNow stream into
    // the archive where each epoch's write task dies on first attempt —
    // the runner asserts one epoch marker per batch, exact manifest/md5
    // accounting, no staging or dead-attempt files, read-back == input
    assert(ChaosRetryRunner.stat("stream", "injected") >= 2L)
    assert(ChaosRetryRunner.stat("stream", "rows") == 80L)
    assert(ChaosRetryRunner.stat("stream", "epochs") == 2L)
  }

  test("S27: staged parquet carries a real user_id bloom filter, probe-true for present keys") {
    import scala.jdk.CollectionConverters._
    val dir = graft.queries.Sources.stageBloomEvents(spark, sfDir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val block = reader.getFooter.getBlocks.get(0)
      val byCol = block.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
      assert(byCol("user_id").getBloomFilterOffset >= 0,
        "user_id chunk must record a bloom filter offset")
      assert(byCol("event_id").getBloomFilterOffset < 0,
        "unconfigured columns must not pay for bloom filters")
      val bf = reader.getBloomFilterDataReader(block)
        .readBloomFilter(byCol("user_id"))
      assert(bf != null, "bloom filter bytes must be readable")
      // no false negatives: every key actually in this file must probe true
      val present = spark.read.parquet(file.getAbsolutePath)
        .select($"user_id").distinct().as[Long].collect()
      present.foreach { u =>
        assert(bf.findHash(bf.hash(u)), s"present key $u probed false")
      }
    } finally reader.close()
  }
}
