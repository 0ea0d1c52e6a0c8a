package graft

import graft.sinks.IncrementalWriter
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `Engine.parquet` reads the schema Spark would infer, from one footer on
  * the Spark driver, without scheduling a Spark job. */
class ParquetSchemaSpec extends SparkSpec with EventsTsEncodings {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Jobs started while `body` runs. A sentinel job afterwards flushes the
    * listener bus: events arrive in order, so once the sentinel is seen
    * every job `body` started has been counted. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // the queue holds no nulls: a job without the sentinel property is "job"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("graft.sentinel")))
          .getOrElse("job"))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.sentinel", null)
      val deadline = System.nanoTime() + 10000000000L
      while (!started.contains("1") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains("1"), "listener bus did not deliver the sentinel job")
      (out, started.toArray.count(_ == "job"))
    } finally sc.removeSparkListener(listener)
  }

  private def assertSameAsSpark(path: String): Unit = {
    val (df, jobs) = jobsDuring(Engine.parquet(spark, path))
    assert(jobs == 0, s"$path: Engine.parquet scheduled $jobs job(s)")
    assert(df.schema == spark.read.parquet(path).schema, path)
  }

  test("every fixture table at every scale: Spark's schema, no job") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- tables)
      assertSameAsSpark(s"${new java.io.File(sfDir).getParent}/$sf/$t.parquet")
  }

  test("every events.ts encoding: Spark's schema, no job") {
    for (d <- Seq(ntzDir, ltzDir, nanosDir)) assertSameAsSpark(s"$d/events.parquet")
    // the events as the file streams read them, re-encoded by Streams.stage
    assertSameAsSpark(graft.streaming.Streams.stageEvents(spark, sfDir))
  }

  test("an IncrementalWriter sink and its key index: Spark's schema, no job") {
    import spark.implicits._
    val dir = tempDir("fixture_sink")
    val w = new IncrementalWriter(spark, s"$dir/files", Seq("k"), keyIndex = true)
    assert(w.append((1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")) == 20)
    assert(w.append((11 to 30).map(i => (i.toLong, s"w$i")).toDF("k", "v")) == 10)
    assertSameAsSpark(s"$dir/files")
    assertSameAsSpark(s"$dir/files.keys")
  }

  test("partitioned directories: Spark's schema and partition types, no job") {
    import spark.implicits._
    val rows = (1 to 12)
      .map(i => (i.toLong, s"v$i", java.sql.Date.valueOf(s"2024-01-0${i % 3 + 1}")))
      .toDF("k", "v", "day")
    // int batch ids, each batch written into its own directory (st16's sinks)
    val batches = tempDir("fixture_batch")
    for (b <- 0 until 2)
      rows.filter($"k" % 2 === b).drop("day").write.parquet(s"$batches/batch_id=$b")
    val days = tempDir("fixture_days")
    rows.write.mode("overwrite").partitionBy("day").parquet(days)
    val strings = tempDir("fixture_strings")
    rows.write.mode("overwrite").partitionBy("v").parquet(strings)
    // a writer's leftovers sort before the data and hold another schema;
    // a reader must skip both directories
    val debris = tempDir("fixture_debris")
    rows.drop("day").write.parquet(s"$debris/b=1")
    for (hiddenDir <- Seq("_temporary/0", ".staging"))
      Seq(("x", 1.5)).toDF("other", "cols").write.parquet(s"$debris/$hiddenDir")
    for (p <- Seq(batches, days, strings, debris)) assertSameAsSpark(p)
    assert(Engine.parquet(spark, days).schema("day").dataType ==
      org.apache.spark.sql.types.DateType)
    assert(Engine.parquet(spark, debris).schema.fieldNames.toSeq == Seq("k", "v", "b"))
    // a data column named like its partition directory keeps Spark's
    // position and partition type
    val overlap = tempDir("fixture_overlap")
    rows.drop("day").write.parquet(s"$overlap/k=0")
    assert(Engine.parquet(spark, overlap).schema == spark.read.parquet(overlap).schema)
  }

  test("an empty directory still fails with Spark's own error") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Engine.parquet(spark, tempDir("fixture_empty")))
    assert(e.getMessage.contains("Unable to infer schema"), e.getMessage)
  }
}
