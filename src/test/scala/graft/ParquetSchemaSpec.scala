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
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).map(_.getProperty("graft.sentinel")).orNull)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.sentinel", null)
      val deadline = System.nanoTime() + 10000000000L
      while (!started.contains("1") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains("1"), "listener bus did not deliver the sentinel job")
      (out, started.toArray.count(_ == null))
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
  }

  test("an IncrementalWriter sink and its key index: Spark's schema, no job") {
    import spark.implicits._
    val dir = writeDir("sink")
    val w = new IncrementalWriter(spark, s"$dir/files", Seq("k"), keyIndex = true)
    assert(w.append((1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")) == 20)
    assert(w.append((11 to 30).map(i => (i.toLong, s"w$i")).toDF("k", "v")) == 10)
    assertSameAsSpark(s"$dir/files")
    assertSameAsSpark(s"$dir/files.keys")
  }

  test("an empty directory still fails with Spark's own error") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Engine.parquet(spark, writeDir("empty")))
    assert(e.getMessage.contains("Unable to infer schema"), e.getMessage)
  }
}
