package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Engine
import graft.queries.{Extraction, Llm, Nested}
import graft.sinks.{IncrementalWriter, VerifiedWriter}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Operations attempted and failed, each failure with its message. */
final class Ops {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[Map[String, String]]

  /** Runs one operation; returns its wall seconds, or None when it threw
    * or its own check failed (a failure is never reported as a time). */
  def timed(op: String)(body: => Option[String]): Option[Double] = {
    attempted += 1
    val t0 = Clock.ms
    val problem =
      try body
      catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val s = (Clock.ms - t0) / 1000.0
    problem match {
      case None => Some(s)
      case Some(msg) =>
        failures += Map("op" -> op, "message" -> msg.take(2000))
        None
    }
  }
}

/** Runs the workloads named in a JSON config inside one JVM and writes a
  * raw record (samples, spans, listener totals, failures) for run.py to
  * reduce. Usage: `perfbench.Main <config.json>`. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val cfg = json.readTree(new File(args(0)))
    val out = cfg.get("out").asText()
    val traced = cfg.get("trace").asInt() == 1
    val cpus = cfg.get("cpus").asInt()
    val workloads = cfg.get("workloads").elements().asScala.toSeq
    Trace.on = traced

    // Set-up, timed once as a user pays it, in a fresh JVM: session start
    // through Engine.session plus each workload's one-time staging.
    val setupStart = Clock.ms
    val spark = Trace.span("engine.session", "setup")(Engine.session(cpus.toString))
    val sessionS = (Clock.ms - setupStart) / 1000.0
    val stagingS = mutable.Map.empty[String, Double]
    val staged = workloads.map { w =>
      val name = w.get("name").asText()
      val t1 = Clock.ms
      val s = Trace.span(s"bench.staging", "setup")(stage(spark, name, w.get("manifest")))
      stagingS(name) = (Clock.ms - t1) / 1000.0
      name -> s
    }.toMap

    val results = mutable.LinkedHashMap.empty[String, Any]
    for (w <- workloads) {
      val name = w.get("name").asText()
      val dir = s"$out/$name"
      Files.createDirectories(Paths.get(dir))
      val listeners = new Listeners(spark, traced)
      val ops = new Ops
      val t0 = Clock.ms
      val body = Trace.span(s"workload.$name", name) {
        name match {
          case "etl_daily" => etl(spark, w.get("manifest"), dir, ops, listeners)
          case "curate_corpus" =>
            curate(spark, w.get("manifest"), dir, ops, listeners, w.get("passes").asInt())
          case "stream_ingest" =>
            stream(spark, w.get("manifest"), dir, ops, listeners,
              staged(name).asInstanceOf[org.apache.spark.sql.types.StructType])
        }
      }
      val wall = (Clock.ms - t0) / 1000.0
      results(name) = body ++ listeners.snapshot ++ Map(
        "wall_s" -> wall,
        "attempted" -> ops.attempted,
        "failures" -> ops.failures.toSeq,
        "staging_s" -> stagingS(name))
      listeners.remove()
    }

    val record = Map(
      "workloads" -> results,
      "session_s" -> sessionS,
      "nproc" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> Trace.all)
    json.writeValue(new File(s"$out/record.json"), record)
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Each workload's one-time staging against a fresh session. */
  private def stage(spark: SparkSession, name: String, m: JsonNode): Any = name match {
    case "etl_daily" => Engine.documents(spark, m.get("days").get(0).asText()).schema
    case "curate_corpus" => Engine.documents(spark, m.get("corpus").asText()).schema
    case "stream_ingest" => Streams.eventsSchema(spark, m.get("schema_dir").asText())
  }

  private def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  /** Materializes `df` without writing it (the `noop` sink); returns rows. */
  private def materialize(df: DataFrame): Long = {
    val obs = new Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode(SaveMode.Overwrite).save()
    obs.get("n").asInstanceOf[Long]
  }

  // ---------------------------------------------------------------- etl_daily

  /** The reference lifecycle, one day at a time into one growing sink,
    * then an idempotent replay of every day. */
  private def etl(spark: SparkSession, m: JsonNode, dir: String, ops: Ops,
      listeners: Listeners): Map[String, Any] = {
    import spark.implicits._
    val days = strs(m.get("days"))
    val warm = m.get("warmup_days").asInt()
    val writer = new IncrementalWriter(spark, s"$dir/files", Seq("doc_id", "page_file"))
    val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val offered = mutable.Map.empty[Int, Long]

    def pagesOf(day: String): DataFrame = {
      val issues = Extraction.p1RegexFallback(spark, day)
        .join(Extraction.p2DateFallback(spark, day), "doc_id")
        .filter($"manifest_id".isNotNull)
      issues.join(Nested.g1ManifestExplode(spark, day), "doc_id")
        .join(spark.read.parquet(s"$day/payloads.parquet"), "doc_id")
    }

    def runDay(i: Int, day: String): Option[String] = {
      val g = s"day$i"
      val pages = pagesOf(day)
      if (Trace.on) {
        counters("extraction.rows_out") += Trace.span("extraction", g)(materialize(
          Extraction.p1RegexFallback(spark, day)
            .join(Extraction.p2DateFallback(spark, day), "doc_id")
            .filter($"manifest_id".isNotNull)))
        counters("nested.pages_out") +=
          Trace.span("nested", g)(materialize(Nested.g1ManifestExplode(spark, day)))
      }
      val n = Trace.span("sinks.append", g)(writer.append(pages))
      val layout = s"$dir/layout/day=$i"
      Trace.span("sinks.layout", g)(
        pages.write.partitionBy("pub_date").mode(SaveMode.ErrorIfExists).parquet(layout))
      val complete = Trace.span("sinks.complete", g) {
        spark.read.parquet(layout).groupBy($"doc_id").agg(count(lit(1)).as("n_pages"))
          .join(pages.groupBy($"doc_id").agg(count(lit(1)).as("n_expected")),
            Seq("doc_id"), "full_outer")
          .agg(bool_and(coalesce($"n_pages" === $"n_expected", lit(false))))
          .head().getAs[Any](0) == true
      }
      val (nW, nOk, nBad) = Trace.span("sinks.verify", g)(VerifiedWriter.writeVerified(
        spark, pages.withColumn("asset_key", concat_ws("/", $"doc_id", $"page_file")),
        s"$dir/verified/day=$i", "asset_key", "payload"))
      counters("sinks.appended_rows") += n
      counters("sinks.offered_rows") += nW
      offered(i) = nW
      counters("sinks.verify_bad") += nBad
      if (n <= 0) Some(s"day $i appended $n rows")
      else if (!complete) Some(s"day $i incomplete: an issue is missing pages")
      else if (nW != n || nOk != nW || nBad != 0)
        Some(s"day $i verify: written $nW, ok $nOk, bad $nBad, appended $n")
      else None
    }

    def replay(i: Int, day: String): Option[String] = {
      val g = s"replay$i"
      val pages = pagesOf(day)
      val n = Trace.span("sinks.replay", g)(writer.append(pages))
      // a replay offers the same pages its day's verified write counted
      counters("sinks.offered_rows") += offered.getOrElse(i, 0L)
      if (n != 0) Some(s"replay of day $i appended $n rows") else None
    }

    Trace.span("bench.warmup", "warmup") {
      days.take(warm).zipWithIndex.foreach { case (d, i) =>
        ops.timed(s"warm-up day $i")(runDay(i, d))
        ops.timed(s"warm-up replay $i")(replay(i, d))
      }
    }
    counters.clear()
    listeners.measure()
    val daySamples = days.zipWithIndex.drop(warm).flatMap { case (d, i) =>
      ops.timed(s"day $i")(Trace.span("bench.day", s"day$i")(runDay(i, d)))
    }
    val replaySamples = days.zipWithIndex.drop(warm).flatMap { case (d, i) =>
      ops.timed(s"replay $i")(Trace.span("bench.replay", s"replay$i")(replay(i, d)))
    }
    if (Trace.on) counters("sinks.sink_rows") = spark.read.parquet(s"$dir/files").count().toDouble
    Map("day_s" -> daySamples, "replay_s" -> replaySamples, "counters" -> counters.toMap,
      "oracle" -> Map("p1" -> Extraction.oracle("p1_regex_fallback"),
        "p2" -> Extraction.oracle("p2_date_fallback"),
        "g1" -> Nested.oracle("g1_manifest_explode")),
      "sink" -> s"$dir/files", "sink_dirs" -> Seq("files", "layout", "verified").map(d => s"$dir/$d"))
  }

  // ------------------------------------------------------------ curate_corpus

  /** The curation chain's steps: registry key, function, and how its output
    * turns the step's input corpus into the next step's input. */
  private val steps: Seq[(String, String, (SparkSession, String) => DataFrame,
      (DataFrame, DataFrame) => DataFrame)] = Seq(
    ("normalize", "l34_unicode_normalize", Llm.l34UnicodeNormalize,
      (docs, o) => docs.join(o.select(col("doc_id"), col("clean")), "doc_id")
        .select(col("doc_id"), col("clean").as("text"), col("lang"), col("source"), col("n_chars"))),
    ("quality", "l6_quality_filter", Llm.l6QualityFilter,
      (docs, o) => docs.join(o.select("doc_id"), Seq("doc_id"), "left_semi")),
    ("exact_dedup", "l1_exact_dedup", Llm.l1ExactDedup,
      (docs, o) => docs.join(o.select(col("keeper").as("doc_id")), Seq("doc_id"), "left_semi")),
    ("near_dedup", "l2c_minhash_native", Llm.l2cMinhashNative,
      (docs, o) => docs.join(o.filter(col("a_id") < 1000000 && col("b_id") < 1000000)
        .select(col("b_id").as("doc_id")), Seq("doc_id"), "left_anti")),
    ("sample", "l19_stratified_sample", Llm.l19StratifiedSample,
      (docs, o) => docs.join(o.select("doc_id"), Seq("doc_id"), "left_semi")),
    ("pack", "l32_sequence_packing", Llm.l32SequencePacking, (docs, _) => docs))

  /** The curation chain, `passes` times over the same corpus, each step on
    * the previous step's materialized output. */
  private def curate(spark: SparkSession, m: JsonNode, dir: String, ops: Ops,
      listeners: Listeners, passes: Int): Map[String, Any] = {
    val corpus = m.get("corpus").asText()
    val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val layout = mutable.ArrayBuffer.empty[Seq[Map[String, String]]]

    def pass(k: Int, source: String): Option[String] = {
      val g = s"pass$k"
      var input = source
      val record = mutable.ArrayBuffer.empty[Map[String, String]]
      for (((name, key, fn, next), i) <- steps.zipWithIndex) {
        val stepOut = s"$dir/pass$k/$i-$name"
        if (Trace.on && name == "normalize")
          Trace.span("functions.unaccent", g)(materialize(Engine.documents(spark, input)
            .select(graft.functions.UnaccentExpr.unaccentNative(spark,
              translate(col("text"), "aeiou", "áéíóú")))))
        if (Trace.on && name == "near_dedup")
          Trace.span("functions.minhash", g)(materialize(Engine.documents(spark, input)
            .select(graft.functions.MinhashSigExpr.minhashSigNative(spark, col("text")))))
        val obs = new Observation()
        Trace.span(s"llm.$name", g)(fn(spark, input).observe(obs, count(lit(1)).as("n"))
          .write.parquet(stepOut))
        if (k > 0) counters(s"llm.$name.rows_out") += obs.get("n").asInstanceOf[Long]
        record += Map("step" -> name, "key" -> key, "input" -> input, "output" -> stepOut)
        if (i < steps.size - 1) {
          val nextDir = s"$dir/pass$k/docs$i"
          val bobs = new Observation()
          // one file per core, as the generated corpus has, so the next
          // step's scan is not a single task
          Trace.span("bench.bridge", g)(next(Engine.documents(spark, input),
            spark.read.parquet(stepOut)).observe(bobs, count(lit(1)).as("n"))
            .repartition(spark.sparkContext.defaultParallelism)
            .write.parquet(s"$nextDir/documents.parquet"))
          if (k > 0) counters(s"llm.${steps(i + 1)._1}.rows_in") += bobs.get("n").asInstanceOf[Long]
          input = nextDir
        }
      }
      layout += record.toSeq
      None
    }

    Trace.span("bench.warmup", "warmup")(ops.timed("warm-up pass")(pass(0, m.get("warmup").asText())))
    // every measured pass starts from the same corpus: count what l34 reads
    val corpusRows = Engine.documents(spark, corpus).count()
    listeners.measure()
    counters("llm.normalize.rows_in") = passes.toDouble * corpusRows
    val samples = (1 to passes).flatMap { k =>
      ops.timed(s"pass $k")(Trace.span("bench.pass", s"pass$k")(pass(k, corpus)))
    }
    Map("pass_s" -> samples, "counters" -> counters.toMap, "passes" -> layout.toSeq,
      "oracle" -> steps.map(s => s._2 -> Llm.oracle(s._2)).toMap)
  }

  // ------------------------------------------------------------ stream_ingest

  /** Open-loop file-drop stream: for each rate, files move from a pending
    * directory into the watched one by atomic rename at their due times,
    * whether or not the stream keeps up. */
  private def stream(spark: SparkSession, m: JsonNode, dir: String, ops: Ops,
      listeners: Listeners, schema: org.apache.spark.sql.types.StructType): Map[String, Any] = {
    val p = m.get("params")
    val perFile = p.get("events_per_file").asInt()
    val maxFiles = p.get("max_files_per_trigger").asInt()
    val watermark = p.get("watermark_s").asInt()
    val phases = m.get("phases").elements().asScala.toSeq

    def listFiles(d: String): Seq[File] =
      Option(new File(d).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

    def run(name: String, src: String, limit: Int, rate: Double): Map[String, Any] = {
      val base = s"$dir/$name"
      val pending = Paths.get(s"$base/pending")
      val watch = Paths.get(s"$base/watch")
      Files.createDirectories(pending)
      Files.createDirectories(watch)
      val files = listFiles(src).take(limit)
      // the file source admits new files oldest-modified first: give the
      // copies distinct, increasing modification times in drop order
      val mtime0 = System.currentTimeMillis() - 60000L
      files.zipWithIndex.foreach { case (f, i) =>
        val dst = pending.resolve(f.getName)
        Files.copy(f.toPath, dst)
        Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime0 + 10L * i))
      }
      val writer = new IncrementalWriter(spark, s"$base/sink", Seq("event_id"))
      val totalRows = files.size.toLong * perFile
      listeners.batches.reset()
      val drops = mutable.ArrayBuffer.empty[Map[String, Any]]
      val appended = new java.util.concurrent.atomic.AtomicLong(0L)
      Trace.span("stream.phase", name) {
        val phaseSpan = Trace.current
        val q = Streams.eventsStream(spark, watch.toString, schema, maxFiles)
          .withWatermark("ts", s"$watermark seconds")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream
          .option("checkpointLocation", s"$base/checkpoint")
          .foreachBatch { (batch: DataFrame, id: Long) =>
            appended.addAndGet(Trace.under(phaseSpan)(Trace.span("sinks.append",
              s"$name.batch$id")(writer.append(batch)))): Unit
          }
          .start()
        try {
          val t0 = Clock.ms + 500.0
          files.zipWithIndex.foreach { case (f, i) =>
            val due = t0 + i * 1000.0 / rate
            val wait = due - Clock.ms
            if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
            Files.move(pending.resolve(f.getName), watch.resolve(f.getName),
              StandardCopyOption.ATOMIC_MOVE)
            drops += Map("file" -> f.getName, "due_ms" -> due, "drop_ms" -> Clock.ms)
          }
          val deadline = Clock.ms + 90000.0
          while (listeners.batches.rowsSeen < totalRows && Clock.ms < deadline &&
            q.exception.isEmpty) Thread.sleep(5)
          q.processAllAvailable()
        } finally q.stop()
        q.exception.foreach(e => throw e)
      }
      Map("name" -> name, "rate_files_per_s" -> rate, "files" -> drops.toSeq,
        "batches" -> listeners.batches.batches.asScala.toSeq,
        "rows_seen" -> listeners.batches.rowsSeen, "rows_expected" -> totalRows,
        "appended" -> appended.get(),
        "checkpoint" -> s"$base/checkpoint", "sink" -> s"$base/sink",
        "watch" -> watch.toString)
    }

    Trace.span("bench.warmup", "warmup") {
      ops.timed("warm-up stream")({
        // all at once: the warm-up only has to run every code path once
        run("warmup", phases.head.get("dir").asText(), maxFiles, 1000.0); None
      })
    }
    listeners.measure()
    val results = phases.zipWithIndex.flatMap { case (ph, i) =>
      var r: Map[String, Any] = null
      ops.timed(s"phase $i")({
        r = run(s"phase$i", ph.get("dir").asText(), Int.MaxValue,
          ph.get("rate_files_per_s").asDouble())
        if (r("rows_seen") != r("rows_expected"))
          Some(s"phase $i saw ${r("rows_seen")} of ${r("rows_expected")} rows")
        else None
      }).map(_ => r)
    }
    // each committed file and each phase is an operation; run.py settles
    // per-file attribution and counts a file no batch committed as failed
    Map("phases" -> results, "events_per_file" -> perFile)
  }
}
