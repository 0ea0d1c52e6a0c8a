package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Ratchet on the session-configuration surface of `src/main/scala`: the
  * three counts ROADMAP aim 2 tracks may fall, never rise.
  *
  *   - Session builders: every main measures or verifies the engine on
  *     [[Engine.session]]. Only the two subprocess harnesses keep their
  *     own builder, because their `local[2]` / `local[4, 2]` masters and
  *     bypass-merge settings are what they test.
  *   - `SPARK_GRAFT_*` options: a name is counted when it appears as a
  *     string literal, which is how every env read in `src/main` spells it.
  *   - Runtime config mutation and child sessions: lines calling
  *     `conf.set(` / `conf.unset(` or `newSession(` outside comments. A
  *     query that needs its own settings runs on a child made by
  *     [[Engine.scoped]], which configures the child once, before anyone
  *     can see it; no other line in `src/main` writes a session's config.
  *   - Temp directories: every checkpoint, sink and staging directory comes
  *     from [[Engine.tempDir]], which deletes it when the JVM exits.
  *   - Stream starts: every stream runs through [[graft.streaming.Streams.run]]
  *     or its sink variants, which hold the one run policy (checkpoint,
  *     `Trigger.AvailableNow`, start, await and error propagation).
  *   - Staging: [[Engine.staged]] is the one memo of staged inputs, and every
  *     file-stream source is staged by [[graft.streaming.Streams.stage]],
  *     which pins the file times, and read by `Streams.eventsStream`; only
  *     the search connector's streams read through `readStream` elsewhere.
  *   - Parquet reads: every parquet read goes through [[Engine.parquet]],
  *     which takes the schema from one footer instead of Spark's one-task
  *     inference job; only the two `mergeSchema` reads (o13, s33) keep
  *     Spark's reader, because the footer merge is what they demonstrate.
  *   - Commits: every staged file moves into place, and every manifest or
  *     marker is published, through [[graft.sinks.Commit]], which checks
  *     each rename and replaces small files atomically; it is also the one
  *     place a `FileSystem` is opened from a bare `Configuration`.
  *   - Mains and registry reads: every main that runs registered queries
  *     picks, looks up, runs and counts them through [[SparkEntry.run]], so
  *     the list of mains is fixed and no other file reads the registry.
  */
class SessionSurfaceSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p.getFileName.toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  /** Non-comment lines of `src/main/scala` that `hit` matches, as
    * (file name, "file:line: text"). */
  private def sites(hit: String => Boolean): Seq[(String, String)] =
    sources.flatMap { case (name, text) =>
      text.split("\n").toSeq.zipWithIndex.collect {
        case (line, i) if hit(line) && !Seq("//", "*", "/*").exists(line.trim.startsWith) =>
          (name, s"$name:${i + 1}: ${line.trim}")
      }
    }

  private def listing(found: Seq[(String, String)]): String = found.map(_._2).mkString("\n", "\n", "")

  test("only Engine, SpillProbe and ChaosRetry build a SparkSession") {
    val builder = """SparkSession\s*\.builder""".r
    val builders = sources.collect {
      case (name, text) if builder.findFirstIn(text).isDefined => name
    }.toSet
    assert(builders == Set("Engine.scala", "SpillProbe.scala", "ChaosRetry.scala"))
  }

  test("the SPARK_GRAFT_* options read are CPUS and SF_DIR") {
    val option = "\"SPARK_GRAFT_([A-Z0-9_]+)\"".r
    val names = sources.flatMap { case (_, text) =>
      option.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(names == Set("CPUS", "SF_DIR"))
  }

  test("the mains are the registry runners, the subprocess harnesses and ScaleUp") {
    val mains = sources.collect { case (name, text) if text.contains("def main(") => name }.toSet
    assert(mains == Set("Verify.scala", "Bench.scala", "ScaleBench.scala", "Profile.scala",
      "PlanDump.scala", "SpillProbe.scala", "ChaosRetry.scala", "ScaleUp.scala"))
  }

  test("only SparkEntry reads SparkEntry.queries") {
    val found = sites(_.contains("SparkEntry.queries"))
    assert(found.forall(_._1 == "SparkEntry.scala"), listing(found))
  }

  test("only Engine.scoped sets a session's config or makes a child session") {
    val site = """\bconf\.(set|unset)\(|\bnewSession\(""".r
    val found = sites(site.findFirstIn(_).isDefined)
    assert(found.forall(_._1 == "Engine.scala"), listing(found))
    // one `newSession()` and the one loop that configures the new child
    assert(found.size <= 2, listing(found))
  }

  test("only Engine creates temp directories") {
    val found = sites(_.contains("createTempDirectory("))
    assert(found.forall(_._1 == "Engine.scala"), listing(found))
  }

  test("only Streams starts a stream") {
    val found = sites(_.contains(".writeStream"))
    assert(found.forall(_._1 == "Streams.scala"), listing(found))
    assert(found.size <= 2, listing(found))
  }

  test("only Engine memoizes staged inputs") {
    // Jp2Codec's map caches the codec's synthesis-norm constants, not a
    // staged input
    val found = sites(_.contains("ConcurrentHashMap"))
      .filterNot(f => f._1 == "Engine.scala" || f._1 == "Jp2Codec.scala")
    assert(found.isEmpty, listing(found))
  }

  test("only Streams stages a file-stream source") {
    val pins = sites(l => l.contains("setLastModified") || l.contains("setTimes("))
    assert(pins.forall(_._1 == "Streams.scala"), listing(pins))
    // every other stream reads the search connector's day cursor (st10, st11)
    val search = """\.readStream\s*\.format\(classOf\[graft\.sources\.KbSearchSource\]""".r
    val searchStreams = sources.map { case (_, text) => search.findAllIn(text).size }.sum
    val reads = sites(_.contains(".readStream")).filterNot(_._1 == "Streams.scala")
    assert(reads.size == searchStreams && searchStreams <= 2, listing(reads))
  }

  test("only Engine reads parquet") {
    val read = """\.read\b.*\.parquet\(""".r
    val (merging, found) = sites(read.findFirstIn(_).isDefined)
      .filterNot(_._1 == "Engine.scala").partition(_._2.contains("\"mergeSchema\""))
    assert(found.isEmpty, listing(found))
    assert(merging.size <= 2, listing(merging))
  }

  test("only Commit renames files or opens a FileSystem from a bare Configuration") {
    val found = sites(l => l.contains(".rename(") || l.contains("FileSystem.get(new java.net.URI"))
    assert(found.forall(_._1 == "Commit.scala"), listing(found))
  }
}
