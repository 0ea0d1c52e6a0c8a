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
    val sites = sources.flatMap { case (name, text) =>
      text.split("\n").toSeq.zipWithIndex.collect {
        case (line, i) if line.contains("SparkEntry.queries") &&
            !Seq("//", "*", "/*").exists(line.trim.startsWith) =>
          (name, s"$name:${i + 1}: ${line.trim}")
      }
    }
    assert(sites.forall(_._1 == "SparkEntry.scala"), sites.map(_._2).mkString("\n", "\n", ""))
  }

  test("only Engine.scoped sets a session's config or makes a child session") {
    val site = """\bconf\.(set|unset)\(|\bnewSession\(""".r
    val sites = sources.flatMap { case (name, text) =>
      text.split("\n").toSeq.zipWithIndex.collect {
        case (line, i) if site.findFirstIn(line).isDefined &&
            !Seq("//", "*", "/*").exists(line.trim.startsWith) =>
          (name, s"$name:${i + 1}: ${line.trim}")
      }
    }
    val listing = sites.map(_._2).mkString("\n", "\n", "")
    assert(sites.forall(_._1 == "Engine.scala"), listing)
    // one `newSession()` and the one loop that configures the new child
    assert(sites.size <= 2, listing)
  }

  test("only Engine creates temp directories") {
    val sites = sources.flatMap { case (name, text) =>
      text.split("\n").toSeq.zipWithIndex.collect {
        case (line, i) if line.contains("createTempDirectory(") &&
            !Seq("//", "*", "/*").exists(line.trim.startsWith) =>
          (name, s"$name:${i + 1}: ${line.trim}")
      }
    }
    assert(sites.forall(_._1 == "Engine.scala"), sites.map(_._2).mkString("\n", "\n", ""))
  }

  test("only Streams starts a stream") {
    val sites = sources.flatMap { case (name, text) =>
      text.split("\n").toSeq.zipWithIndex.collect {
        case (line, i) if line.contains(".writeStream") &&
            !Seq("//", "*", "/*").exists(line.trim.startsWith) =>
          (name, s"$name:${i + 1}: ${line.trim}")
      }
    }
    val listing = sites.map(_._2).mkString("\n", "\n", "")
    assert(sites.forall(_._1 == "Streams.scala"), listing)
    assert(sites.size <= 2, listing)
  }
}
