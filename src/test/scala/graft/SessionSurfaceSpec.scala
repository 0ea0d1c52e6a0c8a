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
  *   - Runtime config mutation: lines calling `conf.set(` / `conf.unset(`
  *     outside comments. Each one writes a live session's config, which
  *     ROADMAP item 3 drives towards the session factory alone.
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

  test("the SPARK_GRAFT_* options read are CPUS, SF_DIR, BENCH_OUT and ONLY") {
    val option = "\"SPARK_GRAFT_([A-Z0-9_]+)\"".r
    val names = sources.flatMap { case (_, text) =>
      option.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(names == Set("CPUS", "SF_DIR", "BENCH_OUT", "ONLY"))
  }

  test("at most 9 lines mutate a session's config at runtime") {
    val mutation = """\bconf\.(set|unset)\(""".r
    val sites = sources.flatMap { case (name, text) =>
      text.split("\n").toSeq.zipWithIndex.collect {
        case (line, i) if mutation.findFirstIn(line).isDefined &&
            !Seq("//", "*", "/*").exists(line.trim.startsWith) =>
          s"$name:${i + 1}: ${line.trim}"
      }
    }
    assert(sites.size <= 9, sites.mkString("\n", "\n", ""))
  }
}
