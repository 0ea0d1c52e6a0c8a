package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A new directory under `java.io.tmpdir` whose name starts with `tag`,
    * deleted with everything in it when the suite ends. */
  def tempDir(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toFile
    made.add(dir)
    dir.toString
  }

  override protected def afterAll(): Unit =
    try made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d): Unit)
    finally super.afterAll()

  /** Run `body` with SQL confs overridden on the shared session,
    * restoring previous values (or unsetting) afterwards. */
  def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val restore = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally restore.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = Engine.session("4")
}
