package graft

import org.apache.hadoop.fs.Path

import graft.sinks.{Commit, IncrementalWriter}
import graft.sources.{KbArchive, KbArchiveSink, KbDim}

/** [[Commit.replace]], the one way a manifest or marker is published. */
class CommitSpec extends SparkSpec {
  import spark.implicits._

  test("a replace whose body throws partway leaves the previous content in place") {
    // the three live small files, each made by its own writer
    spark.sql("INSERT OVERWRITE kb.dim VALUES (1L, 10L, 'a'), (2L, 20L, 'b')")
    val dimManifest = new Path(KbDim.resolveDir(spark), KbDim.ManifestName)
    val archive = tempDir("commit_archive")
    Seq("k" -> "v").toDF("key", "payload")
      .write.format(classOf[KbArchiveSink].getName).option("path", archive).mode("append").save()
    val sink = tempDir("commit_sink") + "/sink"
    new IncrementalWriter(spark, sink, Seq("id"), keyIndex = true).append(spark.range(3).toDF())
    val marker = new Path(sink + ".keys", "_synced")

    Seq(dimManifest, new Path(archive, KbArchive.ManifestName), marker).foreach { target =>
      val fs = Commit.fs(target.toString)
      val before = Commit.read(fs, target)
      assert(before.exists(_.nonEmpty), s"$target was never written")
      val ex = intercept[java.io.IOException] {
        Commit.replace(fs, target) { out =>
          out.write("torn".getBytes("UTF-8"))
          out.flush()
          throw new java.io.IOException("body died")
        }
      }
      assert(ex.getMessage == "body died")
      assert(Commit.read(fs, target) == before, s"$target changed")
      val left = fs.listStatus(target.getParent).map(_.getPath.getName).filter(_.endsWith(".tmp"))
      assert(left.isEmpty, left.mkString(","))
    }
    // and each still reads through its owner
    assert(spark.sql("SELECT k FROM kb.dim").count() == 2)
    assert(KbArchive.readManifest(archive).map(_.rows).sum == 1)
    assert(new IncrementalWriter(spark, sink, Seq("id"), keyIndex = true)
      .append(spark.range(3).toDF()) == 0)
  }
}
