package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failures.json, `{"attempted": n, "failed": m, "errors": {name: message}}`,
  * so a query that throws is counted even where it has no oracle entry. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver calls with (sfDir, outDir); extra args are an optional local
    // convenience filter: run only the named queries (tools/check.py takes
    // the same trailing filter).
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).toSet
    val spark = Engine.session()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) }
    val errors = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    import Jfmt.q
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      s"""{"attempted": ${selected.size}, "failed": ${errors.size}, "errors": ${obj(errors)}}""")
    spark.stop()
  }
}
