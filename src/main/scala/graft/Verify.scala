package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failures.json, `{"attempted": n, "failed": m, "errors": {name: message}}`,
  * so a query that throws, or a name that is not registered, is counted even
  * where it has no oracle entry. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver calls with (sfDir, outDir); extra args are an optional local
    // convenience filter: run only the named queries (tools/check.py takes
    // the same trailing filter).
    val Array(sfDir, outDir) = args.take(2)
    val spark = Engine.session()
    dump(spark, sfDir, outDir, args.drop(2).toSeq)
    spark.stop()
  }

  /** Writes `names` (no names: the whole registry) under `outDir` and
    * returns the outcome that failures.json records. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): SparkEntry.Outcome[Unit] = {
    new java.io.File(outDir).mkdirs()
    val outcome = SparkEntry.run(names) { (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    import Jfmt.q
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/failures.json"), s"{${outcome.json}}")
    outcome
  }
}
