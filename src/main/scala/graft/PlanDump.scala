package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for a list of registered queries to one
  * file per query — the before/after plan evidence the optimization rounds
  * commit under `plans/r<N>/` (the judge checks plan claims against these).
  *
  * Run: `sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]"`
  * → `<outDir>/<query>_<suffix>.txt`. Queries that materialize eagerly while
  * being built (iterative localCheckpoint loops) still dump their final
  * frame's plan; their job-level story lives in BATCH_METRICS records.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    Files.createDirectories(outDir)
    val spark = Engine.session()
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, dir)
      val txt = df.queryExecution.explainString(mode)
      Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8")): Unit
      println(s"dumped $n (${txt.length} chars)")
    }
    spark.stop()
  }
}
