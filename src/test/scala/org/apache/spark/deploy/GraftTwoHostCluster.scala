package org.apache.spark.deploy

import org.apache.spark.SparkConf
import org.apache.spark.deploy.master.Master
import org.apache.spark.deploy.worker.Worker
import org.apache.spark.rpc.RpcEnv

/** An in-JVM standalone Master + two Workers registered under DIFFERENT
  * hostnames (127.0.0.1 and 127.0.0.2 — distinct addresses on the Linux
  * loopback /8, so both bind and route on one machine).
  *
  * Why this exists: speculative execution refuses to run a task's copy on
  * the host of any live attempt (`TaskSetManager.dequeueSpeculativeTask` →
  * `hasAttemptOnHost`, keyed on `TaskInfo.host`), and `local[...]` masters
  * never even start the speculation thread (`TaskSchedulerImpl.start`
  * gates on `!isLocal`). So neither local mode nor `local-cluster[...]`
  * (all workers share one hostname) can EVER launch a speculative
  * attempt — a single-machine speculation test needs two worker "hosts".
  * This is test scaffolding only, which is why it lives in the test tree:
  * it needs `private[deploy]` access to the Master/Worker entry points
  * (the same ones `LocalSparkCluster` uses).
  *
  * Executors are real separate JVMs spawned by the workers — the caller
  * must be launched with SPARK_HOME (and SPARK_SCALA_VERSION, since the
  * distribution layout probe needs it) in its environment, and must put
  * its classes on `spark.executor.extraClassPath` as ABSOLUTE paths
  * (executor cwd is the worker's work dir).
  */
object GraftTwoHostCluster {

  final case class Handle(masterUrl: String, rpcEnvs: Seq[RpcEnv]) {
    def stop(): Unit = {
      // workers first, then master — LocalSparkCluster's shutdown order
      rpcEnvs.reverse.foreach { e => e.shutdown(); e.awaitTermination() }
    }
  }

  /** Start master @127.0.0.1 and one worker each @127.0.0.1 / @127.0.0.2
    * (`coresPerWorker` cores, `memPerWorkerMb` MB). */
  def start(conf: SparkConf, coresPerWorker: Int, memPerWorkerMb: Int): Handle = {
    require(sys.env.contains("SPARK_HOME"),
      "GraftTwoHostCluster needs SPARK_HOME in the environment: workers " +
        "spawn executor JVMs through the distribution's launcher layout")
    val masterConf = new SparkConf(false).setAll(conf.getAll)
    val (masterEnv, _, _) =
      Master.startRpcEnvAndEndpoint("127.0.0.1", 0, 0, masterConf)
    val masterUrl = s"spark://127.0.0.1:${masterEnv.address.port}"
    val workerEnvs = Seq("127.0.0.1", "127.0.0.2").zipWithIndex.map {
      case (host, i) =>
        Worker.startRpcEnvAndEndpoint(
          host, 0, 0, coresPerWorker, memPerWorkerMb, Array(masterUrl),
          graft.Engine.tempDir(s"graft_worker$i"),
          Some(i + 1), new SparkConf(false).setAll(conf.getAll), None)
    }
    Handle(masterUrl, masterEnv +: workerEnvs)
  }
}
