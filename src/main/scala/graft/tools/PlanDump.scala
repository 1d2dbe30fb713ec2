package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: dump `.explain("formatted")` of SparkEntry queries to files —
  * the evidence artifacts committed under plans/r0N/.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix>
  *        <queryName>[,<queryName>...]
  *
  * Writes <outDir>/<queryName>_<suffix>.txt for each query. The plan is
  * captured BEFORE execution (AdaptiveSparkPlan isFinalPlan=false), which
  * is the deterministic, environment-independent shape a reviewer can
  * check against the code. An eager query body (a collected scalar, a
  * localCheckpoint) returns a frame over rows it already computed, so
  * the plan of every SQL execution the body ran — as executed — follows,
  * in run order; a lazy query's dump is its plan alone.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val localDir = graft.Bench.localDir
    new java.io.File(localDir).mkdirs()
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val formatted = ExplainMode.fromString("formatted")
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        executed.add(s"\n== SQL execution of the query body: $action ==\n" +
          qe.explainString(formatted))
      override def onFailure(action: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    })
    for (name <- names) {
      // countJobs returns only once the listener bus has drained
      val (_, df) =
        QProbe.countJobs(spark)(SparkEntry.queries(name)(spark, sfDir))
      val plan = df.queryExecution.explainString(formatted) +
        Iterator.continually(executed.poll()).takeWhile(_ != null).mkString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $name ($suffix)")
    }
    spark.stop()
  }
}
