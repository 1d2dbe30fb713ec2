package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Dev tool: time individual SparkEntry queries on a given sf dir.
  *
  * Usage: runMain graft.tools.QProbe <sfDir> <queryName>[,<queryName>...]
  *        [cores] [rounds]
  * `cores` defaults to SPARK_GRAFT_CPUS, else the host's processor count.
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val cores = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_CPUS"))
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val rounds = args.lift(3).map(_.toInt).getOrElse(1)
    val localDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      "/dev/shm/graft-spark-local")
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (r <- 1 to rounds; name <- names) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"QPROBE $name round=$r rows=$n sec=${(System.nanoTime - t0) / 1e9}%.1f")
    }
    spark.stop()
  }
}
