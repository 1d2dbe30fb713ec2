package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Dev tool: time individual SparkEntry queries on a given sf dir and
  * count the Spark jobs each one runs.
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
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.local.dir", graft.Bench.localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (r <- 1 to rounds; name <- names) {
      val (jobs, (n, sec)) = countJobs(spark) {
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        (n, (System.nanoTime - t0) / 1e9)
      }
      println(f"QPROBE $name round=$r rows=$n jobs=$jobs sec=$sec%.1f")
    }
    spark.stop()
  }

  /** Runs `body` and counts the Spark jobs it starts, by job group. The
    * listener bus is asynchronous but FIFO: once a later sentinel job's
    * start arrives, every job of the body has been counted. */
  def countJobs[A](spark: SparkSession)(body: => A): (Int, A) = {
    val sc = spark.sparkContext
    val (group, sentinel) = ("count-jobs", "count-jobs-sentinel")
    val jobs = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)    => jobs.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _                => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val a = body
      sc.setJobGroup(sentinel, sentinel)
      sc.parallelize(Seq(1)).count()
      require(drained.await(60, TimeUnit.SECONDS),
        "the listener bus did not drain in 60 s")
      (jobs.get, a)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
