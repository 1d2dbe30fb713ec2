package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** One shared local session for the whole suite (fast, deterministic). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `body` and asserts that it leaves no persisted RDD behind,
    * other than materialized local checkpoints (a call's result): a
    * kernel cache left behind by `body` shows up here. */
  def leavesNoCache[T](what: String)(body: => T): T = {
    def cached(): Set[Int] = spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if !rdd.isCheckpointed => id }.toSet
    val before = cached()
    val out = body
    assert(cached() === before, s"$what left a persisted RDD")
    out
  }

  /** Canonical (src < dst) edge DataFrame from a literal edge list. */
  def edgeDF(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("src", "dst")
  }
}
