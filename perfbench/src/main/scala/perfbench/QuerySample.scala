package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The query-sample draw: a cost-stratified random sample of the
  * non-gated `SparkEntry.queries`.
  *
  * The queries are ranked by a committed reference cost (`query_costs.tsv`,
  * one `name<TAB>seconds` line each, measured with `--workload
  * query-sweep`), cut into `Strata` equal-count strata, and ONE query is
  * drawn uniformly from each stratum. Every query can be drawn, the slow
  * ones included; stratifying only makes each sample carry the same mix of
  * cheap and expensive queries. A query missing from the cost table ranks
  * at the median cost.
  *
  * The draw is made once, from `DrawSeed`, so every run measures the same
  * queries; the run's seed only sets the order they run in (`order`). A
  * draw per run seed made the end-to-end spread over seeds mostly the
  * spread of what was drawn (README.md "query-sample").
  */
object QuerySample {
  val Strata = 6
  val DrawSeed = 1L

  /** The run's order of the sample: a shuffle seeded by the run's seed. */
  def order(sample: Seq[String], seed: Long): Seq[String] =
    new Random(seed).shuffle(sample)

  def loadCosts(path: String): Map[String, Double] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(n, s) => n -> s.toDouble }
      .toMap

  def draw(names: Seq[String], costs: Map[String, Double],
           seed: Long): Seq[String] = {
    val known = names.flatMap(costs.get).sorted
    val median = if (known.isEmpty) 0.0 else known(known.size / 2)
    val ranked = names.sortBy(n => (costs.getOrElse(n, median), n))
    val k = math.min(Strata, ranked.size)
    val rnd = new Random(seed)
    (0 until k).map { i =>
      val lo = i * ranked.size / k
      val hi = (i + 1) * ranked.size / k
      ranked(lo + rnd.nextInt(hi - lo))
    }
  }
}
