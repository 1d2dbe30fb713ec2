package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Invariants of the query registry behind the `SparkEntry` contract
  * (`SparkEntry.queries` / `oracleSql` / `benchGated`). Needs no
  * SparkSession and no data: it only reads the registry and the
  * benchmark's committed cost table. */
class QueryRegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.registry.map(_.name)

  test("257 unique query names, each q<number>_<label>") {
    assert(names.size == 257)
    assert(names.distinct.size == names.size)
    val bad = names.filterNot(_.matches("""q\d{2,3}_[a-z0-9_]+"""))
    assert(bad.isEmpty, bad.mkString(", "))
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("a duplicate name fails the registry build") {
    val q = SparkEntry.registry.head
    val err = intercept[IllegalArgumentException](
      SparkEntry.byName(Seq(q, q.copy(benchGated = true))))
    assert(err.getMessage.contains(q.name))
  }

  test("every query has a SQL oracle except the rows-only ones, each with a reason") {
    val rowsOnly = SparkEntry.rowsOnly
    assert(rowsOnly.keySet ==
      Set("q29_ann_lsh", "q37_focus_cluster", "q40_ann_ivf"))
    assert(rowsOnly.values.forall(_.trim.nonEmpty))
    assert(SparkEntry.oracleSql.keySet ==
      SparkEntry.queries.keySet -- rowsOnly.keySet)
  }

  test("bench-gated set is the three quadratic baselines") {
    assert(SparkEntry.benchGated ==
      Set("q23_ann_top1", "q28_ann_topk", "q33_embed_neardup"))
    assert(SparkEntry.benchGated.subsetOf(names.toSet))
  }

  test("non-gated names equal the benchmark's query cost table") {
    // QuerySample ranks a name missing from the table at the median, so a
    // rename or a dropped query would shift the fixed draw silently
    val costs = Paths.get("perfbench/data/query_costs.tsv")
    assert(Files.isRegularFile(costs), "run from the project root")
    val costed = Files.readAllLines(costs).asScala
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")(0)).toSet
    assert(costed == SparkEntry.queries.keySet -- SparkEntry.benchGated)
  }
}
