package graft

import graft.graph.Edges
import graft.kernels.ConnectedComponents
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one entry per implemented operator (SURVEY.md §2),
  * each with a DuckDB-equivalent oracle where SQL can express it.
  *
  * The queries live in per-family objects under `graft.queries`, grouped
  * by the input they read; each is one [[graft.queries.Q]] value holding
  * its body beside its oracle. The maps below are derived from them once.
  */
object SparkEntry {

  /** Every query, family by family. */
  lazy val registry: Seq[Q] =
    GraphQueries.all ++ DocumentQueries.all ++ EventQueries.all ++
      EmbeddingQueries.all ++ TableQueries.all

  /** Queries by name. A name written twice fails loudly, where a `Map`
    * literal would silently keep the last entry. */
  private[graft] def byName(qs: Seq[Q]): Map[String, Q] = {
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: ${dup.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }

  private lazy val index = byName(registry)

  /** Flagship: connected components of the sf0.001 co-occurrence graph. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    ConnectedComponents.run(spark,
      Edges.symmetrize(Common.e2(spark, dir))).components
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    index.map { case (n, q) => n -> q.body }

  lazy val oracleSql: Map[String, String] =
    index.collect { case (n, Q(_, _, Sql(text), _)) => n -> text }

  /** Queries with no SQL oracle, each with its reason. */
  lazy val rowsOnly: Map[String, String] =
    index.collect { case (n, Q(_, _, RowsOnly(why), _)) => n -> why }

  lazy val benchGated: Set[String] = index.collect {
    case (n, q) if q.benchGated => n
  }.toSet
}
