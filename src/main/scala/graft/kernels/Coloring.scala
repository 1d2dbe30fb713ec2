package graft.kernels

import graft.engine.DagFold
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic greedy graph coloring — the symmetry-breaking step above
  * [[Mis]]: a proper coloring assigns conflict-free "rounds" to ALL
  * vertices at once (update scheduling, register-allocation-like slotting
  * of mutually-near-duplicate docs, channel assignment over a link graph).
  *
  * Sequential first-fit in the fixed total order (sha60("col:vid"), vid):
  * color(v) = the smallest color no higher-priority neighbour holds, which
  * is what the DuckDB oracle replays one vertex per recursion step with
  * an append-only color list. Colors ≤ Δ by first-fit pigeonhole.
  *
  * That is a fold over the priority DAG, each edge oriented from its
  * higher-priority end, so it runs on [[DagFold]] with the `mex` fold: a
  * block of the order is colored by one task in order, and a priority
  * chain across the whole graph costs no more supersteps than blocks.
  */
object Coloring {

  private def prio(c: Column): Column =
    graft.text.Dedup.shaTokenHash60(concat(lit("col:"), c.cast("string")))

  /** The smallest color not in `used`. */
  private def mex(used: Array[Long]): Long = {
    val seen = new java.util.BitSet(used.length + 1)
    used.foreach(c => if (c <= used.length) seen.set(c.toInt))
    seen.nextClearBit(0).toLong
  }

  /** Proper coloring (vid, color), colors 0..Δ, deterministic.
    * @param sym symmetric edge view (src, dst) — both directions. */
  def firstFit(spark: SparkSession, sym: DataFrame): DataFrame = {
    val (ps, pd) = (prio(col("src")), prio(col("dst")))
    // strict (p, vid) order — vid breaks sha ties exactly like the
    // oracle's ORDER BY p, vid; collect_list skips the backward edges'
    // nulls, and every vertex is some edge's src
    val forward = ps < pd || (ps === pd && col("src") < col("dst"))
    val r = DagFold.run(spark, "coloring", sym.groupBy(col("src").as("vid"))
      .agg(collect_list(when(forward, col("dst"))).as("adj"))
      .withColumn("key", prio(col("vid"))))(mex)
    r.values.withColumnRenamed("value", "color")
  }
}
