package graft.kernels

import graft.engine.Peel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic greedy graph coloring, Jones-Plassmann style — the
  * symmetry-breaking step above [[Mis]]: a proper coloring assigns
  * conflict-free "rounds" to ALL vertices at once (update scheduling,
  * register-allocation-like slotting of mutually-near-duplicate docs,
  * channel assignment over a link graph).
  *
  * Priority = (sha60("col:vid"), vid) — a fixed total order. Each
  * superstep colors every vertex whose HIGHER-priority neighbors are all
  * colored, with the smallest color unused among them (first-fit):
  * that is exactly the Jones-Plassmann reduction, and its fixpoint is
  * provably identical to the SEQUENTIAL first-fit greedy processing
  * vertices in priority order — which is what the DuckDB oracle replays
  * one vertex per recursion step with an append-only color list (the
  * [[Mst]] two-algorithms-one-answer discipline). Expected round count
  * for random priorities is O(log n / log log n); colors ≤ Δ+1 by
  * first-fit pigeonhole.
  *
  * Per superstep, set-at-a-time: one anti-join finds the ready set, one
  * join+collect_set gathers each ready vertex's used neighbor colors
  * (bounded by its degree), and the smallest free color is
  * `array_min(array_except(sequence(0, size(used)), used))` — per-row
  * array arithmetic, no window, no driver loop over vertices. The
  * uncolored set and the pending-edge table shrink as colors land, one
  * [[graft.engine.Peel]] round per superstep.
  */
object Coloring {

  private def prio(c: Column, salt: String): Column =
    graft.text.Dedup.shaTokenHash60(
      concat(lit(salt + ":"), c.cast("string")))

  /** Proper coloring (vid, color), colors 0..Δ, deterministic.
    * @param sym symmetric edge view (src, dst) — both directions. */
  def jonesPlassmann(spark: SparkSession, sym: DataFrame,
                     salt: String = "col",
                     maxRounds: Int = 500): DataFrame = {
    import spark.implicits._
    // materialized once: consumed by the hpAll checkpoint AND the initial
    // uncolored set — a lazy derived caller graph would be derived twice
    val e = sym.select(col("src"), col("dst")).distinct()
      .localCheckpoint(eager = true)
    val withP = e
      .withColumn("ps", prio(col("src"), salt))
      .withColumn("pd", prio(col("dst"), salt))
    // (src ← dst) where dst has HIGHER priority (must color first);
    // strict (p, vid) lexicographic order — vid breaks sha ties exactly
    // like the oracle's ORDER BY p, vid
    // sha priorities computed ONCE — the full higher-priority edge view
    // is consumed every round (ready test + used-color lookup) and must
    // not re-hash |E| rows per round
    val hpAll = withP.filter(col("pd") < col("ps") ||
        (col("pd") === col("ps") && col("dst") < col("src")))
      .select(col("src"), col("dst"))
      .localCheckpoint(eager = true)
    val none = Seq.empty[(Long, Long)].toDF("vid", "color")
    val r = Peel.run(Vector(e.select(col("src").as("vid")).distinct(), hpAll),
        none, maxRounds) { st =>
      // uncolored vertices, and the hp-edges whose dst is still uncolored
      val Vector(uncolored, hp) = st.live
      // ready: no uncolored higher-priority neighbor left in `hp`
      val ready = uncolored
        .join(hp.select(col("src").as("vid")).distinct(),
          Seq("vid"), "left_anti")
      // colors used by each ready vertex's higher-priority neighbors:
      // ALL its hp-edges are gone from `hp` (they colored earlier), so
      // look them up in the full hp view against the colored table
      val used = ready
        .join(hpAll.select(col("src").as("vid"), col("dst")), Seq("vid"))
        .join(st.done.select(col("vid").as("d2"), col("color")),
          col("dst") === col("d2"))
        .groupBy(col("vid"))
        .agg(collect_set(col("color")).as("used"))
      ready.join(used, Seq("vid"), "left")
        .select(col("vid"),
          when(col("used").isNull, lit(0L))
            .otherwise(array_min(array_except(
              sequence(lit(0L), size(col("used")).cast("long")),
              col("used")))).as("color"))
    } { (st, newly) =>
      val Vector(uncolored, hp) = st.live
      Vector(uncolored.join(newly.select(col("vid")), Seq("vid"), "left_anti"),
        hp.join(newly.select(col("vid").as("done")),
            col("dst") === col("done"), "left_anti")
          .select(col("src"), col("dst")))
    }
    require(r.rows.last.head == 0L,
      if (r.converged) s"coloring stalled at round ${r.rounds}"
      else s"coloring did not finish in $maxRounds rounds")
    r.emitted
  }
}
