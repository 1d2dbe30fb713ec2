package graft.kernels

import graft.engine.Frontier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seed-clamped label spreading over a nearest-neighbor graph — the
  * weak-supervision step that turns a small labeled slice plus an ANN
  * index into corpus-wide training labels (the classic semi-supervised
  * move of Zhu & Ghahramani's label propagation, restricted here to
  * hard argmax votes so every round is integer-exact and
  * oracle-replayable).
  *
  * Per round: ONE join moving labels over the symmetrized pair graph +
  * one counted-vote aggregation (map-side combinable); already-labeled
  * vertices are clamped (seeds and earlier rounds never flip). Rounds are
  * [[graft.engine.Frontier]] hops, so only the labels set last round vote
  * — the same votes every labeled vertex would cast (see Frontier). Ties
  * break to the smaller label — q11's (count desc, label asc) rule. */
object LabelSpread {

  /** (vid, label, origin) — origin 0 = seed, r = labeled in round r.
    * Vertices never reached keep no row (callers outer-join a sentinel
    * if they need total coverage). */
  def run(spark: SparkSession, pairs: DataFrame, seeds: DataFrame,
          rounds: Int): DataFrame = {
    val sym = pairs.select(col("src"), col("dst"))
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    Frontier.run(sym, seeds.select(col("vid"), col("label"),
        lit(0L).as("origin")), Seq("vid"), rounds) { (e, last, r) =>
      e.join(last.select(col("vid").as("src"), col("label")), "src")
        .groupBy(col("dst").as("vid"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("vid"))
        .agg(min_by(col("label"),
          col("cnt") * lit(-1000000000L) + col("label")).as("label"))
        .select(col("vid"), col("label"), lit(r.toLong).as("origin"))
    }.reached
  }
}
