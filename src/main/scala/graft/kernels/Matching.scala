package graft.kernels

import graft.engine.Peel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic greedy maximal matching — Israeli–Itai-style local-min
  * rounds with sha edge priorities (the edge analog of [[Mis]]'s Luby
  * rounds; reference context: the same per-round "local extremum wins"
  * discipline as G-Miner's task-priority scheduling is here re-derived
  * set-at-a-time). An edge is matched in a round iff its priority is the
  * minimum among ALL live edges at BOTH endpoints — that set is a valid
  * matching within the round (a vertex's min edge is unique under
  * distinct sha priorities), the globally-minimal live edge always wins
  * (progress is guaranteed), and the fixpoint is a MAXIMAL matching,
  * whose endpoint set is the classic 2-approximation of minimum vertex
  * cover (Gavril/Yannakakis).
  *
  * Scale shape per round: one union + one min-aggregation keyed by
  * endpoint (map-side combined), one join back to the live edges, two
  * anti-joins to drop saturated endpoints — one [[graft.engine.Peel]]
  * round.
  */
object Matching {

  private def prio(s: org.apache.spark.sql.Column,
                   d: org.apache.spark.sql.Column,
                   salt: String): org.apache.spark.sql.Column =
    graft.text.Dedup.shaTokenHash60(
      concat(lit(salt + ":"), s.cast("string"), lit(":"), d.cast("string")))

  /** Matched edges as (src, dst, round). `maxRounds` gives the fixed-
    * round oracle-replayable prefix (the q110 parity discipline); the
    * default runs to the maximal-matching fixpoint. */
  def greedy(spark: SparkSession, edges: DataFrame, salt: String = "mm",
             maxRounds: Int = Int.MaxValue): DataFrame = {
    val live = edges.select(col("src"), col("dst"))
      .withColumn("p", prio(col("src"), col("dst"), salt))
    val none = spark.range(0).select(col("id").as("src"), col("id").as("dst"),
      lit(0).as("round"))
    Peel.run(Vector(live), none, maxRounds) { st =>
      val live = st.live.head
      val inc = live.select(col("src").as("v"), col("p"))
        .unionAll(live.select(col("dst").as("v"), col("p")))
      val vmin = inc.groupBy(col("v")).agg(min(col("p")).as("mp"))
        .hint("SHUFFLE_HASH")
      // empty only via a sha collision making every local min ambiguous:
      // the live count then stands and the peel stops
      live
        .join(vmin.select(col("v").as("sv"), col("mp").as("smp")),
          col("src") === col("sv") && col("p") === col("smp"))
        .join(vmin.select(col("v").as("dv"), col("mp").as("dmp")),
          col("dst") === col("dv") && col("p") === col("dmp"))
        .select(col("src"), col("dst"), lit(st.round).as("round"))
    } { (st, matched) =>
      val mv = matched.select(col("src").as("v"))
        .union(matched.select(col("dst"))).distinct()
      Vector(st.live.head
        .join(mv.select(col("v").as("m1")), col("src") === col("m1"),
          "left_anti")
        .join(mv.select(col("v").as("m2")), col("dst") === col("m2"),
          "left_anti"))
    }.emitted
  }

  /** 2-approx minimum vertex cover: the endpoints of a maximal matching
    * (every edge has a saturated endpoint, and no cover can use fewer
    * than |M| vertices). */
  def vertexCover(spark: SparkSession, edges: DataFrame,
                  salt: String = "mm",
                  maxRounds: Int = Int.MaxValue): DataFrame = {
    val m = greedy(spark, edges, salt, maxRounds)
    m.select(col("src").as("vid")).union(m.select(col("dst"))).distinct()
  }
}
