package graft.kernels

import graft.engine.Peel
import graft.graph.Edges
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic maximal independent set — Luby's classic O(log n)-round
  * algorithm with sha-derived priorities instead of per-round RNG.
  *
  * MIS is the symmetry-breaking primitive of distributed graph processing
  * (scheduling conflict-free update sets, landmark/seed selection,
  * graph-coloring bootstrap — e.g. picking a maximal set of pairwise
  * non-adjacent documents from a near-duplicate graph so a training mix
  * keeps at most one of every "conflict" pair). The reference's task
  * queue breaks vertex-level symmetry operationally (one task per seed,
  * `core/master.tpp` scheduling); this is the set-at-a-time counterpart.
  *
  * Algorithm, per round over the UNDECIDED subgraph:
  *  - every undecided vertex carries the fixed priority
  *    p(v) = sha60(salt:vid) (deterministic, engine-independent — the
  *    same integer in Spark and any SQL oracle, so fixed-round prefixes
  *    are bit-replayable);
  *  - v joins the MIS iff p(v) < min p(u) over its undecided neighbors
  *    (strictly — a priority tie blocks both sides, keeping the decision
  *    well-defined on every engine; sha60 ties are ~2^-60 per pair and a
  *    stalled fixpoint terminates the loop explicitly);
  *  - winners and their neighbors leave the undecided set and the edge
  *    table loses their edges, one [[graft.engine.Peel]] round.
  *
  * Scale shape per round: one join+min-aggregate over the shrinking edge
  * table (SHUFFLE_HASH on the vertex-sized priority side), two anti
  * joins to shrink it — no collect, no window, no per-vertex task. The
  * undecided set at least halves in expectation per round (Luby), so the
  * loop depth is O(log n) with geometrically shrinking work.
  */
object Mis {

  /** 60-bit sha priority, parity with `Edges.sampleInduced`'s SQL form:
    * CAST(('0x' || substr(sha256(salt:vid),1,15)) AS BIGINT). */
  private def prio(c: Column, salt: String): Column =
    graft.text.Dedup.shaTokenHash60(
      concat(lit(salt + ":"), c.cast("string")))

  /** MIS members as (vid, round) — the Luby round that selected each.
    * @param sym       symmetric directed edge view (src, dst); every
    *                  vertex of the graph appears as a src
    * @param maxRounds fixed-round prefix for oracle replay (default: run
    *                  to the fixpoint) */
  def run(spark: SparkSession, sym: DataFrame, salt: String = "mis",
          maxRounds: Int = Int.MaxValue): DataFrame = {
    // materialized once: the undecided set and the edge table derive from it
    val e0 = sym.select(col("src"), col("dst")).localCheckpoint(eager = true)
    val und0 = e0.select(col("src").as("vid")).distinct()
      .withColumn("p", prio(col("vid"), salt))
    // a round emits every vertex it decides: winners in, their neighbours out
    val none = spark.range(0).select(col("id").as("vid"), lit(0).as("round"),
      lit(true).as("in"))
    Peel.run(Vector(und0, e0), none, maxRounds) { st =>
      val Vector(und, e) = st.live
      val pn = und.select(col("vid").as("nb"), col("p").as("pn"))
        .hint("SHUFFLE_HASH")
      val nbrMin = e.join(pn, e("dst") === pn("nb"))
        .groupBy(e("src").as("vid")).agg(min(col("pn")).as("minp"))
      val winners = und.join(nbrMin, Seq("vid"), "left")
        .filter(col("minp").isNull || col("p") < col("minp"))
        .select(col("vid"))
      val w = winners.select(col("vid").as("wv")).hint("SHUFFLE_HASH")
      val losers = e.join(w, e("src") === w("wv"))
        .select(e("dst").as("vid")).distinct()
      // a total priority-tie stall (sha60 collision on every local min)
      // decides nothing, so the undecided count stands and the peel stops
      winners.select(col("vid"), lit(st.round).as("round"),
          lit(true).as("in"))
        .union(losers.select(col("vid"), lit(st.round), lit(false)))
    }((st, decided) => Edges.withoutVertices(st.live, decided))
      .emitted.filter(col("in")).select(col("vid"), col("round"))
  }
}
