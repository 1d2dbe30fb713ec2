package graft.kernels

import graft.engine.Superstep
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-respecting (temporal) reachability — the earliest-arrival
  * single/multi-source problem of Wu et al., VLDB'14 ("Path Problems in
  * Temporal Graphs"): a vertex v is reached at time t iff there is a
  * contact sequence (u₀,u₁,t₁), (u₁,u₂,t₂), … with non-decreasing times
  * whose departure times are all ≥ the arrival time at their source.
  * This is the temporal complement of [[Bfs]]: static reachability
  * overcounts (it ignores that an edge usable only BEFORE you arrive is
  * useless) — epidemiology, information-flow, and session-attribution
  * analyses all need the temporal form.
  *
  * Reference context: G-Miner has no temporal kernel; this extends the
  * same superstep substrate (hash-min style monotone fixpoint,
  * `core/master.tpp`-equivalent loop in [[graft.engine.Superstep]]
  * discipline) to a time-annotated edge table.
  */
object TemporalReach {

  /** Contact derivation: two distinct users acting on the SAME
    * `typeCol` value within `deltaSec` of each other become a contact
    * directed earlier→later, i.e. (src, dst, tu, tv) with
    * 0 ≤ tv − tu ≤ delta (times in epoch microseconds; equal-time pairs
    * are ordered src < dst so each unordered pair appears exactly once).
    *
    * Scale shape — banded bucket join, NOT an inequality self-join: each
    * event lands in time bucket ⌊t/delta⌋; the later side probes its own
    * bucket and the previous one, which covers every pair within delta
    * exactly once (a qualifying earlier event is in exactly one of the
    * two). The join is equi on (type, bucket) — shuffle-partitionable,
    * no broadcast, no quadratic blow-up beyond the per-bucket density
    * the window itself implies (the same banding discipline as
    * [[graft.text.Dedup.minHashLsh]]'s bucket join). */
  def contacts(events: DataFrame, userCol: String, typeCol: String,
               tsCol: String, deltaSec: Long): DataFrame = {
    val deltaUs = deltaSec * 1000000L
    // cast covers TIMESTAMP_NTZ parquet columns (UTC session timezone
    // makes the reinterpretation the identity, matching DuckDB epoch_us)
    val ev = events.select(col(userCol).as("u"), col(typeCol).as("g"),
        unix_micros(col(tsCol).cast("timestamp")).as("t"))
      // exact integer bucketing: (t - t mod delta) / delta — the
      // numerator is an exact multiple, so the double division is exact
      // (a raw floor(t/delta) could misbucket near boundaries)
      .withColumn("bk",
        ((col("t") - pmod(col("t"), lit(deltaUs))) / deltaUs).cast("long"))
    val earlier = ev.select(col("g"), col("bk"),
      col("u").as("src"), col("t").as("tu"))
    val later = ev.select(col("g"),
        explode(array(col("bk"), col("bk") - 1L)).as("bk"),
        col("u").as("dst"), col("t").as("tv"))
    later.join(earlier, Seq("g", "bk"))
      .filter(col("tv") >= col("tu") && col("tv") - col("tu") <= deltaUs &&
        (col("tu") < col("tv") ||
          (col("tu") === col("tv") && col("src") < col("dst"))) &&
        col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("tu"), col("tv"))
  }

  /** Temporal 2-chain motif census (the u→v→w building block of
    * Paranjape–Benson–Leskovec, WSDM'17 "Motifs in Temporal Networks"):
    * count, per middle vertex v, the pairs of contacts (u→v at tv₁) then
    * (v→w at tu₂ ≥ tv₁) whose whole span fits in `windowUs` — i.e.
    * information actually RELAYABLE through v, the temporal analog of a
    * wedge count (q07's static wedges overcount exactly like static
    * reachability does). One self-join keyed by the middle vertex + one
    * aggregation; the window bound keeps per-vertex pair fan-in to what
    * the motif semantics demand. */
  def chainMotifs(contactsDf: DataFrame, windowUs: Long): DataFrame = {
    val in = contactsDf.select(col("dst").as("v"), col("src").as("u"),
      col("tu").as("tu1"), col("tv").as("tv1"))
    val out = contactsDf.select(col("src").as("v"), col("dst").as("w"),
      col("tu").as("tu2"), col("tv").as("tv2"))
    in.join(out, "v")
      .filter(col("tu2") >= col("tv1") &&
        col("tv2") - col("tu1") <= windowUs &&
        col("u") =!= col("w"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_chains"))
  }

  /** Earliest-arrival fixpoint: arrival(v) = min over time-respecting
    * contact paths from any seed (seeds arrive at time 0). Each round is
    * one join (state ⋈ contacts on src, guarded by departure ≥ arrival)
    * + one min-aggregation (map-side combined) + a full-outer merge —
    * the hash-min CC shape with a temporal guard, on
    * [[graft.engine.Superstep]]. The state carries a `changed` flag
    * (arrival fell, or the vertex is newly reached), and the fixpoint is
    * the first superstep with `sum(changed)` = 0.
    *
    * `maxRounds` bounds the supersteps (paths longer than maxRounds
    * contacts are not explored) — the fixed-round form is the
    * oracle-replayable prefix, the default runs to fixpoint. */
  def earliestArrival(spark: SparkSession, contactsDf: DataFrame,
                      seeds: DataFrame,
                      maxRounds: Int = Int.MaxValue): DataFrame = {
    val c = contactsDf.select(col("src"), col("dst"), col("tu"), col("tv"))
    def step(state: DataFrame): DataFrame = {
      val msgs = c
        .join(state.select(col("vid").as("src"), col("arrival")), "src")
        .filter(col("tu") >= col("arrival"))
        .groupBy(col("dst").as("vid")).agg(min(col("tv")).as("cand"))
      state.select(col("vid"), col("arrival"))
        .join(msgs, Seq("vid"), "full_outer")
        .select(col("vid"),
          least(coalesce(col("arrival"), col("cand")),
            coalesce(col("cand"), col("arrival"))).as("arrival"),
          // arrival fell, or the vertex is newly reached
          coalesce(col("cand") < col("arrival"), col("cand").isNotNull)
            .as("changed"))
    }
    val (state, _, _, _) = Superstep.run(spark, "temporal-reach",
      seeds.select(col("vid"), lit(0L).as("arrival"), lit(true).as("changed")),
      step, sum(col("changed").cast("long")), (_, d, _) => d == 0.0,
      maxRounds)
    state.select(col("vid"), col("arrival"))
  }
}
