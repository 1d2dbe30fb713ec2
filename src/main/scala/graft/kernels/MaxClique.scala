package graft.kernels

import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maximum-clique finding — the reference's MCF application
  * (`apps/maxclique.cpp`) re-expressed Spark-first.
  *
  * The reference spawns a task per vertex whose candidate set is its
  * HIGHER-ordered neighbors (`apps/maxclique.cpp:408-414`), pulls the
  * induced subgraph, and branch-and-bounds over it with degree-descending
  * ordering (`get_listR`, `:225-241`) and sorted set intersections
  * (`:260-319`). Here:
  *
  *  1. orient edges low→high (degree, id) — every clique is counted exactly
  *     once, at its minimum member; out-neighborhoods are O(√E) on any
  *     graph, so no per-seed task can blow up (the skew bound the reference
  *     gets from task splitting + stealing);
  *  2. the induced edge set of each seed's out-neighborhood is ONE
  *     triangle-style self-join (set-at-a-time, shuffled once);
  *  3. the per-seed exact search runs inside `mapGroups` — the J4 pattern
  *     (whole-subgraph local algorithm), the one place imperative code
  *     beats a dataflow encoding;
  *  4. the global argmax-with-ties aggregate (max size, #cliques at max —
  *     the reference's CountAgg, `apps/maxclique.cpp:73-205`) is a plain
  *     two-phase aggregation.
  *
  * The reference's cross-task global bound (read mid-task at `:358`) is an
  * asynchronous pruning optimization, not a semantics change; a superstep-
  * refreshed bound would emulate it — unnecessary at one-shot granularity.
  */
object MaxClique {

  /** Exact max-clique search on one seed's induced neighborhood.
    * Returns (bestSize, countAtBest, witness) over cliques that INCLUDE
    * the seed (size counts the seed). */
  private[kernels] def localSearch(
      nbrs: Array[Long],
      induced: Array[(Long, Long)]): (Int, Long, Array[Long]) = {
    val idx = nbrs.zipWithIndex.toMap
    val n = nbrs.length
    val adj = Array.fill(n)(scala.collection.mutable.BitSet.empty)
    induced.foreach { case (u, w) =>
      (idx.get(u), idx.get(w)) match {
        case (Some(i), Some(j)) => adj(i) += j; adj(j) += i
        case _ =>
      }
    }
    // degree-descending order (reference get_listR)
    val order = (0 until n).sortBy(i => -adj(i).size)
    var best = 1      // the seed alone
    var countAtBest = 1L
    var witness = Array.empty[Int]
    def search(r: List[Int], cand: List[Int]): Unit = {
      val size = r.length + 1 // + seed
      if (size > best) {
        best = size; countAtBest = 1L; witness = r.toArray
      } else if (size == best && r.nonEmpty) countAtBest += 1L
      var cs = cand
      while (cs.nonEmpty) {
        val v = cs.head
        cs = cs.tail
        if (size + cs.length + 1 >= best) // bound: can still tie or beat
          search(v :: r, cs.filter(adj(v)))
      }
    }
    search(Nil, order.toList)
    (best, countAtBest, witness.map(nbrs(_)))
  }

  final case class SeedResult(seed: Long, size: Int, cliques: Long,
                              witness: Array[Long])

  /** Cheap global lower bound on the max clique size — the reference's
    * cross-seed bound (`apps/maxclique.cpp:358,413`: every task prunes
    * against the global running max, refreshed mid-run). Set-at-a-time we
    * compute it ONCE up front instead of asynchronously: a greedy clique
    * grown through the max-out-degree seed's out-neighborhood (capped at
    * `cap` neighbors by induced-degree order, so the driver collect is
    * O(cap²) worst case regardless of graph size). Any valid lower bound
    * keeps the final argmax-with-ties exact. */
  private[graft] def greedyBound(e: DataFrame, cap: Int = 1024): Int = {
    val top = e.groupBy(col("src")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("src")).limit(1).collect()
    if (top.isEmpty) return 1
    val seed = top.head.getLong(0)
    // cap applied IN the plan (TakeOrdered): the driver never receives
    // more than `cap` rows even when the seed's out-neighborhood is O(|V|)
    // (dense near-regular graphs defeat the degree-orientation √E bound)
    val kept = e.filter(col("src") === seed)
      .select(col("dst")).orderBy(col("dst")).limit(cap)
      .collect().map(_.getLong(0))
    val keptSet = kept.toSet
    val induced = e
      .filter(col("src").isInCollection(kept) &&
        col("dst").isInCollection(kept))
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.HashSet[Long]]
    induced.foreach { case (u, w) =>
      if (keptSet(u) && keptSet(w)) {
        adj.getOrElseUpdate(u, scala.collection.mutable.HashSet.empty) += w
        adj.getOrElseUpdate(w, scala.collection.mutable.HashSet.empty) += u
      }
    }
    // greedy: induced-degree desc (get_listR order), keep if adjacent to
    // all chosen so far
    val order = kept.sortBy(v => (-adj.get(v).map(_.size).getOrElse(0), v))
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
    order.foreach { v =>
      if (chosen.forall(c => adj.get(v).exists(_.contains(c)))) chosen += v
    }
    1 + chosen.length // + the seed itself (adjacent to every neighbor)
  }

  /** Per-seed maximum cliques. Input: canonical undirected edges (src<dst).
    * Every maximum clique of the graph is found at exactly one seed (its
    * min-(degree,id) member). Lazy; returns the unpersist hook for the
    * oriented edge cache (used 4x in the plan — triple self-join +
    * neighbor agg — so it IS persisted, and [[run]] releases it once the
    * result is materialized). */
  def perSeedWithRelease(spark: SparkSession, edges: DataFrame)
      : (org.apache.spark.sql.Dataset[SeedResult], () => Unit) = {
    import spark.implicits._
    val e = Edges.orientByDegree(edges).persist()
    // global-bound seed pruning: a seed whose candidate set (out-
    // neighborhood) cannot reach the greedy lower bound hosts neither a
    // maximum clique nor a tie (its best is 1+outdeg < bound <= max), so
    // it is dropped BEFORE the induced-edge self-join — strictly-less
    // keeps every possible tie exact
    val bound = greedyBound(e)
    val survivors = e.groupBy(col("src").as("seed"))
      .agg(count(lit(1)).as("outdeg"))
      .filter(col("outdeg") + 1 >= bound).select(col("seed"))
    val eS = e.join(survivors.withColumnRenamed("seed", "src")
      .hint("SHUFFLE_HASH"), Seq("src"), "left_semi")
    // induced edges of each surviving seed's out-neighborhood:
    // (v,u),(u,w),(v,w) — the middle (u,w) role probes the FULL edge set
    val ind = eS.as("vu")
      .join(e.as("uw"), col("vu.dst") === col("uw.src"))
      .join(eS.as("vw"),
        col("vw.src") === col("vu.src") && col("vw.dst") === col("uw.dst"))
      .select(col("vu.src").as("seed"),
        col("uw.src").as("u"), col("uw.dst").as("w"))
    val nbrs = eS.groupBy(col("src").as("seed"))
      .agg(collect_list(col("dst")).as("nbrs"))
    val grouped = nbrs.join(
        ind.groupBy("seed").agg(
          collect_list(col("u")).as("us"),
          collect_list(col("w")).as("ws")),
        Seq("seed"), "left")
      .select(col("seed"), col("nbrs"),
        coalesce(col("us"), array().cast("array<long>")).as("us"),
        coalesce(col("ws"), array().cast("array<long>")).as("ws"))
      .as[(Long, Array[Long], Array[Long], Array[Long])]
    val ds = grouped.map { case (seed, ns, us, ws) =>
      val (sz, cnt, wit) = localSearch(ns, us.zip(ws))
      SeedResult(seed, sz, cnt, seed +: wit)
    }
    (ds, () => { e.unpersist(); () })
  }

  /** Global result: (max_size, n_cliques_at_max, witness) — A3's
    * argmax-with-ties shape. Computed EAGERLY (one row) so both persisted
    * inputs are released before return — a long-lived session running many
    * queries keeps no cached blocks behind. */
  def run(spark: SparkSession, edges: DataFrame): DataFrame = {
    val (perDs, release) = perSeedWithRelease(spark, edges)
    val per = perDs.toDF().persist()
    val mx = per.agg(max(col("size")).as("max_size"))
    val result = per.join(broadcast(mx), col("size") === col("max_size"))
      .agg(max(col("size")).as("max_size"),
        sum(col("cliques")).as("n_cliques"),
        min(sort_array(col("witness"))).as("witness"))
    val rows = result.collect().toSeq
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), result.schema)
    per.unpersist(); release()
    out
  }
}
