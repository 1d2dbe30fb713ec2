package graft.kernels

import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

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
  *  2. each seed's task — its out-neighborhood and the edges it induces —
  *     comes from the one task pull, [[Edges.taskSubgraphs]];
  *  3. the per-seed exact search runs inside a typed `map` over the tasks
  *     — the J4 pattern (whole-subgraph local algorithm), the one place
  *     imperative code beats a dataflow encoding;
  *  4. the global argmax-with-ties aggregate (max size, #cliques at max —
  *     the reference's CountAgg, `apps/maxclique.cpp:73-205`) is a plain
  *     two-phase aggregation.
  *
  * The reference's cross-task global bound (read mid-task at `:358`) is an
  * asynchronous pruning optimization, not a semantics change; a superstep-
  * refreshed bound would emulate it — unnecessary at one-shot granularity.
  */
object MaxClique {

  /** Symmetric BitSet adjacency over `ids` (index i stands for ids(i))
    * from `edges`; an edge with an end outside `ids` is skipped. The
    * in-task graph the clique searches ([[localSearch]],
    * [[Community.localSearch]], [[greedyBound]]) branch over. */
  private[kernels] def bitAdjacency(ids: Array[Long],
      edges: Array[(Long, Long)]): Array[mutable.BitSet] = {
    val idx = ids.zipWithIndex.toMap
    val adj = Array.fill(ids.length)(mutable.BitSet.empty)
    edges.foreach { case (u, w) =>
      (idx.get(u), idx.get(w)) match {
        case (Some(i), Some(j)) => adj(i) += j; adj(j) += i
        case _ =>
      }
    }
    adj
  }

  /** Exact max-clique search on one seed's induced neighborhood.
    * Returns (bestSize, countAtBest, witness) over cliques that INCLUDE
    * the seed (size counts the seed); the witness is the lex-min sorted
    * member list (seed excluded) among the maximum cliques. */
  private[kernels] def localSearch(
      nbrs: Array[Long],
      induced: Array[(Long, Long)]): (Int, Long, Array[Long]) = {
    val adj = bitAdjacency(nbrs, induced)
    // degree-descending order (reference get_listR)
    val order = nbrs.indices.sortBy(i => -adj(i).size)
    var best = 1      // the seed alone
    var countAtBest = 1L
    var witness = Array.empty[Long]
    def search(r: List[Int], cand: List[Int]): Unit = {
      val size = r.length + 1 // + seed
      if (size >= best && r.nonEmpty) {
        val ids = r.map(nbrs(_)).sorted.toArray
        if (size > best) { best = size; countAtBest = 1L; witness = ids }
        else {
          countAtBest += 1L
          if (java.util.Arrays.compare(ids, witness) < 0) witness = ids
        }
      }
      var cs = cand
      while (cs.nonEmpty) {
        val v = cs.head
        cs = cs.tail
        if (size + cs.length + 1 >= best) // bound: can still tie or beat
          search(v :: r, cs.filter(adj(v)))
      }
    }
    search(Nil, order.toList)
    (best, countAtBest, witness)
  }

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
    val induced = e
      .filter(col("src").isInCollection(kept) &&
        col("dst").isInCollection(kept))
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = bitAdjacency(kept, induced)
    // greedy: induced-degree desc (get_listR order), keep if adjacent to
    // all chosen so far
    val order = kept.indices.sortBy(i => (-adj(i).size, kept(i)))
    val chosen = mutable.BitSet.empty
    order.foreach(i => if (chosen.subsetOf(adj(i))) chosen += i)
    1 + chosen.size // + the seed itself (adjacent to every neighbor)
  }

  /** Global result: (max_size, n_cliques_at_max, witness) — A3's
    * argmax-with-ties shape, over canonical undirected edges (src<dst).
    * Every maximum clique of the graph is found at exactly one seed (its
    * min-(degree,id) member), by a local search over that seed's task:
    * its out-neighborhood and the edges it induces
    * ([[Edges.taskSubgraphs]]). Computed EAGERLY (one row) so both
    * persisted inputs — the oriented edges, read by the bound, the seed
    * pruning and both sides of the task pull, and the per-seed results —
    * are released before return: a long-lived session running many
    * queries keeps no cached blocks behind. */
  def run(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val e = Edges.orientByDegree(edges).persist()
    // global-bound seed pruning: a seed whose candidate set (out-
    // neighborhood) cannot reach the greedy lower bound hosts neither a
    // maximum clique nor a tie (its best is 1+outdeg < bound <= max), so
    // it is dropped BEFORE the task pull — strictly-less keeps every
    // possible tie exact
    val bound = greedyBound(e)
    val survivors = e.groupBy(col("src").as("seed"))
      .agg(count(lit(1)).as("outdeg"))
      .filter(col("outdeg") + 1 >= bound).select(col("seed"))
    val eS = e.join(survivors.withColumnRenamed("seed", "src")
      .hint("SHUFFLE_HASH"), Seq("src"), "left_semi")
    // the task's induced edges probe the FULL oriented edge set
    val per = Edges.taskSubgraphs(
        eS.select(col("src").as("seed"), col("dst").as("v")), e)
      .select(col("seed"), col("members.v"), col("edges"))
      .as[(Long, Array[Long], Array[(Long, Long)])]
      .map { case (seed, ns, es) =>
        val (sz, cnt, wit) = localSearch(ns, es)
        (sz, cnt, seed +: wit)
      }
      .toDF("size", "cliques", "witness").persist()
    val mx = per.agg(max(col("size")).as("max_size"))
    val result = per.join(broadcast(mx), col("size") === col("max_size"))
      .agg(max(col("size")).as("max_size"),
        sum(col("cliques")).as("n_cliques"),
        min(sort_array(col("witness"))).as("witness"))
    val rows = result.collect().toSeq
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), result.schema)
    per.unpersist(); e.unpersist()
    out
  }
}
