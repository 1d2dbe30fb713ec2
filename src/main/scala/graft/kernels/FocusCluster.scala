package graft.kernels

import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Focused clustering with outliers — the reference's GC application
  * (`apps/focusCO.cpp`, the FocusCO algorithm) re-expressed Spark-first.
  *
  * Reference semantics, per seed of a weighted graph:
  *  - seed rule (`create_task`, `apps/focusCO.cpp:608-629`): the core is
  *    the seed plus its neighbors with edge weight ≥ MIN_WEIGHT; a task
  *    spawns only when |core| ≥ MIN_CORE_SIZE;
  *  - quality φ(S) = wCut(S)/wVol(S) (weighted conductance-like score;
  *    `get_phi`, `:492-519`), with an unweighted "struct" variant;
  *  - loop (`compute`, `:177-360`): try every candidate, add the one that
  *    lowers weighted φ the most (`expand_once`, `:530-561`); the best
  *    candidate by STRUCT φ that was not the weighted winner is recorded
  *    as an OUTLIER (structurally attached, weight-wise dissimilar — the
  *    FocusCO signature); stop expanding when the improvement is within
  *    DIFF_RATIO (`is_sim_weight`, `:26-29`); then greedily remove any
  *    member whose removal does not increase φ (`contract`, `:563-599`);
  *    iterate until φ stabilizes or ITER_ROUND_MAX; candidates are capped
  *    to the top CAND_MAX_TIME·|S| by edge weight each round (O5 pruning);
  *  - global aggregate: map-union of cluster → outliers (CountAgg,
  *    `:129-169`, A5 in SURVEY §2.4).
  *
  * Deliberate divergences (documented engine semantics — the reference's
  * candidate/iteration order follows hash_map traversal and is therefore
  * nondeterministic run-to-run; ours is deterministic and spec-checkable):
  * ties break to the smallest vertex id everywhere, contraction scans
  * members in ascending id, and the candidate universe is the 2-hop ball
  * of the core (the reference pulls one frontier hop per round and adds at
  * most one vertex per round, so its reach is the same ball on all but
  * pathological graphs). φ is maintained incrementally from full weighted
  * degrees, so cut edges to vertices OUTSIDE the ball are still counted
  * exactly as the reference does.
  */
object FocusCluster {

  final case class Params(
      minWeight: Double = 1.0,   // MIN_WEIGHT
      minCore: Int = 10,         // MIN_CORE_SIZE
      minResult: Int = 0,        // MIN_RESULT_SIZE
      diffRatio: Double = 0.01,  // DIFF_RATIO
      maxRounds: Int = 10,       // ITER_ROUND_MAX
      candCap: Double = 20.0,    // CAND_MAX_TIME
      // dataflow-level ball bound: max EXTENSION vertices per seed (core
      // members always kept), top-K by (max in-edge weight desc, id) —
      // the reference's CAND_MAX_TIME pruning applied BEFORE the per-seed
      // collect, so a power-law hub seed cannot assemble an unbounded
      // single row (`apps/focusCO.cpp:266-276`); dropped counts logged
      maxBall: Int = 100000)

  /** `is_sim_weight` (`apps/focusCO.cpp:26-29`): newPhi `a` vs oldPhi `b`
    * are "similar" when b/a ≤ 1 + diffRatio. */
  private def isSim(a: Double, b: Double, diffRatio: Double): Boolean =
    b / a <= diffRatio + 1.0

  /** Exact local FocusCO loop on one seed's 2-hop ball.
    * @param core    initial members (seed + strong neighbors)
    * @param wdeg    FULL weighted degree per ball vertex
    * @param deg     FULL unweighted degree per ball vertex
    * @param edges   ball-internal weighted edges (u, v, w), u != v
    * @return (cluster sorted, outliers sorted) or None */
  private[kernels] def localFocus(
      core: Array[Long],
      wdeg: Map[Long, Double],
      deg: Map[Long, Long],
      edges: Array[(Long, Long, Double)],
      p: Params): Option[(Array[Long], Array[Long])] = {
    val adj = scala.collection.mutable.HashMap
      .empty[Long, List[(Long, Double)]].withDefaultValue(Nil)
    edges.foreach { case (u, v, w) =>
      adj(u) = (v, w) :: adj(u); adj(v) = (u, w) :: adj(v)
    }
    val s = scala.collection.mutable.TreeSet.from(core)
    def wTo(v: Long): (Double, Long) = {
      var w = 0.0; var d = 0L
      adj(v).foreach { case (u, x) => if (s.contains(u)) { w += x; d += 1 } }
      (w, d)
    }
    // running volumes/cuts of S (weighted and struct)
    var volW = 0.0; var cutW = 0.0; var volD = 0.0; var cutD = 0.0
    def recompute(): Unit = {
      volW = 0.0; cutW = 0.0; volD = 0.0; cutD = 0.0
      s.foreach { v =>
        val (w, d) = wTo(v)
        volW += w / 2; volD += d / 2.0
        cutW += wdeg.getOrElse(v, 0.0) - w
        cutD += deg.getOrElse(v, 0L) - d
      }
    }
    def phiW: Double = if (volW != 0) cutW / volW else -1
    def phiS: Double = if (volD != 0) cutD / volD else -1
    def candidates(): List[Long] = {
      // nbrs(S) \ S, priority = max in-edge weight desc then id asc,
      // capped at candCap * |S| (the reference's topK_cands pruning)
      val best = scala.collection.mutable.HashMap.empty[Long, Double]
      s.foreach(v => adj(v).foreach { case (u, w) =>
        if (!s.contains(u) && w > 0 && w > best.getOrElse(u, 0.0))
          best(u) = w
      })
      best.toList.sortBy { case (id, w) => (-w, id) }
        .take((p.candCap * s.size).toInt).map(_._1)
    }
    recompute()
    val outlier = scala.collection.mutable.TreeSet.empty[Long]
    var initPhi = phiW
    var iterRound = 0 // counts contract-continue cycles (ITER_ROUND_MAX)
    var done = false
    while (!done) {
      val cur = phiW
      if (cur < 0) return None // wVol == 0 — reference clears and finishes
      val curS = phiS
      // expand_once: argmin phi-diff over candidates (weighted & struct)
      var bwNode = -1L; var bwDiff = 0.0
      var bsNode = -1L; var bsDiff = 0.0
      candidates().foreach { c =>
        val (w, d) = wTo(c)
        val nVolW = volW + w
        val nCutW = cutW + wdeg.getOrElse(c, 0.0) - 2 * w
        val nVolD = volD + d
        val nCutD = cutD + deg.getOrElse(c, 0L) - 2.0 * d
        if (nVolW != 0 && nVolD != 0) {
          val dw = nCutW / nVolW - cur
          val ds = nCutD / nVolD - curS
          if (dw < bwDiff) { bwDiff = dw; bwNode = c }
          if (ds < bsDiff) { bsDiff = ds; bsNode = c }
        }
      }
      if (isSim(cur + bwDiff, cur, p.diffRatio)) { bwNode = -1L; bsNode = -1L }
      if (bsNode != -1L) outlier += bsNode
      if (bwNode != -1L) {
        // expansion adds exactly one vertex; the next pass recomputes phi.
        // Expansions are bounded by the ball size, not ITER_ROUND_MAX —
        // mirroring the reference, whose iter_round only counts the
        // contract-then-continue cycles
        val (w, d) = wTo(bwNode)
        volW += w; cutW += wdeg.getOrElse(bwNode, 0.0) - 2 * w
        volD += d; cutD += deg.getOrElse(bwNode, 0L) - 2.0 * d
        s += bwNode
      } else {
        // contraction: greedily drop members that do not worsen phi
        var removed = true
        while (removed) {
          removed = false
          s.toSeq.foreach { v =>
            val (w, d) = wTo(v) // edges from v into S \ {v}
            val nVolW = volW - w
            if (nVolW != 0) {
              val nCutW = cutW - wdeg.getOrElse(v, 0.0) + 2 * w
              if (nCutW / nVolW - phiW <= 0) {
                s -= v; removed = true
                volW = nVolW; cutW = nCutW
                volD -= d; cutD -= deg.getOrElse(v, 0L) - 2.0 * d
              }
            }
          }
        }
        outlier --= s // BSN <- BSN \ Cluster (reference `:327`)
        if (!isSim(cur, initPhi, p.diffRatio) && iterRound < p.maxRounds) {
          initPhi = cur; iterRound += 1
        } else done = true
      }
    }
    if (s.size < math.max(p.minResult, 1)) None
    else Some((s.toArray, (outlier -- s).toArray))
  }

  /** Canonical weighted edges (src, dst, weight) as (src, dst, w: double). */
  private def weighted(wedges: DataFrame): DataFrame =
    wedges.select(col("src"), col("dst"), col("weight").cast("double").as("w"))

  /** Both directions of canonical weighted edges (src, dst, w). */
  private def symmetric(e: DataFrame): DataFrame =
    e.union(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))

  /** The seed rule (`create_task`, `apps/focusCO.cpp:608-629`) over the
    * symmetric weighted edges: per seed, (seed, core_size, core) with
    * core = {seed} ∪ strong neighbors (edge weight ≥ `minWeight`) as
    * sorted ids, kept iff |core| ≥ `minCore`. The one derivation of the
    * core: [[seedCores]] formats it, [[run]] seeds the φ loop with it. */
  private def cores(sym: DataFrame, minWeight: Double,
                    minCore: Int): DataFrame = {
    val strong = sym.filter(col("w") >= minWeight)
    strong.select(col("src").as("seed"), col("dst").as("m"))
      .union(strong.select(col("src").as("seed"), col("src").as("m")))
      .distinct()
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("core_size"),
        sort_array(collect_set(col("m"))).as("core"))
      .filter(col("core_size") >= minCore)
  }

  /** The seed/core stage ALONE, exactly as [[run]] derives it: plain SQL,
    * so the stage feeding the greedy φ loop is hash-oracled (q68; the same
    * promotion move that isolated the Voronoi flood as q56). The local
    * loop itself stays spec-covered (MiningSpec hand-traced oracle).
    * Input: canonical weighted edges (src, dst, weight), src < dst.
    * Output: (seed, core_size, core) with core a sorted-id CSV. */
  def seedCores(wedges: DataFrame, minWeight: Double,
                minCore: Int): DataFrame =
    cores(symmetric(weighted(wedges)), minWeight, minCore)
      .select(col("seed"), col("core_size"),
        array_join(col("core").cast("array<string>"), ",").as("core"))

  /** Global GC result over a weighted canonical edge table (src, dst,
    * weight) with src < dst — the reference CountAgg co_map (A5
    * map-union): one row per distinct cluster with the UNION of its
    * reported outlier sets (the reference's map insert keeps whichever
    * seed's set arrived first — nondeterministic across workers; the
    * union is the deterministic closure of that).
    *
    * Each qualifying seed's task is its 2-hop ball — the core plus the
    * core's top-`maxBall` neighbors — with every ball vertex's FULL
    * weighted and unweighted degree (cut terms count edges to anywhere,
    * ball or not) and the ball-internal edges
    * ([[Edges.taskSubgraphs]]); [[localFocus]] runs on it.
    * Eager; caches released before return. */
  def run(spark: SparkSession, wedges: DataFrame,
          p: Params = Params()): DataFrame = {
    import spark.implicits._
    val e = weighted(wedges)
    val sym = symmetric(e).persist()
    val core = cores(sym, p.minWeight, p.minCore)
      .select(col("seed"), explode(col("core")).as("v"))
    // the extension layer is deterministically truncated per seed (best
    // in-edge weight desc, id asc) BEFORE any collect_list, so the
    // heaviest row a hub seed can build is bounded — the set-at-a-time
    // form of the reference's candidate pruning; candidates() re-applies
    // the per-round candCap·|S| cap inside the local loop
    val extRanked = core.join(sym, core("v") === sym("src"))
      .select(col("seed"), col("dst").as("v"), col("w"))
      .join(core, Seq("seed", "v"), "left_anti")
      .groupBy(col("seed"), col("v")).agg(max(col("w")).as("bw"))
    val win = Window.partitionBy(col("seed"))
      .orderBy(col("bw").desc, col("v"))
    val dropped = Observation()
    val ext = extRanked.withColumn("rn", row_number().over(win))
      .observe(dropped, count(when(col("rn") > p.maxBall, 1)).as("n"))
      .filter(col("rn") <= p.maxBall)
    val degs = sym.groupBy(col("src").as("v"))
      .agg(sum(col("w")).as("wdeg"), count(lit(1)).as("deg"))
    val ball = core.withColumn("core", lit(true))
      .union(ext.select(col("seed"), col("v"), lit(false).as("core")))
      .join(degs, "v")
      .select(col("seed"), col("v"), col("wdeg"), col("deg"), col("core"))
      .persist()
    ball.count() // materializes the ball; its job observes the drop count
    // absent when adaptive execution prunes an empty extension branch
    val n = dropped.get.getOrElse("n", 0L).asInstanceOf[Long]
    if (n > 0)
      System.err.println(
        s"[FocusCluster] ball cap maxBall=${p.maxBall} dropped $n " +
          "extension vertices (weakest-weight first, deterministic)")
    val result = Edges.taskSubgraphs(ball, e)
      .as[(Long, Array[(Long, Double, Long, Boolean)],
           Array[(Long, Long, Double)])]
      .flatMap { case (_, ms, es) =>
        val core = ms.collect { case (v, _, _, true) => v }
        localFocus(core, ms.map(m => m._1 -> m._2).toMap,
          ms.map(m => m._1 -> m._3).toMap, es, p)
      }
      .toDF("cluster", "outliers")
      .groupBy(col("cluster"))
      .agg(array_sort(array_distinct(flatten(collect_list(col("outliers")))))
        .as("out"))
      .select(
        array_join(col("cluster").cast("array<string>"), ",").as("cluster"),
        array_join(col("out").cast("array<string>"), ",").as("outliers"),
        size(col("cluster")).as("size"))
      // distributed eager materialization — the cluster set is unbounded,
      // so no driver collect (same rule as Community.run)
      .localCheckpoint(eager = true)
    sym.unpersist(); ball.unpersist()
    result
  }
}
