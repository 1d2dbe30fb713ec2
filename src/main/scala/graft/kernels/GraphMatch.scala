package graft.kernels

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Label-constrained pattern matching — the Spark realization of the
  * reference's GM application (`apps/graphmatch.cpp:233-437`: an a-vertex
  * joins its b/c-labeled neighbors hop by hop, backtracking to count
  * matches). Set-at-a-time, the pattern becomes a multiway equi-join chain
  * on a labeled edge table with a label filter per hop (SURVEY §2.3 J5) —
  * exactly what Catalyst join planning + AQE are built for; the label
  * dimension is broadcast (J7).
  *
  * Semantics: count subgraph PATH instances (v1, …, vk) where consecutive
  * vertices are adjacent in the symmetric edge table, label(vi) = Li, and
  * all vertices are pairwise distinct (true subgraph embedding, not a
  * homomorphism — matches the reference's distinct-vertex backtracking,
  * `apps/graphmatch.cpp:148-231`).
  */
object GraphMatch {

  /** Count of embeddings of a labeled path pattern L1..Lk (k >= 1): the
    * reference's aggregated match count — EuroSys Table 4's correctness
    * numbers are exactly this, per pattern.
    * @param verts  (vid, label)
    * @param sym    symmetric edge table (src, dst) */
  def countPath(verts: DataFrame, sym: DataFrame,
                labels: Seq[String]): DataFrame =
    countPattern(verts, sym, labels,
      (1 until labels.size).map(i => (i, i + 1)))

  /** Count of the reference GM demo's TREE pattern
    * (`apps/graphmatch.cpp:233-437`): root labeled `la` with two children
    * labeled `lb` and `lc`, and the `lb`-child has its own child labeled
    * `ld`; all four vertices pairwise distinct. */
  def countTree(verts: DataFrame, sym: DataFrame,
                la: String, lb: String, lc: String, ld: String): DataFrame =
    countPattern(verts, sym, Seq(la, lb, lc, ld), Seq((1, 2), (1, 3), (2, 4)))

  /** GENERAL pattern-graph matching: embeddings of an arbitrary connected
    * labeled pattern (cycles included — beyond the reference's hard-coded
    * path/tree shapes, which `apps/graphmatch.cpp` compiles in).
    *
    * The pattern is vertices 1..k with `labels(i-1)` and undirected
    * `patternEdges` between them. The plan is a join chain in BFS order
    * over the pattern: each new pattern vertex binds through ONE
    * connecting edge (join + broadcast label filter), and every ADDITIONAL
    * pattern edge to already-bound vertices becomes an adjacency-existence
    * join against the (distinct-row) symmetric edge table — cardinality-
    * preserving, so cyclic constraints cost one hash join each.
    * Embeddings are injective (all pattern vertices map to pairwise
    * distinct graph vertices), matching the reference's backtracking.
    *
    * @return embeddings as columns v1..vk */
  def patternMatches(verts: DataFrame, sym: DataFrame,
                     labels: Seq[String],
                     patternEdges: Seq[(Int, Int)]): DataFrame = {
    val k = labels.size
    require(k >= 1)
    val es = patternEdges.map { case (a, b) =>
      require(a != b && a >= 1 && a <= k && b >= 1 && b <= k,
        s"bad pattern edge ($a,$b)")
      (math.min(a, b), math.max(a, b))
    }.distinct
    // BFS order over the pattern from vertex 1 (requires connectivity)
    val order = scala.collection.mutable.ArrayBuffer(1)
    val seen = scala.collection.mutable.Set(1)
    var frontier: Seq[Int] = Seq(1)
    while (frontier.nonEmpty) {
      val next = es.collect {
        case (a, b) if seen(a) && !seen(b) => b
        case (a, b) if seen(b) && !seen(a) => a
      }.distinct.sorted
      next.foreach { v => seen += v; order += v }
      frontier = next
    }
    require(seen.size == k || k == 1, "pattern graph must be connected")

    val lab = verts.select(col("vid"), col("label"))
    def labeled(i: Int) = broadcast(
      lab.filter(col("label") === labels(i - 1)).select(col("vid").as(s"v$i")))
    def edge(a: Int, b: Int) =
      sym.select(col("src").as(s"v$a"), col("dst").as(s"v$b"))

    var m = labeled(order.head)
    val bound = scala.collection.mutable.Set(order.head)
    order.tail.foreach { v =>
      val connecting = es.filter { case (a, b) =>
        (a == v && bound(b)) || (b == v && bound(a)) }
      val anchor = connecting.head match {
        case (a, b) => if (a == v) b else a }
      val distinctness: Column = bound.toSeq.sorted
        .map(j => col(s"v$j") =!= col(s"v$v"))
        .foldLeft(lit(true))(_ && _)
      m = m.join(edge(anchor, v), s"v$anchor")
        .join(labeled(v), Seq(s"v$v"))
        .filter(distinctness)
      // remaining pattern edges to bound vertices: existence joins
      connecting.tail.foreach { case (a, b) =>
        val other = if (a == v) b else a
        m = m.join(edge(other, v), Seq(s"v$other", s"v$v"))
      }
      bound += v
      m = m.select(bound.toSeq.sorted.map(j => col(s"v$j")): _*)
    }
    m
  }

  /** Aggregated general-pattern match count. */
  def countPattern(verts: DataFrame, sym: DataFrame, labels: Seq[String],
                   patternEdges: Seq[(Int, Int)]): DataFrame =
    patternMatches(verts, sym, labels, patternEdges)
      .agg(count(lit(1)).as("matches"))
}
