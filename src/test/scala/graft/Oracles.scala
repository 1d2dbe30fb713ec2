package graft

import org.apache.spark.sql.{Column, DataFrame}

/** Single-threaded reference implementations (SURVEY §5.2.2) the engine is
  * checked against: union-find CC, brute-force triangle enumeration, dense
  * power-iteration PageRank, synchronous min-tie-break label propagation.
  * Semantics mirror the reference where it defines them (hash-min CC =
  * `partition/BPartitioner.tpp:90-165`; TC oriented-once counting =
  * `apps/trianglecount.cpp:127-163`).
  */
object Oracles {

  /** vid → min vertex id of its component (union-find). */
  def connectedComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    verts.map(v => v -> find(v)).toMap
  }

  /** Exact triangle count by enumeration over canonical edges. */
  def triangleCount(edges: Seq[(Long, Long)]): Long = {
    val es = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct.toSet
    val verts = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    (for {
      i <- verts.indices; j <- (i + 1) until verts.size
      if es((verts(i), verts(j)))
      k <- (j + 1) until verts.size
      if es((verts(i), verts(k))) && es((verts(j), verts(k)))
    } yield 1).size.toLong
  }

  /** Per-vertex triangle participation counts. */
  def trianglesPerVertex(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct.toSet
    val verts = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val c = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      i <- verts.indices; j <- (i + 1) until verts.size
      if es((verts(i), verts(j)))
      k <- (j + 1) until verts.size
      if es((verts(i), verts(k))) && es((verts(j), verts(k)))
    } {
      c(verts(i)) += 1; c(verts(j)) += 1; c(verts(k)) += 1
    }
    c.toMap
  }

  /** PageRank on a DIRECTED edge list: teleport/N + damping * (inbound
    * contributions + dangling mass / N), `iters` synchronous steps from the
    * uniform vector — exactly the engine's per-superstep update. */
  def pageRank(directed: Seq[(Long, Long)], iters: Int,
               teleport: Double = 0.15, damping: Double = 0.85)
      : Map[Long, Double] =
    pageRankWeighted(directed.map(e => (e._1, e._2, 1.0)), iters,
      teleport, damping)

  /** Weighted PageRank: contribution = rank * w / Σ_out w. */
  def pageRankWeighted(directed: Seq[(Long, Long, Double)], iters: Int,
                       teleport: Double = 0.15, damping: Double = 0.85)
      : Map[Long, Double] = {
    val verts = directed.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = verts.size
    val out = directed.groupBy(_._1).view
      .mapValues(es => (es.map(e => (e._2, e._3)), es.map(_._3).sum)).toMap
    var r = verts.map(v => v -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = verts.filterNot(out.contains).map(r).sum
      val contrib = scala.collection.mutable
        .Map.empty[Long, Double].withDefaultValue(0.0)
      out.foreach { case (u, (nbrs, wsum)) =>
        nbrs.foreach { case (v, w) => contrib(v) += r(u) * (w / wsum) }
      }
      val add = teleport / n + damping * dangling / n
      r = verts.map(v => v -> (add + damping * contrib(v))).toMap
    }
    r
  }

  /** Personalized PageRank: teleport (and dangling) mass distributed
    * uniformly over `seeds` instead of all vertices; rank0 = 1/|S| on
    * seeds, 0 elsewhere. */
  def personalizedPageRank(directed: Seq[(Long, Long)], seeds: Set[Long],
                           iters: Int, teleport: Double = 0.15,
                           damping: Double = 0.85): Map[Long, Double] = {
    val verts = directed.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = directed.groupBy(_._1).view
      .mapValues(es => (es.map(_._2), es.size)).toMap
    def tele(v: Long): Double = if (seeds(v)) 1.0 / seeds.size else 0.0
    var r = verts.map(v => v -> tele(v)).toMap
    for (_ <- 1 to iters) {
      val dangling = verts.filterNot(out.contains).map(r).sum
      val contrib = scala.collection.mutable
        .Map.empty[Long, Double].withDefaultValue(0.0)
      out.foreach { case (u, (nbrs, d)) =>
        nbrs.foreach(v => contrib(v) += r(u) / d)
      }
      r = verts.map(v => v ->
        ((teleport + damping * dangling) * tele(v)
          + damping * contrib(v))).toMap
    }
    r
  }

  /** Synchronous LP, `iters` steps: adopt the mode of neighbor labels, ties
    * to the smallest label; start = own id. Symmetric neighbor relation. */
  def labelPropagation(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    val verts = nbrs.keys.toSeq.sorted
    var l = verts.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      l = verts.map { v =>
        val hist = nbrs(v).map(l).groupBy(identity)
          .view.mapValues(_.size).toMap
        val best = hist.toSeq.sortBy { case (lbl, c) => (-c, lbl) }.head._1
        v -> best
      }.toMap
    }
    l
  }

  /** Longest path ending at each vertex of a DAG (Kahn order). */
  def longestPathLayers(dag: Seq[(Long, Long)]): Map[Long, Long] = {
    val out = dag.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val indeg = scala.collection.mutable.Map.empty[Long, Int]
    dag.foreach { case (a, b) => indeg(a) = indeg.getOrElse(a, 0)
      indeg(b) = indeg.getOrElse(b, 0) + 1 }
    val layer = scala.collection.mutable.Map.empty[Long, Long]
    val ready = scala.collection.mutable.Queue.from(
      indeg.collect { case (v, 0) => v })
    while (ready.nonEmpty) {
      val u = ready.dequeue()
      val lu = layer.getOrElseUpdate(u, 0L)
      out.getOrElse(u, Nil).foreach { w =>
        layer(w) = math.max(layer.getOrElse(w, 0L), lu + 1)
        indeg(w) -= 1
        if (indeg(w) == 0) ready.enqueue(w)
      }
    }
    assert(layer.size == indeg.size, "not a DAG")
    layer.toMap
  }

  /** Seeded Erdős–Rényi canonical edge list. */
  def erdosRenyi(n: Int, p: Double, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    for {
      i <- 1 to n; j <- (i + 1) to n
      if rnd.nextDouble() < p
    } yield (i.toLong, j.toLong)
  }

  /** Seeded Chung–Lu-ish power-law graph with a forced hub. */
  def powerLaw(n: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val w = (1 to n).map(k => math.pow(k, -0.7))
    val tot = w.sum
    val edges = scala.collection.mutable.Set.empty[(Long, Long)]
    def sample(): Int = {
      var u = rnd.nextDouble() * tot; var i = 0
      while (u > w(i) && i < n - 1) { u -= w(i); i += 1 }
      i + 1
    }
    for (_ <- 1 to (3 * n)) {
      val (a, b) = (sample(), sample())
      if (a != b) edges += ((math.min(a, b).toLong, math.max(a, b).toLong))
    }
    // forced hub: vertex 1 touches every 5th vertex
    for (k <- 5 to n by 5) edges += ((1L, k.toLong))
    edges.toSeq.sorted
  }

  /** Single-threaded bounded-horizon Brandes from a landmark seed set:
    * bc(v) = Σ_s δ_s(v) over reached v ≠ s, with δ truncated at maxHop
    * (dependencies of horizon vertices are 0 — the same cut as the
    * engine's [[graft.kernels.Betweenness]]). */
  def brandesLandmark(edges: Seq[(Long, Long)], seeds: Seq[Long],
                      maxHop: Int): Map[Long, Double] = {
    val adj = (edges ++ edges.map(_.swap)).distinct.groupBy(_._1)
      .map { case (v, ps) => v -> ps.map(_._2) }
      .withDefaultValue(Seq.empty)
    val bc = scala.collection.mutable.Map[Long, Double]()
      .withDefaultValue(0.0)
    for (s <- seeds) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      var frontier = Seq(s)
      val order = scala.collection.mutable.ArrayBuffer(s)
      for (l <- 1 to maxHop) {
        val next = scala.collection.mutable.LinkedHashMap[Long, Long]()
        for (v <- frontier; w <- adj(v) if !dist.contains(w))
          next(w) = next.getOrElse(w, 0L) + sigma(v)
        next.foreach { case (w, sg) =>
          dist(w) = l; sigma(w) = sg; order += w
        }
        frontier = next.keys.toSeq
      }
      val delta = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      for (v <- order.reverse;
           w <- adj(v) if dist.get(w).contains(dist(v) + 1))
        delta(v) += sigma(v).toDouble / sigma(w) * (1.0 + delta(w))
      for (v <- order if v != s) bc(v) += delta(v)
    }
    bc.toMap
  }

  /** 60-bit sha priority — parity with the engine's sha60 column form
    * (first 15 hex chars of sha256, base-16 → long). */
  def sha60(s: String): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString.take(15), 16)

  /** The per-bit-sum SimHash that `Dedup.simHash`'s aggregate replaced:
    * `bits` `sum` aggregations of the ±1 bit terms, then a `bits`-way
    * bitwise OR of the positive ones. Returns (id, simhash). */
  def simHashPerBitSum(docs: DataFrame, idCol: String, textCol: String,
                       bits: Int, tokenHash: Column => Column): DataFrame = {
    import org.apache.spark.sql.functions._
    val toks = docs.select(col(idCol).as("id"),
      explode(split(trim(col(textCol)), "\\s+")).as("t"))
      .withColumn("h", tokenHash(col("t")))
    val sums = (0 until bits).map(j =>
      sum(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1)
        .as(s"s$j"))
    val bitCols = (0 until bits).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    toks.groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("id"), bitCols.reduce(_ bitwiseOR _).as("simhash"))
  }

  /** The `transform(sequence(...))` word n-grams that
    * `TextFunctions.wordNgrams`' expression replaced. */
  def wordNgramsTransform(text: Column, n: Int): Column = {
    import org.apache.spark.sql.functions._
    val t = split(trim(text), "\\s+")
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Raw-HLL cardinality estimate from one group's registers (reg →
    * max rank, as `Sketches.hllRegisters` emits them): α_m·m²/Σ 2^(−M_j),
    * missing registers counting as M_j = 0, with the linear-counting
    * correction while the estimate is small and empty registers remain. */
  def hllEstimate(registers: Map[Long, Long], regBits: Int): Double = {
    val m = 1L << regBits
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val zero = m - registers.size
    val raw = alpha * m * m /
      (registers.values.map(r => math.pow(2.0, -r.toDouble)).sum + zero)
    if (raw <= 2.5 * m && zero > 0) m * math.log(m.toDouble / zero) else raw
  }

  /** Kruskal MSF on (src, dst, w) with unique weights → MST edge set. */
  def mstKruskal(weighted: Seq[(Long, Long, Long)]): Set[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    weighted.sortBy { case (s, d, w) => (w, s, d) }.flatMap {
      case (s, d, _) =>
        val (rs, rd) = (find(s), find(d))
        if (rs == rd) None
        else { parent(math.max(rs, rd)) = math.min(rs, rd); Some((s, d)) }
    }.toSet
  }

  /** Tarjan SCC (iterative) on a directed edge list; scc id = min member. */
  def stronglyConnected(directed: Seq[(Long, Long)]): Map[Long, Long] = {
    val verts = directed.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = directed.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      .withDefaultValue(Seq.empty)
    val index = scala.collection.mutable.HashMap.empty[Long, Int]
    val low = scala.collection.mutable.HashMap.empty[Long, Int]
    val onStack = scala.collection.mutable.HashSet.empty[Long]
    val stack = scala.collection.mutable.Stack.empty[Long]
    val comp = scala.collection.mutable.HashMap.empty[Long, Long]
    var counter = 0
    def strong(v0: Long): Unit = {
      // explicit work stack: (vertex, next-child index)
      val work = scala.collection.mutable.Stack((v0, 0))
      while (work.nonEmpty) {
        val (v, ci) = work.pop()
        if (ci == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack.push(v); onStack += v
        }
        var recursed = false
        var i = ci
        val children = adj(v)
        while (i < children.length && !recursed) {
          val w = children(i)
          if (!index.contains(w)) {
            work.push((v, i + 1)); work.push((w, 0)); recursed = true
          } else {
            if (onStack(w)) low(v) = math.min(low(v), index(w))
            i += 1
          }
        }
        if (!recursed) {
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ArrayBuffer.empty[Long]
            var w = -1L
            do { w = stack.pop(); onStack -= w; members += w }
            while (w != v)
            val id = members.min
            members.foreach(m => comp(m) = id)
          }
          if (work.nonEmpty) {
            val (p, _) = work.top
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    verts.foreach(v => if (!index.contains(v)) strong(v))
    comp.toMap
  }

  /** The reference's 15-vertex sample graph
    * (`sample-datasets/normal_sample.adj` — 27 undirected edges). */
  val sample15: Seq[(Long, Long)] = Seq(
    (1L, 2L), (1L, 4L), (1L, 5L), (2L, 3L), (2L, 5L), (3L, 4L), (3L, 5L),
    (3L, 13L), (4L, 5L), (4L, 9L), (6L, 7L), (6L, 9L), (6L, 10L), (7L, 8L),
    (7L, 10L), (7L, 11L), (8L, 9L), (8L, 10L), (9L, 10L), (11L, 12L),
    (11L, 14L), (11L, 15L), (12L, 13L), (12L, 15L), (13L, 14L), (13L, 15L),
    (14L, 15L))
}
