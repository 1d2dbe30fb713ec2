package graft

import graft.graph.Edges
import graft.kernels._
import org.apache.spark.sql.functions._

/** Engine kernels vs single-threaded oracles on golden micro-graphs
  * (FIXTURES.md §3), the reference's 15-vertex sample, and seeded random
  * graphs (FIXTURES.md §4). CC/LP/TC exact; PR allclose (north rule).
  */
class KernelSpec extends SparkSpec {

  private val golden: Map[String, Seq[(Long, Long)]] = Map(
    "triangle" -> Seq((1L, 2L), (2L, 3L), (1L, 3L)),
    "path4" -> Seq((1L, 2L), (2L, 3L), (3L, 4L)),
    "star5" -> (2L to 5L).map(k => (1L, k)),
    "twoComp" -> Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L)),
    "bowtie" -> Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)),
    "k4" -> Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)),
    "sample15" -> Oracles.sample15)

  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(spark, Edges.symmetrize(edgeDF(edges)))
      .components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components match union-find on golden graphs") {
    golden.foreach { case (name, es) =>
      assert(ccOf(es) === Oracles.connectedComponents(es), s"graph=$name")
    }
  }

  test("flagship entry: sf0.001 co-occurrence components match union-find") {
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().toSeq.map(r =>
        r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
    val edges = pairs(queries.Common.e2(spark, "/root/testdata/sf0.001"))
    assert(edges.nonEmpty)
    assert(pairs(SparkEntry.entry(spark)).sorted ===
      Oracles.connectedComponents(edges).toSeq.sorted)
  }

  test("triangle totals match enumeration") {
    golden.foreach { case (name, es) =>
      assert(TriangleCount.total(edgeDF(es)).head().getLong(0) ===
        Oracles.triangleCount(es), s"graph=$name")
    }
  }

  test("per-vertex triangle counts match enumeration on sample15") {
    val got = TriangleCount.perVertex(edgeDF(Oracles.sample15))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Oracles.trianglesPerVertex(Oracles.sample15))
  }

  test("label propagation matches synchronous min-tie-break oracle") {
    Seq("triangle", "twoComp", "sample15").foreach { name =>
      val es = golden(name)
      val got = LabelPropagation.run(spark, Edges.symmetrize(edgeDF(es)), 5)
        .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Oracles.labelPropagation(es, 5), s"graph=$name")
    }
  }

  test("pagerank (10 supersteps, undirected) allclose 1e-9 vs oracle; sums to 1") {
    Seq("star5", "sample15").foreach { name =>
      val es = golden(name)
      val sym = es ++ es.map(_.swap)
      val expect = Oracles.pageRank(sym, 10)
      val got = PageRank.run(spark, Edges.symmetrize(edgeDF(es)),
        fixedIter = Some(10)).ranks
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet === expect.keySet, s"graph=$name")
      got.foreach { case (v, r) =>
        assert(math.abs(r - expect(v)) < 1e-9, s"graph=$name vid=$v")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9, s"graph=$name mass")
    }
  }

  test("pagerank handles dangling vertices and directed edges") {
    // 1→2, 2→3, 3→1 cycle plus 1→4 where 4 is a sink (dangling)
    import spark.implicits._
    val directed = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val df = directed.toDF("src", "dst")
    val expect = Oracles.pageRank(directed, 15)
    val got = PageRank.run(spark, df, fixedIter = Some(15)).ranks
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (v, r) =>
      assert(math.abs(r - expect(v)) < 1e-12, s"vid=$v")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("pagerank converges at 1e-6 and matches oracle at the same step count") {
    val res = PageRank.run(spark,
      Edges.symmetrize(edgeDF(Oracles.sample15)), tol = 1e-6, maxIter = 100)
    assert(res.converged)
    val sym = Oracles.sample15 ++ Oracles.sample15.map(_.swap)
    val expect = Oracles.pageRank(sym, res.iterations)
    res.ranks.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - expect(r.getLong(0))) < 1e-6)
    }
  }

  test("pagerank symmetric fast path equals the general path bitwise") {
    val sym = Edges.symmetrize(edgeDF(Oracles.sample15))
    val gen = PageRank.run(spark, sym, fixedIter = Some(6)).ranks
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fast = PageRank.run(spark, sym, fixedIter = Some(6), symmetric = true)
      .ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gen === fast)
  }

  /** Plain-Scala PageRank: weighted (share = w / Σ_out w), personalized
    * over `seeds` (all vertices when empty), warm-started from `init`
    * (others start at their teleport share), dangling mass recycled
    * through the teleport distribution. */
  private def pageRankOracle(edges: Seq[(Long, Long, Double)],
                             seeds: Set[Long], init: Map[Long, Double],
                             iters: Int): Map[Long, Double] = {
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val out = edges.groupBy(_._1).map { case (u, es) => u -> (es, es.map(_._3).sum) }
    val n = verts.size
    def tele(v: Long): Double =
      if (seeds.isEmpty) 1.0 / n else if (seeds(v)) 1.0 / seeds.size else 0.0
    var r = verts.map(v => v -> init.getOrElse(v, tele(v))).toMap
    for (_ <- 1 to iters) {
      val dm = verts.filterNot(out.contains).map(r).sum
      val c = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      out.foreach { case (u, (es, ws)) => es.foreach(e => c(e._2) += r(u) * (e._3 / ws)) }
      r = verts.map(v => v -> ((0.15 + 0.85 * dm) * tele(v) + 0.85 * c(v))).toMap
    }
    r
  }

  /** Directed hash-min to fixpoint over the sources: a vertex takes the
    * min label of its in-neighbours; a destination outside the sources
    * is no vertex. */
  private def hashMinOracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val verts = edges.map(_._1).toSet
    var l = verts.map(v => v -> v).toMap
    var changed = true
    while (changed) {
      val next = edges.filter(e => verts(e._2)).groupBy(_._2).map {
        case (v, in) => v -> math.min(l(v), in.map(e => l(e._1)).min)
      }
      val l2 = l ++ next
      changed = l2 != l
      l = l2
    }
    l
  }

  /** Synchronous weighted LP over the sources of a symmetric weighted
    * edge list: the label of greatest weight sum, ties to the smallest. */
  private def weightedLpOracle(edges: Seq[(Long, Long, Long)],
                               iters: Int): Map[Long, Long] = {
    val in = edges.groupBy(_._2)
    var l = edges.map(_._1).distinct.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      l = l.map { case (v, old) =>
        in.get(v).map { es =>
          es.groupBy(e => l(e._1)).map { case (lbl, g) => lbl -> g.map(_._3).sum }
            .toSeq.sortBy { case (lbl, w) => (-w, lbl) }.head._1
        }.fold(v -> old)(v -> _)
      }
    }
    l
  }

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def longsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pagerank on blocks: directed, dangling, weighted, personalized, warm-started (1e-12)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // 40 vertices; 31-40 only receive (dangling), weights 1..9
    val es = (for {
      u <- 1L to 30L; v <- 1L to 40L
      if u != v && rnd.nextDouble() < 0.15
    } yield (u, v, (1 + rnd.nextInt(9)).toDouble)).toSeq
    val seeds = Set(2L, 7L, 33L)
    val init = (1L to 20L).map(v => v -> 1.0 / (v + 3)).toMap
    val expect = pageRankOracle(es, seeds, init, 12)
    val got = ranksOf(PageRank.run(spark, es.toDF("src", "dst", "w"),
      fixedIter = Some(12), weightCol = Some("w"),
      personalized = Some(seeds.toSeq.toDF("vid")),
      initRanks = Some(init.toSeq.toDF("vid", "rank"))).ranks)
    assert(got.keySet === expect.keySet)
    got.foreach { case (v, r) =>
      assert(math.abs(r - expect(v)) < 1e-12, s"vid=$v $r vs ${expect(v)}")
    }
  }

  test("cc on blocks: a directed table whose dst set is not within src (Scc's shape)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // sources 1-30; destinations 1-45, so 31-45 receive but are no vertex
    val es = (for {
      u <- 1L to 30L; v <- 1L to 45L
      if u != v && rnd.nextDouble() < 0.05
    } yield (u, v)).toSeq
    assert(es.map(_._2).toSet.exists(v => !es.map(_._1).toSet(v)),
      "test premise: some destination is not a source")
    val got = longsOf(ConnectedComponents.run(spark, es.toDF("src", "dst"))
      .components)
    assert(got === hashMinOracle(es))
  }

  test("weighted LP on blocks: exact integral sums, ties to the smaller label") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // small integral weights on a dense graph: equal sums are common
    val can = (for {
      u <- 1L to 40L; v <- (u + 1) to 40L if rnd.nextDouble() < 0.2
    } yield (u, v, (1 + rnd.nextInt(3)).toLong)).toSeq
    val es = can ++ can.map(e => (e._2, e._1, e._3))
    // premise: a first-superstep tie exists
    val ties = es.groupBy(_._2).values.count { in =>
      val w = in.groupBy(_._1).map(_._2.map(_._3).sum).toSeq.sorted.reverse
      w.size > 1 && w(0) == w(1)
    }
    assert(ties > 0, "test premise: some vertex sees a weight tie")
    Seq(1, 4).foreach { it =>
      val got = longsOf(LabelPropagation.run(spark,
        es.toDF("src", "dst", "weight"), it, weightCol = Some("weight")).labels)
      assert(got === weightedLpOracle(es, it), s"iterations=$it")
    }
  }

  test("blocks: more blocks than vertices leaves empty blocks that change nothing") {
    val es = Seq((1L, 2L), (2L, 3L), (4L, 5L))
    val sym = es ++ es.map(_.swap)
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      assert(sym.flatMap(e => Seq(e._1, e._2)).map(graft.engine.Blocks
        .blockOf(_, 16)).toSet.size < 16, "test premise: some block is empty")
      val df = Edges.symmetrize(edgeDF(es))
      val pr = ranksOf(PageRank.run(spark, df, fixedIter = Some(8)).ranks)
      val expect = Oracles.pageRank(sym, 8)
      assert(pr.keySet === expect.keySet)
      pr.foreach { case (v, r) => assert(math.abs(r - expect(v)) < 1e-12, s"vid=$v") }
      assert(longsOf(ConnectedComponents.run(spark, df).components) ===
        Oracles.connectedComponents(es))
      assert(longsOf(LabelPropagation.run(spark, df, 3).labels) ===
        Oracles.labelPropagation(es, 3))
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("blocks: a hub that receives from every block") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // hub 0 with 60 leaves, and a ring through the leaves
    val es = (1L to 60L).map(v => (0L, v)) ++ (1L to 60L).map(v => (v, v % 60 + 1))
    val sym = es ++ es.map(_.swap)
    assert((1L to 60L).map(graft.engine.Blocks.blockOf(_, n)).toSet.size === n,
      "test premise: the hub's in-neighbours span every block")
    val df = Edges.symmetrize(edgeDF(es))
    val pr = ranksOf(PageRank.run(spark, df, fixedIter = Some(10)).ranks)
    val expect = Oracles.pageRank(sym, 10)
    pr.foreach { case (v, r) => assert(math.abs(r - expect(v)) < 1e-12, s"vid=$v") }
    assert(longsOf(ConnectedComponents.run(spark, df).components) ===
      Oracles.connectedComponents(es))
    assert(longsOf(LabelPropagation.run(spark, df, 4).labels) ===
      Oracles.labelPropagation(es, 4))
  }

  test("a steady superstep moves O(|V| · blocks) shuffle bytes, not the |E|-row edge table") {
    import graft.engine.ShuffleMeter
    val blocks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // three 100-cliques joined by a path: |E| = 29,704 directed edges,
    // |V| = 300, so |E| / (|V| · blocks) ≈ 25 at 4 blocks
    val es = (0 until 3).flatMap { c =>
      val base = c * 100L
      for (u <- base until base + 100; v <- (u + 1) until base + 100) yield (u, v)
    } ++ Seq((99L, 100L), (199L, 200L))
    val sym = Edges.symmetrize(edgeDF(es)).persist()
    val nE = sym.count()
    val nV = 300L
    // the bytes of one exchange of the edge table
    val meter = new ShuffleMeter(spark)
    sym.repartition(blocks, col("dst")).foreach(_ => ())
    Thread.sleep(500) // the listener bus delivers task ends asynchronously
    val edgeBytes = meter.snapshot._2
    meter.close()
    assert(edgeBytes > 0L)
    // per vertex-block pair: a slot's message and the routed state row,
    // each under 64 bytes serialized, plus one message header per pair
    // of blocks
    val bound = 64L * nV * blocks + 1024L * blocks * blocks
    val steady: Seq[(String, Seq[graft.engine.IterationMetric])] = Seq(
      "pagerank" -> PageRank.run(spark, sym, fixedIter = Some(6), symmetric = true)
        .metrics.filter(_.iter >= 3),
      "cc" -> ConnectedComponents.run(spark, sym).metrics.filter(_.iter >= 2),
      "lp" -> LabelPropagation.run(spark, sym, 6).metrics.filter(_.iter >= 3))
    steady.foreach { case (k, ms) =>
      assert(ms.nonEmpty, k)
      ms.foreach { m =>
        val bytes = m.shuffleWriteBytes
        info(s"$k superstep ${m.iter}: $bytes bytes; bound $bound; edge exchange $edgeBytes")
        assert(bytes <= bound, s"$k superstep ${m.iter}: $bytes > $bound bytes")
        assert(bytes * 8 < edgeBytes,
          s"$k superstep ${m.iter}: $bytes vs one edge exchange $edgeBytes")
      }
    }
    assert(nE > 25 * nV)
    sym.unpersist()
  }

  test("random graphs: CC and TC match oracles (seeded ER + power-law)") {
    val graphs = Seq(
      Oracles.erdosRenyi(50, 0.08, seed = 1),
      Oracles.erdosRenyi(80, 0.05, seed = 2),
      Oracles.powerLaw(100, seed = 3))
    graphs.zipWithIndex.foreach { case (es, i) =>
      assert(ccOf(es) === Oracles.connectedComponents(es), s"graph#$i cc")
      assert(TriangleCount.total(edgeDF(es)).head().getLong(0)
        === Oracles.triangleCount(es), s"graph#$i tc")
    }
  }

  test("TC invariant under vertex relabeling") {
    val es = Oracles.erdosRenyi(40, 0.12, seed = 9)
    val relabeled = es.map { case (a, b) =>
      (a * 1000003L % 999983L, b * 1000003L % 999983L)
    }
    assert(TriangleCount.total(edgeDF(es)).head().getLong(0)
      === TriangleCount.total(edgeDF(relabeled)).head().getLong(0))
  }

  test("coOccurrence derives weighted canonical edges; cap bounds hub groups") {
    import spark.implicits._
    val rows = Seq( // group g1: items 1,2,3; g2: items 2,3; g3: item 9 alone
      ("g1", 1L), ("g1", 2L), ("g1", 3L), ("g1", 1L),
      ("g2", 2L), ("g2", 3L), ("g3", 9L)).toDF("g", "item")
    val got = Edges.coOccurrence(rows, "g", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 2L)))
    // cap=2: each group contributes at most C(2,2)=1 pair
    val capped = Edges.coOccurrence(rows, "g", "item", capPerGroup = 2)
    assert(capped.count() <= 2)
  }

  test("orientByDegree preserves the edge set as an undirected relation") {
    val es = Oracles.powerLaw(60, seed = 5)
    val orig = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val got = Edges.orientByDegree(edgeDF(es)).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    assert(got === orig)
  }

  test("personalized pagerank: teleport to seeds, allclose 1e-9; dangling to seeds") {
    import spark.implicits._
    // sample15 symmetric (no dangling) AND a directed graph with dangling
    val cases = Seq(
      (Oracles.sample15 ++ Oracles.sample15.map(_.swap), Set(1L, 5L)),
      (Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (5L, 1L)), Set(1L)))
    cases.foreach { case (es, seeds) =>
      val expect = Oracles.personalizedPageRank(es, seeds, 12)
      val got = PageRank.run(spark, es.toDF("src", "dst"),
          fixedIter = Some(12), personalized = Some(seeds.toSeq.toDF("vid")))
        .ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet === expect.keySet)
      got.foreach { case (v, r) =>
        assert(math.abs(r - expect(v)) < 1e-9, s"vid=$v $r vs ${expect(v)}")
      }
      // mass conservation: ranks sum to 1 (teleport+dangling recycled)
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    }
  }

  test("multi-source BFS distances match single-threaded BFS on every golden graph") {
    import spark.implicits._
    golden.foreach { case (name, es) =>
      val sym = es ++ es.map(_.swap)
      val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        .withDefaultValue(Seq.empty)
      val verts = sym.map(_._1).distinct
      val seedIds = verts.sorted.take(2)
      val maxHop = 3
      // oracle: synchronized multi-source BFS
      val dist = scala.collection.mutable.HashMap(
        seedIds.map(_ -> 0L): _*)
      var frontier = seedIds
      for (h <- 1 to maxHop) {
        frontier = frontier.flatMap(adj(_)).distinct
          .filterNot(dist.contains)
        frontier.foreach(v => dist(v) = h.toLong)
      }
      val got = Bfs.distances(Edges.symmetrize(edgeDF(es)),
          seedIds.toDF("vid"), maxHop)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === dist.toMap, s"graph=$name seeds=$seedIds")
    }
  }

  test("bounded weighted SSSP matches min-over-paths oracle") {
    import spark.implicits._
    // weighted diamond + a shortcut that only pays off over 2 hops
    val ew = Seq((1L, 2L, 1L), (2L, 4L, 1L), (1L, 3L, 5L), (3L, 4L, 1L),
      (4L, 5L, 2L), (1L, 5L, 10L))
    val sym = (ew ++ ew.map(e => (e._2, e._1, e._3)))
    val rounds = 3
    // oracle: min total weight over paths of <= rounds edges
    def best(seeds: Set[Long]): Map[Long, Long] = {
      var dist = seeds.map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        val relaxed = sym.flatMap { case (u, v, w) =>
          dist.get(u).map(du => v -> (du + w))
        }
        dist = (dist.toSeq ++ relaxed).groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).min }
      }
      dist
    }
    val got = Bfs.weightedDistances(
        sym.toDF("src", "dst", "weight"), Seq(1L).toDF("vid"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === best(Set(1L)))
    // the 2-hop route (1-2-4 cost 2) must beat both direct routes
    assert(got(4L) === 2L && got(5L) === 4L)
  }

  test("eigenvector centrality: power-iteration walk counts, L1-normalized") {
    golden.foreach { case (name, es) =>
      val sym = es ++ es.map(_.swap)
      val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val verts = sym.map(_._1).distinct.sorted
      var x = verts.map(_ -> 1.0).toMap
      for (_ <- 1 to 6)
        x = verts.map(v => v -> adj(v).map(x).sum).toMap
      val tot = x.values.sum
      val expect = x.map { case (v, s) => v -> s / tot }
      val got = EigenCentrality.run(spark,
          Edges.symmetrize(edgeDF(es)), 6)
        .scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet === expect.keySet, s"graph=$name")
      got.foreach { case (v, s) =>
        assert(math.abs(s - expect(v)) < 1e-12, s"graph=$name vid=$v")
      }
    }
  }

  test("k-truss fixpoint matches a brute-force peeler on golden + random graphs") {
    // brute-force: recount per-edge triangle support, drop < k-2, repeat
    def trussOracle(es: Seq[(Long, Long)], k: Int,
                    maxRounds: Int = Int.MaxValue): Set[(Long, Long)] = {
      var cur = es.map { case (a, b) => (a min b, a max b) }.toSet
      var changed = true
      var round = 0
      while (changed && round < maxRounds) {
        round += 1
        val sup = scala.collection.mutable.Map.empty[(Long, Long), Int]
          .withDefaultValue(0)
        val vs = cur.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
        for {
          Seq(a, b, c) <- vs.combinations(3)
          if cur((a, b)) && cur((a, c)) && cur((b, c))
        } Seq((a, b), (a, c), (b, c)).foreach(e => sup(e) += 1)
        val next = cur.filter(e => sup(e) >= k - 2)
        changed = next != cur
        cur = next
      }
      cur
    }
    // two hubs joined to every vertex of a 21-vertex path: at k = 4 the
    // peel eats one path position from each end per round, 11 rounds
    val fan = (0L until 20L).map(i => (i, i + 1)) ++
      (for { h <- Seq(100L, 101L); i <- 0L to 20L } yield (h, i))
    val graphs = golden ++ Map(
      "er20" -> Oracles.erdosRenyi(20, 0.35, seed = 7),
      "k5bridge" -> (for { i <- 1L to 5L; j <- i + 1 to 5L } yield (i, j))
        .++(Seq((5L, 6L), (6L, 7L))),
      "fan" -> fan)
    def truss(es: Seq[(Long, Long)], k: Int, maxRounds: Int = Int.MaxValue) =
      KTruss.run(edgeDF(es), k, maxRounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graphs.foreach { case (name, es) =>
      for (k <- Seq(3, 4))
        assert(truss(es, k) === trussOracle(es, k), s"graph=$name k=$k")
    }
    // the deep peel's prefixes: rounds 9 and 10 still remove edges
    for (r <- Seq(9, 10)) {
      val prefix = trussOracle(fan, 4, r)
      assert(prefix.nonEmpty && truss(fan, 4, r) === prefix, s"rounds=$r")
    }
  }

  test("triangle support equals |N(u) ∩ N(v)|; no cache outlives a call") {
    // hub 1 (degree 5) sits above its low-degree neighbors in degree
    // order, so orientation reverses id order on its triangles
    val revHub = (2L to 6L).map(k => (1L, k)) ++ Seq((2L, 3L), (3L, 4L))
    assert(Edges.orientByDegree(edgeDF(revHub)).collect()
      .exists(r => r.getLong(0) > r.getLong(1)))
    val k5bridge = (for { i <- 1L to 5L; j <- i + 1 to 5L } yield (i, j)) ++
      Seq((5L, 6L), (6L, 7L))
    val graphs = golden ++ Map(
      "er20" -> Oracles.erdosRenyi(20, 0.35, seed = 7),
      "pl60" -> Oracles.powerLaw(60, seed = 5),
      "k5bridge" -> k5bridge, "revHub" -> revHub)
    val got = graphs.map { case (name, es) =>
      val canon = es.map { case (a, b) => (a min b, a max b) }.distinct
      val sym = canon.flatMap(e => Seq(e, e.swap))
      val adj = sym.groupBy(_._1).map { case (v, n) => v -> n.map(_._2).toSet }
      val expect = canon.map { case (u, v) =>
        (u, v, (adj(u) intersect adj(v)).size.toLong)
      }.toSet
      val sup = leavesNoCache(s"support($name)") {
        TriangleCount.support(edgeDF(es)).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
      assert(sup === expect, s"graph=$name")
      name -> sup
    }
    assert(got("k5bridge").filter(_._2 >= 6L) ===
      Set((5L, 6L, 0L), (6L, 7L, 0L)))
    Seq(k5bridge, Oracles.powerLaw(60, seed = 5)).foreach { es =>
      leavesNoCache("KTruss.run")(KTruss.run(edgeDF(es), 4).collect())
      leavesNoCache("Scan.run")(Scan.run(spark, edgeDF(es)).collect())
      leavesNoCache("edgeEmbeddedness")(
        GraphStats.edgeEmbeddedness(edgeDF(es)).collect())
    }
  }

  test("task subgraphs equal the brute-force induced subgraph per seed") {
    import spark.implicits._
    // "star": seed 1's members {2, 3, 4} induce no edge (2-5 leaves them)
    val graphs = Map(
      "er20" -> Oracles.erdosRenyi(20, 0.35, seed = 7),
      "pl60" -> Oracles.powerLaw(60, seed = 5),
      "star" -> Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 5L)))
    graphs.foreach { case (name, es) =>
      val canon = es.map { case (a, b) => (a min b, a max b) }.distinct
      // members: each vertex's neighbours, with an attr of the (seed, v)
      // pair; edges: canonical, with a weight attr
      val members = canon.flatMap(e => Seq(e, e.swap))
        .map { case (s, v) => (s, v, s"$s>$v") }
      val weighted = canon.map { case (u, v) => (u, v, (31 * u + v) / 4.0) }
      val tasks = Edges.taskSubgraphs(members.toDF("seed", "v", "tag"),
        weighted.toDF("src", "dst", "w"))
      assert(tasks.filter(col("edges").isNull).count() === 0L,
        s"graph=$name: a null edge list")
      val got = tasks.as[(Long, Seq[(Long, String)],
        Seq[(Long, Long, Double)])].collect()
      val expect = members.groupBy(_._1).map { case (s, ms) =>
        val vs = ms.map(_._2).toSet
        s -> (ms.map(m => (m._2, m._3)).sortBy(_._1),
          weighted.filter(e => vs(e._1) && vs(e._2)).sorted)
      }
      assert(got.map(_._1).sorted.toSeq === expect.keys.toSeq.sorted,
        s"graph=$name seeds")
      got.foreach { case (s, ms, ies) =>
        assert(ms === expect(s)._1, s"graph=$name seed=$s members")
        assert(ies.sorted === expect(s)._2, s"graph=$name seed=$s edges")
      }
      if (name == "star")
        assert(got.find(_._1 == 1L).map(_._3) === Some(Seq.empty))
    }
  }

  test("common-neighbor link prediction matches a hand oracle") {
    import spark.implicits._
    golden.foreach { case (name, es) =>
      val sym = (es ++ es.map(_.swap)).distinct
      val adj = sym.groupBy(_._1).map { case (v, n) => v -> n.map(_._2).toSet }
        .withDefaultValue(Set.empty[Long])
      val canon = es.map { case (a, b) => (a min b, a max b) }.toSet
      val verts = sym.map(_._1).distinct
      val topK = 2
      val expect = (for {
        u <- verts; v <- verts if u < v
        if !canon((u, v))
        cn = (adj(u) intersect adj(v)).size if cn > 0
      } yield (u, v, cn.toLong)).flatMap { case (u, v, cn) =>
        Seq((u, v, cn), (v, u, cn))
      }.groupBy(_._1).flatMap { case (vid, cands) =>
        cands.sortBy(c => (-c._3, c._2)).take(topK).zipWithIndex
          .map { case ((_, cand, cn), i) => (vid, cand, cn, i + 1L) }
      }.toSet
      val got = LinkPredict.commonNeighbors(edgeDF(es), topK)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === expect, s"graph=$name")
    }
  }

  test("local clustering coefficient matches the hand formula") {
    (golden + ("er20" -> Oracles.erdosRenyi(20, 0.35, seed = 7)))
      .foreach { case (name, es) =>
        val sym = (es.map { case (a, b) => (a min b, a max b) }.distinct
          .flatMap(e => Seq(e, e.swap)))
        val adj = sym.groupBy(_._1).map { case (v, n) => v -> n.map(_._2).toSet }
        val expect = adj.collect { case (v, nbrs) if nbrs.size >= 2 =>
          val links = (for {
            a <- nbrs.toSeq; b <- nbrs.toSeq if a < b
            if adj(a).contains(b)
          } yield 1).size
          val d = nbrs.size
          (v, d.toLong, links.toLong,
            BigDecimal(2.0 * links / (d.toLong * (d - 1)))
              .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toSet
        val got = GraphStats.localClustering(edgeDF(es)).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .toSet
        assert(got === expect, s"graph=$name")
      }
  }

  test("assortativity matches Newman's formula on golden graphs") {
    // star5 is the classic disassortative extreme; k4 is degree-regular
    // (denominator 0 -> NaN/NULL, skipped)
    golden.filterNot { case (_, es) =>
      val sym = es.flatMap(e => Seq(e, e.swap))
      val deg = sym.groupBy(_._1).map { case (v, n) => v -> n.size }
      deg.values.toSet.size == 1
    }.foreach { case (name, es) =>
      val sym = es.map { case (a, b) => (a min b, a max b) }.distinct
        .flatMap(e => Seq(e, e.swap))
      val deg = sym.groupBy(_._1).map { case (v, n) => v -> n.size.toLong }
      val pairs = sym.map { case (u, v) => (deg(u), deg(v)) }
      val m = pairs.size.toDouble
      val sxy = pairs.map { case (a, b) => a * b }.sum.toDouble
      val sx = pairs.map(_._1).sum.toDouble
      val sx2 = pairs.map { case (a, _) => a * a }.sum.toDouble
      val mu = sx / m
      val expect = (sxy / m - mu * mu) / (sx2 / m - mu * mu)
      val row = GraphStats.assortativity(edgeDF(es)).head()
      assert(row.getLong(0) === pairs.size.toLong, s"graph=$name pairs")
      assert(math.abs(row.getDouble(1) - expect) < 1e-7, s"graph=$name r")
    }
  }

  test("resource-allocation matches hand oracle") {
    golden.foreach { case (name, es) =>
      val canon = es.map { case (a, b) => (a min b, a max b) }.distinct
      val sym = canon.flatMap(e => Seq(e, e.swap))
      val adj = sym.groupBy(_._1).map { case (v, n) => v -> n.map(_._2).toSet }
        .withDefaultValue(Set.empty[Long])
      val verts = sym.map(_._1).distinct
      val topK = 2
      def topk(scoreOf: Long => Long): Set[(Long, Long, Long, Long)] = {
        val cand = for {
          u <- verts; v <- verts if u < v
          if !canon.contains((u, v))
          cns = adj(u) intersect adj(v) if cns.nonEmpty
        } yield (u, v, cns.toSeq.map(scoreOf).sum)
        cand.flatMap { case (u, v, s) => Seq((u, v, s), (v, u, s)) }
          .groupBy(_._1).flatMap { case (vid, cs) =>
            cs.sortBy(c => (-c._3, c._2)).take(topK).zipWithIndex
              .map { case ((_, c, s), i) => (vid, c, s, i + 1L) }
          }.toSet
      }
      val expectRa = topk(c => 1000000L / adj(c).size)
      val gotRa = LinkPredict.resourceAllocation(edgeDF(es), topK)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(gotRa === expectRa, s"graph=$name ra")
    }
  }

  test("edge embeddedness matches per-edge common-neighbor counts") {
    (golden + ("er20" -> Oracles.erdosRenyi(20, 0.35, seed = 7)))
      .foreach { case (name, es) =>
        val canon = es.map { case (a, b) => (a min b, a max b) }.distinct
        val sym = canon.flatMap(e => Seq(e, e.swap))
        val adj = sym.groupBy(_._1).map { case (v, n) => v -> n.map(_._2).toSet }
        val expect = canon.map { case (u, v) =>
          val sup = (adj(u) intersect adj(v)).size.toLong
          val j = sup.toDouble / (adj(u).size + adj(v).size - sup)
          (u, v, sup,
            BigDecimal(j).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toSet
        val got = GraphStats.edgeEmbeddedness(edgeDF(es)).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .toSet
        assert(got === expect, s"graph=$name")
      }
  }

  test("random walks replay the sha-steered choice exactly") {
    def sha60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    (golden + ("er20" -> Oracles.erdosRenyi(20, 0.35, seed = 7)))
      .foreach { case (name, es) =>
        val sym = es.map { case (a, b) => (a min b, a max b) }.distinct
          .flatMap(e => Seq(e, e.swap))
        val adj = sym.groupBy(_._1)
          .map { case (v, n) => v -> n.map(_._2).distinct.sorted }
        val length = 4
        val expect = adj.keys.flatMap { start =>
          var cur = start
          Seq((start, 0L, start)) ++ (1 to length).map { s =>
            val lst = adj(cur)
            val idx = (sha60(s"walk:$start:$s:$cur") % lst.size).toInt
            cur = lst(idx)
            (start, s.toLong, cur)
          }
        }.toSet
        val got = RandomWalk.walks(edgeDF(es), length).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got === expect, s"graph=$name")
      }
  }

  test("skip-gram pairs match a hand count over the walk table") {
    import spark.implicits._
    val walkRows = Seq(
      (1L, 0L, 10L), (1L, 1L, 11L), (1L, 2L, 12L), (1L, 3L, 10L),
      (2L, 0L, 20L), (2L, 1L, 21L))
    val df = walkRows.toDF("walk", "step", "vid")
    val expect = (for {
      (w1, s1, v1) <- walkRows; (w2, s2, v2) <- walkRows
      if w1 == w2 && s1 != s2 && math.abs(s1 - s2) <= 2
    } yield (v1, v2)).groupBy(identity).map { case ((c, x), l) =>
      (c, x, l.size.toLong)
    }.toSet
    val got = RandomWalk.skipGramPairs(df, window = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expect)
  }

  test("deep BFS (60-vertex path, maxHop 50) exercises reached-set compaction") {
    import spark.implicits._
    // a path graph forces one frontier vertex per hop — 50 hops crosses
    // the Frontier fold threshold multiple times, so the folded reached
    // table (not the loose piece union) carries most of the traversal
    val es = (0L until 59L).map(i => (i, i + 1))
    val got = Bfs.distances(Edges.symmetrize(edgeDF(es)),
        Seq(0L).toDF("vid"), 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 50L).map(i => i -> i).toMap)
  }

  /** Jobs `body` runs, counted by job group. AQE map-stage jobs and
    * broadcast builds are switched off for the count: the planner adds
    * those per shuffle whatever the loop does. */
  private def jobsOf[A](body: => A): (Int, A) = {
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      graft.tools.QProbe.countJobs(spark)(body)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("frontier walk: one job per two hops on a 20-hop path") {
    import spark.implicits._
    // a caller that checkpoints (or probes) every hop eagerly runs >= 20
    // jobs here; the Frontier cadence runs one count per two hops
    val sym = Edges.symmetrize(edgeDF((0L until 20L).map(i => (i, i + 1))))
      .persist()
    sym.count()
    val (jobs, got) = jobsOf(Bfs.distances(sym, Seq(0L).toDF("vid"),
      maxHop = 20))
    assert(jobs <= 20 / 2 + 2, s"$jobs jobs for a 20-hop walk")
    assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      (0L to 20L).map(i => i -> i).toMap)
    sym.unpersist()
  }

  /** DAGScheduler's "non-existent accumulator" errors logged while `body`
    * runs: a task reporting a SQL metric the driver has already dropped. */
  private def lostMetrics(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lost = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val log = LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler")
      .asInstanceOf[Logger]
    val capture = new AbstractAppender("lost-metrics", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        Option(e.getThrown).map(_.getMessage)
          .filter(_.contains("non-existent accumulator")).foreach(lost.add)
    }
    capture.start()
    log.addAppender(capture)
    try body finally { log.removeAppender(capture); capture.stop() }
    lost.toArray(Array.empty[String]).toSeq
  }

  test("frontier and peel runs report every SQL metric to a live plan") {
    import spark.implicits._
    import graft.engine.{Frontier, Peel}
    // every task collects garbage: a plan the driver no longer reaches has
    // its metrics dropped before the task reports them
    val gc = udf { (v: Long) => System.gc(); v }
    val sym = Edges.symmetrize(edgeDF((0L until 12L).map(i => (i, i + 1))))
      .persist()
    // 12 hops: more than FoldAt pieces, so the walk folds
    val walk = lostMetrics {
      val r = Frontier.run(sym, Seq(0L).toDF("vid"), Seq("vid"), 12) {
        (e, last, _) => last.join(e, last("vid") === e("src"))
          .select(gc(e("dst")).as("vid")).distinct()
      }
      assert(r.rows === 13L)
    }
    assert(walk.isEmpty,
      s"${walk.size} lost in a frontier walk: ${walk.take(1).mkString}")
    val peel = lostMetrics {
      val r = Peel.run(Vector(Edges.vertexIds(sym), sym),
          Seq.empty[Long].toDF("vid"), 20) { st =>
        st.live(0).agg(min(gc(col("vid"))).as("vid"))
      }((st, out) => Edges.withoutVertices(st.live, out))
      assert(r.emitted.count() === 13L)
    }
    assert(peel.isEmpty,
      s"${peel.size} lost in a peel: ${peel.take(1).mkString}")
    sym.unpersist()
  }

  test("superstep stats are observed: a superstep runs only its materialization's jobs") {
    import graft.engine.{Checkpointer, Superstep}
    // a 20-hop path: none of the three kernels settles within k supersteps
    val sym = Edges.symmetrize(edgeDF((0L until 20L).map(i => (i, i + 1))))
      .persist()
    sym.count()
    val k = 3
    Seq(false, true).foreach { durable =>
      def ck(): Option[Checkpointer] =
        if (!durable) None
        else Some(new Checkpointer(
          java.nio.file.Files.createTempDirectory("graft-jobs").toString, "run"))
      // the jobs one state's materialization runs on its own
      val (mat, _) = jobsOf(Superstep.materialize(spark,
        sym.groupBy(col("src").as("vid")).count(), 0, ck()))
      val kernels: Seq[(String, Int => Int)] = Seq(
        "pagerank" -> (i => PageRank.run(spark, sym, tol = 0.0, maxIter = i,
          symmetric = true, ckpt = ck()).metrics.size),
        "cc" -> (i => ConnectedComponents.run(spark, sym, maxIter = i,
          ckpt = ck()).metrics.size),
        "lp" -> (i => LabelPropagation.run(spark, sym, i, ckpt = ck())
          .metrics.size))
      kernels.foreach { case (name, run) =>
        val (pre, _) = jobsOf(run(0))
        val (all, steps) = jobsOf(run(k))
        assert(steps === k, s"$name durable=$durable")
        assert((all - pre).toDouble / k === mat.toDouble,
          s"$name durable=$durable: jobs per superstep vs one materialization")
      }
    }
    sym.unpersist()
  }

  test("observed superstep stats equal a recount over consecutive fixed runs") {
    val sym = Edges.symmetrize(edgeDF(Oracles.powerLaw(60, seed = 5)))
      .persist()
    val n = Edges.vertexIds(sym).count()
    def ranks(i: Int) = PageRank.run(spark, sym, fixedIter = Some(i)).ranks
    val pr = PageRank.run(spark, sym, fixedIter = Some(4))
    assert(pr.metrics.map(_.iter) === (1 to 4))
    pr.metrics.foreach { m =>
      val expect = ranks(m.iter).as("n").join(ranks(m.iter - 1).as("p"), "vid")
        .agg(max(abs(col("n.rank") - col("p.rank")))).first().getDouble(0)
      assert(m.rows === n, s"pagerank superstep ${m.iter}")
      assert(m.delta == expect, s"pagerank superstep ${m.iter}")
    }
    def labels(i: Int) = LabelPropagation.run(spark, sym, i).labels
    val lp = LabelPropagation.run(spark, sym, 4)
    assert(lp.metrics.nonEmpty)
    lp.metrics.foreach { m =>
      val changed = labels(m.iter).as("n")
        .join(labels(m.iter - 1).as("p"), "vid")
        .filter(col("n.label") =!= col("p.label")).count()
      assert(m.rows === n, s"lp superstep ${m.iter}")
      assert(m.delta == changed.toDouble, s"lp superstep ${m.iter}")
    }
    sym.unpersist()
  }

  test("empty edge table: PageRank, CC and LP stop with observed rows == 0") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.{Seconds, Span}
    import spark.implicits._
    // a plan that never reported its observed metrics would block forever
    implicit val signaler: Signaler = ThreadSignaler
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    TimeLimits.failAfter(Span(120, Seconds)) {
      val pr = PageRank.run(spark, empty, symmetric = true)
      val cc = ConnectedComponents.run(spark, empty)
      val lp = LabelPropagation.run(spark, empty, 5)
      Seq("pagerank" -> pr.metrics, "cc" -> cc.metrics, "lp" -> lp.metrics)
        .foreach { case (name, ms) =>
          assert(ms.nonEmpty && ms.forall(_.rows == 0), name)
        }
      assert(pr.converged && cc.converged && lp.converged)
      assert(pr.ranks.count() === 0 && cc.components.count() === 0 &&
        lp.labels.count() === 0)
    }
  }

  test("BFS with no reachable frontier terminates at the seed set") {
    import spark.implicits._
    val got = Bfs.distances(Edges.symmetrize(edgeDF(Seq((1L, 2L)))),
      Seq(7L).toDF("vid"), 4).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.toSeq === Seq(7L -> 0L))
  }

  test("HITS matches the hand-traced alternating power iteration") {
    import spark.implicits._
    // directed: 1→3, 2→3, 3→4. By hand with h0 ≡ 1:
    //   a1 = {3:2, 4:1}      h1 = {1:2, 2:2, 3:1}
    //   a2 = {3:4, 4:1}      h2 = {1:4, 2:4, 3:1}
    // hub = h2/9, auth = a2/5; missing scores coalesce to 0
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Hits.run(spark, e, iters = 2).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val expect = Map(
      1L -> (4.0 / 9, 0.0), 2L -> (4.0 / 9, 0.0),
      3L -> (1.0 / 9, 4.0 / 5), 4L -> (0.0, 1.0 / 5))
    assert(got.keySet === expect.keySet)
    expect.foreach { case (v, (h, a)) =>
      assert(math.abs(got(v)._1 - h) < 1e-12, s"hub($v)")
      assert(math.abs(got(v)._2 - a) < 1e-12, s"auth($v)")
    }
  }

  test("HITS materializes one state per iteration") {
    import spark.implicits._
    // both half-steps share one materialization: a third iteration adds
    // exactly one job
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
      .persist()
    e.count()
    def jobs(iters: Int): Int = jobsOf(Hits.run(spark, e, iters))._1
    assert(jobs(3) - jobs(2) === 1)
    e.unpersist()
  }

  /** A path through `n` vertices in descending sha60(salt:vid) order:
    * its one local priority minimum is its last vertex. */
  private def shaPath(salt: String, n: Int): Seq[(Long, Long)] = {
    val vs = (1L to n.toLong).sortBy(v => -Oracles.sha60(s"$salt:$v"))
    vs.zip(vs.tail)
  }

  test("MIS is independent and maximal on golden + random graphs") {
    // the sha-descending 20-path: one winner and one loser per round
    val graphs = golden.toSeq.map { case (n, es) => (n, es) } :+
      ("er", Oracles.erdosRenyi(60, 0.07, seed = 7)) :+
      ("pl", Oracles.powerLaw(80, seed = 8)) :+
      ("shaPath", shaPath("mis", 20))
    graphs.foreach { case (name, es) =>
      val got = Mis.run(spark, Edges.symmetrize(edgeDF(es))).collect()
      if (name == "shaPath") assert(got.map(_.getInt(1)).max == 10)
      val mis = got.map(_.getLong(0)).toSet
      val verts = es.flatMap(e => Seq(e._1, e._2)).toSet
      val adj = (es ++ es.map(_.swap)).groupBy(_._1)
        .map { case (v, ps) => v -> ps.map(_._2).toSet }
      es.foreach { case (a, b) =>
        assert(!(mis(a) && mis(b)), s"graph=$name edge ($a,$b) inside MIS")
      }
      (verts -- mis).foreach { v =>
        assert(adj(v).exists(mis), s"graph=$name vertex $v undominated")
      }
    }
  }

  test("MIS fixed-round prefix: round-1 winners are the local sha minima") {
    // path4 1-2-3-4: a vertex wins round 1 iff its sha60 priority is
    // strictly below all neighbors' — replayed here by hand
    val es = golden("path4")
    val p = (1L to 4L).map(v => v -> Oracles.sha60(s"mis:$v")).toMap
    val adj = (es ++ es.map(_.swap)).groupBy(_._1)
      .map { case (v, ps) => v -> ps.map(_._2) }
    val expect = (1L to 4L).filter(v => adj(v).forall(u => p(v) < p(u)))
    val got = Mis.run(spark, Edges.symmetrize(edgeDF(es)), maxRounds = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.map(_._2).forall(_ == 1))
    assert(got.map(_._1).sorted.toSeq === expect.sorted.toSeq)
  }

  test("modularity decomposition matches hand arithmetic") {
    import spark.implicits._
    // twoComp: triangle {1,2,3} (m_A=3, d_A=6) + path {10,11,12}
    // (m_B=2, d_B=4), m=5: both contribute 3/5-(6/10)^2 = 2/5-(4/10)^2 = 0.24
    val e = edgeDF(golden("twoComp"))
    val byComp = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (10L, "B"), (11L, "B"), (12L, "B")).toDF("vid", "label")
    val got = GraphStats.modularity(e, byComp).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got("A") === ((3L, 3L, 6L, 0.24)))
    assert(got("B") === ((3L, 2L, 4L, 0.24)))
    // unlabeled vertex 12: B={10,11} keeps edge 10-11 only, d_B=3
    // -> 1/5 - (3/10)^2 = 0.11; A unchanged
    val partial = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (10L, "B"), (11L, "B")).toDF("vid", "label")
    val got2 = GraphStats.modularity(e, partial).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(got2("A") === 0.24)
    assert(got2("B") === 0.11)
  }

  test("conductance matches hand cut/volume arithmetic") {
    import spark.implicits._
    // triangle {1,2,3} + path {10,11,12}, plus one bridge 3-10:
    // cut(A)=cut(B)=1; vol(A)=7, vol(B)=5, 2m=12
    val e = edgeDF(golden("twoComp") :+ (3L, 10L))
    val byComp = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (10L, "B"), (11L, "B"), (12L, "B")).toDF("vid", "label")
    val got = GraphStats.conductance(e, byComp).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_ => r.getDouble(3)))))
      .toMap
    assert(got("A") === ((1L, 7L, Some(0.2))))      // 1/min(7, 5) = 0.2
    assert(got("B") === ((1L, 5L, Some(0.2))))      // 1/min(5, 7) = 0.2
    // whole-graph community: no outside -> NULL conductance
    val all = Seq(1L, 2L, 3L, 10L, 11L, 12L).map(_ -> "X").toDF("vid", "label")
    val whole = GraphStats.conductance(e, all).collect()
    assert(whole.length == 1 && whole.head.getLong(1) == 0L
      && whole.head.isNullAt(3))
  }

  test("landmark betweenness matches single-threaded Brandes (bounded)") {
    import spark.implicits._
    val graphs = Seq(
      ("path4", golden("path4"), Seq(1L)),       // classic: 2,3 are cut points
      ("bowtie", golden("bowtie"), Seq(1L, 4L)), // hub 3 dominates
      ("sample15", golden("sample15"), Seq(1L, 7L, 13L)),
      ("er", Oracles.erdosRenyi(50, 0.08, seed = 11), Seq(1L, 2L, 3L)))
    graphs.foreach { case (name, es, seeds) =>
      val expect = Oracles.brandesLandmark(es, seeds, maxHop = 3)
      val got = Betweenness.landmark(spark, Edges.symmetrize(edgeDF(es)),
          seeds.toDF("vid"), maxHop = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val verts = es.flatMap(e => Seq(e._1, e._2)).toSet
      verts.foreach { v =>
        val e0 = expect.getOrElse(v, 0.0)
        val g0 = got.getOrElse(v, 0.0) // unreached vertices have no row
        assert(math.abs(g0 - e0) < 1e-8, s"graph=$name bc($v): $g0 vs $e0")
      }
    }
  }

  test("scc matches Tarjan on directed golden graphs") {
    import spark.implicits._
    def dDF(es: Seq[(Long, Long)]) = es.toDF("src", "dst")
    val graphs: Seq[(String, Seq[(Long, Long)])] = Seq(
      // simple 3-cycle: one SCC
      "cycle3" -> Seq((1L, 2L), (2L, 3L), (3L, 1L)),
      // DAG path: all singletons (trim must peel it fast)
      "dagPath" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
      // two cycles bridged one-way: two SCCs + the bridge is no merge
      "twoCycles" -> Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L),
        (10L, 11L), (11L, 12L), (12L, 10L)),
      // figure-eight: shared vertex fuses both cycles into ONE SCC
      "figure8" -> Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
        (4L, 5L), (5L, 3L)),
      // 2-cycle with in/out tails: tails are singletons
      "tailed" -> Seq((1L, 2L), (2L, 1L), (0L, 1L), (2L, 9L)),
      // nested layers: SCC behind an SCC (coloring needs 2 rounds)
      "layered" -> Seq((1L, 2L), (2L, 1L), (2L, 5L), (5L, 6L), (6L, 5L)),
      // directed 20-ring: 19-hop coloring and backward sweep, deep enough
      // to fold the sweep's reached set and lag its convergence probe
      "ring20" -> (1L to 20L).map(i => (i, i % 20 + 1)),
      // 20-vertex DAG path: 10 trim rounds, one vertex off each end
      "dagPath20" -> (1L until 20L).map(i => (i, i + 1)))
    // ten 2-cycles in a one-way chain: vertex 1 colours them all and is
    // the only root, so each outer round finds one SCC — 10 rounds
    val chain = (1L to 10L).flatMap(j =>
      Seq((2 * j - 1, 2 * j), (2 * j, 2 * j - 1), (2 * j, 2 * j + 1)))
      .filter(_._2 <= 20L)
    (graphs :+ ("chain" -> chain)).foreach { case (name, es) =>
      val got = Scc.run(spark, dDF(es))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Oracles.stronglyConnected(es), s"graph=$name")
    }
    intercept[IllegalArgumentException](
      Scc.run(spark, dDF(chain), maxRounds = 9).collect())
  }

  test("scc on sha-directed seeded random graphs matches Tarjan") {
    import spark.implicits._
    Seq(Oracles.erdosRenyi(60, 0.06, seed = 7),
        Oracles.powerLaw(80, seed = 3)).zipWithIndex.foreach {
      case (und, gi) =>
        val canon = und.map { case (a, b) =>
          (math.min(a, b), math.max(a, b)) }.distinct
        // replicate shaDirect's rule locally
        val directed = canon.flatMap { case (s, d) =>
          Oracles.sha60(s"dir:$s:$d") % 3 match {
            case 0 => Seq((s, d))
            case 1 => Seq((d, s))
            case _ => Seq((s, d), (d, s))
          }
        }
        val got = Scc.run(spark, Scc.shaDirect(edgeDF(canon)))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === Oracles.stronglyConnected(directed), s"graph=$gi")
    }
  }

  test("weighted LP follows strength, not adjacency count") {
    import spark.implicits._
    // star: center 1 with leaf 2 (w 10), leaves 3,4 (w 1); one superstep:
    // center adopts 2 (weight 10 beats two weight-1 votes for ids 3,4
    // individually); unweighted LP would tie 2/3/4 and pick min = 2 too,
    // so ALSO check a case where they differ: two w-1 votes for label 9
    // vs one w-5 vote for label 8
    val es = Seq((1L, 2L, 10L), (1L, 3L, 1L), (1L, 4L, 1L))
    val symW = (es ++ es.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "weight")
    val got = LabelPropagation.run(spark, symW, 1,
      weightCol = Some("weight")).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 2L)
    assert(got(2L) === 1L && got(3L) === 1L && got(4L) === 1L)
    val es2 = Seq((1L, 8L, 5L), (1L, 9L, 1L), (1L, 10L, 1L),
      (9L, 10L, 100L))
    val symW2 = (es2 ++ es2.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "weight")
    val got2 = LabelPropagation.run(spark, symW2, 1,
      weightCol = Some("weight")).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // center 1: votes 8(w5), 9(w1), 10(w1) -> 8; plain mode would pick
    // min label 8 only on the count tie — here weight decides outright
    assert(got2(1L) === 8L)
    // 9 and 10 follow their strong mutual edge, not the center
    assert(got2(9L) === 10L && got2(10L) === 9L)
    // all-ones weights: Σ weight IS the neighbor count, so the weighted
    // path must reproduce the unweighted labels exactly
    val sym = Edges.symmetrize(edgeDF(Oracles.powerLaw(50, seed = 11)))
    def labels(res: LabelPropagation.Result): Map[Long, Long] =
      res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(LabelPropagation.run(spark,
        sym.withColumn("weight", lit(1L)), 3, weightCol = Some("weight"))) ===
      labels(LabelPropagation.run(spark, sym, 3)))
  }

  test("pagerank warm start: seeded from fixpoint, one step moves < tol") {
    import spark.implicits._
    val sym = Edges.symmetrize(edgeDF(Oracles.sample15))
    val fix = PageRank.run(spark, sym, tol = 1e-12, symmetric = true)
    assert(fix.converged)
    val warm = PageRank.run(spark, sym, fixedIter = Some(1),
      symmetric = true, initRanks = Some(fix.ranks)).ranks
    val drift = warm.as("w").join(fix.ranks.as("f"), "vid")
      .agg(max(abs(col("w.rank") - col("f.rank")))).head().getDouble(0)
    assert(drift < 1e-10, s"warm restart drifted $drift")
  }

  test("pagerank warm start after deletion matches a local two-phase replay") {
    import spark.implicits._
    val es = Oracles.sample15
    val symSeq = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val phase1 = Oracles.pageRank(symSeq, iters = 6)
    // delete vertices 3 and 9 (symmetric predicate), keep both directions
    val del = Set(3L, 9L)
    val fSeq = symSeq.filter { case (a, b) => !del(a) && !del(b) }
    // local warm-start replay with the engine's arithmetic form
    val odeg = fSeq.groupBy(_._1).map { case (k, v) => k -> v.size }
    val verts = fSeq.map(_._1).distinct
    val n = verts.size
    var r = verts.map(v => v -> phase1(v)).toMap
    (1 to 4).foreach { _ =>
      val in = fSeq.groupBy(_._2).map { case (v, ins) =>
        v -> ins.map { case (u, _) => r(u) / odeg(u) }.sum }
      r = verts.map(v =>
        v -> (0.15 / n + 0.85 * in.getOrElse(v, 0.0))).toMap
    }
    val sym = Edges.symmetrize(edgeDF(es))
    val r0 = PageRank.run(spark, sym, fixedIter = Some(6),
      symmetric = true).ranks
    val ef = sym.filter(!col("src").isInCollection(del) &&
      !col("dst").isInCollection(del))
    val got = PageRank.run(spark, ef, fixedIter = Some(4),
      symmetric = true, initRanks = Some(r0)).ranks
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(got.keySet === r.keySet)
    r.foreach { case (v, exp) =>
      assert(math.abs(got(v) - exp) < 1e-9, s"vid=$v: ${got(v)} vs $exp") }
  }

  test("first-fit coloring equals sequential greedy, proper") {
    def localGreedy(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
      val adj = (es ++ es.map(_.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).toSet }
      val order = verts.sortBy(v => (Oracles.sha60(s"col:$v"), v))
      val colors = scala.collection.mutable.HashMap.empty[Long, Long]
      order.foreach { v =>
        val used = adj.getOrElse(v, Set.empty).flatMap(colors.get)
        colors(v) = Iterator.iterate(0L)(_ + 1).find(!used(_)).get
      }
      colors.toMap
    }
    // the sha-descending path: one priority chain through every vertex
    val graphs = Seq(golden("triangle"), golden("path4"), golden("k4"),
      golden("sample15"), Oracles.erdosRenyi(60, 0.08, seed = 13),
      Oracles.powerLaw(70, seed = 21), shaPath("col", 12))
    graphs.zipWithIndex.foreach { case (es, gi) =>
      val canon = es.map { case (a, b) =>
        (math.min(a, b), math.max(a, b)) }.distinct
      val got = Coloring.firstFit(spark, Edges.symmetrize(edgeDF(canon)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === localGreedy(canon), s"graph=$gi")
      // propriety: no monochromatic edge
      canon.foreach { case (a, b) =>
        assert(got(a) !== got(b), s"graph=$gi edge ($a,$b)") }
    }
  }

  test("coloring's jobs do not grow with the priority chain's depth") {
    def jobs(n: Int): Int = jobsOf(Coloring.firstFit(spark,
      Edges.symmetrize(edgeDF(shaPath("col", n)))))._1
    val (deep, shallow) = (jobs(200), jobs(40))
    assert(deep <= shallow, s"$deep jobs at depth 199, $shallow at depth 39")
  }

  test("butterflies, rectangles, katz: hand-checked golden values") {
    import spark.implicits._
    // butterflies: weights 3,2,1 -> C(3,2)+C(2,2)+0 = 3+1 = 4
    val bf = GraphStats.butterflies(
      Seq((1L, 2L, 3L), (1L, 3L, 2L), (2L, 3L, 1L))
        .toDF("src", "dst", "weight")).head()
    assert((bf.getLong(0), bf.getLong(1), bf.getLong(2),
      bf.getLong(3)) === ((3L, 3L, 6L, 4L)))
    // K4 has exactly 3 rectangles (6 diagonal pairs, each w=2)
    val r = GraphStats.rectangles(
      Edges.symmetrize(edgeDF(golden("k4")))).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
      ((12L, 6L, 3L)))
    assert(GraphStats.rectangles(
      Edges.symmetrize(edgeDF(golden("path4")))).head().getLong(2) === 0L)
    // katz vs a local integer replay on sample15
    val es = Oracles.sample15
    val adjIn = (es ++ es.map(_.swap)).groupBy(_._2)
      .map { case (k, v) => k -> v.map(_._1) }
    val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
    var y = verts.map(_ -> 1L).toMap
    var c = 1L
    (1 to 6).foreach { _ =>
      c *= 4
      y = verts.map(v =>
        v -> (c + adjIn.getOrElse(v, Seq.empty).map(y).sum)).toMap
    }
    val got = EigenCentrality.katzScaled(spark,
        Edges.symmetrize(edgeDF(es)))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got === y)
  }

  test("dagLayers: longest-path layers on oriented path4 + DAG check") {
    // path4 degree orientation: 1->2, 2->3, 4->3; layers 0,1,2,0
    val got = GraphStats.dagLayers(spark,
        Edges.orientByDegree(edgeDF(golden("path4")))).values
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 0L))
    // every oriented edge goes to a strictly higher layer (topo order)
    val or = Edges.orientByDegree(edgeDF(Oracles.erdosRenyi(50, 0.1,
      seed = 17)))
    val lay = GraphStats.dagLayers(spark, or).values
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    or.collect().foreach { r =>
      assert(lay(r.getLong(0)) < lay(r.getLong(1)),
        s"edge ${r.getLong(0)}->${r.getLong(1)} not ascending") }
  }

  /** `body` with AQE partition coalescing on or off. */
  private def coalescing[A](on: Boolean)(body: => A): A = {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.get(k)
    spark.conf.set(k, on.toString)
    try body finally spark.conf.set(k, saved)
  }

  test("dagLayers equals a longest-path oracle in one block and in several") {
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val path = (0L until 199L).map(i => (i, i + 1))
    val byDegree = (Seq(3L, 17L, 29L).map(s =>
        Oracles.erdosRenyi(60, 0.08, seed = s)) :+ path)
      .map(es => pairs(Edges.orientByDegree(edgeDF(es))))
    for (on <- Seq(true, false); es <- byDegree) {
      val run = coalescing(on)(GraphStats.dagLayers(spark, es.toDF("src", "dst")))
      val what = s"coalescing=$on |E|=${es.size}"
      assert(run.values.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        === Oracles.longestPathLayers(es), what)
      if (on) assert(run.blocks === 1, what)
      else assert(run.blocks > 1, what)
      assert(run.rounds <= run.blocks, what)
    }
  }

  test("dagLayers: a backward edge fails loudly, inside a block and across blocks") {
    import spark.implicits._
    // descending vid on a 200-path: every vertex of degree 2 sorts by vid,
    // so the edges between them run backward in the (degree, vid) order
    val path = (0L until 199L).map(i => (i + 1, i)).toDF("src", "dst")
    val inBlock = intercept[Exception](coalescing(true)(
      GraphStats.dagLayers(spark, path)))
    assert(inBlock.getMessage.contains("runs backward inside block 0"))
    val across = intercept[IllegalArgumentException](coalescing(false)(
      GraphStats.dagLayers(spark, path)))
    assert(across.getMessage.contains("cross-block edges run backward"))
  }

  test("dagLayers' jobs do not grow with the DAG's depth") {
    def jobs(n: Long): Int = jobsOf(GraphStats.dagLayers(spark,
      Edges.orientByDegree(edgeDF((0L until n - 1).map(i => (i, i + 1))))))._1
    val (deep, shallow) = (jobs(200), jobs(40))
    assert(deep <= shallow, s"$deep jobs at depth 199, $shallow at depth 39")
  }

  test("coreness h-index fixpoint equals brute peeling") {
    def bruteCoreness(es: Seq[(Long, Long)]): Map[Long, Long] = {
      var adj = (es ++ es.map(_.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).toSet }
      val core = scala.collection.mutable.HashMap.empty[Long, Long]
      var k = 0L
      while (adj.nonEmpty) {
        val peel = adj.filter(_._2.size <= k).keySet
        if (peel.isEmpty) k += 1
        else {
          peel.foreach(core(_) = k)
          adj = (adj -- peel).map { case (v, ns) => v -> (ns -- peel) }
        }
      }
      core.toMap
    }
    Seq(golden("k4"), golden("bowtie"), golden("sample15"),
        Oracles.erdosRenyi(60, 0.08, seed = 19),
        Oracles.powerLaw(80, seed = 23)).zipWithIndex.foreach {
      case (es, gi) =>
        val got = KCore.coreness(spark, Edges.symmetrize(edgeDF(es)))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === bruteCoreness(es), s"graph=$gi")
    }
    // path4's middle vertices drop from degree 2 to coreness 1 in round 1,
    // so one round cannot reach the fixpoint
    intercept[IllegalArgumentException](KCore.coreness(spark,
      Edges.symmetrize(edgeDF(golden("path4"))), maxIter = 1))
  }

  test("degreeProfile: exact percentiles on star5") {
    // star5: hub degree 4, four leaves degree 1; n=5 m=4
    // cum: degree 1 -> 4, degree 4 -> 5; p50: ceil(2.5)=3 <= 4 -> 1;
    // p90: ceil(4.5)=5 -> 4; p99: 5 -> 4; density = 4*2e6/20 = 400000
    val r = GraphStats.degreeProfile(edgeDF(golden("star5"))).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ===
      ((5L, 4L, 400000L, 4L, 1L, 4L, 4L)))
  }

  test("rand index: hand-computed pair counts on a 4-point example") {
    import spark.implicits._
    val a = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L))
      .toDF("vid", "la")
    val b = Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 9L)).toDF("vid", "lb")
    val r = GraphStats.randIndex(a, b).head()
    // cont: (10,7)=2 (20,7)=1 (20,9)=1; same_both=1, same_a=2, same_b=3,
    // total=6, agreements=2*1+6-2-3=3 -> 500000 ppm
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) === ((4L, 1L, 2L, 3L, 6L, 500000L)))
    // identical clusterings agree perfectly regardless of label names
    val r2 = GraphStats.randIndex(a,
      a.select(col("vid"), (col("la") * 3).as("lb"))).head()
    assert(r2.getLong(5) === 1000000L)
  }

  test("double sweep finds the true diameter on golden graphs") {
    // path4: start=2 (deg tie, min vid), far1=4, far2=1 at dist 3
    val got = GraphStats.doubleSweep(
      Edges.symmetrize(edgeDF(golden("path4")))).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3)) === ((2L, 4L, 1L, 3L)))
    // star5: diameter 2, start is the hub
    val star = GraphStats.doubleSweep(
      Edges.symmetrize(edgeDF(golden("star5")))).head()
    assert(star.getLong(0) === 1L && star.getLong(3) === 2L)
  }

  test("boruvka msf equals kruskal on golden and random graphs") {
    val graphs = Seq(
      golden("triangle"), golden("path4"), golden("twoComp"),
      golden("bowtie"), golden("k4"), golden("sample15"),
      Oracles.erdosRenyi(60, 0.07, seed = 5),
      Oracles.powerLaw(80, seed = 9))
    graphs.zipWithIndex.foreach { case (es, gi) =>
      val canon = es.map { case (a, b) =>
        (math.min(a, b), math.max(a, b)) }.distinct
      val weighted = canon.map { case (s, d) =>
        (s, d, Oracles.sha60(s"w:$s:$d")) }
      val got = Mst.boruvka(spark, Mst.shaWeights(edgeDF(canon)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Oracles.mstKruskal(weighted), s"graph=$gi")
    }
    import spark.implicits._
    // a 512-vertex path whose edge i weighs by the 2-adic valuation of
    // i + 1: every round merges disjoint pairs, so it takes log2 512 = 9
    val ruler = (0L until 511L).map(i =>
      (i, i + 1, java.lang.Long.numberOfTrailingZeros(i + 1) * 1000L + i))
    def msf(maxRounds: Int) = Mst.boruvka(spark,
        ruler.toDF("src", "dst", "w"), maxRounds = maxRounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(msf(9) === Oracles.mstKruskal(ruler))
    intercept[IllegalArgumentException](msf(8))
  }

  test("k-hop features: star5 layers are exact integer sums") {
    // star: center 1 (degree 4), leaves degree 1
    // f1(center) = 4·1 = 4, f1(leaf) = 4; f2(center) = 4·4 = 16, f2(leaf) = 4
    val got = GraphStats.khopFeatures(
        Edges.symmetrize(edgeDF(golden("star5"))), hops = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) === ((4L, 4L, 16L)))
    (2L to 5L).foreach(v => assert(got(v) === ((1L, 4L, 4L)), s"leaf $v"))
  }

  test("contract: supergraph aggregation drops intra-group, sums weight") {
    import spark.implicits._
    // groups: {1,2}→A, {3,4}→B, {5}→C
    val groups = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"), (5L, "C"))
      .toDF("vid", "grp")
    val edges = Seq(
      (1L, 2L, 5L), // intra-A: dropped
      (1L, 3L, 2L), // A-B
      (2L, 4L, 3L), // A-B
      (4L, 5L, 7L), // B-C
      (2L, 5L, 1L)  // A-C
    ).toDF("src", "dst", "weight")
    val got = Edges.contract(edges, groups).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      ("A", "B") -> ((2L, 5L)),
      ("B", "C") -> ((1L, 7L)),
      ("A", "C") -> ((1L, 1L))))
  }

  test("landmark distance bound: exact on a path, never an underestimate") {
    // path 1-2-3-4-5-6; landmark at 1 (smallest sha would vary — call
    // perSeedDistances directly with a pinned seed)
    import spark.implicits._
    val sym = Edges.symmetrize(edgeDF(Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L))))
    val idx = Bfs.perSeedDistances(sym, Seq(3L).toDF("vid"), maxHop = 3)
    val d = idx.collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(d === Map(3L -> 0L, 2L -> 1L, 4L -> 1L, 1L -> 2L, 5L -> 2L,
      6L -> 3L))
    // triangle-inequality bound via the single landmark: est(u,v) =
    // d(u,3)+d(3,v) >= true distance, exact when the landmark is between
    assert(d(1L) + d(5L) == 4L) // true dist 4 — exact (3 lies between)
    assert(d(2L) + d(4L) == 2L) // true dist 2 — exact
    assert(d(4L) + d(5L) == 3L) // true dist 1 — over, never under
  }

  test("greedy matching fixpoint: a maximal matching on every golden graph") {
    // a 20-edge path grown so each edge's sha priority is below the last
    // one's: only its final edge is a local minimum, so one edge matches
    // (and its neighbour leaves) per round — 10 rounds
    val path = Iterator.iterate((0L, Long.MaxValue, Set(0L))) {
      case (v, p, used) =>
        val (u, q) = (1L to 2000L).filterNot(used).map(u =>
            u -> Oracles.sha60(s"mm:${v min u}:${v max u}"))
          .filter(_._2 < p).maxBy(_._2)
        (u, q, used + u)
    }.take(21).map(_._1).toSeq
    val deep = path.zip(path.tail)
    for (g <- Seq("triangle", "path4", "star5", "twoComp", "bowtie", "k4",
                  "deep")) {
      val edges = golden.getOrElse(g, deep)
      val got = Matching.greedy(spark, edgeDF(edges)).collect()
      if (g == "deep") assert(got.map(_.getInt(2)).max == 10)
      val m = got.map(r => (r.getLong(0), r.getLong(1)))
      // a matching: no vertex saturated twice
      val eps = m.flatMap(e => Seq(e._1, e._2))
      assert(eps.length == eps.distinct.length, s"$g not a matching")
      // maximal: every edge touches a saturated endpoint
      val sat = eps.toSet
      val canon = edges.map { case (a, b) =>
        (math.min(a, b), math.max(a, b)) }.distinct
      assert(canon.forall(e => sat(e._1) || sat(e._2)), s"$g not maximal")
      // vertex cover: saturated set covers all edges (2-approx bound)
      assert(Matching.vertexCover(spark, edgeDF(edges))
        .collect().map(_.getLong(0)).toSet == sat, s"$g cover mismatch")
    }
  }

  test("densest peel: K4 core survives the pendant path, argmax is the core") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val census = Densest.peelCensus(spark, edgeDF(edges), rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // round 0: whole graph; round 1: the K4 (avg 18/7, pendants peel);
    // round 2: K4 is regular (deg·4 == 2·6, not >) -> everything peels
    assert(census.toSeq == Seq((0L, 7L, 9L), (1L, 4L, 6L), (2L, 0L, 0L),
      (3L, 0L, 0L), (4L, 0L, 0L)))
    // argmax of n_e/n_v is the K4 round: 6/4 beats the whole graph's 9/7
    assert(census.filter(_._2 > 0).maxBy(c => c._3.toDouble / c._2)._1 == 1L)
    // a 20-path: both ends are at most average, so each round peels two
    // vertices and the 10th empties it; later rounds repeat (0, 0)
    val path = Densest.peelCensus(spark,
        edgeDF((1L until 20L).map(i => (i, i + 1))), rounds = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(path.toSeq === (0L to 12L).map(i =>
      if (i < 10) (i, 20 - 2 * i, 19 - 2 * i) else (i, 0L, 0L)))
  }

  test("rich-club census: K4 plus a pendant isolates the hub club") {
    // K4 on {1,2,3,4} + pendant 5-1: deg(1)=4, deg(2..4)=3, deg(5)=1
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L))
    val got = GraphStats.richClub(edgeDF(edges), Seq(1, 2, 4, 8))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // k=1: club {1,2,3,4}, 6 edges, phi = 12/12 = 1; k=2: same club;
    // k=4 and 8: no vertex with degree > 4 -> no row (consistent with
    // the SQL oracle's grouped-filter shape)
    assert(got == Map(
      1L -> ((4L, 6L, 1.0)),
      2L -> ((4L, 6L, 1.0))))
  }

  test("degreeDelta: changed vertices only, vanish/appear as 0-degree") {
    val before = edgeDF(Seq((1L, 2L), (2L, 3L)))
    val after = edgeDF(Seq((1L, 2L), (4L, 5L)))
    val got = Edges.degreeDelta(before, after).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // vid 1 keeps degree 1 -> absent; 2: 2->1; 3: 1->0; 4,5: 0->1
    assert(got == Map(
      2L -> ((2L, 1L, -1L)),
      3L -> ((1L, 0L, -1L)),
      4L -> ((0L, 1L, 1L)),
      5L -> ((0L, 1L, 1L))))
  }

  test("sweep cut: hand-computed prefix conductances on the bowtie") {
    import spark.implicits._
    val sym = Edges.symmetrize(edgeDF(golden("bowtie")))
    // rank mass on triangle {1,2,3}: ratios 0.2, 0.2, 0.05 -> order 1,2,3
    val ranks = Seq((1L, 0.4), (2L, 0.4), (3L, 0.2)).toDF("vid", "rank")
    val got = SweepCut.sweep(sym, ranks, limit = 10).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    // 2m = 12; {1}: vol 2 cut 2 phi 1; {1,2}: vol 4 internal 2 cut 2
    // phi 0.5; {1,2,3}: vol 8 internal 6 cut 2 denom min(8,4) phi 0.5
    assert(got == Map(
      1 -> ((1L, 2L, 2L, 1.0)),
      2 -> ((2L, 2L, 4L, 0.5)),
      3 -> ((3L, 2L, 8L, 0.5))))
  }

  test("truss communities: bridge between two triangles is cut") {
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val got = KTruss.communities(spark, edgeDF(es), k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("disparity backbone keeps only locally dominant edges") {
    import spark.implicits._
    // hub 1: one heavy edge (w=10) among four light ones (w=1). Keep rule
    // w*k*1000 >= 1500*s: (1,2) from hub 50000 >= 21000 keeps; every
    // light edge fails from both sides (leaf side: 1000w < 1500w — the
    // paper's k=1 exclusion)
    val w = Seq((1L, 2L, 10L), (1L, 3L, 1L), (1L, 4L, 1L), (1L, 5L, 1L),
      (1L, 6L, 1L)).toDF("src", "dst", "weight")
    val got = Edges.disparityBackbone(w, alphaPpt = 1500L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 10L)))
  }

  test("warm-started CC equals the cold fixpoint after edge insertion") {
    golden.foreach { case (name, es) =>
      val full = Edges.symmetrize(edgeDF(es))
      val sub = Edges.symmetrize(edgeDF(es.tail)) // drop one edge
      val warm = ConnectedComponents.run(spark, sub).components
      val inc = ConnectedComponents.run(spark, full,
        initState = Some(warm))
      assert(inc.converged, s"graph=$name")
      val got = inc.components.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Oracles.connectedComponents(es), s"graph=$name")
    }
  }

  test("weighted conductance: hand-computed cut/volume on a labeled path") {
    import spark.implicits._
    val w = Seq((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L), (3L, 4L, 5L))
      .toDF("src", "dst", "weight")
    val lbl = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"))
      .toDF("vid", "label")
    // tot = 18; A: vol 13, cut 5 -> 5/min(13,5) = 1.0; B: vol 5, cut 5
    val got = GraphStats.conductanceWeighted(w, lbl).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got == Map("A" -> ((5L, 13L, 1.0)), "B" -> ((5L, 5L, 1.0))))
  }

  test("s-core: strength peel to fixpoint and cascade-to-empty") {
    import spark.implicits._
    val w = Seq((1L, 2L, 5L), (2L, 3L, 3L), (3L, 4L, 5L))
      .toDF("src", "dst", "weight")
    // s=4: strengths 5,8,8,5 all survive round 1 unchanged -> fixpoint
    val s4 = KCore.sCore(w, s = 4L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s4 == Map(1L -> 5L, 2L -> 8L, 3L -> 8L, 4L -> 5L))
    // s=6: keep {2,3} -> edge (2,3) only -> strengths 3,3 -> empty
    assert(KCore.sCore(w, s = 6L).count() == 0L)
    // s=2 on a unit chain 0..10 anchored by (10, 11, 5): round r peels
    // vertex r-1, the fixpoint is the anchor edge after 10 peeling rounds
    def strengths(maxRounds: Int) = KCore.sCore(cascade, s = 2L, maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(strengths(Int.MaxValue) == Map(10L -> 5L, 11L -> 5L))
    assert(strengths(9) == Map(9L -> 1L, 10L -> 6L, 11L -> 5L))
  }

  private def cascade = {
    import spark.implicits._
    ((0L until 10L).map(i => (i, i + 1, 1L)) :+ ((10L, 11L, 5L)))
      .toDF("src", "dst", "weight")
  }

  test("peel: s-core runs one job per round on a deep cascade") {
    // 10 peeling rounds and the 11th that removes nothing; a loop that
    // checkpoints and counts each round apart runs two jobs per round
    val rounds = 11
    val (jobs, got) = jobsOf(KCore.sCore(cascade, s = 2L).collect())
    assert(got.length == 2)
    assert(jobs <= rounds + 3, s"$jobs jobs for $rounds rounds")
  }

  test("anf: register summary equals a single-threaded HLL ball replay") {
    val regBits = 4; val restBits = 60 - regBits
    def rank(h: Long): Long = {
      val rest = h >> regBits
      if (rest == 0L) restBits + 1L
      // first-'1' position in the restBits-wide padded binary string
      else restBits + 1L - (64 - java.lang.Long.numberOfLeadingZeros(rest))
    }
    def replay(es: Seq[(Long, Long)], hops: Int): Map[Long, (Long, Long)] = {
      val sym = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      val nbrs = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val verts = nbrs.keySet
      var regs: Map[Long, Map[Long, Long]] = verts.map { v =>
        val h = Oracles.sha60(v.toString)
        v -> Map((h % (1L << regBits)) -> rank(h))
      }.toMap
      for (_ <- 1 to hops) regs = verts.map { v =>
        val merged = (v +: nbrs(v)).map(regs)
          .flatten.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        v -> merged
      }.toMap
      regs.map { case (v, m) => v -> ((m.size.toLong, m.values.sum)) }
    }
    Seq("path4", "twoComp", "sample15").foreach { g =>
      val got = GraphStats.anf(Edges.symmetrize(edgeDF(golden(g))), hops = 2)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(got === replay(golden(g), 2), s"graph=$g")
      assert(got.values.forall(_._1 <= 16L))
    }
  }

  test("sage sampling: fanout-capped, sha-deterministic, layered") {
    // star hub 1 with 8 spokes: fanouts (3,2) from seed-forced hub
    val es = (2L to 9L).map(k => (1L, k))
    val sym = Edges.symmetrize(edgeDF(es))
    val got = GraphStats.sageSample(sym, seedPpt = 1000, fanouts = Seq(3, 2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // single-threaded replay of the sha-ranked sampled adjacency
    def ranked(v: Long, nbrs: Seq[Long]): Seq[Long] =
      nbrs.sortBy(d => (Oracles.sha60(s"$v:$d"), d))
    val adj = (es.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seeds = adj.keySet // seedPpt=1000 keeps every vertex
    val l1 = seeds.flatMap(sd =>
      ranked(sd, adj(sd)).take(3).map(d => (sd, 1L, sd, d)))
    val l2 = l1.flatMap { case (sd, _, _, v) =>
      ranked(v, adj(v)).take(2).map(d => (sd, 2L, v, d)) }
    assert(got === (l1 ++ l2))
    // every hub row respects the fanout cap
    assert(got.count { case (s, h, src, _) =>
      s == 1L && h == 1L && src == 1L } == 3)
  }

  test("k4 census: golden counts (K4=1, K5=5, triangle/star=0)") {
    def k4(es: Seq[(Long, Long)]): Long =
      GraphStats.k4Count(edgeDF(es)).collect().head.getLong(0)
    assert(k4(golden("k4")) === 1L)
    assert(k4(golden("triangle")) === 0L)
    assert(k4(golden("star5")) === 0L)
    val k5 = (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)).toSeq
    assert(k4(k5) === 5L) // C(5,4)
    // two K4s sharing a triangle
    val shared = golden("k4") ++ Seq((1L, 5L), (2L, 5L), (3L, 5L))
    assert(k4(shared) === 2L)
  }

  test("wl colors: orbit partition on golden graphs, degree-refining") {
    def classes(es: Seq[(Long, Long)], rounds: Int = 3): Map[Long, Long] =
      WlRefinement.colors(Edges.symmetrize(edgeDF(es)), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 is vertex-transitive: one color class of size 4
    val k4 = classes(golden("k4"))
    assert(k4.values.toSet.size === 1)
    // star: hub alone, leaves together
    val star = classes(golden("star5"))
    assert(star(1L) !== star(2L))
    assert((2L to 5L).map(star).toSet.size === 1)
    // path4: ends {1,4} vs middles {2,3}
    val p = classes(golden("path4"))
    assert(p(1L) === p(4L))
    assert(p(2L) === p(3L))
    assert(p(1L) !== p(2L))
    // refinement never merges distinct degrees (bowtie: center vs wings)
    val bow = classes(golden("bowtie"))
    assert(bow(3L) !== bow(1L))
    assert(Seq(1L, 2L, 4L, 5L).map(bow).toSet.size === 1)
    // class_size column is consistent with the partition
    val rows = WlRefinement.colors(Edges.symmetrize(edgeDF(golden("star5"))), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bySize = rows.groupBy(_._2).map { case (c, g) => c -> g.length }
    rows.foreach { case (_, c, sz) => assert(sz === bySize(c)) }
  }

  test("wl colors: round-1 hash replays the sha60 multiset encoding") {
    // star5 leaf: degree 1, one neighbor of degree 4 -> sha60("1|4:1")
    val got = WlRefinement.colors(Edges.symmetrize(edgeDF(golden("star5"))), 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(2L) === Oracles.sha60("1|4:1"))
    assert(got(1L) === Oracles.sha60("4|1:4"))
  }

  test("molloy-reed: star collapses under hub attack, clique does not") {
    def rows(es: Seq[(Long, Long)]): Map[String, (Long, Long, Long, Long, Int)] =
      GraphStats.molloyReed(Edges.symmetrize(edgeDF(es)), hubPct = 1)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getInt(5)))).toMap
    val star = rows(golden("star5"))
    // full: degrees 4,1,1,1,1 -> kappa = 20/8 = 2.5 (supercritical)
    assert(star("1_full") === ((5L, 8L, 20L, 2500000L, 1)))
    // removing the single hub (ceil(5/100)=1) leaves no edges at all
    assert(star("2_hubs_removed") === ((0L, 0L, 0L, 0L, 0)))
    val k4 = rows(golden("k4"))
    assert(k4("1_full") === ((4L, 12L, 36L, 3000000L, 1)))
    // K4 minus one vertex is a triangle: kappa = 12/6 = 2, still critical
    assert(k4("2_hubs_removed") === ((3L, 6L, 12L, 2000000L, 1)))
  }

  test("neighbor-label diversity: gini over the 1-hop label histogram") {
    import spark.implicits._
    val labels = Seq((2L, "A"), (3L, "A"), (4L, "B"), (5L, "C"))
      .toDF("vid", "label")
    val got = GraphStats.neighborLabelDiversity(
        Edges.symmetrize(edgeDF(golden("star5"))), labels)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // hub sees {A:2, B:1, C:1}: 1 - (4+1+1)/16 = 0.625
    assert(got(1L) === ((4L, 3L, 625000L)))
    // leaves see the unlabeled hub only -> absent from the output
    assert(!got.contains(2L))
    // label the hub too: each leaf sees one label, diversity 0
    val withHub = labels.union(Seq((1L, "H")).toDF("vid", "label"))
    val got2 = GraphStats.neighborLabelDiversity(
        Edges.symmetrize(edgeDF(golden("star5"))), withHub)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    (2L to 5L).foreach(v => assert(got2(v) === ((1L, 1L, 0L))))
  }

  test("ivm degrees: maintained view equals recompute on golden deltas") {
    val base = golden("bowtie")
    val deleted = Seq((1L, 2L))
    val inserted = Seq((5L, 6L), (6L, 7L))
    val modified = (base.filterNot(deleted.contains) ++ inserted)
    val expect = Edges.degrees(Edges.symmetrize(edgeDF(modified)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Edges.maintainDegrees(
        Edges.degrees(Edges.symmetrize(edgeDF(base))),
        edgeDF(deleted), edgeDF(inserted))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
    // deleting a leaf's only edge drops it from the view entirely
    val got2 = Edges.maintainDegrees(
        Edges.degrees(Edges.symmetrize(edgeDF(golden("path4")))),
        edgeDF(Seq((1L, 2L))), edgeDF(Seq.empty))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === Map(2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("label spread: clamped seeds, argmax ties to smaller label") {
    import spark.implicits._
    // path 1-2-3-4-5 with seeds at the ends; 6 isolated (never reached)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
      .toDF("src", "dst")
    val seeds = Seq((1L, 10L), (5L, 20L)).toDF("vid", "label")
    val got = LabelSpread.run(spark, pairs, seeds, rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(1L) === ((10L, 0L)))
    assert(got(5L) === ((20L, 0L)))
    assert(got(2L) === ((10L, 1L))) // round 1 from seed 1
    assert(got(4L) === ((20L, 1L))) // round 1 from seed 5
    // 3 sees both labels in round 2 with equal votes: tie -> smaller
    assert(got(3L) === ((10L, 2L)))
    assert(!got.contains(6L) && !got.contains(7L))
    // seeds never flip: vertex 2 keeps 10 even though 3 later holds 10
    val got1 = LabelSpread.run(spark, pairs, seeds, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!got1.contains(3L))
  }

  test("negative samples: sha replay, never a real edge or self") {
    val sym = Edges.symmetrize(edgeDF(golden("twoComp")))
    val got = GraphStats.negativeSamples(sym, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2))).toSet
    val verts = Set(1L, 2L, 3L, 10L, 11L, 12L)
    val edges = golden("twoComp")
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    // single-threaded replay of the modular-sha rejection sampler
    val mv = verts.max
    val expect = (for {
      v <- verts.toSeq; i <- 0L to 2L
      c = Oracles.sha60(s"$v#$i") % (mv + 1)
      if verts.contains(c) && c != v && !edges.contains((v, c))
    } yield (i, v, c)).toSet
    assert(got === expect)
    got.foreach { case (_, s, d) =>
      assert(!edges.contains((s, d)) && s != d && verts.contains(d))
    }
  }

  test("ego density: star is sparse, clique and leaf are 1.0") {
    def densities(es: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] =
      GraphStats.egoDensity(edgeDF(es)).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3),
          r.getLong(4)))).toMap
    val star = densities(golden("star5"))
    assert(star(1L) == ((4L, 4L, 400000L))) // hub: 4 spokes, no closure
    assert(star(2L) == ((1L, 1L, 1000000L))) // leaf ego = one edge
    val k4 = densities(golden("k4"))
    (1L to 4L).foreach(v => assert(k4(v) == ((3L, 6L, 1000000L))))
  }

  test("louvain local move: components collapse to min-id communities") {
    def run(es: Seq[(Long, Long)]) =
      Louvain.localMove(spark, edgeDF(es), rounds = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two triangles (twoComp's path closed with (10,12)): round 1
    // shuffles singletons, round 2 settles each triangle on its min-id
    // member (hand-traced integer gains)
    assert(run(golden("twoComp") :+ ((10L, 12L))) === Map(1L -> 1L,
      2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    // triangle + PATH 10-11-12 (twoComp as-is): the synchronous update
    // ping-pongs the path — after round 2 the endpoints pair up in 10
    // while the middle vertex sits alone (hand-traced: v11's both
    // neighbors landed in comm 11 after round 1, so gain(11)=16 beats
    // staying in 10)
    assert(run(golden("twoComp")) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 11L, 12L -> 10L))
    // K4: everyone joins community 1 by round 2
    assert(run(golden("k4")) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("onion layers: peel schedule, isolated survivors keep peeling") {
    def run(es: Seq[(Long, Long)], k: Int, rounds: Int) =
      KCore.onionLayers(spark, Edges.symmetrize(edgeDF(es)), k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // star5, k=2: leaves peel in round 1; the hub — ISOLATED once they
    // go (degree 0, absent from the induced edge table) — in round 2
    assert(run(golden("star5"), 2, 4) ===
      Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    // K4 + pendant, k=3: pendant peels round 1, the K4 is the 0-layer core
    assert(run(golden("k4") :+ ((4L, 5L)), 3, 2) ===
      Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 1L))
    // 20-path, k=2: the ends peel each round, 10 layers deep
    assert(run((0L until 19L).map(i => (i, i + 1)), 2, 12) ===
      (0L until 20L).map(i => i -> (math.min(i, 19 - i) + 1)).toMap)
  }

  test("bridge probe: cut edge flagged, cycle edges not") {
    import spark.implicits._
    // two triangles (twoComp + (10,12) closing the path) joined by (3,10)
    val cyc = golden("twoComp") :+ ((10L, 12L))
    val es = cyc :+ ((3L, 10L))
    val cand = es.map { case (a, b) =>
      (s"$a:$b", math.min(a, b), math.max(a, b)) }.toDF("cid", "src", "dst")
    val got = Bridges.probe(spark, edgeDF(es), cand)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((3L, 10L)) === 1L) // the only inter-triangle link
    cyc.foreach { case (a, b) =>
      assert(got((math.min(a, b), math.max(a, b))) === 0L, s"edge ($a,$b)")
    }
    // twoComp as-is is a triangle + PATH: both path edges ARE bridges
    val got2 = Bridges.probe(spark, edgeDF(golden("twoComp")),
      golden("twoComp").map { case (a, b) => (s"$a:$b", a, b) }
        .toDF("cid", "src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got2((10L, 11L)) === 1L)
    assert(got2((11L, 12L)) === 1L)
    assert(got2((1L, 2L)) === 0L)
    // 20-cycle with a pendant path 20-30-31-32: a cycle edge's detour is
    // 19 hops long; only the path edges are bridges
    val ring = (1L to 20L).map(i => (i, i % 20 + 1))
    val path = Seq((20L, 30L), (30L, 31L), (31L, 32L))
    val got3 = Bridges.probe(spark, edgeDF(ring ++ path),
      (ring ++ path).map { case (a, b) =>
        (s"$a:$b", math.min(a, b), math.max(a, b)) }
        .toDF("cid", "src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got3 === (ring ++ path).map { case (a, b) =>
      (math.min(a, b), math.max(a, b)) -> (if (path.contains((a, b))) 1L
        else 0L) }.toMap)
    // a walk cut short by maxIter fails instead of reporting bridges
    val line = (0L until 10L).map(i => (i, i + 1))
    intercept[IllegalArgumentException] {
      Bridges.probe(spark, edgeDF(line),
        Seq(("5:6", 5L, 6L)).toDF("cid", "src", "dst"), maxIter = 3)
    }
  }

  test("louvain coarsen: communities contract, intra edges become self-loops") {
    import spark.implicits._
    // two triangles joined by (3,10), assignment given directly
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L))
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (12L, 10L)).toDF("vid", "community")
    val got = Louvain.coarsen(edgeDF(es), asg)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map((1L, 1L) -> 3L, (10L, 10L) -> 3L, (1L, 10L) -> 1L))
  }

  test("articulation probe: cut vertices flagged, cycle/leaf vertices not") {
    import spark.implicits._
    // path 1-2-3 into triangle {3,4,5}: 2 and 3 are cut vertices;
    // 4 and 5 sit on the cycle; 1 is a leaf (nothing to disconnect)
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 5L))
    val got = Bridges.articulationProbe(spark, edgeDF(es),
        Seq(1L, 2L, 3L, 4L, 5L).toDF("vid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L, 5L -> 0L))
    // 20-cycle with a pendant path 20-30-31-32: removing a cycle vertex
    // leaves an 18-hop detour; the path's attachment and inner vertices
    // are the only cut vertices
    val ring = (1L to 20L).map(i => (i, i % 20 + 1))
    val deep = Bridges.articulationProbe(spark,
        edgeDF(ring ++ Seq((20L, 30L), (30L, 31L), (31L, 32L))),
        ((1L to 20L) ++ Seq(30L, 31L, 32L)).toDF("vid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deep === ((1L to 20L) ++ Seq(30L, 31L, 32L)).map(v =>
      v -> (if (Set(20L, 30L, 31L).contains(v)) 1L else 0L)).toMap)
    // a walk cut short by maxIter fails instead of flagging cut vertices
    intercept[IllegalArgumentException] {
      Bridges.articulationProbe(spark,
        edgeDF((0L until 10L).map(i => (i, i + 1))), Seq(5L).toDF("vid"),
        maxIter = 3)
    }
  }

  test("simrank: hand-traced two ppm iterations on path4 and triangle") {
    def run(es: Seq[(Long, Long)]) =
      SimRank.run(spark, edgeDF(es), cPpm = 800000L, iters = 2, minPpm = 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // path4: s1(1,3) = s1(2,4) = 400000; round 2 folds the diagonal +
    // mirrored state: tot = 1e6 + 400000 -> 800000*1400000 div 2e6 = 560000
    assert(run(golden("path4")) ===
      Map((1L, 3L) -> 560000L, (2L, 4L) -> 560000L))
    // triangle: s1 = 200000 everywhere; tot2 = 200000*3 + 1e6 = 1.6e6
    // -> 800000*1600000 div 4e6 = 320000 for all three pairs
    assert(run(golden("triangle")) ===
      Map((1L, 2L) -> 320000L, (1L, 3L) -> 320000L, (2L, 3L) -> 320000L))
  }

  test("simrank: zero iterations return the empty pair table") {
    val got = SimRank.run(spark, edgeDF(golden("path4")), iters = 0)
    assert(got.columns.toSeq === Seq("a", "b", "sim_ppm"))
    assert(got.count() === 0L)
  }

  test("scan: core/member/hub/outlier roles on two bridged cliques") {
    // two K4s {1..4}, {11..14}; vertex 20 bridges them (hub), 21 hangs
    // off clique 1 twice (member), 30-31 an isolated ε-similar pair
    // whose neighborhoods are too small to seed a core (outliers)
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (11L, 12L), (11L, 13L), (11L, 14L), (12L, 13L),
      (12L, 14L), (13L, 14L), (1L, 20L), (11L, 20L), (1L, 21L),
      (2L, 21L), (30L, 31L))
    val got = Scan.run(spark, edgeDF(es), epsSqPpm = 160000L, mu = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    val expect =
      (1L to 4L).map(_ -> (("core", 1L))).toMap ++
        (11L to 14L).map(_ -> (("core", 11L))).toMap +
        (20L -> (("hub", 1L))) + (21L -> (("member", 1L))) +
        (30L -> (("outlier", -1L))) + (31L -> (("outlier", -1L)))
    assert(got === expect)
  }

  test("bipartite: odd cycle flagged per component, even structures pass") {
    def run(es: Seq[(Long, Long)]) =
      Bipartite.run(spark, edgeDF(es)).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // twoComp = triangle {1,2,3} + path {10,11,12}
    assert(run(golden("twoComp")) ===
      Map(1L -> ((3L, 0L)), 10L -> ((3L, 1L))))
    assert(run(golden("path4")) === Map(1L -> ((4L, 1L))))
    assert(run(golden("star5")) === Map(1L -> ((5L, 1L))))
    // an even 20-cycle and an odd 21-cycle: ~10-level parity walks
    val c20 = (0L until 20L).map(i => (1L + i, 1L + (i + 1) % 20))
    val c21 = (0L until 21L).map(i => (101L + i, 101L + (i + 1) % 21))
    assert(run(c20 ++ c21) === Map(1L -> ((20L, 1L)), 101L -> ((21L, 0L))))
    // a walk cut short by maxIter fails instead of reporting bipartite
    intercept[IllegalArgumentException] {
      Bipartite.run(spark, edgeDF((0L until 10L).map(i => (i, i + 1))),
        maxIter = 3)
    }
  }

  test("influence: degree-discount picks the hub, then a discounted leaf") {
    // star5: round 1 picks the center (dd = 4e6); every leaf then has
    // d=1, t=1 -> dd = (1-2)*1e6 - 0 = -1e6, tie to the smallest vid
    val got = Influence.degreeDiscount(spark, edgeDF(golden("star5")),
        k = 2, pPpm = 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 1L, 4000000L), (2L, 2L, -1000000L)))
  }

  test("triad census: mutual/asym dyads, transitive vs cyclic triads") {
    // 1<->2 mutual; 1->3 asym; 3->4->5 closed by 3->5 (transitive);
    // 6->7->8->6 (cyclic, one rotation counted). Directions matter, so
    // no edgeDF (it canonicalizes src < dst)
    import spark.implicits._
    val d = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L), (6L, 7L), (7L, 8L), (8L, 6L)).toDF("src", "dst")
    val got = Triads.census(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("mutual_dyads" -> 1L, "asym_dyads" -> 7L,
      "trans_triads" -> 1L, "cyclic_triads" -> 1L))
  }

  test("forward push: two hand-traced rounds on star5 conserve mass") {
    // seed center: r1 settles 0.15, pushes 0.2125 to each leaf; r2 each
    // leaf settles 0.15 of its share, returns the rest to the center
    val got = ForwardPush.run(spark, edgeDF(golden("star5")), seed = 1L,
        alphaPpm = 150000L, rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val expect = Map(
      1L -> ((150000000000L, 722500000000L))) ++
      (2L to 5L).map(_ -> ((31875000000L, 0L))).toMap
    assert(got === expect)
    assert(got.values.map(v => v._1 + v._2).sum === 1000000000000L)
  }

  test("degree mixing: star5 classes vs configuration-model null") {
    // degrees: center 4 (class 2), leaves 1 (class 0); S_0 = S_2 = 4,
    // m = 4: E[0-0] = 16000/16 = 1000, E[0-2] = 16000/8 = 2000,
    // E[2-2] = 16000/16 = 1000; all 4 edges are leaf-center
    val got = GraphStats.degreeMixing(edgeDF(golden("star5")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2),
        r.getLong(3)))).toMap
    assert(got === Map(
      (0L, 0L) -> ((0L, 1000L)),
      (0L, 2L) -> ((4L, 2000L)),
      (2L, 2L) -> ((0L, 1000L))))
  }

  test("hitting time: four hand-traced milli sweeps on path4") {
    // absorbing top-1 by (degree desc, vid) = vertex 2 (degree 2, ties
    // with 3, lower id). Sweeps (milli): v1 pins at 1000 + h(2) = 1000;
    // v3: 1000, 1500, 2000, 2250; v4: 1000 + h(3) one sweep behind:
    // 1000, 2000, 2500, 3000
    val got = HittingTime.run(edgeDF(golden("path4")), absorbTop = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got === Map(1L -> ((1L, 1000L)), 2L -> ((2L, 0L)),
      3L -> ((2L, 2250L)), 4L -> ((1L, 3000L))))
  }

  test("power-law fit: exact integer least squares on star5 buckets") {
    // degrees: 4 leaves of degree 1 -> bucket x=0 with n=4 -> y=2;
    // center degree 4 -> x=2, n=1 -> y=0. k=2, sx=2, sy=2, sxy=0,
    // sxx=4: slope = 1000*(0-4)/4 = -1000, intercept = (2000+2000)/2
    val got = GraphStats.powerLawFit(edgeDF(golden("star5"))).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((2L, -1000L, 2000L, 5L)))
    // degenerate single-bucket histogram (triangle: all degrees 2):
    // zero denominator -> no fit row rather than a division error
    assert(GraphStats.powerLawFit(edgeDF(golden("triangle"))).count() === 0L)
  }

  test("rank agreement: overlap and truncated footrule, absent rank k+1") {
    import spark.implicits._
    val a = Seq((1L, 10L), (2L, 9L), (3L, 8L)).toDF("vid", "score")
    val b = Seq((1L, 10L), (3L, 9L), (4L, 8L)).toDF("vid", "score")
    // top-2(a) = [1,2], top-2(b) = [1,3]: overlap {1}; footrule =
    // |1-1| + |2-3| + |3-2| = 2 (2 and 3 each absent from one side)
    val r = GraphStats.rankAgreement(a, b, k = 2).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2L, 1L, 2L)))
  }

  test("weighted jaccard: hand-traced ppm on a weighted triangle") {
    import spark.implicits._
    // adj masses: W1=6, W2=10, W3=8. Shared-min sums: (1,2) via 3 ->
    // min(2,6)=2; (1,3) via 2 -> min(4,6)=4; (2,3) via 1 -> min(4,2)=2.
    // wj_ppm = 1e6*smin div (Wu+Wv-smin)
    val w = Seq((1L, 2L, 4L), (1L, 3L, 2L), (2L, 3L, 6L))
      .toDF("src", "dst", "weight")
    val got = LinkPredict.weightedJaccard(w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 3L, 400000L), (1L, 2L, 142857L),
      (2L, 3L, 125000L)))
    // capPerCenter=1 keeps only each center's strongest incident end:
    // center 1 keeps (2,w4), center 2 keeps (3,w6), center 3 keeps
    // (2,w6) -> no center retains two rows, no pairs survive
    assert(LinkPredict.weightedJaccard(w, capPerCenter = 1).count() === 0L)
  }

  test("componentFingerprints: isomorphic shapes group, others split") {
    // two disjoint triangles (same shape), one 3-path (different)
    val e = edgeDF(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L),
      (7L, 8L), (8L, 9L)))
    val got = GraphStats.componentFingerprints(spark, e)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.length === 2)
    val tri = got.find(_._3 === 2L).get
    assert(tri._2 === 3L && tri._4 === 1L) // size 3, example = min label
    val path = got.find(_._3 === 1L).get
    assert(path._2 === 3L && path._4 === 7L)
    assert(tri._1 !== path._1) // same size, different degree histogram
    // fingerprint is the documented canonical string
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest("3|2:3".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(tri._1 === sha)
  }

  test("linkAuc: hand-traced midrank AUC with ties") {
    // candidates (non-edge 2-hop pairs): (3,4) cn=2; (2,5),(3,5),(4,5)
    // cn=1. truth = {(3,4),(2,5)} -> 2 pos / 2 neg; pairwise wins
    // 2 + tie-halves 1 -> AUC 3/4
    val e = edgeDF(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (1L, 5L)))
    val truth = edgeDF(Seq((3L, 4L), (2L, 5L)))
    val got = LinkPredict.linkAuc(e, truth).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((4L, 2L, 2L, 750000L)))
    // single-class truth -> empty result, not a division by zero
    assert(LinkPredict.linkAuc(e, edgeDF(Seq())).count() === 0L)
  }

  test("structuralEquivalence: star leaves are false twins") {
    val e = edgeDF(Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    val got = GraphStats.structuralEquivalence(e).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // leaves 2,3,4 share the neighbor list "1"; the center's class is
    // a singleton and filtered; quotient = 2 classes / 4 vertices
    assert(got.length === 1)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest("1".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.head === ((sha, 1L, 3L, 2L, 500000L)))
  }

  test("labelHomophily: observed vs squared-end-share expectation") {
    import spark.implicits._
    val e = edgeDF(Seq((1L, 2L), (3L, 4L), (1L, 3L)))
    val lb = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"))
      .toDF("vid", "label")
    val got = GraphStats.labelHomophily(e, lb).collect()
    assert(got.length === 1)
    val r = got.head
    // 2 of 3 edges same-label; ends a:3 b:3 -> expected 18/36
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((3L, 2L, 666666L, 500000L, 166666L)))
  }
}
