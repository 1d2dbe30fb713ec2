package graft

import graft.graph.Edges
import graft.partition.BdgLayout
import org.apache.spark.sql.functions._

/** BDG layout pass: Voronoi flooding (B3), greedy block assignment (B5),
  * layout + cross-edge statistics (B6/B7).
  */
class PartitionSpec extends SparkSpec {
  import spark.implicits._

  /** 16 planted 12-cliques chained in a ring by single bridge edges —
    * obvious block structure that hash partitioning ignores. */
  private def plantedGraph = {
    val b = Seq.newBuilder[(Long, Long)]
    for (c <- 0 until 16) {
      val base = c * 12L
      for (i <- 0 until 12; j <- i + 1 until 12)
        b += ((base + i, base + j))
      b += ((base + 11, ((c + 1) % 16) * 12L)) // ring bridge
    }
    b.result().toDF("src", "dst")
  }

  private val p = BdgLayout.Params(
    seedRate = 0.05, maxHop = 10, workers = 4)

  /** Per-worker (worker, blocks, vertices, bdgCross, shaCross) of the
    * voronoiColors + assignBlocksExact layout, sorted by worker; checks
    * the vertex and block totals against the coloring. */
  private def exactStats(sym: org.apache.spark.sql.DataFrame) = {
    val colors = BdgLayout.voronoiColors(spark, sym, p).persist()
    val assign = BdgLayout.assignBlocksExact(spark, sym, colors, p.workers)
    val rows = BdgLayout.crossEdgeStatsExact(spark, sym, colors, assign,
      p.workers).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    // vertex total = colored vertices; block total = #blocks
    assert(rows.map(_._3).sum === colors.count())
    assert(rows.map(_._2).sum ===
      colors.select("color").distinct().count())
    colors.unpersist()
    rows
  }

  test("voronoi flooding colors every vertex; blocks are seed-rooted") {
    val sym = Edges.symmetrize(plantedGraph).persist()
    val colors = BdgLayout.voronoiColors(spark, sym, p)
    val n = sym.select(col("src")).distinct().count()
    assert(colors.count() === n)
    assert(colors.select("vid").distinct().count() === n)
    // every color is itself a vertex id (its seed / component root)
    val badColor = colors.select(col("color").as("vid")).distinct()
      .join(colors.select("vid"), Seq("vid"), "left_anti").count()
    assert(badColor === 0L)
    sym.unpersist()
  }

  test("layout is deterministic and capacity-bounded; beats hash on cross edges") {
    val sym = Edges.symmetrize(plantedGraph).persist()
    val s1 = exactStats(sym)
    assert(s1.sameElements(exactStats(sym)), "layout must be deterministic")
    // voronoi flooding colors every vertex of the connected planted graph
    val total = s1.map(_._3).sum
    assert(total === 16L * 12L)
    // every worker's load under capacity + one max block (fallback slack)
    val capacity = (1 + 0.1) * total / p.workers
    s1.foreach { case (_, _, load, _, _) =>
      assert(load <= capacity + 12, s"worker overloaded: $load") }
    // the point of BDG (EuroSys §8.4): fewer cross edges than hash layout
    val bdgCross = s1.map(_._4).sum
    val hashCross = s1.map(_._5).sum
    assert(bdgCross < hashCross,
      s"BDG cross $bdgCross should beat hash cross $hashCross")
    // planted structure: clique blocks should make crossings rare
    assert(bdgCross <= hashCross / 4,
      s"expected a large cross-edge reduction, got $bdgCross vs $hashCross")
    sym.unpersist()
  }

  test("floodColors == min color among NEAREST seeds (q56 oracle closure)") {
    val sym = Edges.symmetrize(plantedGraph).persist()
    val edges = sym.collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      .withDefaultValue(Array.empty[Long])
    val seedIds = Seq(0L, 50L, 100L, 150L)
    val maxHop = 3
    val seeds = seedIds.toDF("vid")
      .select(col("vid"), col("vid").as("color"))
    val got = BdgLayout.floodColors(sym, seeds, maxHop)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // oracle: BFS distance from every seed; a vertex within maxHop takes
    // the min color among its MINIMUM-distance seeds (the closed form of
    // frozen synchronous min-adoption — the same replay q56 runs in SQL)
    def bfs(s: Long): Map[Long, Int] = {
      val d = scala.collection.mutable.HashMap(s -> 0)
      var frontier = List(s)
      for (h <- 1 to maxHop) {
        frontier = frontier.flatMap(adj(_)).distinct.filterNot(d.contains)
        frontier.foreach(v => d(v) = h)
      }
      d.toMap
    }
    val dists = seedIds.map(s => s -> bfs(s))
    val verts = edges.map(_._1).distinct
    val expected = verts.flatMap { v =>
      val reach = dists.flatMap { case (s, d) => d.get(v).map(s -> _) }
      if (reach.isEmpty) None
      else {
        val dmin = reach.map(_._2).min
        Some(v -> reach.filter(_._2 == dmin).map(_._1).min)
      }
    }.toMap
    assert(got === expected)
    sym.unpersist()
  }

  test("floodColors probe-carried colored total equals the result count") {
    val sym = Edges.symmetrize(plantedGraph).persist()
    val seeds = Seq(0L, 50L, 100L).toDF("vid")
      .select(col("vid"), col("vid").as("color"))
    // odd maxHop + early convergence: the Frontier probe cadence
    // must still sum every adopted piece exactly once
    val (colors, _, colored) = BdgLayout.floodColors(sym, seeds, maxHop = 7)
    assert(colored === colors.count())
    sym.unpersist()
  }

  test("blockInfo (A7) matches a locally computed block table") {
    val sym = Edges.symmetrize(plantedGraph).persist()
    val colors = BdgLayout.voronoiColors(spark, sym, p).persist()
    val cmap = colors.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = sym.collect().map(r => (r.getLong(0), r.getLong(1)))
    val expSizes = cmap.values.toSeq.groupBy(identity)
      .map { case (c, v) => c -> v.size.toLong }
    val expNbs = edges.flatMap { case (u, v) =>
      for { cu <- cmap.get(u); cv <- cmap.get(v) if cu != cv } yield cu -> cv
    }.distinct.groupBy(_._1)
      .map { case (c, v) => c -> v.map(_._2).sorted.toSeq }
    val got = BdgLayout.blockInfo(sym, colors).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
    assert(got.map(_._1).toSet === expSizes.keySet)
    got.foreach { case (c, size, nbs) =>
      assert(size === expSizes(c), s"color $c size")
      assert(nbs === expNbs.getOrElse(c, Seq.empty), s"color $c nbs")
    }
    colors.unpersist(); sym.unpersist()
  }

  test("assignBlocksExact (B5 parity twin) replays the greedy bit-for-bit") {
    val sym = Edges.symmetrize(plantedGraph).persist()
    val colors = BdgLayout.voronoiColors(spark, sym, p).persist()
    val workers = 4
    val got = BdgLayout.assignBlocksExact(spark, sym, colors, workers)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local replay of the integer greedy over the (verified) block table
    val info = BdgLayout.blockInfo(sym, colors).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toSet))
    val total = info.map(_._2).sum
    val cap = (11L * total) / (10L * workers)
    val loads = Array.fill(workers)(0L)
    val cm = Array.fill(workers)(
      scala.collection.mutable.HashMap.empty[Long, Long])
    val exp = scala.collection.mutable.HashMap.empty[Long, Long]
    info.sortBy(b => (-b._2, b._1)).foreach { case (c, z, nbs) =>
      var best = 0L; var wid = -1
      for (j <- 0 until workers) {
        val pr = cm(j).getOrElse(c, 0L) * (cap - loads(j))
        if (pr > best && loads(j) + z <= cap) { best = pr; wid = j }
      }
      if (wid < 0) wid = loads.zipWithIndex.minBy(_._1)._2
      exp(c) = wid.toLong; loads(wid) += z
      nbs.foreach(n => cm(wid)(n) = cm(wid).getOrElse(n, 0L) + z)
    }
    assert(got === exp.toMap)
    // every block placed, workers in range, loads capacity-bounded with
    // at most the fallback slack (one max block over)
    assert(got.keySet === info.map(_._1).toSet)
    assert(got.values.forall(w => w >= 0 && w < workers))
    val maxBlock = info.map(_._2).max
    loads.foreach(l => assert(l <= cap + maxBlock))
    colors.unpersist(); sym.unpersist()
  }

  test("crossEdgeStatsExact (B7 parity twin): totals and hash-beating") {
    val sym = Edges.symmetrize(plantedGraph).persist()
    val rows = exactStats(sym)
    assert(rows.length === p.workers)
    // the planted clique blocks must beat the sha-hash layout handily
    val bdg = rows.map(_._4).sum; val sha = rows.map(_._5).sum
    assert(bdg < sha, s"BDG cross $bdg should beat sha-hash cross $sha")
    sym.unpersist()
  }

  test("block re-shuffle (B6): repartition by worker co-locates blocks") {
    val sym = Edges.symmetrize(plantedGraph)
    val colors = BdgLayout.voronoiColors(spark, sym, p)
    val lay = colors.join(
      BdgLayout.assignBlocksExact(spark, sym, colors, p.workers), "color")
    val parts = lay.repartition(p.workers, col("worker"))
      .select(col("worker"), spark_partition_id().as("pid"))
      .distinct().collect().map(r => (r.getLong(0), r.getInt(1)))
    // each worker maps to exactly one physical partition
    assert(parts.groupBy(_._1).forall(_._2.length === 1))
  }

  test("zValue: hand-checked Morton interleave, monotone tiles") {
    import spark.implicits._
    import graft.partition.ZOrder
    // z(x=0b11, y=0b01) = x bits at even positions (0b0101) | y bits at
    // odd (0b0010) = 0b0111 = 7; z(2,3) = 0b1110 = 14; z(0,0)=0
    val got = Seq((3L, 1L), (2L, 3L), (0L, 0L), (65535L, 65535L))
      .toDF("x", "y")
      .select(ZOrder.zValue(org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y"), 16).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(7L, 14L, 0L, (1L << 32) - 1))
  }

  test("zValue census: same tile for nearby keys") {
    import spark.implicits._
    import graft.partition.ZOrder
    // two clusters of edges far apart in (src, dst) space must land in
    // different top-level tiles, each cluster in ONE tile
    val edges = (Seq((1L, 2L), (3L, 1L), (2L, 3L)) ++
      Seq((60000L, 60001L), (60001L, 60002L))).toDF("src", "dst")
    val census = ZOrder.bucketCensus(edges, bits = 16, bucketBits = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(census.size == 2 && census.values.toSeq.sorted == Seq(2L, 3L))
  }
}
