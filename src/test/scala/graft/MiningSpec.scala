package graft

import graft.kernels.{GraphMatch, KCore, MaxClique}
import graft.graph.Edges
import graft.sources.GraphIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Mining kernels beyond the north-rule four (reference apps MCF/GM/CD
  * surface): max clique, labeled pattern matching, k-core — each vs a
  * brute-force oracle; plus the reference text-format readers.
  */
class MiningSpec extends SparkSpec {
  import spark.implicits._

  /** Directed edge rows from an adjacency table. */
  private def edgesOf(adj: DataFrame): DataFrame =
    adj.select(col("src"), explode(col("adj")).as("dst"))

  // ---- brute-force oracles ----

  /** (maxCliqueSize, #cliques at that size, lex-min sorted member list
    * among them) by subset enumeration — q31's oracle semantics. */
  private def cliqueOracle(es: Seq[(Long, Long)]): (Int, Long, Seq[Long]) = {
    import scala.math.Ordering.Implicits._
    val adj = (es ++ es.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val verts = adj.keys.toSeq.sorted
    var best = 1; var cnt = 0L; var wit = Seq.empty[Long]
    def rec(chosen: List[Long], rest: List[Long]): Unit = rest match {
      case Nil =>
        val members: Seq[Long] = chosen.reverse // ascending: verts in order
        if (chosen.size > best) { best = chosen.size; cnt = 1; wit = members }
        else if (chosen.size == best && best > 1) {
          cnt += 1
          if (members < wit) wit = members
        }
      case v :: tail =>
        if (chosen.forall(adj.getOrElse(v, Set.empty))) rec(v :: chosen, tail)
        rec(chosen, tail)
    }
    rec(Nil, verts.toList)
    (best, cnt, wit)
  }

  /** `body`'s lines on System.err that start with `prefix`. */
  private def stderrLines(prefix: String)(body: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(saved)
    buf.toString("UTF-8").linesIterator.filter(_.startsWith(prefix)).toSeq
  }

  /** Count labeled simple paths (pairwise-distinct) by enumeration. */
  private def pathOracle(es: Seq[(Long, Long)], labels: Map[Long, String],
                         pattern: Seq[String]): Long = {
    val adj = (es ++ es.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    def rec(path: List[Long], rest: Seq[String]): Long = rest match {
      case Nil => 1L
      case l +: tail =>
        val cands = if (path.isEmpty) labels.keys.toSeq
                    else adj.getOrElse(path.head, Seq.empty)
        cands.filter(v => labels.get(v).contains(l) && !path.contains(v))
          .map(v => rec(v :: path, tail)).sum
    }
    rec(Nil, pattern)
  }

  /** k-core by iterative peeling. */
  private def kcoreOracle(es: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    var edges = es
    var changed = true
    while (changed) {
      val deg = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != edges.size ||
        deg.keySet.exists(!keep(_))
      edges = next
    }
    (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.size).toMap.filter(_._2 >= k)
  }

  // ---- tests ----

  test("max clique matches subset-enumeration oracle") {
    // "twoRoots": seed 1 roots four triangles through its candidates 2..7
    // (edges 2-3, 4-5, 4-6, 5-7); 4 and 5 have the higher induced degree,
    // so a search in degree-descending order meets {1,4,5} before the
    // lex-min {1,2,3}. Pendant leaves lift every candidate to degree 6,
    // which makes 1 the minimum (degree, id) member of all four.
    val roots = (2L to 7L).map(v => (1L, v)) ++
      Seq((2L, 3L), (4L, 5L), (4L, 6L), (5L, 7L))
    val rootDeg = (roots ++ roots.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.size)
    val graphs = Map(
      "twoRoots" -> (roots ++ (2L to 7L).flatMap(v =>
        (0 until 6 - rootDeg(v)).map(i => (v, 100L + 10 * v + i)))),
      "k4" -> Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)),
      "bowtie" -> Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)),
      "sample15" -> Oracles.sample15,
      "er" -> Oracles.erdosRenyi(30, 0.3, seed = 4),
      "plaw" -> Oracles.powerLaw(60, seed = 6))
    graphs.foreach { case (name, es) =>
      val (sz, cnt, lexMin) = cliqueOracle(es)
      val r = leavesNoCache(s"MaxClique.run($name)") {
        MaxClique.run(spark, edgeDF(es)).head()
      }
      assert(r.getInt(0) === sz, s"graph=$name size")
      assert(r.getLong(1) === cnt, s"graph=$name count")
      // witness really is a clique of that size, the lex-min one
      val wit = r.getSeq[Long](2)
      assert(wit === lexMin, s"graph=$name witness")
      val eset = es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      assert(wit.size === sz, s"graph=$name witness size")
      for (i <- wit.indices; j <- (i + 1) until wit.size)
        assert(eset((math.min(wit(i), wit(j)), math.max(wit(i), wit(j)))),
          s"graph=$name witness not a clique")
    }
  }

  test("labeled path matching matches enumeration oracle") {
    val es = Oracles.sample15
    val labels = es.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> (if (v % 3 == 0) "a" else if (v % 3 == 1) "b" else "c"))
      .toMap
    val verts = labels.toSeq.toDF("vid", "label")
    val sym = Edges.symmetrize(edgeDF(es))
    for (pattern <- Seq(Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
        Seq("b", "b", "a", "c"))) {
      val got = GraphMatch.countPath(verts, sym, pattern).head().getLong(0)
      assert(got === pathOracle(es, labels, pattern), s"pattern=$pattern")
    }
  }

  test("GM tree pattern (a(b,c), b->d) matches enumeration oracle") {
    val es = Oracles.sample15
    val labels = es.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> (if (v % 3 == 0) "a" else if (v % 3 == 1) "b" else "c"))
      .toMap
    val verts = labels.toSeq.toDF("vid", "label")
    val sym = Edges.symmetrize(edgeDF(es))
    val adj = (es ++ es.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    def oracle(la: String, lb: String, lc: String, ld: String): Long =
      (for {
        a <- labels.keys.toSeq if labels(a) == la
        b <- adj(a) if labels(b) == lb
        c <- adj(a) if labels(c) == lc && c != b
        d <- adj(b) if labels(d) == ld && d != a && d != c && d != b
      } yield 1L).sum
    for ((la, lb, lc, ld) <- Seq(("a", "b", "c", "a"), ("b", "b", "b", "b"),
        ("c", "a", "b", "c"))) {
      val got = GraphMatch.countTree(verts, sym, la, lb, lc, ld)
        .head().getLong(0)
      assert(got === oracle(la, lb, lc, ld), s"pattern=$la($lb,$lc),$lb->$ld")
    }
  }

  test("general pattern-graph matching matches enumeration (incl. cycles)") {
    val es = Oracles.sample15
    val labels = es.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> (if (v % 3 == 0) "a" else if (v % 3 == 1) "b" else "c"))
      .toMap
    val verts = labels.toSeq.toDF("vid", "label")
    val sym = Edges.symmetrize(edgeDF(es))
    val eset = (es ++ es.map(_.swap)).toSet
    def oracle(ls: Seq[String], pes: Seq[(Int, Int)]): Long = {
      val vs = labels.keys.toSeq.sorted
      def rec(bound: Vector[Long]): Long =
        if (bound.size == ls.size) 1L
        else vs.iterator.filter { v =>
          labels(v) == ls(bound.size) && !bound.contains(v) &&
            pes.forall { case (a, b) =>
              val (x, y) = (a - 1, b - 1)
              if (x < bound.size && y == bound.size) eset((bound(x), v))
              else if (y < bound.size && x == bound.size) eset((bound(y), v))
              else true
            }
        }.map(v => rec(bound :+ v)).sum
      rec(Vector.empty)
    }
    val cases = Seq(
      // triangle (cycle) with a repeated label
      (Seq("a", "b", "b"), Seq((1, 2), (2, 3), (1, 3))),
      // square cycle (1-2-3-4-1 in sample15 carries labels b,c,a,b)
      (Seq("b", "c", "a", "b"), Seq((1, 2), (2, 3), (3, 4), (1, 4))),
      // triangle with a tail (cycle + tree mix)
      (Seq("b", "c", "a", "c"), Seq((1, 2), (2, 3), (1, 3), (3, 4))),
      // plain path via the general API
      (Seq("a", "b", "c"), Seq((1, 2), (2, 3))))
    cases.foreach { case (ls, pes) =>
      val got = GraphMatch.countPattern(verts, sym, ls, pes)
        .head().getLong(0)
      assert(got === oracle(ls, pes), s"labels=$ls edges=$pes")
      assert(got > 0, s"test premise: labels=$ls edges=$pes has matches")
    }
  }

  test("k-core peeling matches oracle (survivors and induced degrees)") {
    for ((es, k) <- Seq((Oracles.sample15, 3),
        (Oracles.erdosRenyi(40, 0.15, seed = 8), 3),
        (Oracles.powerLaw(80, seed = 2), 2))) {
      val got = KCore.run(spark, Edges.symmetrize(edgeDF(es)), k)
        .core.collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      assert(got === kcoreOracle(es, k), s"k=$k")
    }
  }

  test("reference normal-format round trip: read → edges → write → read") {
    // write the reference's sample graph in its own text format
    val dir = Files.createTempDirectory("graft-adj").toString
    val sym = Edges.symmetrize(edgeDF(Oracles.sample15))
    val adj = Edges.adjacency(sym)
    GraphIO.writeNormalAdj(adj, s"$dir/normal")
    val back = GraphIO.readNormalAdj(spark, s"$dir/normal")
    val edges = edgesOf(back)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Oracles.sample15.flatMap(e => Seq(e, e.swap)).toSet
    assert(edges === expect)
    // and the adjacency arrays came back sorted and complete
    assert(back.count() === 15)
    assert(back.filter(col("adj") =!= sort_array(col("adj"))).count() === 0)
  }

  test("normal-format read agrees on the INTERPRETED expression path") {
    // interpreted Slice computes start + length with a plain int add — a
    // MaxValue-length slice overflowed and returned empty adjacency
    // whenever a plan fell off the codegen path (round-1 ADVICE)
    val dir = Files.createTempDirectory("graft-adj-interp").toString
    GraphIO.writeNormalAdj(
      Edges.adjacency(Edges.symmetrize(edgeDF(Oracles.sample15))),
      s"$dir/normal")
    val before = (spark.conf.get("spark.sql.codegen.wholeStage"),
      spark.conf.get("spark.sql.codegen.factoryMode"))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val edges = edgesOf(GraphIO.readNormalAdj(spark, s"$dir/normal"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(edges === Oracles.sample15.flatMap(e => Seq(e, e.swap)).toSet)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", before._1)
      spark.conf.set("spark.sql.codegen.factoryMode", before._2)
    }
  }

  // ---- reference-format fixtures: the 15-vertex sample graph, written
  // in-test through the GraphIO writers with seeded vertex attributes and
  // integer edge weights ----

  /** Three attrs per vertex, one from each of three 3-valued families —
    * small enough that adjacent vertices often share one (CD needs it). */
  private val sampleAttrs: Map[Long, Seq[String]] = {
    val rnd = new scala.util.Random(15)
    (1L to 15L).map(v =>
      v -> Seq("A", "B", "C").map(f => s"$f${1 + rnd.nextInt(3)}")).toMap
  }

  /** Integer weight 1..9 per undirected sample edge (both directions). */
  private val sampleWeights: Map[(Long, Long), Long] = {
    val rnd = new scala.util.Random(27)
    Oracles.sample15.map(e => e -> (1L + rnd.nextInt(9))).toMap
  }

  private def attrDF = sampleAttrs.toSeq.toDF("src", "attrs")

  /** `attr` format: vid \t attr1 attr2 … \t num nb1 nb2 … */
  private def writeAttrSample(): String = {
    val path = Files.createTempDirectory("graft-attr").toString + "/attr"
    GraphIO.writeAttrAdj(
      attrDF.join(Edges.adjacency(Edges.symmetrize(edgeDF(Oracles.sample15))),
        "src"), path)
    path
  }

  /** `multi_attr` format: vid \t attrs \t num nb1 w1 nb2 w2 … */
  private def writeMultiAttrSample(): String = {
    val path = Files.createTempDirectory("graft-mattr").toString + "/mattr"
    val directed = sampleWeights.toSeq.flatMap { case ((u, v), w) =>
      Seq((u, v, w), (v, u, w)) }
    GraphIO.writeMultiAttrAdj(
      directed.toDF("src", "dst", "weight").join(attrDF, "src"), path)
    path
  }

  test("reference multi_attr format drives weighted PageRank vs oracle") {
    val df = GraphIO.readMultiAttrEdges(spark, writeMultiAttrSample()).cache()
    val edges = df.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq
    assert(edges.size === 2 * Oracles.sample15.size)
    edges.foreach { case (u, v, w) =>
      assert(w === sampleWeights((math.min(u, v), math.max(u, v))).toDouble)
    }
    // attrs parsed alongside, in the fixture's order
    df.select("src", "attrs").collect().foreach { r =>
      assert(r.getSeq[String](1) === sampleAttrs(r.getLong(0)))
    }
    val expect = Oracles.pageRankWeighted(edges, 10)
    val got = graft.kernels.PageRank.run(spark,
      df.select(col("src"), col("dst"), col("weight")),
      fixedIter = Some(10), weightCol = Some("weight")).ranks
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (v, r) =>
      assert(math.abs(r - expect(v)) < 1e-9, s"vid=$v") }
    df.unpersist()
  }

  test("CD community detection matches subset-enumeration oracle on attr_sample") {
    val va = GraphIO.readAttrAdj(spark, writeAttrSample()).cache()
    assert(va.count() === 15)
    val attrs = va.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(attrs === sampleAttrs.view.mapValues(_.toSet).toMap)
    val edges = edgesOf(va.select(col("src"), col("adj")))
      .filter(col("src") < col("dst"))
    val edgeSet = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet === Oracles.sample15.toSet)
    val k = 2 // k=2 exercises all paths
    // oracle: enumerate every vertex subset, keep attr-sharing cliques,
    // then per min-member argmax size with lex-min tie-break
    val vids = attrs.keys.toSeq.sorted
    def isClique(s: Seq[Long]) =
      s.combinations(2).forall(p => edgeSet((p(0), p(1))))
    def sharesAttr(s: Seq[Long]) =
      s.map(attrs).reduce(_ intersect _).nonEmpty
    val all = (k to vids.size).flatMap(n => vids.combinations(n))
      .filter(s => isClique(s) && sharesAttr(s))
    import scala.math.Ordering.Implicits._
    val expect = all.groupBy(_.head).values.map { cs =>
      val maxSz = cs.map(_.size).max
      val best = cs.filter(_.size == maxSz).min // numeric element-wise lex
      (best.mkString(","), best.size)
    }.toSet
    val got = leavesNoCache("Community.run") {
      graft.kernels.Community.run(spark,
          va.select(col("src").as("vid"), col("attrs")), edges, k)
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    }
    assert(got === expect)
    assert(got.nonEmpty)
    va.unpersist()
  }

  test("GC focused clustering matches a hand-computed FocusCO trace") {
    import graft.kernels.FocusCluster
    // two heavy 5-cliques (w=10) joined by a light bridge; vertex 20 is a
    // strong attachment to clique A (w=12 to 1,2,3 — joins the cluster);
    // vertex 11 touches ALL of A but with tiny weights and has an outside
    // edge — structurally attached, weight-dissimilar => the FocusCO
    // OUTLIER. Every phi value is hand-computed and far from the
    // DIFF_RATIO boundary, so the trace is float-safe.
    val w = Seq.newBuilder[(Long, Long, Double)]
    for (u <- 1 to 5; v <- u + 1 to 5) w += ((u.toLong, v.toLong, 10.0))
    for (u <- 6 to 10; v <- u + 1 to 10) w += ((u.toLong, v.toLong, 10.0))
    w += ((5L, 6L, 1.0))
    for (u <- 1 to 3) w += ((u.toLong, 20L, 12.0))
    for (u <- 1 to 5) w += ((u.toLong, 11L, 0.5))
    w += ((11L, 12L, 5.0))
    val edges = w.result().toDF("src", "dst", "weight")
    val p = FocusCluster.Params(minWeight = 5.0, minCore = 5)
    val got = leavesNoCache("FocusCluster.run") {
      FocusCluster.run(spark, edges, p).collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    }
    // seeds 1-5 converge on A+20 (seeds 4/5 discover 20 by expansion and
    // record 11 as the struct-best outlier; the cluster-keyed union merges
    // them); seeds 6-10 keep clique B with no outliers
    assert(got === Set(("1,2,3,4,5,20", "11", 6), ("6,7,8,9,10", "", 5)))
  }

  test("MCF global bound is a valid clique lower bound (pruning stays exact)") {
    val graphs = Map(
      "bowtie" -> Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)),
      "sample15" -> Oracles.sample15,
      "er" -> Oracles.erdosRenyi(30, 0.3, seed = 4),
      "plaw" -> Oracles.powerLaw(60, seed = 6))
    graphs.foreach { case (name, es) =>
      val (sz, _, _) = cliqueOracle(es)
      val e = Edges.orientByDegree(es.toDF("src", "dst"))
      val bound = MaxClique.greedyBound(e)
      assert(bound >= 2, s"graph=$name bound $bound not useful")
      assert(bound <= sz, s"graph=$name bound $bound exceeds max clique $sz" +
        " — pruning with it would drop true maxima")
    }
  }

  test("GC ball cap: planted hub seed, capped ball, answer preserved") {
    import graft.kernels.FocusCluster
    // heavy 5-clique + a hub: vertex 1 carries 200 weak satellites. The
    // uncapped dataflow would collect a 200+-row ball for every seed of
    // the clique; the cap truncates the extension layer (weakest weight
    // first) BEFORE collect_list. Satellites can never join (phi gain is
    // within DIFF_RATIO), so the clusters must be identical at every cap.
    val w = Seq.newBuilder[(Long, Long, Double)]
    for (u <- 1 to 5; v <- u + 1 to 5) w += ((u.toLong, v.toLong, 10.0))
    for (i <- 0 until 200) w += ((1L, 1000L + i, 0.1))
    val edges = w.result().toDF("src", "dst", "weight")
    def clusters(maxBall: Int) = FocusCluster.run(spark, edges,
        FocusCluster.Params(minWeight = 5.0, minCore = 5, maxBall = maxBall))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    def logged(maxBall: Int) = stderrLines("[FocusCluster]")(clusters(maxBall))
    val uncapped = clusters(100000)
    assert(uncapped === Set(("1,2,3,4,5", "", 5)))
    assert(clusters(2) === uncapped, "tight cap must not change the answer")
    // extensions fully dropped: the pipeline still completes on core alone
    assert(clusters(0) === uncapped)
    // each of the five seeds' balls holds the 200 satellites; the cap's
    // drop count is reported once per run, and not when nothing drops
    def line(maxBall: Int, n: Int) = s"[FocusCluster] ball cap " +
      s"maxBall=$maxBall dropped $n extension vertices " +
      "(weakest-weight first, deterministic)"
    assert(logged(100000) === Seq.empty)
    assert(logged(2) === Seq(line(2, 5 * 198)))
    assert(logged(0) === Seq(line(0, 5 * 200)))
  }

  test("GC with no qualifying seed or no edge returns no cluster") {
    import graft.kernels.FocusCluster
    // every weight below minWeight: no core, so no ball and no task; the
    // run must finish even when no drop count is observed
    val weak = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 1.0))
      .toDF("src", "dst", "weight")
    val none = Seq.empty[(Long, Long, Double)].toDF("src", "dst", "weight")
    for ((name, es) <- Seq("weak" -> weak, "empty" -> none)) {
      val got = leavesNoCache(s"FocusCluster.run graph=$name") {
        FocusCluster.run(spark, es, FocusCluster.Params(minWeight = 5.0,
          minCore = 2, maxBall = 0)).collect()
      }
      assert(got.isEmpty, s"graph=$name")
    }
  }

  test("GC seed/core stage (q68) matches direct strong-neighbor computation") {
    import graft.kernels.FocusCluster
    val wedges = Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 3L, 2.0),
      (2L, 4L, 5.0), (3L, 4L, 2.0), (4L, 5L, 1.0))
      .toDF("src", "dst", "weight")
    val got = FocusCluster.seedCores(wedges, minWeight = 2.0, minCore = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // strong edges (w >= 2): (1,2),(2,3),(2,4),(3,4); cores: 1→{1,2},
    // 2→{1,2,3,4}, 3→{2,3,4}, 4→{2,3,4}, 5→∅; minCore=3 keeps 2,3,4
    val exp = Set((2L, 4L, "1,2,3,4"), (3L, 3L, "2,3,4"), (4L, 3L, "2,3,4"))
    assert(got === exp)
  }

  test("CD hub guard: finite default cap, deterministic truncation semantics") {
    import graft.kernels.Community
    // planted hub: seed 0 adjacent to 1..40 (all sharing attr "a"), with
    // the only candidate-candidate edge at the LOW-id end — the one the
    // ascending-id truncation must keep
    val verts = (0L to 40L).map(v => (v, Seq("a"))).toDF("vid", "attrs")
    val edges = ((1L to 40L).map(i => (0L, i)) :+ ((1L, 2L)))
      .toDF("src", "dst")
    def commOf(cap: Int) =
      Community.run(spark, verts, edges, 3, cap)
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val exact = commOf(Int.MaxValue)
    assert(exact === Set(("0,1,2", 3)))
    // the finite default is exact on this hub (40 < DefaultMaxCandidates)
    assert(Community.DefaultMaxCandidates < Int.MaxValue)
    assert(commOf(Community.DefaultMaxCandidates) === exact)
    // a binding cap keeps the ascending-id prefix {1,2} — still exact here
    assert(commOf(2) === exact)
    // a cap below the witness yields the documented lower bound (no row)
    assert(commOf(1) === Set.empty)
  }

  test("reference label-format parse") {
    val dir = Files.createTempDirectory("graft-lbl").toString
    Files.writeString(java.nio.file.Paths.get(dir, "g.adj"),
      "1 a\t2 b 3 c\n2 b\t1 a\n3 c\t1 a\n")
    val df = GraphIO.readLabelAdj(spark, s"$dir/g.adj")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Long](2), r.getSeq[String](3))).sortBy(_._1)
    assert(df(0) === ((1L, "a", Seq(2L, 3L), Seq("b", "c"))))
    assert(df(1) === ((2L, "b", Seq(1L), Seq("a"))))
    assert(df(2) === ((3L, "c", Seq(1L), Seq("a"))))
  }
}
