package graft.queries

import graft.graph.Edges
import graft.kernels.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.sources.GraphIO
import graft.text.Dedup
import graft.queries.Common._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Queries over the lineitem co-occurrence graph (`cooc`, or its
  * thresholded `e2`): two parts are linked iff they share an order — the
  * same shape as the corpus derivation "two paths share a commit"
  * (SURVEY §1.3) — so the DuckDB oracle checks the whole pipeline. The
  * iterative kernels are checked against recursive-CTE fixpoints. */
object GraphQueries {
  val all: Seq[Q] = Seq(
    // -- derivation / scans / joins / aggregation (S1, J3/J6, A-family) --
    Q("q01_cooccur_edges", (s, d) => cooc(s, d),
      Sql(s"""WITH $CTE SELECT src, dst, weight FROM cooc""")),
    Q("q02_degrees", (s, d) =>
      Edges.degrees(Edges.symmetrize(e2(s, d))),
      Sql(s"""WITH $CTE SELECT vid, degree FROM deg""")),
    // seed filter (P1: reference spawns tasks only where degree > 1)
    Q("q03_seed_filter", (s, d) =>
      Edges.degrees(Edges.symmetrize(e2(s, d))).filter(col("degree") > 1),
      Sql(s"""WITH $CTE SELECT vid, degree FROM deg WHERE degree > 1""")),
    // degree orientation (P2/P3 + skew bound, SURVEY §4.3)
    Q("q04_orient_bydeg", (s, d) => Edges.orientByDegree(e2(s, d)),
      Sql(s"""WITH $CTE
         |SELECT CASE WHEN x.degree < y.degree OR (x.degree = y.degree AND e.s < e.d) THEN e.s ELSE e.d END AS src,
         |       CASE WHEN x.degree < y.degree OR (x.degree = y.degree AND e.s < e.d) THEN e.d ELSE e.s END AS dst
         |FROM e JOIN deg x ON e.s = x.vid JOIN deg y ON e.d = y.vid""".stripMargin)),
    // sorted adjacency arrays (O1 / VertexTable analog). The array is
    // projected as a CSV string: the round driver's pandas canonicalizer
    // cannot sort/hash ndarray cells (round-1 q05 `err`); array semantics
    // are spec-covered in CorpusSpec/MiningSpec.
    Q("q05_adj", (s, d) =>
      Edges.adjacency(Edges.symmetrize(e2(s, d)))
        .select(col("src"),
          array_join(col("adj").cast("array<string>"), ",").as("adj")),
      Sql(s"""WITH $CTE SELECT s AS src, array_to_string(list(d ORDER BY d), ',') AS adj FROM sym GROUP BY 1""")),
    // triangle counting (J3 oriented intersection; A2 count agg)
    Q("q06_tc_total", (s, d) => TriangleCount.total(e2(s, d)),
      Sql(s"""WITH $CTE
         |SELECT count(*) AS triangles
         |FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d""".stripMargin)),
    Q("q07_tc_pervertex", (s, d) => TriangleCount.perVertex(e2(s, d)),
      Sql(s"""WITH $CTE,
         |tri AS (SELECT a.s AS x, a.d AS y, b.d AS z
         |        FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
         |corners AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |SELECT v AS vid, count(*) AS tc FROM corners GROUP BY 1""".stripMargin)),
    // hash-min connected components to fixpoint (B4)
    Q("q08_cc", (s, d) =>
      ConnectedComponents.run(s, Edges.symmetrize(e2(s, d))).components,
      Sql(s"""WITH RECURSIVE $CTE,
         |$CC_REACH
         |SELECT vid, min(lbl) AS component FROM reach GROUP BY vid""".stripMargin)),
    Q("q09_cc_sizes", (s, d) =>
      ConnectedComponents.run(s, Edges.symmetrize(e2(s, d))).components
        .groupBy(col("component")).agg(count(lit(1)).as("n")),
      Sql(s"""WITH RECURSIVE $CTE,
         |$CC_REACH,
         |cc AS (SELECT vid, min(lbl) AS component FROM reach GROUP BY vid)
         |SELECT component, count(*) AS n FROM cc GROUP BY 1""".stripMargin)),
    // PageRank, 10 fixed supersteps (B1/B2 substrate)
    Q("q10_pagerank", (s, d) =>
      // symmetric=true: the input IS a symmetrize() view, so the vertex
      // set equals the out-degree keys and nothing dangles — skips the
      // |2E|-row union+distinct and the dangling probe; ranks identical
      PageRank.run(s, Edges.symmetrize(cooc(s, d).select(col("src"), col("dst"))),
        fixedIter = Some(10), symmetric = true).ranks
        .select(col("vid"), round(col("rank"), 8).as("rank")),
      Sql(s"""WITH RECURSIVE $CTE, $FULL,
         |pr(iter, vid, rank) AS (
         |  SELECT 0, vid, CAST(1.0 AS DOUBLE) / (SELECT n FROM nv) FROM fdeg
         |  UNION ALL
         |  SELECT p.iter + 1, s.d,
         |         CAST(0.15 AS DOUBLE) / (SELECT n FROM nv)
         |         + CAST(0.85 AS DOUBLE) * sum(p.rank / g.odeg)
         |  FROM pr p JOIN fdeg g ON p.vid = g.vid JOIN fsym s ON p.vid = s.s
         |  WHERE p.iter < 10
         |  GROUP BY 1, 2
         |)
         |SELECT vid, round(rank, 8) AS rank FROM pr WHERE iter = 10""".stripMargin)),
    // synchronous label propagation, 5 supersteps, mode w/ min tie-break
    Q("q11_lp", (s, d) =>
      LabelPropagation.run(s, Edges.symmetrize(e2(s, d)), 5).labels,
      Sql(s"""WITH RECURSIVE $CTE,
         |$LP
         |SELECT vid, lbl AS label FROM lp WHERE iter = 5""".stripMargin)),
    // argmax-with-ties aggregate (A3 shape: max + count at max + witness)
    Q("q12_argmax_degree", (s, d) => {
      val deg = Edges.degrees(Edges.symmetrize(e2(s, d)))
      val mx = deg.agg(max(col("degree")).as("mx"))
      deg.join(broadcast(mx), col("degree") === col("mx"))
        .agg(max(col("degree")).as("max_degree"),
          count(lit(1)).as("n_at_max"), min(col("vid")).as("min_vid"))
    },
      Sql(s"""WITH $CTE
         |SELECT max(degree) AS max_degree, count(*) AS n_at_max, min(vid) AS min_vid
         |FROM deg WHERE degree = (SELECT max(degree) FROM deg)""".stripMargin)),
    // top-k pruning (O5): top-3 neighbors by weight per vertex
    Q("q13_topk_nbrs", (s, d) => {
      val c = cooc(s, d)
      val w = c.select(col("src"), col("dst"), col("weight"))
        .union(c.select(col("dst"), col("src"), col("weight")))
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy(col("src"))
        .orderBy(col("weight").desc, col("dst"))
      w.withColumn("rn", row_number().over(win))
        .filter(col("rn") <= 3).select(col("src"), col("dst"), col("weight"))
    },
      Sql(s"""WITH $CTE,
         |w AS (SELECT src AS s, dst AS d, weight FROM cooc
         |      UNION ALL SELECT dst, src, weight FROM cooc),
         |r AS (SELECT s, d, weight,
         |             row_number() OVER (PARTITION BY s ORDER BY weight DESC, d) AS rn
         |      FROM w)
         |SELECT s AS src, d AS dst, weight FROM r WHERE rn <= 3""".stripMargin)),
    // pattern join over labeled vertices (J5) with broadcast dim (J7)
    Q("q14_pattern_brand", (s, d) => {
      val p = T(s, d, "part").select(col("p_partkey"), col("p_brand"))
      cooc(s, d)
        .join(broadcast(p.withColumnRenamed("p_partkey", "src")
          .withColumnRenamed("p_brand", "brand_a")), "src")
        .join(broadcast(p.withColumnRenamed("p_partkey", "dst")
          .withColumnRenamed("p_brand", "brand_c")), "dst")
        .groupBy(col("brand_a"), col("brand_c"))
        .agg(count(lit(1)).as("pairs"))
    },
      Sql(s"""WITH $CTE
         |SELECT x.p_brand AS brand_a, y.p_brand AS brand_c, count(*) AS pairs
         |FROM cooc JOIN part x ON cooc.src = x.p_partkey
         |          JOIN part y ON cooc.dst = y.p_partkey
         |GROUP BY 1, 2""".stripMargin)),

    // P5 demo sampling filter (apps/trianglecount.cpp:167-182): keep
    // per-vertex results whose size lies in [sample_min, sample_max],
    // then a 1-in-N modulo sample (the reference samples by task counter;
    // vid is the deterministic set-at-a-time analog)
    Q("q42_demo_sample", (s, d) =>
      TriangleCount.perVertex(e2(s, d))
        .filter(col("tc").between(1, 20) &&
          pmod(col("vid"), lit(10)) === 0),
      Sql(s"""WITH $CTE,
         |tri AS (SELECT a.s AS x, a.d AS y, b.d AS z
         |        FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
         |corners AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
         |tc AS (SELECT v AS vid, count(*) AS tc FROM corners GROUP BY 1)
         |SELECT vid, tc FROM tc WHERE tc BETWEEN 1 AND 20 AND vid % 10 = 0""".stripMargin)),

    // pattern join (J5, GM semantics): labeled 3-path embeddings
    Q("q30_pattern_path3", (s, d) => {
      val verts = T(s, d, "part")
        .select(col("p_partkey").cast("long").as("vid"),
          col("p_brand").as("label"))
      graft.kernels.GraphMatch.countPath(verts,
        Edges.symmetrize(e2(s, d)),
        Seq("Brand#1", "Brand#2", "Brand#3"))
    },
      Sql(s"""WITH $CTE,
         |lab AS (SELECT p_partkey AS vid, p_brand AS label FROM part)
         |SELECT count(*) AS matches
         |FROM lab a
         |JOIN sym e1 ON e1.s = a.vid
         |JOIN lab b ON e1.d = b.vid
         |JOIN sym e2 ON e2.s = b.vid
         |JOIN lab c ON e2.d = c.vid
         |WHERE a.label = 'Brand#1' AND b.label = 'Brand#2'
         |  AND c.label = 'Brand#3' AND a.vid <> c.vid""".stripMargin)),

    // the GM demo's TREE pattern: a(b, c(=leaf)), b→d (J5, reference shape)
    Q("q35_pattern_tree", (s, d) => {
      val verts = T(s, d, "part")
        .select(col("p_partkey").cast("long").as("vid"),
          col("p_brand").as("label"))
      graft.kernels.GraphMatch.countTree(verts, Edges.symmetrize(e2(s, d)),
        "Brand#1", "Brand#2", "Brand#3", "Brand#4")
    },
      Sql(s"""WITH $CTE,
         |lab AS (SELECT p_partkey AS vid, p_brand AS label FROM part)
         |SELECT count(*) AS matches
         |FROM lab a
         |JOIN sym e1 ON e1.s = a.vid JOIN lab b ON e1.d = b.vid
         |JOIN sym e2 ON e2.s = a.vid JOIN lab c ON e2.d = c.vid
         |JOIN sym e3 ON e3.s = b.vid JOIN lab d ON e3.d = d.vid
         |WHERE a.label = 'Brand#1' AND b.label = 'Brand#2'
         |  AND c.label = 'Brand#3' AND d.label = 'Brand#4'
         |  AND b.vid <> c.vid AND a.vid <> d.vid AND c.vid <> d.vid""".stripMargin)),

    // max clique (MCF semantics: argmax size + ties + witness; witness
    // projected as CSV — round-1 q31 `err`, same pandas-canon limit as q05)
    Q("q31_maxclique", (s, d) =>
      graft.kernels.MaxClique.run(s, e2(s, d))
        .select(col("max_size"), col("n_cliques"),
          array_join(col("witness").cast("array<string>"), ",")
            .as("witness")),
      // exhaustive clique enumeration (members ascending => each clique once,
      // rooted at its min member) -> argmax size + ties + lex-min witness.
      // NOTE: vertex base = deg (every endpoint of sym); a UNION-based verts
      // CTE would NOT be deduplicated by DuckDB under WITH RECURSIVE.
      Sql(s"""WITH RECURSIVE $CTE,
         |clq(members, last) AS (
         |  SELECT [vid], vid FROM deg
         |  UNION ALL
         |  SELECT list_append(c.members, n.d), n.d
         |  FROM clq c JOIN e n ON n.s = c.last
         |  WHERE (SELECT count(*) FROM unnest(c.members) AS t(m)
         |         JOIN e ON e.s = t.m AND e.d = n.d) = len(c.members)
         |),
         |mx AS (SELECT max(len(members)) AS m FROM clq)
         |SELECT CAST((SELECT m FROM mx) AS INT) AS max_size,
         |       count(*) AS n_cliques,
         |       array_to_string(min(members), ',') AS witness
         |FROM clq WHERE len(members) = (SELECT m FROM mx)""".stripMargin)),
    // k-core peeling (CD density primitive)
    Q("q32_kcore", (s, d) =>
      graft.kernels.KCore.run(s, Edges.symmetrize(e2(s, d)), 3).core,
      // peel to fixpoint: each recursive row is the whole survivor id-list;
      // UNION (distinct) halts the recursion at the first repeated list
      Sql(s"""WITH RECURSIVE $CTE,
         |peel(vids) AS (
         |  SELECT list(vid ORDER BY vid) FROM deg WHERE degree >= 3
         |  UNION
         |  SELECT coalesce((SELECT list(s ORDER BY s) FROM (
         |      SELECT e2.s AS s FROM sym e2
         |      WHERE list_contains(p.vids, e2.s) AND list_contains(p.vids, e2.d)
         |      GROUP BY e2.s HAVING count(*) >= 3)), CAST([] AS BIGINT[]))
         |  FROM peel p
         |),
         |fin AS (SELECT unnest(vids) AS vid
         |        FROM (SELECT vids FROM peel ORDER BY len(vids) LIMIT 1))
         |SELECT e3.s AS vid, count(*) AS degree FROM sym e3
         |WHERE e3.s IN (SELECT vid FROM fin) AND e3.d IN (SELECT vid FROM fin)
         |GROUP BY 1""".stripMargin)),

    // CD attribute-based community detection (reference apps/community.cpp):
    // distinct max attribute-sharing cliques of size >= 3, one per seed
    Q("q36_community", (s, d) => {
      val verts = T(s, d, "part").select(
        col("p_partkey").cast("long").as("vid"),
        array(col("p_brand"),
          concat(lit("sz"), (col("p_size") % 4).cast("string")),
          concat(lit("pr"),
            (floor(col("p_retailprice")).cast("long") % 3).cast("string")))
          .as("attrs"))
      // the ORACLE path is exact: pin maxCandidates to the unbounded
      // setting so a larger-sf hub can never silently truncate against
      // the exact DuckDB replay (the finite default stays the API guard)
      graft.kernels.Community.run(s, verts, e2(s, d), k = 3,
        maxCandidates = Int.MaxValue)
    },
      // attribute-sharing clique enumeration carrying the narrowing common
      // attr set; per seed (min member) the argmax-size / lex-min community
      Sql(s"""WITH RECURSIVE $CTE,
         |av AS (SELECT p_partkey AS vid,
         |               [p_brand, 'sz' || CAST(p_size % 4 AS VARCHAR),
         |                'pr' || CAST(CAST(floor(p_retailprice) AS BIGINT) % 3 AS VARCHAR)] AS attrs
         |        FROM part),
         |clq(members, last, attrs) AS (
         |  SELECT [vid], vid, attrs FROM av WHERE len(attrs) > 0
         |  UNION ALL
         |  SELECT list_append(c.members, n.d), n.d, list_intersect(c.attrs, a2.attrs)
         |  FROM clq c JOIN e n ON n.s = c.last JOIN av a2 ON a2.vid = n.d
         |  WHERE len(list_intersect(c.attrs, a2.attrs)) > 0
         |    AND (SELECT count(*) FROM unnest(c.members) AS t(m)
         |         JOIN e ON e.s = t.m AND e.d = n.d) = len(c.members)
         |),
         |best AS (SELECT members, len(members) AS sz,
         |                row_number() OVER (PARTITION BY members[1]
         |                  ORDER BY len(members) DESC, members ASC) AS rn
         |         FROM clq WHERE len(members) >= 3)
         |SELECT array_to_string(members, ',') AS community, CAST(sz AS INT) AS size
         |FROM best WHERE rn = 1""".stripMargin)),

    // GENERAL pattern-graph matching (J5 generalized): a CYCLIC pattern —
    // labeled triangle with a repeated label, so the injectivity filters
    // and the cycle-closing existence join are both load-bearing
    Q("q39_pattern_cycle", (s, d) => {
      val verts = T(s, d, "part")
        .select(col("p_partkey").cast("long").as("vid"),
          col("p_brand").as("label"))
      graft.kernels.GraphMatch.countPattern(verts,
        Edges.symmetrize(e2(s, d)),
        Seq("Brand#14", "Brand#8", "Brand#8"),
        Seq((1, 2), (2, 3), (1, 3)))
    },
      Sql(s"""WITH $CTE,
         |lab AS (SELECT p_partkey AS vid, p_brand AS label FROM part)
         |SELECT count(*) AS matches FROM sym e1
         |JOIN lab a ON a.vid = e1.s JOIN lab b ON b.vid = e1.d
         |JOIN sym e2 ON e2.s = e1.d JOIN lab c ON c.vid = e2.d
         |JOIN sym e3 ON e3.s = e1.s AND e3.d = e2.d
         |WHERE a.label = 'Brand#14' AND b.label = 'Brand#8' AND c.label = 'Brand#8'
         |  AND a.vid <> b.vid AND a.vid <> c.vid AND b.vid <> c.vid""".stripMargin)),

    // GC focused clustering with outliers (reference apps/focusCO.cpp) on
    // the weighted co-occurrence graph. No SQL oracle (greedy phi loop is
    // not SQL-expressible); exactness covered by the hand-traced
    // MiningSpec oracle — rows-only here.
    Q("q37_focus_cluster", (s, d) =>
      graft.kernels.FocusCluster.run(s,
        cooc(s, d).select(col("src"), col("dst"), col("weight")),
        graft.kernels.FocusCluster.Params(minWeight = 2.0, minCore = 10)),
      RowsOnly("FocusCO: the greedy phi loop is not SQL-expressible. Hash-matched " +
        "sibling: q68_gc_seed_cores (its seed/core stage, same graph and " +
        "params), checked by MiningSpec \"GC seed/core stage (q68) matches " +
        "direct strong-neighbor computation\"; the whole loop by MiningSpec " +
        "\"GC focused clustering matches a hand-computed FocusCO trace\"")),

    // BDG Voronoi+greedy layout END-TO-END (B3/B5/B6/B7), hash-matched
    // (round-5 promotion of the last rows-only pipeline row): frozen
    // sha-seeded flood at the production 1% seed rate (deeper 6-hop
    // radius compensates the sparser seeds), integer parity packer
    // (assignBlocksExact, q96-proven), exact per-worker stats with the
    // sha-hash baseline (q97-proven) — every stage deterministic and
    // SQL-replayable, so the full pipeline output hash-matches a DuckDB
    // recursive-CTE replay. The re-seed ladder path (voronoiColors +
    // layout) stays spec-covered in PartitionSpec with the hash-beating
    // assertion.
    Q("q38_bdg_layout", (s, d) => bdgCross(s, d, 10, 6),
      // end-to-end BDG pipeline replay — q97's flood+packer+stats CTE at
      // the production 1% seed rate and 6-hop flood radius
      Sql(bdgCrossSql(10, 6))),

    // B3 Voronoi flood ALONE, hash-matched (round-3 promotion of the q38
    // no-oracle row): seeds are a deterministic sha-hash sample (the one
    // hash family DuckDB shares), flood radius fixed at 4 hops, no
    // re-seeding and no CC fallback. Frozen min-adoption == "min color
    // among the NEAREST seeds", which a bounded recursive CTE replays
    // exactly (see BdgLayout.floodColors scaladoc).
    Q("q56_voronoi", (s, d) => bdgColors(s, d, 50, 4)._2,
      // bounded BFS replay of the frozen min-adoption flood: reach holds
      // every (vertex, seed color, path length <= 4) triple; a vertex's
      // flood color is the min color at its MINIMUM seed distance (the
      // closed form of synchronous adopt-and-freeze — seeds at distance
      // d are unreachable adopters once the vertex froze at d_min < d)
      Sql(s"""WITH RECURSIVE $CTE,
         |${bdgFlood(50, 4)}
         |SELECT r.vid, min(r.color) AS color
         |FROM reach r JOIN md ON r.vid = md.vid AND r.h = md.mh
         |GROUP BY 1""".stripMargin)),

    // S1b/S4 end-to-end: dump the graph in ALL FOUR reference text formats
    // (normal/label/attr/multi_attr), read each back through its scan plan,
    // and report per-format vertex/edge/weight totals (hash-oracled against
    // the parquet-derived graph). Content equality is spec-covered (IoSpec).
    Q("q43_io_roundtrip", (s, d) => {
      val tmp = scratchDir("graft_io")
      // persisted across the three format dumps (each write is an action);
      // dropped before the read-back phase, which depends only on the files
      val adj = Edges.adjacency(Edges.symmetrize(e2(s, d))).persist()
      GraphIO.writeNormalAdj(adj, s"$tmp/normal")
      GraphIO.writeLabelAdj(adj.select(col("src"),
        concat(lit("L"), pmod(col("src"), lit(5)).cast("string")).as("label"),
        col("adj").as("nbrs"),
        transform(col("adj"),
          n => concat(lit("L"), pmod(n, lit(5)).cast("string"))).as("labels")),
        s"$tmp/label")
      GraphIO.writeAttrAdj(adj.select(col("src"),
        array(concat(lit("a"), pmod(col("src"), lit(3)).cast("string")))
          .as("attrs"), col("adj")), s"$tmp/attr")
      val c = cooc(s, d).filter(col("weight") >= 2)
        .localCheckpoint(eager = true) // consumed by both union branches
      val wsym = c.select(col("src"), col("dst"), col("weight"))
        .union(c.select(col("dst"), col("src"), col("weight")))
      GraphIO.writeMultiAttrAdj(wsym.select(col("src"),
        array(lit("m")).as("attrs"), col("dst"), col("weight")),
        s"$tmp/multi")
      adj.unpersist()
      // nbr_sum = global sum of read-back neighbor ids: a content
      // checksum the count-based totals alone would miss
      def row(fmt: String, agg: DataFrame): DataFrame =
        agg.select(lit(fmt).as("fmt"), col("n_vertices"), col("n_edges"),
          col("nbr_sum"), col("sum_weight"))
      val adjSum = aggregate(col("adj"), lit(0L), (acc, x) => acc + x)
      row("normal", GraphIO.readNormalAdj(s, s"$tmp/normal")
          .agg(count(lit(1)).as("n_vertices"),
            sum(size(col("adj"))).as("n_edges"),
            sum(adjSum).as("nbr_sum"),
            lit(0.0).as("sum_weight")))
        .union(row("label", GraphIO.readLabelAdj(s, s"$tmp/label")
          .agg(count(lit(1)).as("n_vertices"),
            sum(size(col("labels"))).as("n_edges"),
            sum(aggregate(col("nbrs"), lit(0L), (acc, x) => acc + x))
              .as("nbr_sum"),
            lit(0.0).as("sum_weight"))))
        .union(row("attr", GraphIO.readAttrAdj(s, s"$tmp/attr")
          .agg(count(lit(1)).as("n_vertices"),
            sum(size(col("adj"))).as("n_edges"),
            sum(adjSum).as("nbr_sum"),
            lit(0.0).as("sum_weight"))))
        .union(row("multi_attr", GraphIO.readMultiAttrEdges(s, s"$tmp/multi")
          .agg(countDistinct(col("src")).as("n_vertices"),
            count(lit(1)).as("n_edges"),
            sum(col("dst")).as("nbr_sum"),
            round(sum(col("weight")), 6).as("sum_weight"))))
    },
      // every text format must reproduce the parquet-derived graph's totals
      Sql(s"""WITH $CTE,
         |nvv AS (SELECT count(*) AS v FROM deg),
         |nee AS (SELECT count(*) AS e FROM sym),
         |nss AS (SELECT CAST(sum(d) AS BIGINT) AS ns FROM sym),
         |wz AS (SELECT round(CAST(2 * sum(weight) AS DOUBLE), 6) AS w
         |       FROM cooc WHERE weight >= 2)
         |SELECT 'normal' AS fmt, (SELECT v FROM nvv) AS n_vertices,
         |       (SELECT e FROM nee) AS n_edges,
         |       (SELECT ns FROM nss) AS nbr_sum,
         |       CAST(0.0 AS DOUBLE) AS sum_weight
         |UNION ALL SELECT 'label', (SELECT v FROM nvv), (SELECT e FROM nee),
         |          (SELECT ns FROM nss), 0.0
         |UNION ALL SELECT 'attr', (SELECT v FROM nvv), (SELECT e FROM nee),
         |          (SELECT ns FROM nss), 0.0
         |UNION ALL SELECT 'multi_attr', (SELECT v FROM nvv),
         |          (SELECT e FROM nee), (SELECT ns FROM nss),
         |          (SELECT w FROM wz)""".stripMargin)),

    // S7 in the driver path: run CC for 2 supersteps against a durable
    // checkpoint, then a FRESH run resumes from the last commit and finishes —
    // final components must equal the uninterrupted q08 fixpoint
    Q("q44_resume", (s, d) => {
      val root = scratchDir("graft_ckpt")
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      ConnectedComponents.run(s, sym, maxIter = 2,
        ckpt = Some(new graft.engine.Checkpointer(root, "cc")))
      val r = ConnectedComponents.run(s, sym,
        ckpt = Some(new graft.engine.Checkpointer(root, "cc")),
        resume = true)
      // the marker proves resumption: the resumed run's FIRST executed
      // superstep is 3 (a from-scratch rerun would report 1)
      r.components.withColumn("resumed_from", lit(r.metrics.head.iter))
    },
      // resumed run must land on the same fixpoint as q08; resumed_from =
      // (supersteps the 2-capped first run actually executed) + 1, derived
      // by replaying hash-min for 2 iterations (input-independent — if the
      // graph converged in 1 superstep the marker is 2, not 3)
      Sql(s"""WITH RECURSIVE $CTE,
         |symz AS (SELECT s, d FROM sym UNION ALL SELECT vid, vid FROM deg),
         |st(iter, vid, comp) AS (
         |  SELECT 0, vid, vid FROM deg
         |  UNION ALL
         |  SELECT p.iter + 1, z.d, min(p.comp) FROM st p JOIN symz z ON p.vid = z.s
         |  WHERE p.iter < 2 GROUP BY 1, 2
         |),
         |chg AS (SELECT a.iter AS iter,
         |               count(*) FILTER (WHERE a.comp <> b.comp) AS changed
         |        FROM st a JOIN st b ON a.vid = b.vid AND b.iter = a.iter - 1
         |        GROUP BY 1),
         |rf AS (SELECT coalesce(min(iter) FILTER (WHERE changed = 0), 2) + 1
         |         AS v FROM chg),
         |$CC_REACH
         |SELECT vid, min(lbl) AS component,
         |       CAST((SELECT v FROM rf) AS INT) AS resumed_from
         |FROM reach GROUP BY vid""".stripMargin)),

    // S6/A9 in the driver path: the per-superstep metrics table itself
    // (iter, state rows, changed count) for 4 fixed CC supersteps, oracled
    // by a DuckDB recursive-CTE replay of hash-min
    Q("q45_metrics", (s, d) => {
      val r = ConnectedComponents.run(s, Edges.symmetrize(e2(s, d)),
        maxIter = 4)
      import s.implicits._
      r.metrics.map(m => (m.iter, m.rows, m.delta.toLong))
        .toDF("iter", "n_rows", "changed")
    },
      // replay 4 synchronous hash-min supersteps (self-message via symz) and
      // diff consecutive states; stop where the engine's loop stops (first
      // changed=0 iteration, capped at 4)
      Sql(s"""WITH RECURSIVE $CTE,
         |symz AS (SELECT s, d FROM sym UNION ALL SELECT vid, vid FROM deg),
         |st(iter, vid, comp) AS (
         |  SELECT 0, vid, vid FROM deg
         |  UNION ALL
         |  SELECT p.iter + 1, z.d, min(p.comp) FROM st p JOIN symz z ON p.vid = z.s
         |  WHERE p.iter < 4 GROUP BY 1, 2
         |),
         |chg AS (SELECT a.iter AS iter,
         |               (SELECT count(*) FROM deg) AS n_rows,
         |               count(*) FILTER (WHERE a.comp <> b.comp) AS changed
         |        FROM st a JOIN st b ON a.vid = b.vid AND b.iter = a.iter - 1
         |        GROUP BY 1),
         |stp AS (SELECT coalesce(min(iter) FILTER (WHERE changed = 0), 4) AS k
         |        FROM chg)
         |SELECT CAST(iter AS INT) AS iter, n_rows, changed FROM chg
         |WHERE iter <= (SELECT k FROM stp)""".stripMargin)),

    // drill-down deletion replay (reference `core/master.tpp:30-110`):
    // commit the edge table to the catalog, DELETE the rows touching
    // vid % 7 == 0 (a new snapshot — prior ones stay time-travelable),
    // recompute CC from the surviving snapshot
    Q("q46_drilldown", (s, d) => {
      val root = scratchDir("graft_cat")
      val cat = new graft.catalog.LocalCatalog(root)
      cat.createOrReplace("edges", e2(s, d))
      cat.deleteWhere(s, "edges",
        pmod(col("src"), lit(7)) === 0 || pmod(col("dst"), lit(7)) === 0)
      ConnectedComponents.run(s,
        Edges.symmetrize(cat.read(s, "edges"))).components
    },
      // CC over the graph with all vid%7==0 endpoints deleted
      Sql(s"""WITH RECURSIVE $CTE,
         |e2 AS (SELECT s, d FROM e WHERE s % 7 <> 0 AND d % 7 <> 0),
         |sym2 AS (SELECT s, d FROM e2 UNION ALL SELECT d, s FROM e2),
         |deg2 AS (SELECT s AS vid FROM sym2 GROUP BY 1),
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM deg2
         |  UNION
         |  SELECT s2.d, r.lbl FROM reach r JOIN sym2 s2 ON r.vid = s2.s
         |)
         |SELECT vid, min(lbl) AS component FROM reach GROUP BY vid""".stripMargin)),

    // A5 map-union agg in the driver path: per-component brand histogram
    // as a canonical "brand:count" CSV (partial maps merge map-side)
    Q("q50_comp_hist", (s, d) => {
      val cc = ConnectedComponents.run(s,
        Edges.symmetrize(e2(s, d))).components
      val brands = T(s, d, "part").select(
        col("p_partkey").cast("long").as("vid"), col("p_brand").as("brand"))
      cc.join(brands, "vid")
        .groupBy(col("component"), col("brand")).agg(count(lit(1)).as("n"))
        .groupBy(col("component"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("brand"), col("n")))),
          x => concat_ws(":", x.getField("brand"), x.getField("n"))), ",")
          .as("hist"))
    },
      Sql(s"""WITH RECURSIVE $CTE,
         |$CC_REACH,
         |cc AS (SELECT vid, min(lbl) AS component FROM reach GROUP BY vid),
         |bc AS (SELECT cc.component AS component, p.p_brand AS brand,
         |              count(*) AS n
         |       FROM cc JOIN part p ON cc.vid = p.p_partkey GROUP BY 1, 2)
         |SELECT component, string_agg(brand || ':' || n, ',' ORDER BY brand)
         |       AS hist
         |FROM bc GROUP BY 1""".stripMargin)),

    // multi-source BFS: min hop distance (<= 4) to the sha-sampled seed
    // set — the reachability primitive (graph feature generation;
    // replayed by a bounded recursive CTE like q56)
    Q("q59_bfs", (s, d) => {
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(shaMod("vid", 1000L) < 20)
      graft.kernels.Bfs.distances(sym, seeds, maxHop = 4)
    },
      // bounded multi-source BFS replay: dist = min hop count (<= 4) to any
      // sha-sampled seed (the q56 recursion minus the color payload)
      Sql(s"""WITH RECURSIVE $CTE,
         |${shaSeeds(20)},
         |reach(vid, h) AS (
         |  SELECT vid, 0 FROM seeds
         |  UNION
         |  SELECT s.d, r.h + 1 FROM reach r JOIN sym s ON r.vid = s.s
         |  WHERE r.h < 4
         |)
         |SELECT vid, CAST(min(h) AS BIGINT) AS dist FROM reach GROUP BY 1""".stripMargin)),

    // personalized PageRank: teleport + dangling mass distributed over a
    // sha-sampled seed set (PageRank.run(personalized=...)); replayed by
    // the q10 recursive CTE with a per-vertex teleport column
    Q("q62_ppr", (s, d) => {
      // materialized once: consumed by the seed filter AND the PR pre-
      // loop; symmetric=true as in q10 (input is a symmetrize() view)
      val sym = Edges.symmetrize(cooc(s, d).select(col("src"), col("dst")))
        .localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(shaMod("vid", 1000L) < 20)
      PageRank.run(s, sym, fixedIter = Some(10),
          personalized = Some(seeds), symmetric = true)
        .ranks.select(col("vid"), round(col("rank"), 8).as("rank"))
    },
      // personalized PageRank replay: the q10 recursion with the uniform
      // 1/n teleport replaced by a per-vertex tele column (1/|seeds| on the
      // sha-sampled seeds, 0 elsewhere); on the symmetric full graph there
      // is no dangling mass
      Sql(s"""WITH RECURSIVE $CTE, $FULL,
         |seeds AS (SELECT vid FROM fdeg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 20),
         |tele AS (SELECT f.vid,
         |                CASE WHEN sd.vid IS NOT NULL
         |                     THEN CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM seeds)
         |                     ELSE CAST(0.0 AS DOUBLE) END AS t
         |         FROM fdeg f LEFT JOIN seeds sd ON f.vid = sd.vid),
         |ppr(iter, vid, rank) AS (
         |  SELECT 0, vid, t FROM tele
         |  UNION ALL
         |  SELECT p.iter + 1, t.vid,
         |         CAST(0.15 AS DOUBLE) * t.t
         |         + CAST(0.85 AS DOUBLE) * sum(p.rank / g.odeg)
         |  FROM ppr p JOIN fdeg g ON p.vid = g.vid JOIN fsym s ON p.vid = s.s
         |       JOIN tele t ON s.d = t.vid
         |  WHERE p.iter < 10
         |  GROUP BY 1, 2, t.t
         |)
         |SELECT vid, round(rank, 8) AS rank FROM ppr WHERE iter = 10""".stripMargin)),

    // bounded-hop weighted shortest paths (synchronous Bellman-Ford, <= 4
    // edges): integer co-occurrence weights keep the replay exact
    Q("q63_sssp", (s, d) => {
      val cw = cooc(s, d).filter(col("weight") >= 2)
        .localCheckpoint(eager = true) // consumed by both union branches
      val symW = cw.select(col("src"), col("dst"), col("weight"))
        .union(cw.select(col("dst").as("src"), col("src").as("dst"),
          col("weight")))
      val seeds = symW.select(col("src").as("vid")).distinct()
        .filter(shaMod("vid", 1000L) < 20)
      graft.kernels.Bfs.weightedDistances(symW, seeds, rounds = 4)
    },
      // bounded Bellman-Ford replay: dist = min total weight over paths of
      // <= 4 edges from the seed set (exact: integer weights)
      Sql(s"""WITH RECURSIVE $CTE,
         |ew AS (SELECT src AS s, dst AS d, weight AS w FROM cooc WHERE weight >= 2
         |       UNION ALL
         |       SELECT dst, src, weight FROM cooc WHERE weight >= 2),
         |${shaSeeds(20)},
         |reach(vid, dist, h) AS (
         |  SELECT vid, CAST(0 AS BIGINT), 0 FROM seeds
         |  UNION
         |  SELECT e.d, r.dist + e.w, r.h + 1 FROM reach r JOIN ew e ON r.vid = e.s
         |  WHERE r.h < 4
         |)
         |SELECT vid, min(dist) AS dist FROM reach GROUP BY 1""".stripMargin)),

    // eigenvector centrality: 6 power-iteration supersteps, normalized
    // once at the end (unnormalized walk counts stay integer-exact)
    Q("q64_eigencentrality", (s, d) =>
      graft.kernels.EigenCentrality.run(s, Edges.symmetrize(e2(s, d)), 6)
        .scores.select(col("vid"), round(col("score"), 8).as("score")),
      // power-iteration replay: unnormalized x_k = walk counts (integer in
      // double), one final L1 normalization
      Sql(s"""WITH RECURSIVE $CTE,
         |ec(iter, vid, x) AS (
         |  SELECT 0, vid, CAST(1.0 AS DOUBLE) FROM deg
         |  UNION ALL
         |  SELECT e.iter + 1, s.d, sum(e.x) FROM ec e JOIN sym s ON e.vid = s.s
         |  WHERE e.iter < 6 GROUP BY 1, 2
         |)
         |SELECT vid, round(x / (SELECT sum(x) FROM ec WHERE iter = 6), 8) AS score
         |FROM ec WHERE iter = 6""".stripMargin)),

    // A7 block info ALONE, hash-matched (round-4 promotion of the stage
    // feeding q38's greedy packer, mirroring how q56 isolated the flood):
    // per-color size + sorted neighbor-color set over the q56 flood colors
    Q("q67_block_info", (s, d) => {
      val (sym, colors) = bdgColors(s, d, 50, 4)
      graft.partition.BdgLayout.blockInfo(sym, colors)
        .select(col("color"), col("size"),
          array_join(col("nbs").cast("array<string>"), ",").as("nbs"))
    },
      // q56's flood replay extended one stage: per-color size + sorted
      // neighbor-color CSV over colored-colored edges (A7 block info,
      // reference partition/BDGPartitioner.tpp:5-135)
      Sql(s"""WITH RECURSIVE $CTE,
         |${bdgFlood(50, 4)},
         |colors AS (SELECT r.vid, min(r.color) AS color
         |           FROM reach r JOIN md ON r.vid = md.vid AND r.h = md.mh
         |           GROUP BY 1),
         |sizes AS (SELECT color, count(*) AS size FROM colors GROUP BY 1),
         |nb AS (SELECT DISTINCT ca.color AS c1, cb.color AS c2
         |       FROM sym s JOIN colors ca ON s.s = ca.vid
         |                  JOIN colors cb ON s.d = cb.vid
         |       WHERE ca.color <> cb.color)
         |SELECT z.color, z.size,
         |       coalesce(string_agg(CAST(n.c2 AS VARCHAR), ',' ORDER BY n.c2), '') AS nbs
         |FROM sizes z LEFT JOIN nb n ON z.color = n.c1
         |GROUP BY 1, 2""".stripMargin)),

    // GC seed/core stage ALONE, hash-matched (round-4 promotion of q37's
    // first stage — the greedy phi loop itself stays spec-covered): per
    // qualifying seed, the strong-neighbor core on the SAME weighted
    // graph and params as q37 (minWeight=2, minCore=10)
    Q("q68_gc_seed_cores", (s, d) =>
      graft.kernels.FocusCluster.seedCores(
        cooc(s, d).select(col("src"), col("dst"), col("weight")),
        minWeight = 2.0, minCore = 10),
      // GC seed rule: the CTE's sym IS the strong (weight >= 2) symmetric
      // edge set of the q37 weighted graph, so core(seed) = {seed} ∪ its
      // sym-neighbors, kept at size >= 10 (apps/focusCO.cpp:608-629)
      Sql(s"""WITH $CTE,
         |corem AS (SELECT s AS seed, d AS m FROM sym
         |          UNION
         |          SELECT s, s FROM sym),
         |agg AS (SELECT seed, count(*) AS core_size,
         |               string_agg(CAST(m AS VARCHAR), ',' ORDER BY m) AS core
         |        FROM corem GROUP BY 1)
         |SELECT seed, core_size, core FROM agg WHERE core_size >= 10""".stripMargin)),

    // k-truss peel, 3 FIXED rounds (k=3: every surviving edge in >= 1
    // triangle of the surviving subgraph — k=4 empties this sparse graph:
    // only 2 of its 3445 edges reach support 2) — the cohesive-subgraph
    // operator over the TC fabric; fixed rounds so DuckDB replays the
    // identical staged SQL (the fixpoint path is spec-covered)
    Q("q69_ktruss", (s, d) =>
      graft.kernels.KTruss.run(e2(s, d), k = 3, maxRounds = 3),
      // 3 staged peel rounds (q06's triangle join per round): keep edges in
      // >= k-2 = 1 triangle of the current subgraph, recompute, repeat
      Sql(s"""WITH $CTE,
         |$TRUSS
         |SELECT p2.s AS src, p2.d AS dst
         |FROM p2 JOIN s2 ON p2.s = s2.s AND p2.d = s2.d
         |WHERE s2.sup >= 1""".stripMargin)),

    // common-neighbor link prediction: top-5 non-edge candidates per
    // vertex (wedge join via the co-occurrence derivation, exact scores)
    Q("q70_link_predict", (s, d) =>
      graft.kernels.LinkPredict.commonNeighbors(e2(s, d), topK = 5),
      // wedge join on the shared center = the cooc derivation over the
      // symmetric edge table; non-edges only; per-vertex top-5 by
      // (common-neighbor count desc, candidate id)
      Sql(s"""WITH $CTE,
         |wed AS (SELECT a.d AS x, b.d AS y
         |        FROM sym a JOIN sym b ON a.s = b.s AND a.d < b.d),
         |cn AS (SELECT x, y, count(*) AS cn FROM wed GROUP BY 1, 2),
         |cd AS (SELECT cn.x, cn.y, cn.cn FROM cn
         |       LEFT JOIN e ON cn.x = e.s AND cn.y = e.d
         |       WHERE e.s IS NULL),
         |bi AS (SELECT x AS vid, y AS cand, cn FROM cd
         |       UNION ALL SELECT y, x, cn FROM cd)
         |SELECT vid, cand, cn,
         |       CAST(row_number() OVER (PARTITION BY vid
         |                               ORDER BY cn DESC, cand) AS BIGINT) AS rnk
         |FROM bi
         |QUALIFY rnk <= 5""".stripMargin)),

    // per-vertex local clustering coefficient over the thresholded graph
    // (per-row exact-integer arithmetic on top of the q07 triangle plan)
    Q("q71_clustering", (s, d) =>
      graft.kernels.GraphStats.localClustering(e2(s, d)),
      // q07's triangle corners + degree table; lcc is one double division of
      // exact integers (identical IEEE op both engines), round(8)
      Sql(s"""WITH $CTE,
         |tri AS (SELECT a.s AS x, a.d AS y, b.d AS z
         |        FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
         |corners AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
         |tcv AS (SELECT v AS vid, count(*) AS tc FROM corners GROUP BY 1)
         |SELECT deg.vid, deg.degree, coalesce(tcv.tc, 0) AS tc,
         |       round(2.0 * coalesce(tcv.tc, 0) / (deg.degree * (deg.degree - 1)), 8) AS lcc
         |FROM deg LEFT JOIN tcv ON deg.vid = tcv.vid
         |WHERE deg.degree >= 2""".stripMargin)),

    // resource-allocation link scores in exact fixed-point ppm (integer
    // parity discipline)
    Q("q72_link_ra", (s, d) =>
      graft.kernels.LinkPredict.resourceAllocation(e2(s, d), topK = 5),
      // wedge join weighted by the center's floor-ppm inverse degree; the
      // integer sum is order-independent, so the hash matches bit-for-bit
      Sql(s"""WITH $CTE,
         |sd AS (SELECT s.s AS c, s.d AS nbr, 1000000 // deg.degree AS w
         |       FROM sym s JOIN deg ON s.s = deg.vid),
         |sc AS (SELECT a.nbr AS x, b.nbr AS y, CAST(sum(a.w) AS BIGINT) AS ra_ppm
         |       FROM sd a JOIN sd b ON a.c = b.c AND a.nbr < b.nbr GROUP BY 1, 2),
         |cd AS (SELECT sc.x, sc.y, sc.ra_ppm FROM sc
         |       LEFT JOIN e ON sc.x = e.s AND sc.y = e.d
         |       WHERE e.s IS NULL),
         |bi AS (SELECT x AS vid, y AS cand, ra_ppm FROM cd
         |       UNION ALL SELECT y, x, ra_ppm FROM cd)
         |SELECT vid, cand, ra_ppm,
         |       CAST(row_number() OVER (PARTITION BY vid
         |                               ORDER BY ra_ppm DESC, cand) AS BIGINT) AS rnk
         |FROM bi
         |QUALIFY rnk <= 5""".stripMargin)),

    // degree assortativity: one row, integer sums + one double projection
    Q("q73_assortativity", (s, d) =>
      graft.kernels.GraphStats.assortativity(e2(s, d)),
      // Newman's r over directed pairs: exact integer sums, one double
      // projection replayed with the identical expression shape
      Sql(s"""WITH $CTE,
         |wd AS (SELECT da.degree AS di, db.degree AS dj
         |       FROM sym s JOIN deg da ON s.s = da.vid JOIN deg db ON s.d = db.vid),
         |sums AS (SELECT CAST(count(*) AS BIGINT) AS pairs,
         |                CAST(sum(di * dj) AS BIGINT) AS sxy,
         |                CAST(sum(di) AS BIGINT) AS sx,
         |                CAST(sum(di * di) AS BIGINT) AS sx2 FROM wd)
         |SELECT pairs,
         |       round((CAST(sxy AS DOUBLE) / CAST(pairs AS DOUBLE)
         |               - (CAST(sx AS DOUBLE) / CAST(pairs AS DOUBLE))
         |                 * (CAST(sx AS DOUBLE) / CAST(pairs AS DOUBLE)))
         |             / (CAST(sx2 AS DOUBLE) / CAST(pairs AS DOUBLE)
         |               - (CAST(sx AS DOUBLE) / CAST(pairs AS DOUBLE))
         |                 * (CAST(sx AS DOUBLE) / CAST(pairs AS DOUBLE))), 8) AS r
         |FROM sums""".stripMargin)),

    // per-edge embeddedness: triangle support + endpoint-degree Jaccard
    Q("q74_embeddedness", (s, d) =>
      graft.kernels.GraphStats.edgeEmbeddedness(e2(s, d)),
      // q07's triangle corners charged to canonical edges; jaccard keeps u,v
      // in the union (sup / (du + dv - sup)), one exact double division
      Sql(s"""WITH $CTE,
         |tri AS (SELECT a.s AS x, a.d AS y, b.d AS z
         |        FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
         |sup AS (SELECT s, d, count(*) AS sup FROM (
         |          SELECT x AS s, y AS d FROM tri UNION ALL
         |          SELECT x, z FROM tri UNION ALL SELECT y, z FROM tri) u
         |        GROUP BY 1, 2)
         |SELECT e.s AS src, e.d AS dst,
         |       coalesce(sup.sup, 0) AS sup,
         |       round(CAST(coalesce(sup.sup, 0) AS DOUBLE) /
         |             (da.degree + db.degree - coalesce(sup.sup, 0)), 8) AS jaccard
         |FROM e LEFT JOIN sup ON e.s = sup.s AND e.d = sup.d
         |JOIN deg da ON e.s = da.vid
         |JOIN deg db ON e.d = db.vid""".stripMargin)),

    // deterministic DeepWalk corpus: one sha-steered 4-step walk per
    // vertex (graph-embedding training data; every step SQL-replayable)
    Q("q75_random_walks", (s, d) =>
      graft.kernels.RandomWalk.walks(e2(s, d), length = 4),
      // sha-steered walk replay: sorted adjacency lists + a recursive CTE
      // stepping cur -> lst[sha(salt:walk:step:cur) mod len + 1]
      Sql(s"""WITH RECURSIVE $CTE,
         |adjl AS (SELECT s, list(d ORDER BY d) AS lst FROM sym GROUP BY s),
         |walks(walk, step, cur) AS (
         |  SELECT vid, CAST(0 AS BIGINT), vid FROM deg
         |  UNION ALL
         |  SELECT w.walk, w.step + 1,
         |         a.lst[CAST(CAST(('0x' || substr(sha256('walk:' || CAST(w.walk AS VARCHAR) || ':' || CAST(w.step + 1 AS VARCHAR) || ':' || CAST(w.cur AS VARCHAR)), 1, 15)) AS BIGINT) % len(a.lst) AS INT) + 1]
         |  FROM walks w JOIN adjl a ON w.cur = a.s
         |  WHERE w.step < 4
         |)
         |SELECT walk, step, cur AS vid FROM walks""".stripMargin)),

    // skip-gram (center, context) pairs within window 2 over q75's walks
    Q("q76_skipgram_pairs", (s, d) =>
      graft.kernels.RandomWalk.skipGramPairs(
        graft.kernels.RandomWalk.walks(e2(s, d), length = 4), window = 2),
      // q75's walk table self-joined within the window, pair counts
      Sql(s"""WITH RECURSIVE $CTE,
         |adjl AS (SELECT s, list(d ORDER BY d) AS lst FROM sym GROUP BY s),
         |walks(walk, step, cur) AS (
         |  SELECT vid, CAST(0 AS BIGINT), vid FROM deg
         |  UNION ALL
         |  SELECT w.walk, w.step + 1,
         |         a.lst[CAST(CAST(('0x' || substr(sha256('walk:' || CAST(w.walk AS VARCHAR) || ':' || CAST(w.step + 1 AS VARCHAR) || ':' || CAST(w.cur AS VARCHAR)), 1, 15)) AS BIGINT) % len(a.lst) AS INT) + 1]
         |  FROM walks w JOIN adjl a ON w.cur = a.s
         |  WHERE w.step < 4
         |)
         |SELECT a.cur AS center, b.cur AS context, count(*) AS pairs
         |FROM walks a JOIN walks b
         |  ON a.walk = b.walk AND a.step <> b.step
         |  AND abs(a.step - b.step) <= 2
         |GROUP BY 1, 2""".stripMargin)),

    // harmonic centrality of the sha-sampled landmark set, 4-hop horizon:
    // ONE labeled multi-source BFS shared across seeds, floor-ppm sums
    Q("q80_harmonic", (s, d) => {
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(shaMod("vid", 1000L) < 20)
      graft.kernels.GraphStats.harmonicCentrality(sym, seeds, maxHop = 4)
    },
      // labeled BFS replay: recursive CTE over (seed, vid, dist), min-dist
      // per pair, floor-ppm harmonic sums (exact integer aggregation)
      Sql(s"""WITH RECURSIVE $CTE,
         |seeds AS (SELECT vid FROM deg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)),
         |                1, 15)) AS BIGINT) % 1000 < 20),
         |walks(seed, vid, dist) AS (
         |  SELECT vid, vid, CAST(0 AS BIGINT) FROM seeds
         |  UNION
         |  SELECT w.seed, s.d, w.dist + 1
         |  FROM walks w JOIN sym s ON w.vid = s.s
         |  WHERE w.dist < 4
         |),
         |md AS (SELECT seed, vid, min(dist) AS dist FROM walks
         |       GROUP BY 1, 2)
         |SELECT seed, CAST(count(*) AS BIGINT) AS reached,
         |       CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_ppm
         |FROM md WHERE dist > 0 GROUP BY 1""".stripMargin)),

    // node-induced deterministic half-sample of the thresholded graph —
    // the debug-subset / progressive-training subsample (edge survives
    // iff both endpoints' sha-keeps fire; pushdown-friendly per-row
    // predicate, zero shuffle)
    Q("q82_subgraph_sample", (s, d) =>
      Edges.sampleInduced(e2(s, d), salt = "sg", keepPerMille = 500),
      // identical sha-keep predicate on both endpoints of the e CTE
      Sql(s"""WITH $CTE
         |SELECT s AS src, d AS dst FROM e
         |WHERE CAST(('0x' || substr(sha256('sg:' || CAST(s AS VARCHAR)),
         |        1, 15)) AS BIGINT) % 1000 < 500
         |  AND CAST(('0x' || substr(sha256('sg:' || CAST(d AS VARCHAR)),
         |        1, 15)) AS BIGINT) % 1000 < 500""".stripMargin)),

    // node2vec second-order walks (p = q = 2 as integer weights 1/2/1):
    // sha-drawn into the per-step weight CDF — each step SQL-replayable
    Q("q83_node2vec", (s, d) =>
      graft.kernels.RandomWalk.node2vecWalks(e2(s, d), length = 3),
      // staged second-order replay: uniform step 1 via the sorted adjacency
      // pick, then per step one candidate expansion + dist-1 flag + weight
      // CDF window + sha draw — the exact plan, step by step
      Sql(s"""WITH $CTE,
         |adjl AS (SELECT s, list(d ORDER BY d) AS lst FROM sym GROUP BY s),
         |w1 AS (SELECT a.s AS walk, a.s AS prev,
         |         a.lst[CAST(CAST(('0x' || substr(sha256('n2v:' || CAST(a.s AS VARCHAR) || ':1:' || CAST(a.s AS VARCHAR)), 1, 15)) AS BIGINT) % len(a.lst) AS INT) + 1] AS cur
         |       FROM adjl a),
         |c2 AS (SELECT w.walk, w.prev, w.cur, s.d AS x
         |       FROM w1 w JOIN sym s ON w.cur = s.s),
         |f2 AS (SELECT c2.*, CASE WHEN c2.x = c2.prev THEN 1
         |                         WHEN e.s IS NOT NULL THEN 2
         |                         ELSE 1 END AS w
         |       FROM c2 LEFT JOIN e ON least(c2.prev, c2.x) = e.s
         |                          AND greatest(c2.prev, c2.x) = e.d),
         |g2 AS (SELECT *,
         |         sum(w) OVER (PARTITION BY walk ORDER BY x
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |         sum(w) OVER (PARTITION BY walk) AS tot FROM f2),
         |r2 AS (SELECT *, CAST(('0x' || substr(sha256('n2v:' || CAST(walk AS VARCHAR) || ':2:' || CAST(prev AS VARCHAR) || ':' || CAST(cur AS VARCHAR)), 1, 15)) AS BIGINT) % tot AS r FROM g2),
         |p2 AS (SELECT walk, cur AS prev, x AS cur FROM r2
         |       WHERE r >= cum - w AND r < cum),
         |c3 AS (SELECT w.walk, w.prev, w.cur, s.d AS x
         |       FROM p2 w JOIN sym s ON w.cur = s.s),
         |f3 AS (SELECT c3.*, CASE WHEN c3.x = c3.prev THEN 1
         |                         WHEN e.s IS NOT NULL THEN 2
         |                         ELSE 1 END AS w
         |       FROM c3 LEFT JOIN e ON least(c3.prev, c3.x) = e.s
         |                          AND greatest(c3.prev, c3.x) = e.d),
         |g3 AS (SELECT *,
         |         sum(w) OVER (PARTITION BY walk ORDER BY x
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |         sum(w) OVER (PARTITION BY walk) AS tot FROM f3),
         |r3 AS (SELECT *, CAST(('0x' || substr(sha256('n2v:' || CAST(walk AS VARCHAR) || ':3:' || CAST(prev AS VARCHAR) || ':' || CAST(cur AS VARCHAR)), 1, 15)) AS BIGINT) % tot AS r FROM g3),
         |p3 AS (SELECT walk, cur AS prev, x AS cur FROM r3
         |       WHERE r >= cum - w AND r < cum)
         |SELECT vid AS walk, CAST(0 AS BIGINT) AS step, vid FROM deg
         |UNION ALL SELECT walk, 1, cur FROM w1
         |UNION ALL SELECT walk, 2, cur FROM p2
         |UNION ALL SELECT walk, 3, cur FROM p3""".stripMargin)),

    // HITS hubs/authorities on the DIRECTED co-occurrence edges, 4 full
    // iterations, deferred normalization (integer path counts until the
    // final division — half-step-replayable in a recursive CTE)
    Q("q89_hits", (s, d) => {
      val r = graft.kernels.Hits.run(s, e2(s, d), iters = 4)
      r.select(col("vid"), round(col("hub"), 8).as("hub"),
        round(col("auth"), 8).as("auth"))
    },
      // HITS by half-steps: odd iters hold authority (pull hub across src→dst),
      // even iters hold hub (pull authority back); iter 7 = a_4, iter 8 = h_4
      Sql(s"""WITH RECURSIVE $CTE,
         |hv AS (SELECT DISTINCT v AS vid FROM
         |         (SELECT s AS v FROM e UNION ALL SELECT d FROM e)),
         |st(iter, vid, x) AS (
         |  SELECT 0, vid, CAST(1.0 AS DOUBLE) FROM hv
         |  UNION ALL
         |  SELECT s.iter + 1,
         |         CASE WHEN s.iter % 2 = 0 THEN ed.d ELSE ed.s END,
         |         sum(s.x)
         |  FROM st s JOIN e ed
         |    ON (CASE WHEN s.iter % 2 = 0 THEN ed.s ELSE ed.d END) = s.vid
         |  WHERE s.iter < 8
         |  GROUP BY 1, 2),
         |hub AS (SELECT vid, x FROM st WHERE iter = 8),
         |auth AS (SELECT vid, x FROM st WHERE iter = 7)
         |SELECT coalesce(h.vid, a.vid) AS vid,
         |       round(coalesce(h.x / (SELECT sum(x) FROM hub), 0), 8) AS hub,
         |       round(coalesce(a.x / (SELECT sum(x) FROM auth), 0), 8) AS auth
         |FROM hub h FULL JOIN auth a ON h.vid = a.vid""".stripMargin)),

    // GNN-style 2-layer neighborhood aggregation (GraphSAGE-sum with
    // degree as the input feature) — per-node structural features for
    // training export; integer sums end to end
    Q("q90_khop", (s, d) =>
      graft.kernels.GraphStats.khopFeatures(
        Edges.symmetrize(e2(s, d)), hops = 2),
      Sql(s"""WITH $CTE,
         |l1 AS (SELECT s.s AS vid, CAST(sum(d.degree) AS BIGINT) AS f1
         |       FROM sym s JOIN deg d ON s.d = d.vid GROUP BY 1),
         |l2 AS (SELECT s.s AS vid, CAST(sum(l1.f1) AS BIGINT) AS f2
         |       FROM sym s JOIN l1 ON s.d = l1.vid GROUP BY 1)
         |SELECT deg.vid, deg.degree,
         |       coalesce(l1.f1, 0) AS f1, coalesce(l2.f2, 0) AS f2
         |FROM deg LEFT JOIN l1 USING (vid) LEFT JOIN l2 USING (vid)""".stripMargin)),

    // deterministic Luby MIS (sha priorities), 2-round prefix — the
    // symmetry-breaking primitive; each round is a min-aggregate over
    // the shrinking undecided subgraph, staged-SQL-replayable
    Q("q92_mis", (s, d) =>
      graft.kernels.Mis.run(s, Edges.symmetrize(e2(s, d)),
        maxRounds = 2),
      // staged 2-round Luby replay: sha60 priorities, strict-less winner
      // rule (ties block both sides — well-defined on every engine),
      // winners + their neighbors leave the undecided set between rounds
      Sql(s"""WITH $CTE,
         |pr AS (SELECT vid, CAST(('0x' || substr(sha256('mis:' ||
         |         CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) AS p
         |       FROM (SELECT DISTINCT s AS vid FROM sym)),
         |nm1 AS (SELECT sym.s AS vid, min(pr.p) AS minp
         |        FROM sym JOIN pr ON sym.d = pr.vid GROUP BY 1),
         |w1 AS (SELECT pr.vid FROM pr LEFT JOIN nm1 USING (vid)
         |       WHERE nm1.minp IS NULL OR pr.p < nm1.minp),
         |rem1 AS (SELECT vid FROM w1 UNION
         |         SELECT sym.d FROM sym JOIN w1 ON sym.s = w1.vid),
         |u1 AS (SELECT pr.vid, pr.p FROM pr
         |       WHERE pr.vid NOT IN (SELECT vid FROM rem1)),
         |e1 AS (SELECT s, d FROM sym
         |       WHERE s IN (SELECT vid FROM u1)
         |         AND d IN (SELECT vid FROM u1)),
         |nm2 AS (SELECT e1.s AS vid, min(u1.p) AS minp
         |        FROM e1 JOIN u1 ON e1.d = u1.vid GROUP BY 1),
         |w2 AS (SELECT u1.vid FROM u1 LEFT JOIN nm2 USING (vid)
         |       WHERE nm2.minp IS NULL OR u1.p < nm2.minp)
         |SELECT vid, 1 AS round FROM w1
         |UNION ALL SELECT vid, 2 AS round FROM w2""".stripMargin)),

    // Newman modularity decomposition of the brand partition over the
    // co-occurrence graph — integer counts, one double projection per
    // community row (Q = sum of contributions)
    Q("q95_modularity", (s, d) => {
      val brands = broadcast(T(s, d, "part")
        .select(col("p_partkey").as("vid"), col("p_brand").as("label")))
      graft.kernels.GraphStats.modularity(e2(s, d), brands)
    },
      // identical per-row double projection order: e_c/m - (d_c/2m)^2
      Sql(s"""WITH $CTE,
         |lbl AS (SELECT p_partkey AS vid, p_brand AS label FROM part),
         |m AS (SELECT count(*) AS m FROM e),
         |internal AS (SELECT a.label, count(*) AS internal_edges
         |             FROM e JOIN lbl a ON e.s = a.vid
         |                    JOIN lbl b ON e.d = b.vid
         |             WHERE a.label = b.label GROUP BY 1),
         |ds AS (SELECT lbl.label, count(*) AS n_vertices,
         |         CAST(sum(deg.degree) AS BIGINT) AS degree_sum
         |       FROM deg JOIN lbl ON deg.vid = lbl.vid GROUP BY 1)
         |SELECT ds.label, ds.n_vertices,
         |       coalesce(internal.internal_edges, 0) AS internal_edges,
         |       ds.degree_sum,
         |       round(CAST(coalesce(internal.internal_edges, 0) AS DOUBLE)
         |               / m.m
         |             - (CAST(ds.degree_sum AS DOUBLE) / (2.0 * m.m))
         |               * (CAST(ds.degree_sum AS DOUBLE) / (2.0 * m.m)), 8)
         |         AS contribution
         |FROM ds LEFT JOIN internal USING (label) CROSS JOIN m""".stripMargin)),

    // landmark betweenness (Brandes from sha-sampled seeds, horizon 2):
    // forward integer path counts + one backward dependency level —
    // staged-SQL-replayable; the spec covers deeper horizons
    Q("q94_betweenness", (s, d) => {
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(shaMod("vid", 1000L) < 20)
      graft.kernels.Betweenness.landmark(s, sym, seeds, maxHop = 2)
    },
      // staged horizon-2 Brandes replay: forward sigma levels l1/l2 (exact
      // integers), one backward dependency level (delta at the horizon is
      // 0), bc = per-vertex sum over seeds of delta at dist >= 1
      Sql(s"""WITH $CTE,
         |seeds AS (SELECT vid FROM deg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)),
         |                1, 15)) AS BIGINT) % 1000 < 20),
         |l0 AS (SELECT vid AS seed, vid, CAST(1 AS BIGINT) AS sigma
         |       FROM seeds),
         |l1 AS (SELECT l0.seed, s.d AS vid, sum(l0.sigma) AS sigma
         |       FROM l0 JOIN sym s ON l0.vid = s.s
         |       WHERE s.d <> l0.seed
         |       GROUP BY 1, 2),
         |l2 AS (SELECT l1.seed, s.d AS vid, sum(l1.sigma) AS sigma
         |       FROM l1 JOIN sym s ON l1.vid = s.s
         |       WHERE s.d <> l1.seed
         |         AND NOT EXISTS (SELECT 1 FROM l1 r
         |                         WHERE r.seed = l1.seed AND r.vid = s.d)
         |       GROUP BY 1, 2),
         |d1 AS (SELECT l1.seed, l1.vid,
         |         coalesce(sum(CAST(l1.sigma AS DOUBLE) / l2.sigma), 0.0)
         |           AS delta
         |       FROM l1
         |       LEFT JOIN sym s ON l1.vid = s.s
         |       LEFT JOIN l2 ON l2.seed = l1.seed AND l2.vid = s.d
         |       GROUP BY 1, 2),
         |alldeps AS (SELECT seed, vid, delta FROM d1
         |            UNION ALL SELECT seed, vid, 0.0 FROM l2)
         |SELECT vid, round(sum(delta), 8) AS bc
         |FROM alldeps GROUP BY 1""".stripMargin)),

    // B5 greedy block->worker packing, hash-matched (round-4 promotion of
    // the LAST spec-only §2 stage): the integer parity twin of q38's
    // packer over the q56 flood colors; a DuckDB recursive CTE replays
    // every placement (one iteration per block, list-carried state)
    Q("q96_bdg_assign", (s, d) => {
      val (sym, colors) = bdgColors(s, d, 50, 4)
      graft.partition.BdgLayout.assignBlocksExact(s, sym, colors,
        workers = 8)
    },
      // B5 greedy packer replay: q67's block table (q56 flood colors ->
      // per-color size + neighbor LIST), ranked size-desc/color-asc, then a
      // recursive CTE places ONE block per iteration carrying (hist, loads)
      // as list state — priority s*(cap-load) encoded *8+(7-j) so max-p/
      // min-j ties break exactly like the Scala loop; fallback min-load/
      // min-j. MATERIALIZED hints keep DuckDB 1.0 from re-inlining the
      // flood into every recursion step. All-integer, so the replay is
      // bit-exact (see BdgLayout.assignBlocksExact).
      Sql(s"""WITH RECURSIVE $CTE,
         |${bdgFlood(50, 4)},
         |$BDG_PACK
         |SELECT h.c AS color, h.w AS worker
         |FROM (SELECT unnest(hist) AS h FROM st, nblocks
         |      WHERE st.i = nblocks.nb_cnt)""".stripMargin)),

    // B7 cross-edge statistics, hash-matched: per-worker blocks/vertices/
    // cross edges for the q96 assignment, with the sha-hash-partition
    // baseline on the same colored subgraph (the number BDG must beat —
    // EuroSys §8.4; at sf0.01 BDG crosses 2756 directed edges vs 5952)
    Q("q97_bdg_cross", (s, d) => bdgCross(s, d, 50, 4),
      // B7 replay: the q96 assignment joined back onto the colors, per-
      // worker blocks/vertices/cross edges over colored-colored sym edges,
      // sha-hash baseline on the SAME subset, full 0..7 worker universe
      Sql(bdgCrossSql(50, 4))),

    // strongly connected components of the sha-directed derivation —
    // FW-BW-Trim coloring (trim peels the acyclic mass, forward hash-min
    // colors the cyclic core, backward sweep extracts mutual-reach
    // classes); the directed analog hash-min CC cannot see. Oracle:
    // full transitive closure + mutual-reach min in DuckDB.
    Q("q98_scc", (s, d) =>
      graft.kernels.Scc.run(s, graft.kernels.Scc.shaDirect(e2(s, d))),
      // SCC ground truth: sha-steered orientation (h%3: 0 fwd, 1 bwd,
      // 2 both — Scc.shaDirect's exact rule), full transitive closure,
      // scc id = min over mutually-reachable vertices (incl. self)
      Sql(s"""WITH RECURSIVE $CTE,
         |eh AS (SELECT s, d,
         |         CAST(('0x' || substr(sha256('dir:' || CAST(s AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS h
         |       FROM e),
         |dedges AS (SELECT s, d FROM eh WHERE h <> 1
         |           UNION ALL SELECT d, s FROM eh WHERE h <> 0),
         |dverts AS (SELECT DISTINCT s AS vid FROM dedges
         |           UNION SELECT DISTINCT d FROM dedges),
         |reach(a, b) AS (
         |  SELECT vid, vid FROM dverts
         |  UNION
         |  SELECT r.a, de.d FROM reach r JOIN dedges de ON r.b = de.s)
         |SELECT r1.a AS vid, min(r1.b) AS scc_id
         |FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
         |GROUP BY 1""".stripMargin)),

    // minimum spanning forest by Borůvka contraction over unique sha
    // weights — oracle replays KRUSKAL edge-by-edge in a recursive CTE
    // (list-carried union-find): two different MST algorithms must agree
    // because unique weights make the forest unique
    Q("q99_mst", (s, d) =>
      graft.kernels.Mst.boruvka(s, graft.kernels.Mst.shaWeights(e2(s, d))),
      // MSF ground truth: Kruskal replay — edges in unique-sha-weight
      // order, one per recursion step, union-find carried as a fully
      // flattened representative list (merge = rewrite hi→lo), an edge
      // joins the forest iff its endpoints' representatives differ
      Sql(s"""WITH RECURSIVE $CTE,
         |we AS (SELECT s, d,
         |         CAST(('0x' || substr(sha256('w:' || CAST(s AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) AS w
         |       FROM e),
         |vert AS MATERIALIZED (
         |  SELECT vid, row_number() OVER (ORDER BY vid) AS ix
         |  FROM (SELECT DISTINCT s AS vid FROM we UNION SELECT d FROM we)),
         |ordered AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY w, s, d) AS rk,
         |         we.s, we.d, we.w, vs.ix AS si, vd.ix AS di
         |  FROM we JOIN vert vs ON we.s = vs.vid
         |          JOIN vert vd ON we.d = vd.vid),
         |ne AS (SELECT count(*) AS n FROM ordered),
         |st(i, comp, mst) AS (
         |  SELECT 0, (SELECT list(vid ORDER BY vid) FROM vert),
         |         CAST([] AS STRUCT(s BIGINT, d BIGINT, w BIGINT)[])
         |  UNION ALL
         |  SELECT t.i + 1,
         |         CASE WHEN t.ra <> t.rb
         |              THEN [CASE WHEN x = t.hi THEN t.lo ELSE x END FOR x IN t.comp]
         |              ELSE t.comp END,
         |         CASE WHEN t.ra <> t.rb
         |              THEN list_append(t.mst, {'s': t.s, 'd': t.d, 'w': t.w})
         |              ELSE t.mst END
         |  FROM (SELECT s0.i, s0.comp, s0.mst, o.s, o.d, o.w,
         |               s0.comp[o.si] AS ra, s0.comp[o.di] AS rb,
         |               least(s0.comp[o.si], s0.comp[o.di]) AS lo,
         |               greatest(s0.comp[o.si], s0.comp[o.di]) AS hi
         |        FROM st s0 JOIN ordered o ON o.rk = s0.i + 1) t
         |)
         |SELECT m.s AS src, m.d AS dst, m.w AS w
         |FROM (SELECT unnest(mst) AS m FROM st, ne WHERE st.i = ne.n)""".stripMargin)),

    // incremental PageRank: 6 supersteps on the full graph, drill-down
    // deletion (vid % 7 == 0 — the q46 predicate), then 4 WARM-START
    // supersteps on the survivor graph seeded from the pre-deletion
    // ranks — the resume-after-deletion path a catalog-backed engine
    // actually runs; the oracle replays both phases in one recursive CTE
    Q("q100_pr_warm", (s, d) =>
      prWarmStart(s, d)._2
        .select(col("vid"), round(col("rank"), 8).as("rank")),
      // two-phase replay: pr1 = 6 uniform-start supersteps on the full
      // thresholded sym graph; fe = the q46 deletion predicate applied
      // symmetrically; pr2 = 4 supersteps on the survivor graph seeded
      // from pr1@6 (warm start). Arithmetic forms mirror the q10 oracle.
      Sql(s"""WITH RECURSIVE $CTE,
         |$PR_WARM
         |SELECT vid, round(rank, 8) AS rank FROM pr2 WHERE iter = 4""".stripMargin)),

    // diameter lower bound by double sweep: two BFS evaluations instead
    // of |V| (all-pairs) — the standard web-graph diameter estimate
    Q("q101_diameter", (s, d) =>
      graft.kernels.GraphStats.doubleSweep(Edges.symmetrize(e2(s, d))),
      // double sweep replay: max-degree start (min-vid ties), BFS, argmax
      // by (dist desc, vid) twice; diameter_lb = the 2nd eccentricity
      Sql(s"""WITH RECURSIVE $CTE,
         |start AS (SELECT vid FROM deg ORDER BY degree DESC, vid LIMIT 1),
         |r1(vid, h) AS (
         |  SELECT vid, 0 FROM start
         |  UNION
         |  SELECT s.d, r.h + 1 FROM r1 r JOIN sym s ON r.vid = s.s
         |  WHERE r.h < 20),
         |d1 AS (SELECT vid, min(h) AS dist FROM r1 GROUP BY 1),
         |far1 AS (SELECT vid FROM d1 ORDER BY dist DESC, vid LIMIT 1),
         |r2(vid, h) AS (
         |  SELECT vid, 0 FROM far1
         |  UNION
         |  SELECT s.d, r.h + 1 FROM r2 r JOIN sym s ON r.vid = s.s
         |  WHERE r.h < 20),
         |d2 AS (SELECT vid, min(h) AS dist FROM r2 GROUP BY 1),
         |far2 AS (SELECT vid, dist FROM d2 ORDER BY dist DESC, vid LIMIT 1)
         |SELECT start.vid AS start_vid, far1.vid AS far_vid,
         |       far2.vid AS far2_vid, CAST(far2.dist AS BIGINT) AS diameter_lb
         |FROM start, far1, far2""".stripMargin)),

    // clustering agreement: Rand index (pair-counting, integer ppm)
    // between 5-superstep label propagation and the CC ground truth —
    // the evaluation op run after every community-detection change
    Q("q103_rand_index", (s, d) => {
      // materialized once: both kernels build their own persisted edge
      // fabric from it
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      graft.kernels.GraphStats.randIndex(
        LabelPropagation.run(s, sym, 5).labels,
        ConnectedComponents.run(s, sym).components)
    },
      // Rand index replay: the q11 LP recursion and the q08 CC closure
      // feed one contingency table; agreements in pair-counting form
      Sql(s"""WITH RECURSIVE $CTE,
         |$CC_REACH,
         |comp AS (SELECT vid, min(lbl) AS cb FROM reach GROUP BY vid),
         |$LP,
         |lpf AS (SELECT vid, lbl AS ca FROM lp WHERE iter = 5),
         |cont AS (SELECT ca, cb, count(*) AS nij
         |         FROM lpf JOIN comp USING (vid) GROUP BY 1, 2),
         |s1 AS (SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS same_both,
         |              CAST(sum(nij) AS BIGINT) AS n FROM cont),
         |s2 AS (SELECT CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS same_a
         |       FROM (SELECT CAST(sum(nij) AS BIGINT) AS sz FROM cont GROUP BY ca)),
         |s3 AS (SELECT CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS same_b
         |       FROM (SELECT CAST(sum(nij) AS BIGINT) AS sz FROM cont GROUP BY cb))
         |SELECT s1.n AS n_vertices, s1.same_both, s2.same_a, s3.same_b,
         |       s1.n * (s1.n - 1) // 2 AS total_pairs,
         |       (2 * s1.same_both + s1.n * (s1.n - 1) // 2 - s2.same_a - s3.same_b)
         |         * 1000000 // (s1.n * (s1.n - 1) // 2) AS rand_ppm
         |FROM s1, s2, s3""".stripMargin)),

    // one-row structural profile with EXACT degree percentiles (the
    // density-drift check logged around every corpus/graph filter)
    Q("q104_profile", (s, d) =>
      graft.kernels.GraphStats.degreeProfile(e2(s, d)),
      // profile replay: degree histogram cumsum; percentile q = smallest
      // degree with cum*100 >= n*q (exact ceil order statistic)
      Sql(s"""WITH $CTE,
         |hist AS (SELECT degree, count(*) AS c FROM deg GROUP BY 1),
         |cum AS (SELECT degree, CAST(sum(c) OVER (ORDER BY degree) AS BIGINT) AS cum FROM hist),
         |sc AS (SELECT (SELECT count(*) FROM deg) AS n,
         |              (SELECT max(degree) FROM deg) AS mx,
         |              (SELECT count(*) FROM e) AS m)
         |SELECT sc.n AS n_vertices, sc.m AS n_edges,
         |       sc.m * 2000000 // (sc.n * (sc.n - 1)) AS density_ppm,
         |       sc.mx AS max_degree,
         |       (SELECT min(degree) FROM cum WHERE cum * 100 >= sc.n * 50) AS p50_degree,
         |       (SELECT min(degree) FROM cum WHERE cum * 100 >= sc.n * 90) AS p90_degree,
         |       (SELECT min(degree) FROM cum WHERE cum * 100 >= sc.n * 99) AS p99_degree
         |FROM sc""".stripMargin)),

    // deterministic greedy coloring: sequential first-fit in sha-priority
    // order, block by block on DagFold; the oracle replays it one vertex
    // per recursion step
    Q("q105_coloring", (s, d) =>
      graft.kernels.Coloring.firstFit(s, Edges.symmetrize(e2(s, d))),
      // first-fit greedy replay in (sha60("col:vid"), vid) order: adj
      // keeps only HIGHER-priority (lower ord) neighbors, the recursion
      // appends one color per step, chosen = smallest c in 0..deg not
      // used by those neighbors
      Sql(s"""WITH RECURSIVE $CTE,
         |pv AS (SELECT vid,
         |         CAST(('0x' || substr(sha256('col:' || CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) AS p
         |       FROM deg),
         |vert AS MATERIALIZED (
         |  SELECT vid, row_number() OVER (ORDER BY p, vid) AS ord FROM pv),
         |adj AS MATERIALIZED (
         |  SELECT va.ord AS ord,
         |         coalesce(list(vb.ord ORDER BY vb.ord)
         |                  FILTER (vb.ord < va.ord), []) AS nbrs
         |  FROM vert va
         |  LEFT JOIN sym s ON va.vid = s.s
         |  LEFT JOIN vert vb ON s.d = vb.vid
         |  GROUP BY 1),
         |nv2 AS (SELECT count(*) AS n FROM vert),
         |st(i, colors) AS (
         |  SELECT 0, CAST([] AS BIGINT[])
         |  UNION ALL
         |  SELECT t.i + 1, list_append(t.colors, t.chosen)
         |  FROM (
         |    SELECT s0.i, s0.colors,
         |      coalesce(list_min(
         |        [c FOR c IN range(0, CAST(len(a.nbrs) + 1 AS BIGINT))
         |         IF NOT list_contains([s0.colors[x] FOR x IN a.nbrs], c)]),
         |        0) AS chosen
         |    FROM st s0 JOIN adj a ON a.ord = s0.i + 1
         |  ) t
         |)
         |SELECT v.vid, st.colors[CAST(v.ord AS INT)] AS color
         |FROM st, nv2, vert v WHERE st.i = nv2.n""".stripMargin)),

    // bipartite butterfly census straight off the co-occurrence weight
    // table (2x2 bicliques = C(weight,2) per co-occurring pair)
    Q("q106_butterflies", (s, d) =>
      graft.kernels.GraphStats.butterflies(cooc(s, d)),
      Sql(s"""WITH $CTE
         |SELECT count(*) AS n_copairs, max(weight) AS max_cooc,
         |       CAST(sum(weight) AS BIGINT) AS wedge_pairs,
         |       CAST(sum(weight * (weight - 1) // 2) AS BIGINT) AS butterflies
         |FROM cooc""".stripMargin)),

    // exact rectangle (4-cycle) count via the diagonal wedge table
    Q("q107_rectangles", (s, d) =>
      graft.kernels.GraphStats.rectangles(Edges.symmetrize(e2(s, d))),
      // rectangles: wedge table over the symmetric adjacency (u < v
      // diagonal pairs), C4 = sum C(w,2) / 2 (each counted per diagonal)
      Sql(s"""WITH $CTE,
         |wt AS (SELECT a.d AS u, b.d AS v, count(*) AS w
         |       FROM sym a JOIN sym b ON a.s = b.s AND a.d < b.d
         |       GROUP BY 1, 2)
         |SELECT CAST(sum(w) AS BIGINT) AS wedges,
         |       count(*) AS diag_pairs,
         |       CAST(sum(w * (w - 1) // 2) AS BIGINT) // 2 AS c4
         |FROM wt""".stripMargin)),

    // Katz centrality in scaled-integer form (beta = 1/4, 6 supersteps,
    // y = 4^6 * Katz — zero floating point, exact 64-bit end to end)
    Q("q108_katz", (s, d) =>
      graft.kernels.EigenCentrality.katzScaled(s,
        Edges.symmetrize(e2(s, d))),
      // Katz scaled-integer replay: y' = 4^iter + sum of in-neighbor y
      Sql(s"""WITH RECURSIVE $CTE,
         |kz(iter, vid, y, c) AS (
         |  SELECT 0, vid, CAST(1 AS BIGINT), CAST(1 AS BIGINT) FROM deg
         |  UNION ALL
         |  SELECT k.iter + 1, s.d, min(k.c) * 4 + CAST(sum(k.y) AS BIGINT),
         |         min(k.c) * 4
         |  FROM kz k JOIN sym s ON k.vid = s.s
         |  WHERE k.iter < 6
         |  GROUP BY 1, 2
         |)
         |SELECT vid, y AS katz_scaled FROM kz WHERE iter = 6""".stripMargin)),

    // topological layering of the degree-oriented DAG (longest path
    // ending at each vertex — the scheduling depth / topo-sort key)
    Q("q109_topo_layers", (s, d) =>
      graft.kernels.GraphStats.dagLayers(s,
        Edges.orientByDegree(e2(s, d))).values,
      // topo layering replay: degree orientation (lower (degree,vid)
      // first), longest path via dedup'd (vid, h) expansion — bounded by
      // V x depth because the orientation is acyclic
      Sql(s"""WITH RECURSIVE $CTE,
         |oe AS (SELECT CASE WHEN ga.degree < gb.degree
         |                     OR (ga.degree = gb.degree AND e.s < e.d)
         |                   THEN e.s ELSE e.d END AS s,
         |              CASE WHEN ga.degree < gb.degree
         |                     OR (ga.degree = gb.degree AND e.s < e.d)
         |                   THEN e.d ELSE e.s END AS d
         |       FROM e JOIN deg ga ON e.s = ga.vid
         |              JOIN deg gb ON e.d = gb.vid),
         |lp(vid, h) AS (
         |  SELECT vid, 0 FROM deg
         |  UNION
         |  SELECT oe.d, l.h + 1 FROM lp l JOIN oe ON l.vid = oe.s
         |)
         |SELECT vid, CAST(max(h) AS BIGINT) AS layer FROM lp GROUP BY 1""".stripMargin)),

    // full coreness decomposition by 4 fixed h-index rounds (exact
    // core numbers at fixpoint — spec-checked; the fixed prefix is the
    // oracle-replayable parity form, the q69/q92 discipline)
    Q("q110_coreness", (s, d) =>
      graft.kernels.KCore.coreness(s, Edges.symmetrize(e2(s, d)),
        iters = Some(4)),
      // h-index iteration replay, 4 unrolled stages: c0 = degree, then
      // c' = per-vertex H-index of neighbor c (max over least(c, rank))
      Sql(s"""WITH $CTE,
         |h0 AS (SELECT vid, CAST(degree AS BIGINT) AS c FROM deg),
         |h1 AS (SELECT d AS vid, max(least(c, rn)) AS c FROM (
         |  SELECT s.d, h.c, CAST(row_number() OVER (PARTITION BY s.d ORDER BY h.c DESC) AS BIGINT) AS rn
         |  FROM h0 h JOIN sym s ON h.vid = s.s) GROUP BY 1),
         |h2 AS (SELECT d AS vid, max(least(c, rn)) AS c FROM (
         |  SELECT s.d, h.c, CAST(row_number() OVER (PARTITION BY s.d ORDER BY h.c DESC) AS BIGINT) AS rn
         |  FROM h1 h JOIN sym s ON h.vid = s.s) GROUP BY 1),
         |h3 AS (SELECT d AS vid, max(least(c, rn)) AS c FROM (
         |  SELECT s.d, h.c, CAST(row_number() OVER (PARTITION BY s.d ORDER BY h.c DESC) AS BIGINT) AS rn
         |  FROM h2 h JOIN sym s ON h.vid = s.s) GROUP BY 1),
         |h4 AS (SELECT d AS vid, max(least(c, rn)) AS c FROM (
         |  SELECT s.d, h.c, CAST(row_number() OVER (PARTITION BY s.d ORDER BY h.c DESC) AS BIGINT) AS rn
         |  FROM h3 h JOIN sym s ON h.vid = s.s) GROUP BY 1)
         |SELECT vid, c FROM h4""".stripMargin)),

    // drill-down impact analysis: which vertices' PageRank moved most
    // after the deletion — the attribution query a catalog-backed
    // engine answers after every q46-style drill-down; reuses the q100
    // warm-start phases, top-20 by |delta| with vid tie-break
    Q("q111_pr_movers", (s, d) => {
      val (r0, r1) = prWarmStart(s, d)
      r0.select(col("vid"), col("rank").as("r0"))
        .join(r1.select(col("vid"), col("rank").as("r1")), "vid")
        .select(col("vid"), round(col("r0"), 8).as("rank_before"),
          round(col("r1"), 8).as("rank_after"),
          round(col("r1") - col("r0"), 8).as("delta"))
        .orderBy(abs(col("delta")).desc, col("vid")).limit(20)
    },
      // movers replay: the q100 two-phase CTE, survivors joined across
      // phases, rounded delta, top-20 by (|delta| desc, vid)
      Sql(s"""WITH RECURSIVE $CTE,
         |$PR_WARM
         |SELECT a.vid, round(a.rank, 8) AS rank_before,
         |       round(b.rank, 8) AS rank_after,
         |       round(b.rank - a.rank, 8) AS delta
         |FROM pr1 a JOIN pr2 b ON a.vid = b.vid
         |WHERE a.iter = 6 AND b.iter = 4
         |ORDER BY abs(round(b.rank - a.rank, 8)) DESC, a.vid
         |LIMIT 20""".stripMargin)),

    // weighted label propagation over co-occurrence STRENGTH (5 fixed
    // supersteps; integer weight sums keep every round exact)
    Q("q112_lp_weighted", (s, d) => {
      val cw = cooc(s, d).filter(col("weight") >= 2)
        .localCheckpoint(eager = true) // consumed by both union branches
      val symW = cw.select(col("src"), col("dst"), col("weight"))
        .unionAll(cw.select(col("dst").as("src"), col("src").as("dst"),
          col("weight")))
      LabelPropagation.run(s, symW, 5, weightCol = Some("weight")).labels
    },
      // weighted LP replay: the q11 recursion with count(*) -> sum(weight)
      Sql(s"""WITH RECURSIVE $CTE,
         |wsym AS (SELECT src AS s, dst AS d, weight FROM cooc WHERE weight >= 2
         |         UNION ALL
         |         SELECT dst, src, weight FROM cooc WHERE weight >= 2),
         |wlp(iter, vid, lbl) AS (
         |  SELECT 0, vid, vid FROM deg
         |  UNION ALL
         |  SELECT iter + 1, vid, arg_min(nlbl, wsum * (-1000000000) + nlbl) FROM (
         |    SELECT l.iter AS iter, s.d AS vid, l.lbl AS nlbl,
         |           CAST(sum(s.weight) AS BIGINT) AS wsum
         |    FROM wlp l JOIN wsym s ON l.vid = s.s
         |    WHERE l.iter < 5
         |    GROUP BY 1, 2, 3
         |  ) GROUP BY 1, 2
         |)
         |SELECT vid, lbl AS label FROM wlp WHERE iter = 5""".stripMargin)),

    // supergraph contraction (host-graph move): part-level co-occurrence
    // edges contracted to the brand level — two endpoint-keyed joins +
    // one aggregation whose key space is the contracted graph
    Q("q116_brand_graph", (s, d) =>
      Edges.contract(cooc(s, d),
        T(s, d, "part").select(col("p_partkey").as("vid"),
          col("p_brand").as("grp"))),
      // contraction replay: endpoint->brand map, intra-brand dropped,
      // canonical brand pair, count + strength
      Sql(s"""WITH $CTE,
         |pm AS (SELECT p_partkey AS vid, p_brand AS grp FROM part),
         |m AS (SELECT a.grp AS gs, b.grp AS gd, c.weight
         |      FROM cooc c JOIN pm a ON c.src = a.vid
         |      JOIN pm b ON c.dst = b.vid WHERE a.grp <> b.grp)
         |SELECT least(gs, gd) AS g1, greatest(gs, gd) AS g2,
         |       count(*) AS n_pairs, CAST(sum(weight) AS BIGINT) AS strength
         |FROM m GROUP BY 1, 2""".stripMargin)),

    // DOULION-style sampled triangle count (Tsourakakis et al. KDD'09,
    // deterministic sha edge sampling p=1/4): exact TC on the sampled
    // graph, unbiased estimate = tc·p^-3. The approximate-counting path
    // when even the oriented intersection is too big — the sample is a
    // pushed-down scan filter, everything downstream shrinks by p
    Q("q117_tc_sampled", (s, d) => {
      val samp = e2(s, d).filter(
        pmod(Dedup.shaTokenHash60(concat(col("src").cast("string"),
          lit(":"), col("dst").cast("string"))), lit(4L)) === 0L)
      TriangleCount.total(samp)
        .select(col("triangles").as("sampled_tc"),
          (col("triangles") * 64L).as("tc_est"))
    },
      // sampled-TC replay: same sha edge predicate, q06's triangle join
      Sql(s"""WITH $CTE,
         |se AS (SELECT s, d FROM e
         |       WHERE CAST(('0x' || substr(sha256(s || ':' || d), 1, 15)) AS BIGINT) % 4 = 0),
         |t AS (SELECT count(*) AS c
         |      FROM se a JOIN se b ON a.d = b.s
         |      JOIN se c ON a.s = c.s AND b.d = c.d)
         |SELECT c AS sampled_tc, c * 64 AS tc_est FROM t""".stripMargin)),

    // landmark distance oracle (Eppstein-Wang / web-graph distance
    // sketches): the 4 highest-degree vertices as landmarks (the standard
    // hub heuristic — their BFS balls cover the most pairs), one shared
    // multi-source labeled BFS builds the index, then any pair's distance
    // upper bound is min over landmarks of d(u,l)+d(l,v) — index probes,
    // no per-query traversal; here evaluated over a sha-chosen probe set
    Q("q118_landmark_dist", (s, d) => {
      // the FULL co-occurrence graph (the weight-thresholded one is too
      // fragmented at larger SFs for landmark balls to cover pairs)
      val sym = Edges.symmetrize(cooc(s, d).select(col("src"), col("dst")))
        .localCheckpoint(eager = true)
      val verts = Edges.vertexIds(sym)
      val sha = Dedup.shaTokenHash60(col("vid").cast("string"))
      val landmarks = Edges.degrees(sym)
        .orderBy(col("degree").desc, col("vid")).limit(4)
        .select(col("vid"))
      val idx = graft.kernels.Bfs.perSeedDistances(sym, landmarks,
        maxHop = 4)
      val probe = verts.filter(pmod(sha, lit(1000L)) < 5)
      val iu = idx.join(probe, "vid")
        .select(col("vid").as("u"), col("seed"), col("dist").as("du"))
      val iv = idx.join(probe, "vid")
        .select(col("vid").as("v"), col("seed"), col("dist").as("dv"))
      iu.join(iv, "seed").filter(col("u") < col("v"))
        .groupBy(col("u"), col("v"))
        .agg(min(col("du") + col("dv")).as("est_dist"))
    },
      // landmark index replay: 4 smallest-sha vertices, bounded BFS per
      // landmark (recursive CTE, min dist), probe-pair upper bounds
      Sql(s"""WITH RECURSIVE $CTE, $FULL,
         |vh AS (SELECT vid,
         |       CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |       FROM fdeg),
         |lm AS (SELECT vid FROM fdeg ORDER BY odeg DESC, vid LIMIT 4),
         |reach(seed, vid, dist) AS (
         |  SELECT vid, vid, 0 FROM lm
         |  UNION
         |  SELECT r.seed, s.d, r.dist + 1
         |  FROM reach r JOIN fsym s ON r.vid = s.s WHERE r.dist < 4
         |),
         |idx AS (SELECT seed, vid, min(dist) AS dist FROM reach GROUP BY 1, 2),
         |probe AS (SELECT vid FROM vh WHERE h % 1000 < 5)
         |SELECT a.vid AS u, b.vid AS v,
         |       CAST(min(a.dist + b.dist) AS BIGINT) AS est_dist
         |FROM idx a JOIN probe pa ON a.vid = pa.vid
         |JOIN idx b ON a.seed = b.seed
         |JOIN probe pb ON b.vid = pb.vid
         |WHERE a.vid < b.vid
         |GROUP BY 1, 2""".stripMargin)),

    // deterministic greedy maximal matching (Israeli-Itai local-min
    // rounds, sha edge priorities) — 3 fixed rounds as the oracle parity
    // form; the fixpoint (maximal matching / 2-approx vertex cover) is
    // spec-checked in KernelSpec
    Q("q119_matching", (s, d) =>
      graft.kernels.Matching.greedy(s, e2(s, d), maxRounds = 3),
      // greedy matching replayed: 3 unrolled local-min rounds, sha edge
      // priorities, saturated endpoints removed between rounds. Stages are
      // MATERIALIZED — DuckDB would otherwise inline each CTE per
      // reference and the unrolled chain re-evaluates exponentially
      Sql(s"""WITH $CTE,
         |$MATCH
         |SELECT s AS src, d AS dst, 1 AS round FROM m1
         |UNION ALL SELECT s, d, 2 FROM m2
         |UNION ALL SELECT s, d, 3 FROM m3""".stripMargin)),

    // densest-subgraph peeling census (Charikar / BKV parallel peel,
    // integer deg·|V| > 2·|E| rule): per-round (n_v, n_e) for 4 fixed
    // rounds — the dense-core / link-farm detector
    Q("q120_densest", (s, d) =>
      graft.kernels.Densest.peelCensus(s, e2(s, d), rounds = 4),
      // densest peel replayed: 4 unrolled integer-rule stages (also
      // MATERIALIZED); isolated survivors count in n_v via the LEFT JOIN
      Sql(s"""WITH $CTE,
         |v0 AS MATERIALIZED (SELECT s AS vid FROM e UNION SELECT d FROM e),
         |c0 AS MATERIALIZED (SELECT (SELECT count(*) FROM v0) AS nv, (SELECT count(*) FROM e) AS ne),
         |g1 AS MATERIALIZED (SELECT vid, count(*) AS dg FROM
         |       (SELECT s AS vid FROM e UNION ALL SELECT d FROM e) GROUP BY 1),
         |k1 AS MATERIALIZED (SELECT v0.vid FROM v0 LEFT JOIN g1 ON v0.vid = g1.vid, c0
         |       WHERE coalesce(g1.dg, 0) * c0.nv > 2 * c0.ne),
         |e1 AS MATERIALIZED (SELECT e.s, e.d FROM e JOIN k1 a ON e.s = a.vid JOIN k1 b ON e.d = b.vid),
         |c1 AS MATERIALIZED (SELECT (SELECT count(*) FROM k1) AS nv, (SELECT count(*) FROM e1) AS ne),
         |g2 AS MATERIALIZED (SELECT vid, count(*) AS dg FROM
         |       (SELECT s AS vid FROM e1 UNION ALL SELECT d FROM e1) GROUP BY 1),
         |k2 AS MATERIALIZED (SELECT k1.vid FROM k1 LEFT JOIN g2 ON k1.vid = g2.vid, c1
         |       WHERE coalesce(g2.dg, 0) * c1.nv > 2 * c1.ne),
         |e2 AS MATERIALIZED (SELECT e1.s, e1.d FROM e1 JOIN k2 a ON e1.s = a.vid JOIN k2 b ON e1.d = b.vid),
         |c2 AS MATERIALIZED (SELECT (SELECT count(*) FROM k2) AS nv, (SELECT count(*) FROM e2) AS ne),
         |g3 AS MATERIALIZED (SELECT vid, count(*) AS dg FROM
         |       (SELECT s AS vid FROM e2 UNION ALL SELECT d FROM e2) GROUP BY 1),
         |k3 AS MATERIALIZED (SELECT k2.vid FROM k2 LEFT JOIN g3 ON k2.vid = g3.vid, c2
         |       WHERE coalesce(g3.dg, 0) * c2.nv > 2 * c2.ne),
         |e3 AS MATERIALIZED (SELECT e2.s, e2.d FROM e2 JOIN k3 a ON e2.s = a.vid JOIN k3 b ON e2.d = b.vid),
         |c3 AS MATERIALIZED (SELECT (SELECT count(*) FROM k3) AS nv, (SELECT count(*) FROM e3) AS ne),
         |g4 AS MATERIALIZED (SELECT vid, count(*) AS dg FROM
         |       (SELECT s AS vid FROM e3 UNION ALL SELECT d FROM e3) GROUP BY 1),
         |k4 AS MATERIALIZED (SELECT k3.vid FROM k3 LEFT JOIN g4 ON k3.vid = g4.vid, c3
         |       WHERE coalesce(g4.dg, 0) * c3.nv > 2 * c3.ne),
         |e4 AS MATERIALIZED (SELECT e3.s, e3.d FROM e3 JOIN k4 a ON e3.s = a.vid JOIN k4 b ON e3.d = b.vid),
         |c4 AS MATERIALIZED (SELECT (SELECT count(*) FROM k4) AS nv, (SELECT count(*) FROM e4) AS ne)
         |SELECT CAST(0 AS BIGINT) AS round, CAST(nv AS BIGINT) AS n_v, CAST(ne AS BIGINT) AS n_e FROM c0
         |UNION ALL SELECT 1, nv, ne FROM c1
         |UNION ALL SELECT 2, nv, ne FROM c2
         |UNION ALL SELECT 3, nv, ne FROM c3
         |UNION ALL SELECT 4, nv, ne FROM c4""".stripMargin)),

    // rich-club census: hub-interlinking profile at degree thresholds
    // 1/2/4/8 — one pass over degrees + edge min-degree tags
    Q("q121_rich_club", (s, d) =>
      graft.kernels.GraphStats.richClub(e2(s, d), Seq(1, 2, 4, 8)),
      // rich-club replay: degree > k vertex counts + min-endpoint-degree
      // edge counts per threshold, phi = 2 n_e / (n_v (n_v - 1))
      Sql(s"""WITH $CTE,
         |kk AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS k),
         |nv AS (SELECT k, count(*) AS n_v FROM deg, kk
         |       WHERE degree > k GROUP BY 1),
         |em AS (SELECT least(a.degree, b.degree) AS m
         |       FROM e JOIN deg a ON e.s = a.vid JOIN deg b ON e.d = b.vid),
         |ne AS (SELECT k, count(*) AS n_e FROM em, kk WHERE m > k GROUP BY 1)
         |SELECT nv.k, nv.n_v, coalesce(ne.n_e, 0) AS n_e,
         |       CASE WHEN nv.n_v > 1 THEN
         |         round(2.0 * CAST(coalesce(ne.n_e, 0) AS DOUBLE)
         |               / CAST(nv.n_v * (nv.n_v - 1) AS DOUBLE), 6)
         |       ELSE 0.0 END AS phi
         |FROM nv LEFT JOIN ne ON nv.k = ne.k""".stripMargin)),

    // graph delta between two catalog snapshots (time travel): per-vertex
    // degree before/after a deletion, changed vertices only — the
    // incremental-pipeline primitive (downstream re-runs only where
    // delta != 0 instead of diffing |E| rows)
    Q("q123_snapshot_diff", (s, d) => {
      val root = scratchDir("graft_snapdiff")
      val cat = new graft.catalog.LocalCatalog(root)
      cat.createOrReplace("edges", e2(s, d))
      cat.deleteWhere(s, "edges",
        pmod(col("src"), lit(5)) === 0 || pmod(col("dst"), lit(5)) === 0)
      val snaps = cat.snapshots("edges").sorted
      Edges.degreeDelta(
        cat.readSnapshot(s, "edges", snaps.head),
        cat.readSnapshot(s, "edges", snaps.last))
    },
      // snapshot graph diff: degrees of the full derived edge table vs the
      // post-deleteWhere survivor set, changed vertices only
      Sql(s"""WITH $CTE,
         |e5 AS (SELECT s, d FROM e WHERE s % 5 <> 0 AND d % 5 <> 0),
         |syma AS (SELECT s, d FROM e5 UNION ALL SELECT d, s FROM e5),
         |db AS (SELECT s AS vid, count(*) AS nb FROM sym GROUP BY 1),
         |da AS (SELECT s AS vid, count(*) AS na FROM syma GROUP BY 1)
         |SELECT coalesce(db.vid, da.vid) AS vid,
         |       coalesce(nb, 0) AS deg_before, coalesce(na, 0) AS deg_after,
         |       coalesce(na, 0) - coalesce(nb, 0) AS delta
         |FROM db FULL OUTER JOIN da ON db.vid = da.vid
         |WHERE coalesce(na, 0) <> coalesce(nb, 0)""".stripMargin)),

    // exact set-similarity self-join with prefix filtering (AllPairs /
    // PPJoin family): vertex pairs whose neighbor sets overlap at
    // Jaccard >= 0.5 — the EXACT-contract twin of the MinHash-LSH
    // near-dup path (q26). The oracle computes the unfiltered all-pairs
    // answer, so the hash match is also evidence the prefix filter is
    // lossless
    Q("q126_setsim_join", (s, d) =>
      graft.sim.SetSimJoin.jaccardJoin(
        Edges.symmetrize(e2(s, d))
          .select(col("src").as("id"), col("dst").as("tok")),
        "id", "tok", thresholdPpm = 500000L),
      // unfiltered all-pairs Jaccard ground truth: every vertex pair sharing
      // a neighbor, exact intersection via the co-token join, integer ppm
      // floor-division — matching the prefix-filtered Spark plan proves the
      // filter drops no qualifying pair
      Sql(s"""WITH $CTE,
         |sz AS (SELECT s AS id, count(*) AS n FROM sym GROUP BY 1),
         |ip AS (SELECT a.s AS u, b.s AS v, count(*) AS inter
         |       FROM sym a JOIN sym b ON a.d = b.d AND a.s < b.s
         |       GROUP BY 1, 2),
         |j AS (SELECT u, v, inter, x.n AS n_u, y.n AS n_v
         |      FROM ip JOIN sz x ON ip.u = x.id JOIN sz y ON ip.v = y.id)
         |SELECT u, v, inter, n_u, n_v,
         |       inter * 1000000 // (n_u + n_v - inter) AS jaccard_ppm
         |FROM j WHERE inter * 1000000 >= 500000 * (n_u + n_v - inter)""".stripMargin)),

    // Z-order (Morton) curve bucket census: the Iceberg/Delta OPTIMIZE
    // ZORDER layout primitive — per top-level curve tile, edge count and
    // vertex spread in each role (compact tiles = a src-range x dst-range
    // predicate touches few buckets); the curve key is pure shift/mask
    // integer arithmetic, replayed bit-for-bit
    Q("q131_zorder_census", (s, d) =>
      graft.partition.ZOrder.bucketCensus(e2(s, d),
        bits = 16, bucketBits = 14),
      // Morton interleave replay: z = Σ ((x>>i)&1)<<2i | ((y>>i)&1)<<(2i+1)
      // — terms occupy disjoint bits, so integer SUM == bitwise OR
      Sql(s"""WITH $CTE,
         |bt AS (SELECT s, d, unnest(generate_series(0, 15)) AS i FROM e),
         |z2 AS (SELECT s, d,
         |              CAST(sum((((s % 65536) >> i) & 1) << (2 * i))
         |                 + sum((((d % 65536) >> i) & 1) << (2 * i + 1))
         |                   AS BIGINT) AS z
         |       FROM bt GROUP BY s, d)
         |SELECT z >> 18 AS bucket, count(*) AS n_edges,
         |       count(DISTINCT s) AS n_src, count(DISTINCT d) AS n_dst
         |FROM z2 GROUP BY 1""".stripMargin)),

    // per-community conductance of the brand partition — the
    // cut/volume community-quality metric complementing q95's
    // modularity (same label table, same thresholded graph)
    Q("q134_conductance", (s, d) => {
      val brands = broadcast(T(s, d, "part")
        .select(col("p_partkey").as("vid"), col("p_brand").as("label")))
      graft.kernels.GraphStats.conductance(e2(s, d), brands)
    },
      // cut(S) counts each boundary edge once per side over sym; vol(S) is
      // the labeled-degree sum; phi = cut/min(vol, 2m-vol), NULL when the
      // community is the whole graph
      Sql(s"""WITH $CTE,
         |lbl AS (SELECT p_partkey AS vid, p_brand AS label FROM part),
         |m2 AS (SELECT count(*) AS m2 FROM sym),
         |per AS (SELECT a.label, count(*) AS volume,
         |          CAST(sum(CASE WHEN a.label <> b.label THEN 1 ELSE 0 END)
         |               AS BIGINT) AS cut_edges
         |        FROM sym JOIN lbl a ON sym.s = a.vid
         |                 JOIN lbl b ON sym.d = b.vid
         |        GROUP BY 1)
         |SELECT label, cut_edges, volume,
         |       round(CAST(cut_edges AS DOUBLE)
         |               / nullif(least(volume, m2.m2 - volume), 0), 8)
         |         AS conductance
         |FROM per CROSS JOIN m2""".stripMargin)),

    // ACL sweep-cut local clustering: personalized PageRank from the
    // sha-sampled seed set on the thresholded graph, vertices swept in
    // degree-normalized-rank order, exact conductance per prefix — the
    // argmin prefix is the local cluster (composes the q62 PPR kernel
    // with the q134 conductance metric)
    Q("q136_sweep_cut", (s, d) => {
      // materialized once: consumed by the seed filter, the PR pre-loop
      // AND three sweep passes (degrees, 2m count, prefix-internal join);
      // symmetric=true as in q10 (input is a symmetrize() view)
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(shaMod("vid", 1000L) < 20)
      val pr = PageRank.run(s, sym, fixedIter = Some(10),
          personalized = Some(seeds), symmetric = true)
        .ranks.select(col("vid"), round(col("rank"), 8).as("rank"))
      graft.kernels.SweepCut.sweep(sym, pr, limit = 150)
    },
      // ACL sweep replay: the q62 PPR recursion on the THRESHOLDED graph
      // (symmetric -> no dangling mass), ranks rounded to 8 (the oracle
      // discipline), top-150 by rank/degree, prefix cut/volume via one
      // greatest-position charge per internal edge + running sums
      Sql(s"""WITH RECURSIVE $CTE,
         |${shaSeeds(20)},
         |tele AS (SELECT g.vid,
         |                CASE WHEN sd.vid IS NOT NULL
         |                     THEN CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM seeds)
         |                     ELSE CAST(0.0 AS DOUBLE) END AS t
         |         FROM deg g LEFT JOIN seeds sd ON g.vid = sd.vid),
         |ppr(iter, vid, rank) AS (
         |  SELECT 0, vid, t FROM tele
         |  UNION ALL
         |  SELECT p.iter + 1, t.vid,
         |         CAST(0.15 AS DOUBLE) * t.t
         |         + CAST(0.85 AS DOUBLE) * sum(p.rank / g.degree)
         |  FROM ppr p JOIN deg g ON p.vid = g.vid JOIN sym s ON p.vid = s.s
         |       JOIN tele t ON s.d = t.vid
         |  WHERE p.iter < 10
         |  GROUP BY 1, 2, t.t
         |),
         |r8 AS (SELECT vid, round(rank, 8) AS rank FROM ppr
         |       WHERE iter = 10 AND round(rank, 8) > 0),
         |cand AS (SELECT r8.vid, r8.rank / deg.degree AS ratio, deg.degree
         |         FROM r8 JOIN deg ON r8.vid = deg.vid
         |         ORDER BY ratio DESC, r8.vid LIMIT 150),
         |pos AS (SELECT vid, degree,
         |               row_number() OVER (ORDER BY ratio DESC, vid) AS k
         |        FROM cand),
         |m2 AS (SELECT count(*) AS m2 FROM sym),
         |internal AS (SELECT greatest(a.k, b.k) AS kk,
         |                    CAST(count(*) AS BIGINT) AS cnt
         |             FROM sym JOIN pos a ON sym.s = a.vid
         |                      JOIN pos b ON sym.d = b.vid
         |             GROUP BY 1),
         |sweep AS (SELECT p.k, p.vid,
         |                 CAST(sum(p.degree) OVER (ORDER BY p.k) AS BIGINT) AS vol,
         |                 CAST(coalesce(sum(i.cnt) OVER (ORDER BY p.k), 0) AS BIGINT) AS icum
         |          FROM pos p LEFT JOIN internal i ON p.k = i.kk)
         |SELECT CAST(k AS INT) AS k, vid, vol - icum AS cut_edges,
         |       vol AS volume,
         |       round(CAST(vol - icum AS DOUBLE)
         |               / nullif(least(vol, m2.m2 - vol), 0), 8) AS conductance
         |FROM sweep CROSS JOIN m2""".stripMargin)),

    // truss communities: connected components of the q69 3-truss
    // subgraph (fixed 3 peel rounds, the oracle-parity configuration) —
    // triangle-dense communities that bridge edges cannot glue together
    Q("q137_truss_comm", (s, d) =>
      graft.kernels.KTruss.communities(s, e2(s, d), k = 3, maxRounds = 3),
      // q69's 3-round truss peel, then the q08 hash-min recursion over the
      // surviving (symmetrized) edges
      Sql(s"""WITH RECURSIVE $CTE,
         |$TRUSS,
         |p3 AS MATERIALIZED (SELECT p2.s, p2.d FROM p2 JOIN s2 ON p2.s = s2.s AND p2.d = s2.d
         |       WHERE s2.sup >= 1),
         |tsym AS MATERIALIZED (SELECT s, d FROM p3 UNION ALL SELECT d, s FROM p3),
         |tv AS (SELECT DISTINCT s AS vid FROM tsym),
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM tv
         |  UNION
         |  SELECT t.d, r.lbl FROM reach r JOIN tsym t ON r.vid = t.s
         |)
         |SELECT vid, min(lbl) AS component FROM reach GROUP BY vid""".stripMargin)),

    // per-vertex ego-net density census (OddBall-style, integer ppm):
    // near-clique egos (mirror clusters / spam farms) vs near-star hubs,
    // from degree + the q07 triangle plan alone
    Q("q138_ego_density", (s, d) =>
      graft.kernels.GraphStats.egoDensity(e2(s, d)),
      // ego density: the q07 triangle corners per vertex + degree, then
      // pure integer ppm arithmetic per row
      Sql(s"""WITH $CTE,
         |tri AS (SELECT a.s AS x, a.d AS y, b.d AS z
         |        FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
         |corners AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
         |            UNION ALL SELECT z FROM tri),
         |tcv AS (SELECT v AS vid, CAST(count(*) AS BIGINT) AS tri FROM corners GROUP BY 1)
         |SELECT d.vid, d.degree, coalesce(t.tri, 0) AS tri,
         |       d.degree + coalesce(t.tri, 0) AS ego_edges,
         |       (2 * (d.degree + coalesce(t.tri, 0)) * 1000000)
         |         // ((d.degree + 1) * d.degree) AS density_ppm
         |FROM deg d LEFT JOIN tcv t ON d.vid = t.vid""".stripMargin)),

    // disparity-filter backbone (integer cross-multiplied): edges whose
    // weight exceeds 2x the uniform share of either endpoint's strength
    // — a multiscale sparsifier STRICTLY finer than the global weight>=2
    // threshold (63 vs 3445 edges at sf0.01; at 1500 ppt the two rules
    // coincide on this graph, so the query uses 2000 to evidence the
    // local rule)
    Q("q143_backbone", (s, d) =>
      Edges.disparityBackbone(cooc(s, d), alphaPpt = 2000L),
      // per-endpoint degree/strength over the symmetrized weighted graph,
      // integer cross-multiplied keep rule, either-endpoint semantics
      Sql(s"""WITH $CTE,
         |symw AS (SELECT src AS s, dst AS d, weight FROM cooc
         |         UNION ALL SELECT dst, src, weight FROM cooc),
         |st AS (SELECT s AS vid, count(*) AS k,
         |              CAST(sum(weight) AS BIGINT) AS str
         |       FROM symw GROUP BY 1)
         |SELECT c.src, c.dst, c.weight
         |FROM cooc c JOIN st u ON c.src = u.vid JOIN st v ON c.dst = v.vid
         |WHERE c.weight * u.k * 1000 >= 2000 * u.str
         |   OR c.weight * v.k * 1000 >= 2000 * v.str""".stripMargin)),

    // warm-started incremental CC: labels from the thresholded subgraph
    // seed CC on the FULL co-occurrence graph (edge-insertion
    // maintenance, the CC complement of q100's warm PageRank); fixpoint
    // — and the oracle — is identical to a cold run
    Q("q145_cc_warm", (s, d) => {
      // ONE co-occurrence derivation serves both graphs (the warm
      // subgraph is the weight>=2 filter of the full table; previously
      // e2() and cooc() each re-derived it)
      val cw = cooc(s, d)
        .select(col("src"), col("dst"), col("weight"))
        .localCheckpoint(eager = true)
      val warm = ConnectedComponents
        .run(s, Edges.symmetrize(cw.filter(col("weight") >= 2)
          .select(col("src"), col("dst")))).components
      ConnectedComponents.run(s,
        Edges.symmetrize(cw.select(col("src"), col("dst"))),
        initState = Some(warm)).components
    },
      // the q08 hash-min recursion on the FULL graph — warm start cannot
      // change the fixpoint (labels are member ids), so the oracle is a
      // cold replay
      Sql(s"""WITH RECURSIVE $CTE, $FULL,
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM fdeg
         |  UNION
         |  SELECT s.d, r.lbl FROM reach r JOIN fsym s ON r.vid = s.s
         |)
         |SELECT vid, min(lbl) AS component FROM reach GROUP BY vid""".stripMargin)),

    // motif (triangle-weighted) conductance of the brand partition:
    // communities judged by the TRIANGLES they cut (edge weight = q74's
    // triangle support) — robust to weak-tie noise; complements q134
    Q("q146_motif_conductance", (s, d) => {
      val supE = TriangleCount.support(e2(s, d))
        .select(col("src"), col("dst"), col("sup").as("weight"))
      val brands = broadcast(T(s, d, "part")
        .select(col("p_partkey").as("vid"), col("p_brand").as("label")))
      graft.kernels.GraphStats.conductanceWeighted(supE, brands)
    },
      // triangle support per canonical edge (the q69 s0 stage), then the
      // q134 conductance shape with weighted sums
      Sql(s"""WITH $CTE,
         |$TRUSS0,
         |w AS (SELECT e.s, e.d, coalesce(s0.sup, 0) AS weight
         |      FROM e LEFT JOIN s0 ON e.s = s0.s AND e.d = s0.d),
         |symw AS (SELECT s, d, weight FROM w
         |         UNION ALL SELECT d, s, weight FROM w),
         |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM symw),
         |lbl AS (SELECT p_partkey AS vid, p_brand AS label FROM part),
         |per AS (SELECT a.label,
         |          CAST(sum(symw.weight) AS BIGINT) AS volume_w,
         |          CAST(sum(CASE WHEN a.label <> b.label
         |                        THEN symw.weight ELSE 0 END) AS BIGINT) AS cut_w
         |        FROM symw JOIN lbl a ON symw.s = a.vid
         |                  JOIN lbl b ON symw.d = b.vid
         |        GROUP BY 1)
         |SELECT label, cut_w, volume_w,
         |       round(CAST(cut_w AS DOUBLE)
         |               / nullif(least(volume_w, tot.tw - volume_w), 0), 8)
         |         AS conductance
         |FROM per CROSS JOIN tot""".stripMargin)),

    // hub-removal robustness census: for each of the top-5 degree hubs,
    // the component count and largest-component size among vertices that
    // retain an edge after the hub is removed — the single-point-of-
    // failure profile; 5 bounded per-seed CC runs (J4 license, like MCF)
    Q("q147_hub_impact", (s, d) => {
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val hubs = Edges.degrees(sym)
        .orderBy(col("degree").desc, col("vid")).limit(5)
        .select(col("vid")).collect().map(_.getLong(0)) // 5-row collect
      // ALL five hub-removal graphs run as ONE hash-min CC over their
      // disjoint union (vertex spaces separated by vid*5 + hub index —
      // q169's encoding): slices never share an edge, so per-slice
      // components equal the standalone runs', while the superstep loop
      // runs once for max(iters) instead of five times
      val union = hubs.toSeq.zipWithIndex.map { case (h, i) =>
        sym.filter(col("src") =!= h && col("dst") =!= h)
          .select((col("src") * 5L + i).as("src"),
            (col("dst") * 5L + i).as("dst"))
      }.reduce(_ unionAll _)
      val sizes = ConnectedComponents.run(s, union).components
        .groupBy(pmod(col("vid"), lit(5L)).as("i"), col("component"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("i"))
        .agg(count(lit(1)).as("n_components"), max(col("n")).as("largest"))
        .localCheckpoint(eager = true)
      val per = hubs.toSeq.zipWithIndex.map { case (h, i) =>
        // ≤1-row slice stats; the fold keeps the original empty-graph
        // row (0 components, NULL largest)
        sizes.filter(col("i") === i)
          .agg(coalesce(max(col("n_components")), lit(0L))
              .as("n_components"),
            max(col("largest")).as("largest"))
          .select(lit(h).as("hub"), col("n_components"), col("largest"))
      }
      per.reduce(_ union _).localCheckpoint(eager = true)
    },
      // hub-keyed hash-min recursion: one recursive CTE carries the hub id
      // through, seeds = endpoints of edges that survive the hub's removal
      Sql(s"""WITH RECURSIVE $CTE,
         |hubs AS (SELECT vid FROM deg ORDER BY degree DESC, vid LIMIT 5),
         |reach(hub, vid, lbl) AS (
         |  SELECT h.vid, s.s, s.s FROM hubs h
         |  JOIN sym s ON s.s <> h.vid AND s.d <> h.vid
         |  UNION
         |  SELECT r.hub, s.d, r.lbl FROM reach r JOIN sym s ON r.vid = s.s
         |  WHERE s.d <> r.hub
         |),
         |comp AS (SELECT hub, vid, min(lbl) AS c FROM reach GROUP BY 1, 2),
         |sizes AS (SELECT hub, c, count(*) AS n FROM comp GROUP BY 1, 2)
         |SELECT hub, CAST(count(*) AS BIGINT) AS n_components,
         |       CAST(max(n) AS BIGINT) AS largest
         |FROM sizes GROUP BY 1""".stripMargin)),

    // s-core (weighted core, Eidsaa-Almaas): strength-based peel on the
    // full co-occurrence weights, 3 FIXED rounds for the staged oracle
    // (the fixpoint path is spec-covered); survivors' strengths
    Q("q148_score", (s, d) =>
      graft.kernels.KCore.sCore(cooc(s, d), s = 8L, maxRounds = 3),
      // 3 staged strength-peel rounds over the full weighted graph, then
      // survivors' strengths (the round the Spark peel stops at)
      Sql(s"""WITH $CTE,
         |w0 AS MATERIALIZED (SELECT src AS s, dst AS d, weight FROM cooc),
         |st0 AS (SELECT s AS vid, CAST(sum(weight) AS BIGINT) AS str FROM
         |        (SELECT s, d, weight FROM w0
         |         UNION ALL SELECT d, s, weight FROM w0) GROUP BY 1),
         |k0 AS (SELECT vid FROM st0 WHERE str >= 8),
         |w1 AS MATERIALIZED (SELECT w0.s, w0.d, w0.weight FROM w0
         |       JOIN k0 a ON w0.s = a.vid JOIN k0 b ON w0.d = b.vid),
         |st1 AS (SELECT s AS vid, CAST(sum(weight) AS BIGINT) AS str FROM
         |        (SELECT s, d, weight FROM w1
         |         UNION ALL SELECT d, s, weight FROM w1) GROUP BY 1),
         |k1 AS (SELECT vid FROM st1 WHERE str >= 8),
         |w2 AS MATERIALIZED (SELECT w1.s, w1.d, w1.weight FROM w1
         |       JOIN k1 a ON w1.s = a.vid JOIN k1 b ON w1.d = b.vid),
         |st2 AS (SELECT s AS vid, CAST(sum(weight) AS BIGINT) AS str FROM
         |        (SELECT s, d, weight FROM w2
         |         UNION ALL SELECT d, s, weight FROM w2) GROUP BY 1),
         |k2 AS (SELECT vid FROM st2 WHERE str >= 8),
         |w3 AS MATERIALIZED (SELECT w2.s, w2.d, w2.weight FROM w2
         |       JOIN k2 a ON w2.s = a.vid JOIN k2 b ON w2.d = b.vid)
         |SELECT s AS vid, CAST(sum(weight) AS BIGINT) AS strength FROM
         |       (SELECT s, d, weight FROM w3
         |        UNION ALL SELECT d, s, weight FROM w3) GROUP BY 1""".stripMargin)),

    // HyperANF ball sketches (Boldi–Vigna WWW'11): per-vertex HLL of the
    // 2-hop ball, advanced by max-merging neighbor registers — the
    // effective-diameter/ball-size primitive whose state is 16 registers
    // per vertex regardless of ball size (q90's k-hop is the exact twin)
    Q("q158_anf", (s, d) =>
      graft.kernels.GraphStats.anf(
        Edges.symmetrize(e2(s, d)), hops = 2, regBits = 4),
      // HyperANF replay: sha-derived registers (the q114 family at 16
      // registers), two staged max-merge hops over sym, per-vertex summary
      Sql(s"""WITH $CTE,
         |h0 AS (SELECT vid,
         |              CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |       FROM deg),
         |r0 AS (SELECT vid, h % 16 AS reg,
         |              CASE WHEN h // 16 = 0 THEN 57
         |                   ELSE instr(lpad(bin(h // 16), 56, '0'), '1') END AS max_rank
         |       FROM h0),
         |r1 AS (SELECT vid, reg, max(max_rank) AS max_rank FROM (
         |         SELECT vid, reg, max_rank FROM r0
         |         UNION ALL
         |         SELECT s.s, r.reg, r.max_rank FROM sym s JOIN r0 r ON r.vid = s.d
         |       ) u GROUP BY 1, 2),
         |r2 AS (SELECT vid, reg, max(max_rank) AS max_rank FROM (
         |         SELECT vid, reg, max_rank FROM r1
         |         UNION ALL
         |         SELECT s.s, r.reg, r.max_rank FROM sym s JOIN r1 r ON r.vid = s.d
         |       ) u GROUP BY 1, 2)
         |SELECT vid, CAST(count(*) AS BIGINT) AS n_regs,
         |       CAST(sum(max_rank) AS BIGINT) AS rank_sum
         |FROM r2 GROUP BY 1""".stripMargin)),

    // GraphSAGE-style layer-wise neighbor sampling: per-vertex adjacency
    // down-sampled to the 5 (then 3) lowest sha-ranked neighbors, 2-hop
    // expansion from the sha-sampled seeds — the bounded GNN mini-batch
    // computation graph
    Q("q159_sage_sample", (s, d) =>
      graft.kernels.GraphStats.sageSample(
        Edges.symmetrize(e2(s, d)), seedPpt = 20, fanouts = Seq(5, 3)),
      // sampled-adjacency replay: one sha-ranked row_number window per
      // vertex, seeds expand through the rn<=5 then rn<=3 blocks
      Sql(s"""WITH $CTE,
         |rk AS (SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY
         |         CAST(('0x' || substr(sha256(CAST(s AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT), d) AS rn
         |       FROM sym),
         |${shaSeeds(20)},
         |l1 AS (SELECT DISTINCT seeds.vid AS seed, CAST(1 AS BIGINT) AS hop,
         |              rk.s AS src, rk.d AS dst
         |       FROM seeds JOIN rk ON rk.s = seeds.vid WHERE rk.rn <= 5),
         |l2 AS (SELECT DISTINCT l1.seed, CAST(2 AS BIGINT) AS hop,
         |              rk.s AS src, rk.d AS dst
         |       FROM l1 JOIN rk ON rk.s = l1.dst WHERE rk.rn <= 3)
         |SELECT seed, hop, src, dst FROM l1
         |UNION ALL
         |SELECT seed, hop, src, dst FROM l2""".stripMargin)),

    // exact 4-clique census: the oriented-DAG sextuple join (triangle-
    // first join order), one motif up from q06's triangles
    Q("q160_k4", (s, d) => graft.kernels.GraphStats.k4Count(e2(s, d)),
      // K4 replay: q04's degree orientation (MATERIALIZED — six self-
      // references), the oriented-DAG sextuple join counts each 4-clique
      // exactly once
      Sql(s"""WITH $CTE,
         |o AS MATERIALIZED (
         |  SELECT CASE WHEN x.degree < y.degree OR (x.degree = y.degree AND e.s < e.d) THEN e.s ELSE e.d END AS s,
         |         CASE WHEN x.degree < y.degree OR (x.degree = y.degree AND e.s < e.d) THEN e.d ELSE e.s END AS d
         |  FROM e JOIN deg x ON e.s = x.vid JOIN deg y ON e.d = y.vid)
         |SELECT count(*) AS k4
         |FROM o ab
         |JOIN o ac ON ac.s = ab.s AND ac.d <> ab.d
         |JOIN o bc ON bc.s = ab.d AND bc.d = ac.d
         |JOIN o cd ON cd.s = ac.d
         |JOIN o ad ON ad.s = ab.s AND ad.d = cd.d
         |JOIN o bd ON bd.s = ab.d AND bd.d = cd.d""".stripMargin)),

    // 1-WL color refinement, 3 rounds: canonical per-vertex structural
    // fingerprints (GNN role features, subgraph-dedup keys); sha-hashed
    // counted neighbor-color multisets, initial color = degree
    Q("q163_wl_colors", (s, d) =>
      graft.kernels.WlRefinement.colors(
        Edges.symmetrize(e2(s, d)), rounds = 3),
      // 1-WL replay: three staged refinements (MATERIALIZED — each color
      // table feeds both the next round's multiset and its own rehash),
      // sha60 color hash over the sorted "color:count" encoding
      Sql(s"""WITH $CTE,
         |c0 AS MATERIALIZED (SELECT vid, CAST(degree AS BIGINT) AS c FROM deg),
         |n1 AS (SELECT s.d AS vid, c.c AS nc, count(*) AS n
         |       FROM sym s JOIN c0 c ON s.s = c.vid GROUP BY 1, 2),
         |c1 AS MATERIALIZED (
         |  SELECT c0.vid, CAST(('0x' || substr(sha256(CAST(c0.c AS VARCHAR) || '|' || a.enc), 1, 15)) AS BIGINT) AS c
         |  FROM c0 JOIN (SELECT vid, string_agg(CAST(nc AS VARCHAR) || ':' || CAST(n AS VARCHAR), ',' ORDER BY nc) AS enc
         |                FROM n1 GROUP BY 1) a ON c0.vid = a.vid),
         |n2 AS (SELECT s.d AS vid, c.c AS nc, count(*) AS n
         |       FROM sym s JOIN c1 c ON s.s = c.vid GROUP BY 1, 2),
         |c2 AS MATERIALIZED (
         |  SELECT c1.vid, CAST(('0x' || substr(sha256(CAST(c1.c AS VARCHAR) || '|' || a.enc), 1, 15)) AS BIGINT) AS c
         |  FROM c1 JOIN (SELECT vid, string_agg(CAST(nc AS VARCHAR) || ':' || CAST(n AS VARCHAR), ',' ORDER BY nc) AS enc
         |                FROM n2 GROUP BY 1) a ON c1.vid = a.vid),
         |n3 AS (SELECT s.d AS vid, c.c AS nc, count(*) AS n
         |       FROM sym s JOIN c2 c ON s.s = c.vid GROUP BY 1, 2),
         |c3 AS MATERIALIZED (
         |  SELECT c2.vid, CAST(('0x' || substr(sha256(CAST(c2.c AS VARCHAR) || '|' || a.enc), 1, 15)) AS BIGINT) AS c
         |  FROM c2 JOIN (SELECT vid, string_agg(CAST(nc AS VARCHAR) || ':' || CAST(n AS VARCHAR), ',' ORDER BY nc) AS enc
         |                FROM n3 GROUP BY 1) a ON c2.vid = a.vid),
         |sz AS (SELECT c, count(*) AS class_size FROM c3 GROUP BY 1)
         |SELECT c3.vid, c3.c AS wl_color, sz.class_size
         |FROM c3 JOIN sz ON c3.c = sz.c""".stripMargin)),

    // Molloy-Reed percolation profile: kappa = <k^2>/<k> (ppm) for the
    // full graph and after removing the top-1% hubs — the quantitative
    // robustness complement of q147's per-hub census
    Q("q167_robustness", (s, d) =>
      graft.kernels.GraphStats.molloyReed(
        Edges.symmetrize(e2(s, d)), hubPct = 1),
      // Molloy-Reed replay: top-ceil(n/100) hubs by (degree desc, vid),
      // survivors' degree moments, kappa in integral ppm
      Sql(s"""WITH $CTE,
         |nv AS (SELECT count(*) AS n FROM deg),
         |hub AS (SELECT vid FROM (
         |          SELECT vid, row_number() OVER (ORDER BY degree DESC, vid) AS r FROM deg)
         |        WHERE r <= (SELECT (n * 1 + 99) // 100 FROM nv)),
         |att AS (SELECT s, d FROM sym
         |        WHERE s NOT IN (SELECT vid FROM hub)
         |          AND d NOT IN (SELECT vid FROM hub)),
         |deg2 AS (SELECT s AS vid, count(*) AS degree FROM att GROUP BY 1),
         |p AS (SELECT '1_full' AS scenario, count(*) AS n_vertices,
         |             CAST(COALESCE(sum(degree), 0) AS BIGINT) AS sum_deg,
         |             CAST(COALESCE(sum(degree * degree), 0) AS BIGINT) AS sum_deg2
         |      FROM deg
         |      UNION ALL
         |      SELECT '2_hubs_removed', count(*),
         |             CAST(COALESCE(sum(degree), 0) AS BIGINT),
         |             CAST(COALESCE(sum(degree * degree), 0) AS BIGINT)
         |      FROM deg2)
         |SELECT scenario, n_vertices, sum_deg, sum_deg2,
         |       CASE WHEN sum_deg = 0 THEN 0 ELSE sum_deg2 * 1000000 // sum_deg END AS kappa_ppm,
         |       CAST(CASE WHEN sum_deg = 0 THEN 0 ELSE sum_deg2 * 1000000 // sum_deg END >= 2000000 AS INT) AS supercritical
         |FROM p""".stripMargin)),

    // per-vertex neighbor-label Gini diversity (p_brand labels): the
    // heterophily feature a GNN sampler stratifies on; label dim
    // broadcast, counted-histogram two-phase agg
    Q("q168_nbr_diversity", (s, d) =>
      graft.kernels.GraphStats.neighborLabelDiversity(
        Edges.symmetrize(e2(s, d)),
        broadcast(T(s, d, "part")
          .select(col("p_partkey").as("vid"), col("p_brand").as("label")))),
      // neighbor-label Gini: counted label histogram then 1 - sum p^2 ppm
      Sql(s"""WITH $CTE,
         |lab AS (SELECT p_partkey AS vid, p_brand AS label FROM part),
         |nl AS (SELECT s.d AS vid, l.label, count(*) AS n
         |       FROM sym s JOIN lab l ON s.s = l.vid GROUP BY 1, 2),
         |ag AS (SELECT vid, CAST(sum(n) AS BIGINT) AS deg_labeled,
         |              CAST(count(*) AS BIGINT) AS n_labels,
         |              CAST(sum(n * n) AS BIGINT) AS sumsq
         |       FROM nl GROUP BY 1)
         |SELECT vid, deg_labeled, n_labels,
         |       1000000 - sumsq * 1000000 // (deg_labeled * deg_labeled) AS div_ppm
         |FROM ag""".stripMargin)),

    // bond-percolation profile: component structure under RANDOM edge
    // failure (sha-kept edges at 400/800 ppt) — the random-failure
    // complement of q167's targeted attack; two bounded CC runs (J4)
    Q("q169_percolation", (s, d) => {
      // BOTH keep-rates run as ONE hash-min CC over the disjoint union
      // of the two kept graphs (vertex spaces separated by vid*2 + slice
      // tag): slices never share an edge, so each converges exactly as
      // its standalone run would — same component sizes — while the
      // superstep loop (the dominant job count) runs once, for
      // max(iters) instead of their sum. The sha keep-hash is computed
      // once per edge instead of once per rate.
      val ps = Seq(400L, 800L)
      val e = e2(s, d)
        .withColumn("hh", pmod(Dedup.shaTokenHash60(
          concat(col("src").cast("string"), lit(":"),
            col("dst").cast("string"))), lit(1000L)))
        .localCheckpoint(eager = true)
      val union = ps.zipWithIndex.map { case (p, j) =>
        e.filter(col("hh") < p)
          .select((col("src") * 2L + j).as("src"),
            (col("dst") * 2L + j).as("dst"))
      }.reduce(_ union _)
      val sizes = ConnectedComponents.run(s, Edges.symmetrize(union))
        .components
        .groupBy(pmod(col("vid"), lit(2L)).as("j"), col("component"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("j"))
        .agg(count(lit(1)).as("n_components"),
          coalesce(max(col("n")), lit(0L)).as("largest"))
        .localCheckpoint(eager = true)
      val per = ps.zipWithIndex.map { case (p, j) =>
        e.filter(col("hh") < p).agg(count(lit(1)).as("n_edges"))
          .crossJoin(
            // ≤1-row slice stats; the max-over-nothing fold keeps the
            // original "empty graph → (0, 0)" row
            broadcast(sizes.filter(col("j") === j)
              .agg(coalesce(max(col("n_components")), lit(0L))
                  .as("n_components"),
                coalesce(max(col("largest")), lit(0L)).as("largest"))))
          .select(lit(p).as("keep_ppt"), col("n_edges"),
            col("n_components"), col("largest"))
      }
      per.reduce(_ union _).localCheckpoint(eager = true)
    },
      // percolation replay: one p-keyed recursive hash-min CC over the
      // sha-kept edge sets (same move as q147's hub-keyed CTE)
      Sql(s"""WITH RECURSIVE $CTE,
         |lad(p) AS (SELECT unnest([400, 800])),
         |keptp AS MATERIALIZED (
         |  SELECT lad.p, e.s, e.d FROM lad JOIN e
         |  ON CAST(('0x' || substr(sha256(CAST(e.s AS VARCHAR) || ':' || CAST(e.d AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < lad.p),
         |symp AS MATERIALIZED (SELECT p, s, d FROM keptp UNION ALL SELECT p, d, s FROM keptp),
         |reach(p, vid, lbl) AS (
         |  SELECT DISTINCT p, s, s FROM symp
         |  UNION
         |  SELECT r.p, s.d, r.lbl FROM reach r JOIN symp s ON r.p = s.p AND r.vid = s.s
         |),
         |cc AS (SELECT p, vid, min(lbl) AS component FROM reach GROUP BY 1, 2),
         |sizes AS (SELECT p, component, count(*) AS n FROM cc GROUP BY 1, 2),
         |stats AS (SELECT p, count(*) AS n_components, max(n) AS largest FROM sizes GROUP BY 1),
         |ecnt AS (SELECT p, count(*) AS n_edges FROM keptp GROUP BY 1)
         |SELECT CAST(lad.p AS BIGINT) AS keep_ppt,
         |       COALESCE(ecnt.n_edges, 0) AS n_edges,
         |       COALESCE(stats.n_components, 0) AS n_components,
         |       COALESCE(stats.largest, 0) AS largest
         |FROM lad LEFT JOIN ecnt ON lad.p = ecnt.p
         |         LEFT JOIN stats ON lad.p = stats.p""".stripMargin)),

    // incremental degree-view maintenance: a deleted slice (sha%10==7)
    // and an inserted shifted slice (sha%10==3) applied to the
    // materialized view WITHOUT rescanning the base edges; oracle
    // recomputes from the modified edge set — additivity makes the two
    // provably identical
    Q("q170_ivm_degrees", (s, d) => {
      val e = e2(s, d).localCheckpoint(eager = true)
      val hh = pmod(Dedup.shaTokenHash60(concat(col("src").cast("string"),
        lit(":"), col("dst").cast("string"))), lit(10L))
      val view = Edges.degrees(Edges.symmetrize(e))
      val deleted = e.filter(hh === 7)
      val inserted = e.filter(hh === 3)
        .select((col("src") + 100000L).as("src"),
          (col("dst") + 100000L).as("dst"))
      Edges.maintainDegrees(view, deleted, inserted)
    },
      // IVM replay: degrees recomputed from the modified edge set —
      // additivity makes the incremental path provably identical
      Sql(s"""WITH $CTE,
         |hcls AS (SELECT s, d,
         |                CAST(('0x' || substr(sha256(CAST(s AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS h
         |         FROM e),
         |m AS (SELECT s, d FROM hcls WHERE h <> 7
         |      UNION ALL
         |      SELECT s + 100000, d + 100000 FROM hcls WHERE h = 3),
         |msym AS (SELECT s, d FROM m UNION ALL SELECT d, s FROM m)
         |SELECT s AS vid, count(*) AS degree FROM msym GROUP BY 1""".stripMargin)),

    // deterministic negative-edge sampling (link-prediction training
    // labels): 3 sha-derived candidates per vertex, rejected on
    // non-vertex / self / actual-edge — no RNG state anywhere
    Q("q172_neg_samples", (s, d) =>
      graft.kernels.GraphStats.negativeSamples(
        Edges.symmetrize(e2(s, d)), k = 3),
      // negative-sampling replay: modular sha candidates, semi/anti checks
      Sql(s"""WITH $CTE,
         |verts AS (SELECT DISTINCT s AS vid FROM sym),
         |mv AS (SELECT max(vid) AS mv FROM verts),
         |cand AS (SELECT v.vid AS src, CAST(i.i AS BIGINT) AS i,
         |                CAST(('0x' || substr(sha256(CAST(v.vid AS VARCHAR) || '#' || CAST(i.i AS VARCHAR)), 1, 15)) AS BIGINT) % ((SELECT mv FROM mv) + 1) AS dst
         |         FROM verts v, (SELECT unnest([0, 1, 2]) AS i) i)
         |SELECT c.src, c.i, c.dst
         |FROM cand c
         |JOIN verts x ON c.dst = x.vid
         |LEFT JOIN sym s ON c.src = s.s AND c.dst = s.d
         |WHERE c.src <> c.dst AND s.s IS NULL""".stripMargin)),

    // rendezvous (highest-random-weight) shard placement of the vertex
    // set over 8 shards — consistent-hashing data placement with the
    // per-shard load histogram; argmax encoded as max(sha*8 + shard)
    // (60-bit sha, so the packed key stays in long range)
    Q("q175_rendezvous", (s, d) => {
      val verts = Edges.degrees(Edges.symmetrize(e2(s, d)))
        .select(col("vid"))
      val packed = array_max(transform(sequence(lit(0), lit(7)),
        sh => Dedup.shaTokenHash60(concat(col("vid").cast("string"),
          lit(":"), sh.cast("string"))) * 8L + sh.cast("long")))
      verts.select(col("vid"), pmod(packed, lit(8L)).as("shard"))
        .groupBy(col("shard")).agg(count(lit(1)).as("n_vertices"))
        .crossJoin(broadcast(verts.agg(count(lit(1)).as("n_total"))))
        .select(col("shard"), col("n_vertices"),
          expr("n_vertices * 8L * 1000000L div n_total").as("load_ppm"))
    },
      // rendezvous replay: packed max(sha*8 + shard) per vertex
      Sql(s"""WITH $CTE,
         |pk AS (SELECT vid,
         |              max(CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR) || ':' || CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT) * 8 + sh) AS packed
         |       FROM deg, (SELECT unnest(range(8)) AS sh) s GROUP BY 1),
         |asg AS (SELECT vid, packed % 8 AS shard FROM pk)
         |SELECT shard, count(*) AS n_vertices,
         |       CAST(count(*) * 8 * 1000000 // (SELECT count(*) FROM asg) AS BIGINT) AS load_ppm
         |FROM asg GROUP BY 1""".stripMargin)),

    // graph summarization: the WL-2 color classes as supernodes, edges
    // aggregated per canonical color pair — the structural summary a
    // graph-compression / visualization layer reads instead of |E| rows
    Q("q181_wl_summary", (s, d) => {
      val e = e2(s, d).localCheckpoint(eager = true)
      val colors = graft.kernels.WlRefinement
        .colors(Edges.symmetrize(e), rounds = 2)
        .select(col("vid"), col("wl_color"))
      e.join(colors.select(col("vid").as("src"), col("wl_color").as("ca")),
          "src")
        .join(colors.select(col("vid").as("dst"), col("wl_color").as("cb")),
          "dst")
        .select(least(col("ca"), col("cb")).as("c1"),
          greatest(col("ca"), col("cb")).as("c2"))
        .groupBy(col("c1"), col("c2"))
        .agg(count(lit(1)).as("n_edges"))
    },
      // WL-2 supergraph replay: q163's first two refinement rounds, then
      // the canonical color-pair edge rollup
      Sql(s"""WITH $CTE,
         |w0 AS MATERIALIZED (SELECT vid, CAST(degree AS BIGINT) AS c FROM deg),
         |n1 AS (SELECT s.d AS vid, c.c AS nc, count(*) AS n
         |       FROM sym s JOIN w0 c ON s.s = c.vid GROUP BY 1, 2),
         |w1 AS MATERIALIZED (
         |  SELECT w0.vid, CAST(('0x' || substr(sha256(CAST(w0.c AS VARCHAR) || '|' || a.enc), 1, 15)) AS BIGINT) AS c
         |  FROM w0 JOIN (SELECT vid, string_agg(CAST(nc AS VARCHAR) || ':' || CAST(n AS VARCHAR), ',' ORDER BY nc) AS enc
         |                FROM n1 GROUP BY 1) a ON w0.vid = a.vid),
         |n2 AS (SELECT s.d AS vid, c.c AS nc, count(*) AS n
         |       FROM sym s JOIN w1 c ON s.s = c.vid GROUP BY 1, 2),
         |w2 AS MATERIALIZED (
         |  SELECT w1.vid, CAST(('0x' || substr(sha256(CAST(w1.c AS VARCHAR) || '|' || a.enc), 1, 15)) AS BIGINT) AS c
         |  FROM w1 JOIN (SELECT vid, string_agg(CAST(nc AS VARCHAR) || ':' || CAST(n AS VARCHAR), ',' ORDER BY nc) AS enc
         |                FROM n2 GROUP BY 1) a ON w1.vid = a.vid)
         |SELECT least(x.c, y.c) AS c1, greatest(x.c, y.c) AS c2,
         |       count(*) AS n_edges
         |FROM e JOIN w2 x ON e.s = x.vid JOIN w2 y ON e.d = y.vid
         |GROUP BY 1, 2""".stripMargin)),

    // synchronous Louvain phase-1 local move (2 rounds), integer-exact
    // modularity gain, singleton init — the unsupervised counterpart of
    // q36's attribute-seeded community detection
    Q("q187_louvain_move", (s, d) =>
      graft.kernels.Louvain.localMove(s, e2(s, d), rounds = 2),
      // two chained Louvain local-move rounds: candidate communities =
      // neighbor communities + own, integer gain 2m·e_vC − deg·degsum',
      // argmax by (gain desc, community asc)
      Sql(s"""WITH $CTE,
         |$LOUV
         |SELECT vid, comm AS community FROM a2""".stripMargin)),

    // onion decomposition: the peel SCHEDULE of 3-core peeling, 4
    // synchronized rounds — layer i = peeled in round i, survivors get
    // layer 0 (the deep core); the periphery-to-center signal q110's
    // core number alone does not give
    Q("q193_onion", (s, d) =>
      graft.kernels.KCore.onionLayers(s,
        Edges.symmetrize(e2(s, d)), k = 3, rounds = 4),
      // four peel rounds of the 3-core, vertex set carried explicitly so
      // isolated survivors keep peeling; survivors after round 4 = layer 0
      Sql(s"""WITH $CTE,
         |v0 AS (SELECT vid FROM deg),
         |e0 AS (SELECT s, d FROM sym),
         |d1 AS (SELECT v.vid, coalesce(x.dg, 0) AS degree FROM v0 v
         |       LEFT JOIN (SELECT s AS vid, CAST(count(*) AS BIGINT) AS dg FROM e0 GROUP BY 1) x ON x.vid = v.vid),
         |p1 AS (SELECT vid, CAST(1 AS BIGINT) AS layer FROM d1 WHERE degree < 3),
         |v1 AS MATERIALIZED (SELECT vid FROM d1 WHERE degree >= 3),
         |e1 AS MATERIALIZED (SELECT e.s, e.d FROM e0 e JOIN v1 a ON a.vid = e.s JOIN v1 b ON b.vid = e.d),
         |d2 AS (SELECT v.vid, coalesce(x.dg, 0) AS degree FROM v1 v
         |       LEFT JOIN (SELECT s AS vid, CAST(count(*) AS BIGINT) AS dg FROM e1 GROUP BY 1) x ON x.vid = v.vid),
         |p2 AS (SELECT vid, CAST(2 AS BIGINT) AS layer FROM d2 WHERE degree < 3),
         |v2 AS MATERIALIZED (SELECT vid FROM d2 WHERE degree >= 3),
         |e2x AS MATERIALIZED (SELECT e.s, e.d FROM e1 e JOIN v2 a ON a.vid = e.s JOIN v2 b ON b.vid = e.d),
         |d3 AS (SELECT v.vid, coalesce(x.dg, 0) AS degree FROM v2 v
         |       LEFT JOIN (SELECT s AS vid, CAST(count(*) AS BIGINT) AS dg FROM e2x GROUP BY 1) x ON x.vid = v.vid),
         |p3 AS (SELECT vid, CAST(3 AS BIGINT) AS layer FROM d3 WHERE degree < 3),
         |v3 AS MATERIALIZED (SELECT vid FROM d3 WHERE degree >= 3),
         |e3 AS MATERIALIZED (SELECT e.s, e.d FROM e2x e JOIN v3 a ON a.vid = e.s JOIN v3 b ON b.vid = e.d),
         |d4 AS (SELECT v.vid, coalesce(x.dg, 0) AS degree FROM v3 v
         |       LEFT JOIN (SELECT s AS vid, CAST(count(*) AS BIGINT) AS dg FROM e3 GROUP BY 1) x ON x.vid = v.vid),
         |p4 AS (SELECT vid, CAST(4 AS BIGINT) AS layer FROM d4 WHERE degree < 3),
         |v4 AS (SELECT vid FROM d4 WHERE degree >= 3)
         |SELECT vid, layer FROM p1 UNION ALL SELECT vid, layer FROM p2
         |UNION ALL SELECT vid, layer FROM p3 UNION ALL SELECT vid, layer FROM p4
         |UNION ALL SELECT vid, CAST(0 AS BIGINT) FROM v4""".stripMargin)),

    // exact bridge (cut-edge) probe over the 12 sha-smallest candidate
    // edges: one multi-source reachability keyed by candidate, removed
    // edge enforced via a broadcast — is this co-occurrence link the
    // ONLY path between its endpoints?
    Q("q194_bridges", (s, d) => {
      // materialized once: consumed by the candidate draw AND the probe
      val e = e2(s, d).localCheckpoint(eager = true)
      val cand = e
        .withColumn("h", Dedup.shaTokenHash60(
          concat(lit("br:"), col("src").cast("string"), lit(":"),
            col("dst").cast("string"))))
        .orderBy(col("h"), col("src"), col("dst")).limit(12)
        .select(concat(col("src").cast("string"), lit(":"),
          col("dst").cast("string")).as("cid"), col("src"), col("dst"))
      graft.kernels.Bridges.probe(s, e, cand)
    },
      // per-candidate transitive closure with the candidate edge excluded
      // (recursive UNION = global dedup, terminates at the component)
      Sql(s"""WITH RECURSIVE $CTE,
         |cand AS MATERIALIZED (SELECT s, d FROM (
         |  SELECT s, d, CAST(('0x' || substr(sha256('br:' || CAST(s AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM e) ORDER BY h, s, d LIMIT 12),
         |reach(cs, cd, vid) AS (
         |  SELECT s, d, s FROM cand
         |  UNION
         |  SELECT r.cs, r.cd, y.d FROM reach r JOIN sym y ON y.s = r.vid
         |  WHERE NOT ((y.s = r.cs AND y.d = r.cd) OR (y.s = r.cd AND y.d = r.cs))
         |)
         |SELECT c.s AS src, c.d AS dst,
         |       CASE WHEN r.vid IS NULL THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_bridge
         |FROM cand c LEFT JOIN (SELECT DISTINCT cs, cd, vid FROM reach) r
         |  ON r.cs = c.s AND r.cd = c.d AND r.vid = c.d""".stripMargin)),

    // SimRank (2 iterations, C = 0.8, integer ppm, in-loop threshold
    // 10000 ppm): second-order structural similarity — two vertices
    // score high when their NEIGHBORS are similar, shared edge or not
    Q("q195_simrank", (s, d) =>
      graft.kernels.SimRank.run(s, e2(s, d), cPpm = 800000L,
        iters = 2, minPpm = 10000L),
      // two SimRank rounds: round 1 folds s0 = diag into 10^6·common, both
      // rounds share the (800000·tot) // (10^6·deg·deg) update and the
      // 10000 ppm in-loop threshold
      Sql(s"""WITH $CTE,
         |cn AS (SELECT x.s AS a, y.s AS b, CAST(count(*) AS BIGINT) AS c
         |       FROM sym x JOIN sym y ON x.d = y.d AND x.s < y.s GROUP BY 1, 2),
         |s1 AS MATERIALIZED (SELECT * FROM (
         |  SELECT a, b, (800000 * (1000000 * c)) // (1000000 * da.degree * db.degree) AS sp
         |  FROM cn JOIN deg da ON da.vid = cn.a JOIN deg db ON db.vid = cn.b)
         |  WHERE sp >= 10000),
         |f1 AS (SELECT vid AS u, vid AS w, CAST(1000000 AS BIGINT) AS sp FROM deg
         |       UNION ALL SELECT a, b, sp FROM s1
         |       UNION ALL SELECT b, a, sp FROM s1),
         |t2 AS (SELECT x.s AS a, y.s AS b, CAST(sum(f.sp) AS BIGINT) AS tot
         |       FROM sym x JOIN f1 f ON f.u = x.d JOIN sym y ON y.d = f.w AND x.s < y.s
         |       GROUP BY 1, 2),
         |s2 AS (SELECT * FROM (
         |  SELECT a, b, (800000 * tot) // (1000000 * da.degree * db.degree) AS sp
         |  FROM t2 JOIN deg da ON da.vid = t2.a JOIN deg db ON db.vid = t2.b)
         |  WHERE sp >= 10000)
         |SELECT a, b, sp AS sim_ppm FROM s2""".stripMargin)),

    // Louvain phase 2: contract the 2-round q187 assignment into a
    // weighted super-graph (ca <= cb; ca = cb rows carry the
    // intra-community edge count) — the coarsened input the next
    // Louvain level runs on
    Q("q196_louvain_coarsen", (s, d) => {
      val e = e2(s, d).localCheckpoint(eager = true)
      graft.kernels.Louvain.coarsen(e,
        graft.kernels.Louvain.localMove(s, e, rounds = 2))
    },
      // the shared two-round chain, then contract edges onto communities
      Sql(s"""WITH $CTE,
         |$LOUV
         |SELECT least(x.comm, y.comm) AS ca, greatest(x.comm, y.comm) AS cb,
         |       CAST(count(*) AS BIGINT) AS weight
         |FROM e JOIN a2 x ON x.vid = e.s JOIN a2 y ON y.vid = e.d
         |GROUP BY 1, 2""".stripMargin)),

    // articulation-point (cut-vertex) probe over the 8 sha-smallest
    // degree>=2 vertices: one candidate-keyed reachability seeded at
    // each candidate's min neighbor with the candidate itself excluded
    Q("q197_articulation", (s, d) => {
      val e = e2(s, d).localCheckpoint(eager = true)
      val cand = Edges.degrees(Edges.symmetrize(e))
        .filter(col("degree") >= 2L)
        .withColumn("hh", Dedup.shaTokenHash60(
          concat(lit("ap:"), col("vid").cast("string"))))
        .orderBy(col("hh"), col("vid")).limit(8).select(col("vid"))
      graft.kernels.Bridges.articulationProbe(s, e, cand)
    },
      // candidate-keyed reachability from each candidate's min neighbor,
      // candidate vertex excluded; articulation iff a neighbor is unreached
      Sql(s"""WITH RECURSIVE $CTE,
         |cand AS MATERIALIZED (SELECT vid FROM (
         |  SELECT vid, CAST(('0x' || substr(sha256('ap:' || CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
         |  FROM deg WHERE degree >= 2) ORDER BY hh, vid LIMIT 8),
         |nb AS MATERIALIZED (SELECT c.vid AS cv, s.d AS nbr FROM cand c JOIN sym s ON s.s = c.vid),
         |reach(cv, vid) AS (
         |  SELECT cv, min(nbr) FROM nb GROUP BY 1
         |  UNION
         |  SELECT r.cv, y.d FROM reach r JOIN sym y ON y.s = r.vid WHERE y.d <> r.cv
         |)
         |SELECT n.cv AS vid,
         |       CAST(max(CASE WHEN r.vid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS is_articulation
         |FROM nb n LEFT JOIN (SELECT DISTINCT cv, vid FROM reach) r
         |  ON r.cv = n.cv AND r.vid = n.nbr
         |GROUP BY 1""".stripMargin)),

    // SCAN structural clustering (KDD'07): density-connected clusters
    // plus the hub/outlier roles plain community detection cannot
    // express — ε = 0.4 (cross-multiplied as ε²·10⁶ = 160000), μ = 4;
    // the heavy step reuses the degree-oriented triangle plan
    Q("q202_scan", (s, d) =>
      graft.kernels.Scan.run(s, e2(s, d), epsSqPpm = 160000L, mu = 4),
      // σ ≥ ε via com²·10⁶ ≥ ε²ppm·|N[u]|·|N[v]| (closed neighborhoods);
      // clusters = hash-min CC over core–core ε-edges; roles per the paper
      Sql(s"""WITH RECURSIVE $CTE,
         |cm AS (SELECT e.s AS u, e.d AS v, count(*) AS com0
         |       FROM e JOIN sym x ON x.s = e.s
         |              JOIN sym y ON y.s = e.d AND y.d = x.d
         |       GROUP BY 1, 2),
         |sim AS MATERIALIZED (
         |  SELECT e.s AS u, e.d AS v
         |  FROM e JOIN deg x ON x.vid = e.s JOIN deg y ON y.vid = e.d
         |         LEFT JOIN cm ON cm.u = e.s AND cm.v = e.d
         |  WHERE (coalesce(cm.com0, 0) + 2) * (coalesce(cm.com0, 0) + 2) * 1000000
         |        >= 160000 * (x.degree + 1) * (y.degree + 1)),
         |ssym AS (SELECT u AS a, v AS b FROM sim UNION ALL SELECT v, u FROM sim),
         |en AS (SELECT a AS vid, count(*) + 1 AS en FROM ssym GROUP BY 1),
         |core AS MATERIALIZED (SELECT vid FROM en WHERE en >= 4),
         |ce AS (SELECT s.a, s.b FROM ssym s JOIN core x ON x.vid = s.a
         |                                    JOIN core y ON y.vid = s.b),
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM core
         |  UNION
         |  SELECT c.b, r.lbl FROM reach r JOIN ce c ON r.vid = c.a
         |),
         |cl AS MATERIALIZED (SELECT vid, min(lbl) AS cluster FROM reach GROUP BY 1),
         |att AS (SELECT s.a AS vid, min(cl.cluster) AS cluster,
         |               count(DISTINCT cl.cluster) AS natt
         |        FROM ssym s JOIN cl ON cl.vid = s.b
         |        WHERE s.a NOT IN (SELECT vid FROM core)
         |        GROUP BY 1)
         |SELECT d.vid,
         |       CASE WHEN cl.vid IS NOT NULL THEN 'core'
         |            WHEN a.natt >= 2 THEN 'hub'
         |            WHEN a.natt = 1 THEN 'member'
         |            ELSE 'outlier' END AS role,
         |       coalesce(cl.cluster, a.cluster, -1) AS cluster
         |FROM deg d LEFT JOIN cl ON cl.vid = d.vid
         |           LEFT JOIN att a ON a.vid = d.vid""".stripMargin)),

    // per-component bipartite (odd-cycle) verdict: one parity-BFS
    // frontier for ALL components at once, rooted at each hash-min
    // component id
    Q("q203_bipartite", (s, d) =>
      graft.kernels.Bipartite.run(s, e2(s, d)),
      // parity BFS from each hash-min component root; a vertex reached at
      // both parities witnesses the odd cycle
      Sql(s"""WITH RECURSIVE $CTE,
         |$CC_REACH,
         |comp AS MATERIALIZED (SELECT vid, min(lbl) AS component FROM reach GROUP BY 1),
         |pr(component, vid, par) AS (
         |  SELECT component, component, 0 FROM comp WHERE vid = component
         |  UNION
         |  SELECT r.component, s.d, 1 - r.par FROM pr r JOIN sym s ON r.vid = s.s
         |),
         |oddc AS (SELECT component, count(*) AS n_odd FROM (
         |           SELECT component, vid FROM pr GROUP BY 1, 2 HAVING count(*) = 2)
         |         GROUP BY 1),
         |cs AS (SELECT component, CAST(count(*) AS BIGINT) AS n_vertices
         |       FROM comp GROUP BY 1)
         |SELECT cs.component, cs.n_vertices,
         |       CAST(CASE WHEN o.component IS NULL THEN 1 ELSE 0 END AS BIGINT)
         |         AS is_bipartite
         |FROM cs LEFT JOIN oddc o USING (component)""".stripMargin)),

    // DegreeDiscountIC influence maximization (KDD'09): 8 cascade seeds
    // at p = 0.1, each round one broadcast-filtered aggregation + one
    // distributed argmax — the no-simulation spread heuristic
    Q("q204_influence", (s, d) =>
      graft.kernels.Influence.degreeDiscount(s, e2(s, d),
        k = 8, pPpm = 100000L),
      // 8 greedy rounds replayed with the pick list carried in the
      // recursion; per-candidate discount from list_intersect with the
      // sorted adjacency; argmax = struct list_max (dd, then min vid)
      Sql(s"""WITH RECURSIVE $CTE,
         |adj AS MATERIALIZED (
         |  SELECT d.vid, d.degree, a.nbrs
         |  FROM deg d JOIN (SELECT s AS vid, list(d ORDER BY d) AS nbrs
         |                   FROM sym GROUP BY 1) a USING (vid)),
         |cl AS MATERIALIZED (
         |  SELECT list({'v': vid, 'g': degree, 'nb': nbrs} ORDER BY vid) AS cs
         |  FROM adj),
         |st(i, picks, dds) AS (
         |  SELECT 0, CAST([] AS BIGINT[]), CAST([] AS BIGINT[])
         |  UNION ALL
         |  SELECT t.i + 1, list_append(t.picks, -t.p.v), list_append(t.dds, t.p.k)
         |  FROM (
         |    SELECT s.i, s.picks, s.dds,
         |      list_max(flatten([
         |        [{'k': (c.g - 2*tt)*1000000 - (c.g - tt)*tt*100000, 'v': -c.v}
         |         FOR tt IN [len(list_intersect(c.nb, s.picks))]]
         |        FOR c IN cl.cs IF NOT list_contains(s.picks, c.v)])) AS p
         |    FROM st s CROSS JOIN cl WHERE s.i < 8) t
         |)
         |SELECT CAST(gs AS BIGINT) AS rank, picks[gs] AS vid, dds[gs] AS dd_ppm
         |FROM st, generate_series(1, 8) g(gs) WHERE i = 8""".stripMargin)),

    // directed dyad/triad census over the sha-directed derivation:
    // reciprocity (mutual vs asymmetric dyads) and feed-forward vs
    // feedback closed triads — the hierarchy-vs-circularity profile of
    // the linking structure
    Q("q210_triads", (s, d) =>
      graft.kernels.Triads.census(graft.kernels.Scc.shaDirect(e2(s, d))),
      // dyads from the canonical pair's directed-edge count; closed triads
      // from the wedge join; a < b && a < c keeps one cycle rotation
      Sql(s"""WITH $CTE,
         |eh AS (SELECT s, d,
         |         CAST(('0x' || substr(sha256('dir:' || CAST(s AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS h
         |       FROM e),
         |dedges AS (SELECT s, d FROM eh WHERE h <> 1
         |           UNION ALL SELECT d, s FROM eh WHERE h <> 0),
         |pairs AS (SELECT least(s, d) AS a, greatest(s, d) AS b,
         |                 count(*) AS ne
         |          FROM dedges GROUP BY 1, 2),
         |wedge AS (SELECT x.s AS a, x.d AS b, y.d AS c
         |          FROM dedges x JOIN dedges y ON x.d = y.s AND x.s <> y.d)
         |SELECT 'mutual_dyads' AS motif,
         |       CAST(coalesce(sum(CASE WHEN ne = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS cnt FROM pairs
         |UNION ALL
         |SELECT 'asym_dyads',
         |       CAST(coalesce(sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM pairs
         |UNION ALL
         |SELECT 'trans_triads', CAST(count(*) AS BIGINT)
         |FROM wedge w JOIN dedges z ON z.s = w.a AND z.d = w.c
         |UNION ALL
         |SELECT 'cyclic_triads', CAST(count(*) AS BIGINT)
         |FROM wedge w JOIN dedges z ON z.s = w.c AND z.d = w.a
         |WHERE w.a < w.b AND w.a < w.c""".stripMargin)),

    // configuration-model degree-class mixing: observed edges between
    // log2-degree classes vs the S_a*S_b/2m null — q73's assortativity
    // scalar resolved per class pair
    Q("q213_degree_mixing", (s, d) =>
      graft.kernels.GraphStats.degreeMixing(e2(s, d)),
      // degree-class mixing vs the configuration-model null
      Sql(s"""WITH $CTE,
         |cls AS (SELECT vid, degree,
         |               CAST(length(bin(degree)) - 1 AS BIGINT) AS cls
         |        FROM deg),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         |mass AS (SELECT cls, CAST(sum(degree) AS BIGINT) AS s FROM cls GROUP BY 1),
         |obs AS (SELECT least(x.cls, y.cls) AS cls_a, greatest(x.cls, y.cls) AS cls_b,
         |               CAST(count(*) AS BIGINT) AS actual
         |        FROM e JOIN cls x ON x.vid = e.s JOIN cls y ON y.vid = e.d
         |        GROUP BY 1, 2)
         |SELECT a.cls AS cls_a, b.cls AS cls_b,
         |       CAST(coalesce(o.actual, 0) AS BIGINT) AS actual,
         |       CASE WHEN a.cls = b.cls
         |            THEN (a.s * b.s * 1000) // (4 * (SELECT m FROM mm))
         |            ELSE (a.s * b.s * 1000) // (2 * (SELECT m FROM mm)) END AS expected_milli
         |FROM mass a JOIN mass b ON a.cls <= b.cls
         |LEFT JOIN obs o ON o.cls_a = a.cls AND o.cls_b = b.cls""".stripMargin)),

    // synchronous integer forward-push PPR from the sha-min seed: 3
    // rounds, mass in 1e-12 units — the local-cluster primitive whose
    // cost tracks the seed's neighborhood, not the graph
    Q("q214_ppr_push", (s, d) => {
      val e = e2(s, d).localCheckpoint(eager = true)
      val seed = Edges.degrees(Edges.symmetrize(e))
        .withColumn("hh", Dedup.shaTokenHash60(
          concat(lit("fp:"), col("vid").cast("string"))))
        .orderBy(col("hh"), col("vid")).limit(1)
        .head().getLong(0)
      graft.kernels.ForwardPush.run(s, e, seed)
    },
      // forward-push replay: 3 synchronous rounds as a recursive CTE —
      // each round every vertex settles alpha, splits the rest by integer
      // div over its neighbors; state = self row + incoming, summed
      Sql(s"""WITH RECURSIVE $CTE,
         |seed AS (SELECT vid FROM deg
         |         ORDER BY CAST(('0x' || substr(sha256('fp:' || CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT), vid
         |         LIMIT 1),
         |push(rnd, vid, p, r) AS (
         |  SELECT 0, vid, CAST(0 AS BIGINT), CAST(1000000000000 AS BIGINT) FROM seed
         |  UNION ALL
         |  SELECT rnd + 1, vid, CAST(sum(pp) AS BIGINT), CAST(sum(rr) AS BIGINT)
         |  FROM (
         |    WITH st AS (SELECT t.rnd, t.vid,
         |                       t.p + (150000 * t.r) // 1000000 AS p2,
         |                       ((850000 * t.r) // 1000000) // dg.degree AS share
         |                FROM push t JOIN deg dg USING (vid)
         |                WHERE t.rnd < 3)
         |    SELECT rnd, vid, p2 AS pp, CAST(0 AS BIGINT) AS rr FROM st
         |    UNION ALL
         |    SELECT st.rnd, sy.d AS vid, CAST(0 AS BIGINT), st.share
         |    FROM st JOIN sym sy ON sy.s = st.vid)
         |  GROUP BY 1, 2)
         |SELECT vid, p, r FROM push
         |WHERE rnd = 3 AND (p <> 0 OR r <> 0)""".stripMargin)),

    // association-strength normalization of the co-occurrence graph
    // (van Eck & Waltman JASIST'09): as_ppm = w*T*1e6 div (f_u*f_v) —
    // the probabilistic normalization that deflates hub-hub edges raw
    // weight ranking inflates; top 50
    Q("q222_assoc_strength", (s, d) => {
      val c = cooc(s, d).localCheckpoint(eager = true)
      val tot = c.agg(sum(col("weight"))).head().getLong(0)
      val f = c.select(col("src").as("vid"), col("weight"))
        .unionAll(c.select(col("dst"), col("weight")))
        .groupBy(col("vid")).agg(sum(col("weight")).as("f"))
      c.join(f.select(col("vid").as("src"), col("f").as("fu")), "src")
        .join(f.select(col("vid").as("dst"), col("f").as("fv")), "dst")
        .select(col("src"), col("dst"), col("weight"),
          expr(s"(weight * $tot * 1000000) div (fu * fv)").as("as_ppm"))
        .orderBy(col("as_ppm").desc, col("src"), col("dst")).limit(50)
    },
      // association-strength replay over the full co-occurrence graph
      Sql("""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
        |cooc AS (SELECT a.item AS src, b.item AS dst, CAST(count(*) AS BIGINT) AS weight
        |         FROM li a JOIN li b ON a.g = b.g AND a.item < b.item GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS t FROM cooc),
        |f AS (SELECT vid, CAST(sum(weight) AS BIGINT) AS f FROM (
        |        SELECT src AS vid, weight FROM cooc
        |        UNION ALL SELECT dst, weight FROM cooc) GROUP BY 1)
        |SELECT c.src, c.dst, c.weight,
        |       (c.weight * tot.t * 1000000) // (x.f * y.f) AS as_ppm
        |FROM cooc c JOIN f x ON x.vid = c.src JOIN f y ON y.vid = c.dst
        |CROSS JOIN tot
        |ORDER BY as_ppm DESC, c.src, c.dst LIMIT 50""".stripMargin)),

    // expected hitting time to the top-5-degree hub set: 4 integer-milli
    // Jacobi sweeps of h = 1 + mean(nbr h), the absorbing-walk proximity
    // feature (PPR's dual — steps TO the trusted set, not mass FROM it)
    Q("q223_hitting_time", (s, d) =>
      graft.kernels.HittingTime.run(e2(s, d)),
      // unrolled 4-sweep integer-milli Jacobi replay of the hitting time
      Sql(s"""WITH $CTE,
        |top5 AS (SELECT vid FROM deg ORDER BY degree DESC, vid LIMIT 5),
        |v AS MATERIALIZED (SELECT d.vid, d.degree, (t.vid IS NOT NULL) AS ab
        |     FROM deg d LEFT JOIN top5 t ON t.vid = d.vid),
        |h0 AS (SELECT vid, CAST(0 AS BIGINT) AS h FROM v),
        |h1 AS (SELECT v.vid, CASE WHEN v.ab THEN CAST(0 AS BIGINT)
        |         ELSE 1000 + CAST(coalesce(g.s, 0) AS BIGINT) // v.degree END AS h
        |       FROM v LEFT JOIN (SELECT sym.s AS vid, CAST(sum(h0.h) AS BIGINT) AS s
        |         FROM sym JOIN h0 ON h0.vid = sym.d GROUP BY 1) g ON g.vid = v.vid),
        |h2 AS (SELECT v.vid, CASE WHEN v.ab THEN CAST(0 AS BIGINT)
        |         ELSE 1000 + CAST(coalesce(g.s, 0) AS BIGINT) // v.degree END AS h
        |       FROM v LEFT JOIN (SELECT sym.s AS vid, CAST(sum(h1.h) AS BIGINT) AS s
        |         FROM sym JOIN h1 ON h1.vid = sym.d GROUP BY 1) g ON g.vid = v.vid),
        |h3 AS (SELECT v.vid, CASE WHEN v.ab THEN CAST(0 AS BIGINT)
        |         ELSE 1000 + CAST(coalesce(g.s, 0) AS BIGINT) // v.degree END AS h
        |       FROM v LEFT JOIN (SELECT sym.s AS vid, CAST(sum(h2.h) AS BIGINT) AS s
        |         FROM sym JOIN h2 ON h2.vid = sym.d GROUP BY 1) g ON g.vid = v.vid),
        |h4 AS (SELECT v.vid, CASE WHEN v.ab THEN CAST(0 AS BIGINT)
        |         ELSE 1000 + CAST(coalesce(g.s, 0) AS BIGINT) // v.degree END AS h
        |       FROM v LEFT JOIN (SELECT sym.s AS vid, CAST(sum(h3.h) AS BIGINT) AS s
        |         FROM sym JOIN h3 ON h3.vid = sym.d GROUP BY 1) g ON g.vid = v.vid)
        |SELECT v.vid, v.degree, h4.h AS h_milli
        |FROM v JOIN h4 ON h4.vid = v.vid""".stripMargin)),

    // degree-distribution power-law fit: integer least-squares slope of
    // the floor-log2 log-log histogram (the salting-threshold profiler)
    Q("q224_powerlaw_fit", (s, d) =>
      graft.kernels.GraphStats.powerLawFit(e2(s, d)),
      // integer least squares over the floor-log2 log-log histogram
      Sql(s"""WITH $CTE,
        |b AS (SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS x,
        |             CAST(count(*) AS BIGINT) AS nb FROM deg GROUP BY 1),
        |yb AS (SELECT x, CAST(length(bin(nb)) - 1 AS BIGINT) AS y FROM b),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x) AS BIGINT) AS sx,
        |             CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*y) AS BIGINT) AS sxy,
        |             CAST(sum(x*x) AS BIGINT) AS sxx FROM yb),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices FROM deg),
        |sl AS (SELECT k AS n_buckets,
        |              (1000 * (k * sxy - sx * sy)) // (k * sxx - sx * sx) AS slope_milli,
        |              sx, sy, k
        |       FROM s WHERE k * sxx - sx * sx <> 0)
        |SELECT n_buckets, slope_milli,
        |       (1000 * sy - slope_milli * sx) // k AS intercept_milli,
        |       nv.n_vertices
        |FROM sl CROSS JOIN nv""".stripMargin)),

    // weighted (Ruzicka) Jaccard between weighted neighborhoods on the
    // thresholded co-occurrence graph — top-30 merge-candidate pairs
    Q("q228_wjaccard", (s, d) =>
      graft.kernels.LinkPredict.weightedJaccard(
        cooc(s, d).filter(col("weight") >= 2)),
      // weighted-Jaccard replay on the thresholded weighted graph
      Sql("""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
        |cooc AS (SELECT a.item AS src, b.item AS dst, CAST(count(*) AS BIGINT) AS weight
        |         FROM li a JOIN li b ON a.g = b.g AND a.item < b.item GROUP BY 1, 2),
        |w2 AS (SELECT src, dst, weight FROM cooc WHERE weight >= 2),
        |adj AS (SELECT src AS vid, dst AS nbr, weight FROM w2
        |        UNION ALL SELECT dst, src, weight FROM w2),
        |mass AS (SELECT vid, CAST(sum(weight) AS BIGINT) AS wm FROM adj GROUP BY 1),
        |sh AS (SELECT a.vid AS u, b.vid AS v,
        |              CAST(sum(least(a.weight, b.weight)) AS BIGINT) AS smin
        |       FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.vid < b.vid
        |       GROUP BY 1, 2)
        |SELECT u, v, smin * 1000000 // (x.wm + y.wm - smin) AS wj_ppm
        |FROM sh JOIN mass x ON x.vid = sh.u JOIN mass y ON y.vid = sh.v
        |ORDER BY wj_ppm DESC, u, v LIMIT 30""".stripMargin)),

    // top-50 rank agreement between plain-degree and weighted-degree
    // (strength) hub rankings: overlap + truncated Spearman footrule
    Q("q232_rank_stability", (s, d) => {
      val c = cooc(s, d).localCheckpoint(eager = true)
      val dg = Edges.degrees(Edges.symmetrize(c.select(col("src"),
          col("dst"))))
        .select(col("vid"), col("degree").as("score"))
      val st = c.select(col("src").as("vid"), col("weight"))
        .unionAll(c.select(col("dst"), col("weight")))
        .groupBy(col("vid")).agg(sum(col("weight")).as("score"))
      graft.kernels.GraphStats.rankAgreement(dg, st)
    },
      // degree vs strength top-50: overlap + footrule (absent rank = 51)
      Sql("""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
        |cooc AS (SELECT a.item AS src, b.item AS dst, CAST(count(*) AS BIGINT) AS weight
        |         FROM li a JOIN li b ON a.g = b.g AND a.item < b.item GROUP BY 1, 2),
        |fsym AS (SELECT src AS s, dst AS d FROM cooc UNION ALL SELECT dst, src FROM cooc),
        |da AS (SELECT s AS vid, CAST(count(*) AS BIGINT) AS score FROM fsym GROUP BY 1),
        |sb AS (SELECT vid, CAST(sum(weight) AS BIGINT) AS score FROM (
        |         SELECT src AS vid, weight FROM cooc
        |         UNION ALL SELECT dst, weight FROM cooc) GROUP BY 1),
        |ta AS (SELECT vid, CAST(row_number() OVER (ORDER BY score DESC, vid) AS BIGINT) AS ra
        |       FROM da ORDER BY score DESC, vid LIMIT 50),
        |tb AS (SELECT vid, CAST(row_number() OVER (ORDER BY score DESC, vid) AS BIGINT) AS rb
        |       FROM sb ORDER BY score DESC, vid LIMIT 50)
        |SELECT CAST(50 AS BIGINT) AS k,
        |       CAST(sum(CASE WHEN ra IS NOT NULL AND rb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap,
        |       CAST(sum(abs(coalesce(ra, 51) - coalesce(rb, 51))) AS BIGINT) AS footrule
        |FROM ta FULL OUTER JOIN tb USING (vid)""".stripMargin)),

    // structural dedup of connected components: canonical degree-
    // histogram sha per component, grouped into shape classes
    Q("q241_component_fp", (s, d) =>
      graft.kernels.GraphStats.componentFingerprints(s, e2(s, d)),
      // canonical size|degree-histogram sha per component, shape classes
      Sql(s"""WITH RECURSIVE $CTE,
         |$CC_REACH,
         |comp AS (SELECT vid, CAST(min(lbl) AS BIGINT) AS component
         |         FROM reach GROUP BY vid),
         |hist AS (SELECT c.component, d.degree, CAST(count(*) AS BIGINT) AS cnt
         |         FROM comp c JOIN deg d USING (vid) GROUP BY 1, 2),
         |per AS (SELECT component, CAST(sum(cnt) AS BIGINT) AS size,
         |               string_agg(CAST(degree AS VARCHAR) || ':' || CAST(cnt AS VARCHAR),
         |                          ',' ORDER BY degree) AS h
         |        FROM hist GROUP BY 1)
         |SELECT sha256(CAST(size AS VARCHAR) || '|' || h) AS fp_sha, size,
         |       CAST(count(*) AS BIGINT) AS n_components,
         |       CAST(min(component) AS BIGINT) AS example_component
         |FROM per GROUP BY 1, 2""".stripMargin)),

    // exact midrank-tie AUC of the common-neighbor link predictor
    // against the weight-1 pairs the >= 2 threshold dropped
    Q("q243_linkpred_auc", (s, d) => {
      // ONE co-occurrence derivation serves the thresholded graph and
      // the weighted table (e2 is its weight>=2 filter)
      val cw = cooc(s, d).localCheckpoint(eager = true)
      graft.kernels.LinkPredict.linkAuc(
        cw.filter(col("weight") >= 2).select(col("src"), col("dst")), cw)
    },
      // Mann-Whitney AUC with midrank ties over the score histogram
      Sql(s"""WITH $CTE,
         |wed AS (SELECT a.d AS u, b.d AS v, CAST(count(*) AS BIGINT) AS score
         |        FROM sym a JOIN sym b ON a.s = b.s AND a.d < b.d GROUP BY 1, 2),
         |cand AS (SELECT w.u, w.v, w.score FROM wed w
         |         WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s = w.u AND e.d = w.v)),
         |lab AS (SELECT score,
         |               CASE WHEN EXISTS (SELECT 1 FROM cooc c
         |                                 WHERE c.src = cand.u AND c.dst = cand.v)
         |                    THEN 1 ELSE 0 END AS y
         |        FROM cand),
         |hist AS (SELECT score, CAST(count(*) AS BIGINT) AS c,
         |                CAST(sum(y) AS BIGINT) AS p
         |         FROM lab GROUP BY 1),
         |cum AS (SELECT score, c, p,
         |               CAST(sum(c) OVER (ORDER BY score) - c AS BIGINT) AS r0
         |        FROM hist),
         |agg AS (SELECT CAST(sum(c) AS BIGINT) AS n_pairs,
         |               CAST(sum(p) AS BIGINT) AS np,
         |               CAST(sum(c - p) AS BIGINT) AS nn,
         |               CAST(sum(p * (2 * r0 + c + 1)) AS BIGINT) AS r2
         |        FROM cum)
         |SELECT n_pairs, np AS n_pos, nn AS n_neg,
         |       (1000000 * (r2 - np * (np + 1))) // (2 * np * nn) AS auc_ppm
         |FROM agg WHERE np > 0 AND nn > 0""".stripMargin)),

    // false-twin (identical-neighborhood) classes + quotient ratio
    Q("q251_structural_equiv", (s, d) =>
      graft.kernels.GraphStats.structuralEquivalence(e2(s, d)),
      // identical sorted-neighbor-list sha classes + quotient ppm
      Sql(s"""WITH $CTE,
         |adj AS (SELECT s AS vid, string_agg(CAST(d AS VARCHAR), ',' ORDER BY d) AS ns,
         |               CAST(count(*) AS BIGINT) AS degree
         |        FROM sym GROUP BY 1),
         |cls AS (SELECT sha256(ns) AS class_sha, degree,
         |               CAST(count(*) AS BIGINT) AS n_vertices,
         |               CAST(min(vid) AS BIGINT) AS example_vid
         |        FROM adj GROUP BY 1, 2),
         |tot AS (SELECT (1000000 * CAST(count(*) AS BIGINT))
         |               // CAST(sum(n_vertices) AS BIGINT) AS quotient_ppm
         |        FROM cls)
         |SELECT class_sha, degree, n_vertices, example_vid, tot.quotient_ppm
         |FROM cls CROSS JOIN tot WHERE n_vertices >= 2""".stripMargin)),

    // same-brand edge share vs degree-preserving random expectation
    Q("q252_homophily", (s, d) =>
      graft.kernels.GraphStats.labelHomophily(e2(s, d),
        T(s, d, "part").select(col("p_partkey").as("vid"),
          col("p_brand").as("label"))),
      // same-label edge share vs sum of squared end-label shares
      Sql(s"""WITH $CTE,
         |lb AS (SELECT p_partkey AS vid, p_brand AS label FROM part),
         |el AS (SELECT e.s, e.d, a.label AS ls, b.label AS ld
         |       FROM e JOIN lb a ON a.vid = e.s JOIN lb b ON b.vid = e.d),
         |obs AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |               CAST(sum(CASE WHEN ls = ld THEN 1 ELSE 0 END) AS BIGINT) AS same_edges
         |        FROM el),
         |en AS (SELECT l, CAST(count(*) AS BIGINT) AS c FROM
         |       (SELECT ls AS l FROM el UNION ALL SELECT ld FROM el) GROUP BY 1),
         |ag AS (SELECT CAST(sum(c * c) AS BIGINT) AS s2,
         |              CAST(sum(c) AS BIGINT) AS ends FROM en)
         |SELECT obs.m, obs.same_edges,
         |       (1000000 * obs.same_edges) // obs.m AS observed_ppm,
         |       (1000000 * ag.s2) // (ag.ends * ag.ends) AS expected_ppm,
         |       (1000000 * obs.same_edges) // obs.m
         |         - (1000000 * ag.s2) // (ag.ends * ag.ends) AS gap_ppm
         |FROM obs CROSS JOIN ag""".stripMargin)),

    // 2-approx minimum vertex cover (Gavril): endpoints of the q119
    // maximal matching (3-round replayable prefix), each with its sym
    // degree — the "monitoring set" / cut-coverage primitive; |cover| <=
    // 2 OPT and |matching| <= OPT bound it from both sides
    Q("q253_vertex_cover", (s, d) => {
      // materialized once: consumed by the cover rounds AND the degree join
      val e = e2(s, d).localCheckpoint(eager = true)
      graft.kernels.Matching.vertexCover(s, e, maxRounds = 3)
        .join(Edges.degrees(Edges.symmetrize(e)), "vid")
    },
      // the q119 3-round matching replay, endpoints unioned into the cover,
      // each with its sym degree
      Sql(s"""WITH $CTE,
         |$MATCH,
         |cover AS (SELECT s AS vid FROM m1 UNION SELECT d FROM m1
         |          UNION SELECT s FROM m2 UNION SELECT d FROM m2
         |          UNION SELECT s FROM m3 UNION SELECT d FROM m3)
         |SELECT c.vid, deg.degree FROM cover c JOIN deg ON c.vid = deg.vid""".stripMargin)),

    // effective diameter (90th-percentile reach distance, the standard
    // large-graph distance summary — Boldi–Vigna's metric) measured
    // EXACTLY on a sha-sampled 2% seed set (Eppstein–Wang sampling),
    // 6-hop horizon: the per-hop neighborhood-function ledger with the
    // integer 10·cum ≥ 9·total rule; one multi-seed BFS (q118's
    // machinery), the cumulative window runs over ≤ 7 hop rows
    Q("q257_eff_diameter", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(shaMod("vid", 1000L) < 20)
      val dist = graft.kernels.Bfs.perSeedDistances(sym, seeds, maxHop = 6)
      val nf = dist.groupBy(col("dist").as("h"))
        .agg(count(lit(1)).as("pairs"))
        .localCheckpoint(eager = true) // ≤ 7 rows — metadata scale
      val w = Window.orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = nf.withColumn("cum_pairs", sum(col("pairs")).over(w))
      val tot = cum.agg(max(col("cum_pairs")).as("tot"))
      val eff = cum.crossJoin(broadcast(tot))
        .filter(col("cum_pairs") * 10L >= col("tot") * 9L)
        .agg(min(col("h")).as("eff_diameter"))
      cum.crossJoin(broadcast(eff))
    },
      // sampled-exact neighborhood function + 90%-rule effective diameter:
      // the q118 reach CTE from the 2% sha seed set, min-dist closure,
      // per-hop pair counts, cumulative window over <= 7 hop rows
      Sql(s"""WITH RECURSIVE $CTE,
         |${shaSeeds(20)},
         |reach(seed, vid, dist) AS (
         |  SELECT vid, vid, 0 FROM seeds
         |  UNION
         |  SELECT r.seed, s.d, r.dist + 1
         |  FROM reach r JOIN sym s ON r.vid = s.s WHERE r.dist < 6
         |),
         |idx AS (SELECT seed, vid, min(dist) AS dist FROM reach GROUP BY 1, 2),
         |nf AS (SELECT CAST(dist AS BIGINT) AS h, CAST(count(*) AS BIGINT) AS pairs
         |       FROM idx GROUP BY 1),
         |cum AS (SELECT h, pairs,
         |               CAST(sum(pairs) OVER (ORDER BY h) AS BIGINT) AS cum_pairs
         |        FROM nf),
         |tot AS (SELECT max(cum_pairs) AS tot FROM cum),
         |eff AS (SELECT CAST(min(h) AS BIGINT) AS eff_diameter
         |        FROM cum CROSS JOIN tot WHERE cum_pairs * 10 >= tot * 9)
         |SELECT cum.h, cum.pairs, cum.cum_pairs, eff.eff_diameter
         |FROM cum CROSS JOIN eff""".stripMargin))
  )
}
