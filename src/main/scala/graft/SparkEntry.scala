package graft

import graft.graph.Edges
import graft.kernels.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.multimodal.Multimodal
import graft.sim.Ann
import graft.sources.GraphIO
import graft.text.{Dedup, TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one entry per implemented operator (SURVEY.md §2),
  * each with a DuckDB-equivalent oracle where SQL can express it.
  *
  * The graph queries derive a co-occurrence graph from `lineitem` (two
  * parts are linked iff they share an order — the same shape as the
  * corpus derivation "two paths share a commit", SURVEY §1.3) so the
  * DuckDB oracle can check the full pipeline end-to-end. The iterative
  * kernels (CC / PageRank / LP) are checked against recursive-CTE
  * fixpoints; TC against a three-way self-join.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Temp dir for the IO/checkpoint/catalog queries, removed recursively
    * at JVM exit — repeated Verify/Bench runs must not accumulate graph
    * dumps in /tmp (the dirs stay alive through the query's lazy reads,
    * so an eager delete inside the query is not an option). ONE static
    * shutdown hook drains a concurrent registry — per-call hooks would
    * accumulate a thread per query invocation across a long session. */
  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val scratchHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => scratchDirs.forEach { p =>
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }))
  private def scratchDir(prefix: String): String = {
    scratchHook
    // scratch I/O (checkpoints, catalog snapshots) on tmpfs when
    // available: the IO/catalog queries pay several small parquet
    // write+rename commits each, and /tmp on a real disk serializes them
    // behind fsync. Parameterised (SPARK_GRAFT_SCRATCH_DIR); on a
    // cluster this is NVMe-local or object storage via the catalog.
    val base = sys.env.get("SPARK_GRAFT_SCRATCH_DIR")
      .orElse(Some("/dev/shm").filter(p =>
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val p = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), prefix)
    scratchDirs.add(p)
    p.toString
  }

  /** parts sharing an order, weight = #distinct shared orders */
  private def cooc(s: SparkSession, dir: String): DataFrame =
    Edges.coOccurrence(T(s, dir, "lineitem"), "l_orderkey", "l_partkey")

  /** thresholded graph (weight >= 2) — sparse, multi-component */
  private def e2(s: SparkSession, dir: String): DataFrame =
    cooc(s, dir).filter(col("weight") >= 2).select(col("src"), col("dst"))

  // ---- shared oracle CTE prefixes (DuckDB) ----
  private val CTE =
    """li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
      |cooc AS (SELECT a.item AS src, b.item AS dst, count(*) AS weight
      |         FROM li a JOIN li b ON a.g = b.g AND a.item < b.item GROUP BY 1, 2),
      |e AS (SELECT src AS s, dst AS d FROM cooc WHERE weight >= 2),
      |sym AS (SELECT s, d FROM e UNION ALL SELECT d, s FROM e),
      |deg AS (SELECT s AS vid, count(*) AS degree FROM sym GROUP BY 1)""".stripMargin

  private val FULL =
    """fsym AS (SELECT src AS s, dst AS d FROM cooc UNION ALL SELECT dst, src FROM cooc),
      |fdeg AS (SELECT s AS vid, count(*) AS odeg FROM fsym GROUP BY 1),
      |nv AS (SELECT count(*) AS n FROM fdeg)""".stripMargin

  /** Two synchronous Louvain local-move rounds as a SQL chain ending in
    * the final assignment `a2(vid, comm)` — shared by q187 (the
    * assignment itself) and q196 (the coarsened super-graph over it). */
  private val LOUV =
    """mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
      |a0 AS MATERIALIZED (SELECT vid, vid AS comm FROM deg),
      |ds0 AS (SELECT comm AS cand, CAST(sum(degree) AS BIGINT) AS dsum
      |        FROM a0 JOIN deg USING (vid) GROUP BY 1),
      |c0 AS (SELECT s.s AS vid, a.comm AS cand, CAST(count(*) AS BIGINT) AS evc
      |       FROM sym s JOIN a0 a ON a.vid = s.d GROUP BY 1, 2
      |       UNION ALL SELECT vid, comm, 0 FROM a0),
      |g0 AS (SELECT vid, cand, CAST(sum(evc) AS BIGINT) AS evc FROM c0 GROUP BY 1, 2),
      |sc0 AS (SELECT g.vid, g.cand,
      |          2 * m.m * g.evc - dg.degree *
      |            (d.dsum - CASE WHEN g.cand = a.comm THEN dg.degree ELSE 0 END) AS gain
      |        FROM g0 g JOIN deg dg ON dg.vid = g.vid
      |                  JOIN ds0 d ON d.cand = g.cand
      |                  JOIN a0 a ON a.vid = g.vid
      |                  CROSS JOIN mm m),
      |a1 AS MATERIALIZED (SELECT vid, cand AS comm FROM (
      |        SELECT vid, cand, row_number() OVER (PARTITION BY vid ORDER BY gain DESC, cand) AS rn
      |        FROM sc0) WHERE rn = 1),
      |ds1 AS (SELECT comm AS cand, CAST(sum(degree) AS BIGINT) AS dsum
      |        FROM a1 JOIN deg USING (vid) GROUP BY 1),
      |c1 AS (SELECT s.s AS vid, a.comm AS cand, CAST(count(*) AS BIGINT) AS evc
      |       FROM sym s JOIN a1 a ON a.vid = s.d GROUP BY 1, 2
      |       UNION ALL SELECT vid, comm, 0 FROM a1),
      |g1 AS (SELECT vid, cand, CAST(sum(evc) AS BIGINT) AS evc FROM c1 GROUP BY 1, 2),
      |sc1 AS (SELECT g.vid, g.cand,
      |          2 * m.m * g.evc - dg.degree *
      |            (d.dsum - CASE WHEN g.cand = a.comm THEN dg.degree ELSE 0 END) AS gain
      |        FROM g1 g JOIN deg dg ON dg.vid = g.vid
      |                  JOIN ds1 d ON d.cand = g.cand
      |                  JOIN a1 a ON a.vid = g.vid
      |                  CROSS JOIN mm m),
      |a2 AS MATERIALIZED (SELECT vid, cand AS comm FROM (
      |  SELECT vid, cand, row_number() OVER (PARTITION BY vid ORDER BY gain DESC, cand) AS rn
      |  FROM sc1) WHERE rn = 1)""".stripMargin

  /** Flagship: connected components of the sf0.001 co-occurrence graph. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    ConnectedComponents.run(spark,
      Edges.symmetrize(e2(spark, dir))).components
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- derivation / scans / joins / aggregation (S1, J3/J6, A-family) --
    "q01_cooccur_edges" -> ((s, d) => cooc(s, d)),
    "q02_degrees" -> ((s, d) =>
      Edges.degrees(Edges.symmetrize(e2(s, d)))),
    // seed filter (P1: reference spawns tasks only where degree > 1)
    "q03_seed_filter" -> ((s, d) =>
      Edges.degrees(Edges.symmetrize(e2(s, d))).filter(col("degree") > 1)),
    // degree orientation (P2/P3 + skew bound, SURVEY §4.3)
    "q04_orient_bydeg" -> ((s, d) => Edges.orientByDegree(e2(s, d))),
    // sorted adjacency arrays (O1 / VertexTable analog). The array is
    // projected as a CSV string: the round driver's pandas canonicalizer
    // cannot sort/hash ndarray cells (round-1 q05 `err`); array semantics
    // are spec-covered in CorpusSpec/MiningSpec.
    "q05_adj" -> ((s, d) =>
      Edges.adjacency(Edges.symmetrize(e2(s, d)))
        .select(col("src"),
          array_join(col("adj").cast("array<string>"), ",").as("adj"))),
    // triangle counting (J3 oriented intersection; A2 count agg)
    "q06_tc_total" -> ((s, d) => TriangleCount.total(e2(s, d))),
    "q07_tc_pervertex" -> ((s, d) => TriangleCount.perVertex(e2(s, d))),
    // hash-min connected components to fixpoint (B4)
    "q08_cc" -> ((s, d) =>
      ConnectedComponents.run(s, Edges.symmetrize(e2(s, d))).components),
    "q09_cc_sizes" -> ((s, d) =>
      ConnectedComponents.run(s, Edges.symmetrize(e2(s, d))).components
        .groupBy(col("component")).agg(count(lit(1)).as("n"))),
    // PageRank, 10 fixed supersteps (B1/B2 substrate)
    "q10_pagerank" -> ((s, d) =>
      // symmetric=true: the input IS a symmetrize() view, so the vertex
      // set equals the out-degree keys and nothing dangles — skips the
      // |2E|-row union+distinct and the dangling probe; ranks identical
      PageRank.run(s, Edges.symmetrize(cooc(s, d).select(col("src"), col("dst"))),
        fixedIter = Some(10), symmetric = true).ranks
        .select(col("vid"), round(col("rank"), 8).as("rank"))),
    // synchronous label propagation, 5 supersteps, mode w/ min tie-break
    "q11_lp" -> ((s, d) =>
      LabelPropagation.run(s, Edges.symmetrize(e2(s, d)), 5).labels),
    // argmax-with-ties aggregate (A3 shape: max + count at max + witness)
    "q12_argmax_degree" -> ((s, d) => {
      val deg = Edges.degrees(Edges.symmetrize(e2(s, d)))
      val mx = deg.agg(max(col("degree")).as("mx"))
      deg.join(broadcast(mx), col("degree") === col("mx"))
        .agg(max(col("degree")).as("max_degree"),
          count(lit(1)).as("n_at_max"), min(col("vid")).as("min_vid"))
    }),
    // top-k pruning (O5): top-3 neighbors by weight per vertex
    "q13_topk_nbrs" -> ((s, d) => {
      val c = cooc(s, d)
      val w = c.select(col("src"), col("dst"), col("weight"))
        .union(c.select(col("dst"), col("src"), col("weight")))
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy(col("src"))
        .orderBy(col("weight").desc, col("dst"))
      w.withColumn("rn", row_number().over(win))
        .filter(col("rn") <= 3).select(col("src"), col("dst"), col("weight"))
    }),
    // pattern join over labeled vertices (J5) with broadcast dim (J7)
    "q14_pattern_brand" -> ((s, d) => {
      val p = T(s, d, "part").select(col("p_partkey"), col("p_brand"))
      cooc(s, d)
        .join(broadcast(p.withColumnRenamed("p_partkey", "src")
          .withColumnRenamed("p_brand", "brand_a")), "src")
        .join(broadcast(p.withColumnRenamed("p_partkey", "dst")
          .withColumnRenamed("p_brand", "brand_c")), "dst")
        .groupBy(col("brand_a"), col("brand_c"))
        .agg(count(lit(1)).as("pairs"))
    }),

    // -- documents: text analysis / dedup (training-data ops) --
    "q15_sha_invariant" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        sha2(col("text"), 256).as("sha"))),
    "q16_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(T(s, d, "documents"), "doc_id", "text")),
    // Exact all-pairs n-gram Jaccard — the quadratic exactness baseline
    // for q26's LSH scale path. Runs on a deterministic sha-sampled doc
    // slice (~1/4 of docs → ~1/16 of the pair work): exactness on the
    // slice is preserved and the oracle applies the identical slice, but
    // the suite no longer pays the full quadratic wall (r4: 154 s = 11%
    // of the suite) for a baseline whose scale twin is hash-matched.
    "q17_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(
        T(s, d, "documents").filter(
          conv(substring(sha2(concat(lit("q17:"),
            col("doc_id").cast("string")), 256), 1, 4), 16, 10)
            .cast("long") % 4 === 0),
        "doc_id", "text", 3, 0.65)
        .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))),
    "q18_tokens" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"))),
    "q19_quality" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        round(TF.avgTokenLen(col("text")), 6).as("avg_token_len"),
        round(TF.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(TF.alphaRatio(col("text")), 6).as("alpha_ratio"))),
    "q20_langid" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TF.langId(col("text")).as("lang_pred"))),
    "q21_fingerprint" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TF.fingerprint(col("text")).as("fp"))),

    // -- embeddings: similarity search --
    "q22_embed_norm" -> ((s, d) =>
      T(s, d, "embeddings").select(col("vec_id"),
        round(Ann.l2(col("embedding")), 4).as("l2"))),
    "q23_ann_top1" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      Ann.bruteTopK(emb, "vec_id", "embedding", 1)
        .join(emb.select(col("vec_id").as("nn_id"),
          col("label").as("nn_label")), "nn_id")
        .select(col("vec_id"), col("nn_id"), col("nn_label"))
    }),

    // -- events: time-bucketed aggregation --
    "q24_events_hourly" -> ((s, d) =>
      T(s, d, "events").groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 6).as("sum_value"))),

    // the composite corpus filter a pretraining pipeline actually runs:
    // exact-dedup keepers ∧ language ∧ quality thresholds, in one pass
    "q55_corpus_filter" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val keep = Dedup.exactGroups(docs, "doc_id", "text")
        .select(col("keeper").as("doc_id"))
      docs.join(keep, "doc_id")
        .select(col("doc_id"), TF.langId(col("text")).as("lang"),
          TF.tokenCount(col("text")).as("n_tokens"),
          TF.alphaRatio(col("text")).as("alpha"))
        .filter(col("lang") === "en" && col("n_tokens") >= 10 &&
          col("alpha") >= 0.4)
        .select(col("doc_id"), col("n_tokens"))
    }),

    // sessionization (custom data-dependent state — the
    // flatMapGroupsWithState shape; batch twin of Streaming.sessionizeStream)
    "q53_sessions" -> ((s, d) =>
      graft.streaming.Streaming.sessionizeBatch(T(s, d, "events"), 30)),

    // -- multimodal: binary column + stubbed per-partition decode --
    "q25_mm_decode" -> ((s, d) =>
      Multimodal.decodeFrames(s,
          Multimodal.asBinary(T(s, d, "documents"), "doc_id", "text"),
          "id", "media")
        .toDF().select(col("id").as("doc_id"), col("width"),
          col("height"), col("first_byte"))),

    // P5 demo sampling filter (apps/trianglecount.cpp:167-182): keep
    // per-vertex results whose size lies in [sample_min, sample_max],
    // then a 1-in-N modulo sample (the reference samples by task counter;
    // vid is the deterministic set-at-a-time analog)
    "q42_demo_sample" -> ((s, d) =>
      TriangleCount.perVertex(e2(s, d))
        .filter(col("tc").between(1, 20) &&
          pmod(col("vid"), lit(10)) === 0)),

    // multimodal preprocessing: decode -> aspect-preserving resize into a
    // 32x32 bounding box (geometry oracled; pixel rescale is the stubbed
    // codec's job)
    "q51_mm_resize" -> ((s, d) =>
      Multimodal.resizeFrames(
          Multimodal.decodeFrames(s,
            Multimodal.asBinary(T(s, d, "documents"), "doc_id", "text"),
            "id", "media"),
          maxW = 32, maxH = 32)
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("out_width"), col("out_height"), col("scale"))),

    // multimodal feature extraction: 8 chunk-mean byte intensities per
    // payload (long format: one row per (doc, feature index))
    "q52_mm_features" -> ((s, d) =>
      Multimodal.extractFeatures(s,
          Multimodal.asBinary(T(s, d, "documents"), "doc_id", "text"),
          "id", "media")
        .toDF()
        .select(col("id").as("doc_id"),
          posexplode(col("features")).as(Seq("j", "f")))
        .select(col("doc_id"), col("j").cast("long").as("j"),
          round(col("f"), 6).as("f"))),

    // multimodal frame sampling: every 4th 32-byte frame of the payload
    "q41_mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(s,
          Multimodal.asBinary(T(s, d, "documents"), "doc_id", "text"),
          "id", "media", frameSize = 32, stride = 4)
        .toDF().select(col("id").as("doc_id"), col("frame_idx"),
          col("offset"), col("frame_len"), col("first_byte"))),

    // pattern join (J5, GM semantics): labeled 3-path embeddings
    "q30_pattern_path3" -> ((s, d) => {
      val verts = T(s, d, "part")
        .select(col("p_partkey").cast("long").as("vid"),
          col("p_brand").as("label"))
      graft.kernels.GraphMatch.countPath(verts,
        Edges.symmetrize(e2(s, d)),
        Seq("Brand#1", "Brand#2", "Brand#3"))
    }),

    // the GM demo's TREE pattern: a(b, c(=leaf)), b→d (J5, reference shape)
    "q35_pattern_tree" -> ((s, d) => {
      val verts = T(s, d, "part")
        .select(col("p_partkey").cast("long").as("vid"),
          col("p_brand").as("label"))
      graft.kernels.GraphMatch.countTree(verts, Edges.symmetrize(e2(s, d)),
        "Brand#1", "Brand#2", "Brand#3", "Brand#4")
    }),
    // embedding-cosine near-duplicate pairs (exact baseline)
    "q33_embed_neardup" -> ((s, d) =>
      Ann.nearDuplicates(T(s, d, "embeddings"), "vec_id", "embedding", 0.35)
        .select(col("d1"), col("d2"), round(col("cosine"), 6).as("cosine"))),
    // BPE-ish regex token counts
    "q34_tokens_bpe" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TF.tokenCountBpe(col("text")).as("n_bpe_tokens"))),

    // max clique (MCF semantics: argmax size + ties + witness; witness
    // projected as CSV — round-1 q31 `err`, same pandas-canon limit as q05)
    "q31_maxclique" -> ((s, d) =>
      graft.kernels.MaxClique.run(s, e2(s, d))
        .select(col("max_size"), col("n_cliques"),
          array_join(col("witness").cast("array<string>"), ",")
            .as("witness"))),
    // k-core peeling (CD density primitive)
    "q32_kcore" -> ((s, d) =>
      graft.kernels.KCore.run(s, Edges.symmetrize(e2(s, d)), 3).core),
    // oracle-parity SimHash: sha-based 60-bit token hash (xxhash64 has no
    // DuckDB counterpart; the fast path keeps xxhash64 — TextSimSpec)
    "q27_simhash" -> ((s, d) =>
      Dedup.simHash(T(s, d, "documents"), "doc_id", "text",
        bits = 60, tokenHash = Dedup.shaTokenHash60)
        .select(col("id").as("doc_id"), col("simhash"))),
    // SimHash near-duplicate pairs via pigeonhole multi-probe (bands =
    // maxHamming+1, so every pair within the radius shares an exact band
    // — the banded join is EXACT at this radius, hence hash-oracle-able)
    "q54_simhash_neardup" -> ((s, d) =>
      Dedup.simHashNearDup(T(s, d, "documents"), "doc_id", "text",
        maxHamming = 3, bits = 60, tokenHash = Dedup.shaTokenHash60,
        maxBucket = Int.MaxValue)), // cap off => strictly pigeonhole-exact
    "q28_ann_topk" -> ((s, d) =>
      Ann.bruteTopK(T(s, d, "embeddings"), "vec_id", "embedding", 5)
        .select(col("vec_id"), col("nn_id"), col("rnk"),
          round(col("cosine"), 4).as("cosine"))),

    // CD attribute-based community detection (reference apps/community.cpp):
    // distinct max attribute-sharing cliques of size >= 3, one per seed
    "q36_community" -> ((s, d) => {
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
    }),

    // GENERAL pattern-graph matching (J5 generalized): a CYCLIC pattern —
    // labeled triangle with a repeated label, so the injectivity filters
    // and the cycle-closing existence join are both load-bearing
    "q39_pattern_cycle" -> ((s, d) => {
      val verts = T(s, d, "part")
        .select(col("p_partkey").cast("long").as("vid"),
          col("p_brand").as("label"))
      graft.kernels.GraphMatch.countPattern(verts,
        Edges.symmetrize(e2(s, d)),
        Seq("Brand#14", "Brand#8", "Brand#8"),
        Seq((1, 2), (2, 3), (1, 3)))
    }),

    // GC focused clustering with outliers (reference apps/focusCO.cpp) on
    // the weighted co-occurrence graph. No SQL oracle (greedy phi loop is
    // not SQL-expressible); exactness covered by the hand-traced
    // MiningSpec oracle — rows-only here.
    "q37_focus_cluster" -> ((s, d) =>
      graft.kernels.FocusCluster.run(s,
        cooc(s, d).select(col("src"), col("dst"), col("weight")),
        graft.kernels.FocusCluster.Params(minWeight = 2.0, minCore = 10))),

    // BDG Voronoi+greedy layout END-TO-END (B3/B5/B6/B7), hash-matched
    // (round-5 promotion of the last rows-only pipeline row): frozen
    // sha-seeded flood at the production 1% seed rate (deeper 6-hop
    // radius compensates the sparser seeds), integer parity packer
    // (assignBlocksExact, q96-proven), exact per-worker stats with the
    // sha-hash baseline (q97-proven) — every stage deterministic and
    // SQL-replayable, so the full pipeline output hash-matches a DuckDB
    // recursive-CTE replay. The production float path (re-seed ladder +
    // float packer, voronoiColors/assignBlocks) stays spec-covered in
    // PartitionSpec with the hash-beating assertion.
    "q38_bdg_layout" -> ((s, d) => {
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 10)
        .select(col("vid"), col("vid").as("color"))
      val colors = graft.partition.BdgLayout.floodColors(sym, seeds,
        maxHop = 6)._1
      val assign = graft.partition.BdgLayout.assignBlocksExact(s, sym,
        colors, workers = 8)
      graft.partition.BdgLayout.crossEdgeStatsExact(s, sym, colors, assign,
        workers = 8)
    }),

    // B3 Voronoi flood ALONE, hash-matched (round-3 promotion of the q38
    // no-oracle row): seeds are a deterministic sha-hash sample (the one
    // hash family DuckDB shares), flood radius fixed at 4 hops, no
    // re-seeding and no CC fallback. Frozen min-adoption == "min color
    // among the NEAREST seeds", which a bounded recursive CTE replays
    // exactly (see BdgLayout.floodColors scaladoc).
    "q56_voronoi" -> ((s, d) => {
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 50)
        .select(col("vid"), col("vid").as("color"))
      graft.partition.BdgLayout.floodColors(sym, seeds, maxHop = 4)._1
    }),

    // S1b/S4 end-to-end: dump the graph in ALL FOUR reference text formats
    // (normal/label/attr/multi_attr), read each back through its scan plan,
    // and report per-format vertex/edge/weight totals (hash-oracled against
    // the parquet-derived graph). Content equality is spec-covered (IoSpec).
    "q43_io_roundtrip" -> ((s, d) => {
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
    }),

    // S7 in the driver path: run CC for 2 supersteps against a durable
    // checkpoint, then a FRESH run resumes from the manifest and finishes —
    // final components must equal the uninterrupted q08 fixpoint
    "q44_resume" -> ((s, d) => {
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
    }),

    // S6/A9 in the driver path: the per-superstep metrics table itself
    // (iter, state rows, changed count) for 4 fixed CC supersteps, oracled
    // by a DuckDB recursive-CTE replay of hash-min
    "q45_metrics" -> ((s, d) => {
      val r = ConnectedComponents.run(s, Edges.symmetrize(e2(s, d)),
        maxIter = 4)
      import s.implicits._
      r.metrics.map(m => (m.iter, m.rows, m.delta.toLong))
        .toDF("iter", "n_rows", "changed")
    }),

    // drill-down deletion replay (reference `core/master.tpp:30-110`):
    // commit the edge table to the catalog, DELETE the rows touching
    // vid % 7 == 0 (a new snapshot — prior ones stay time-travelable),
    // recompute CC from the surviving snapshot
    "q46_drilldown" -> ((s, d) => {
      val root = scratchDir("graft_cat")
      val cat = new graft.catalog.LocalCatalog(root)
      cat.createOrReplace("edges", e2(s, d))
      cat.deleteWhere(s, "edges",
        pmod(col("src"), lit(7)) === 0 || pmod(col("dst"), lit(7)) === 0)
      ConnectedComponents.run(s,
        Edges.symmetrize(cat.read(s, "edges"))).components
    }),

    // sequential token packing (concat-and-chunk): which 512-token bin
    // does each doc start in, and at what offset — two-phase global cumsum
    "q47_pack" -> ((s, d) =>
      graft.text.TrainPrep.sequentialPack(s, T(s, d, "documents"),
        "doc_id", TF.tokenCount(col("text")), capacity = 512)),

    // deterministic sha-keyed train/val/test split (80/10/10)
    "q48_split" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        graft.text.TrainPrep.hashSplit("doc_id", "s1").as("split"))),

    // intra-document repetition: sentence counts before/after dedup
    "q49_intradoc" -> ((s, d) => {
      val sents = split(col("text"), "\\. ")
      T(s, d, "documents").select(col("doc_id"),
        size(sents).cast("long").as("n_sent"),
        size(array_distinct(sents)).cast("long").as("n_uniq"),
        round(lit(1.0) -
          size(array_distinct(sents)).cast("double") / size(sents), 6)
          .as("dup_ratio"))
    }),

    // A5 map-union agg in the driver path: per-component brand histogram
    // as a canonical "brand:count" CSV (partial maps merge map-side)
    "q50_comp_hist" -> ((s, d) => {
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
    }),

    // oracle-parity MinHash-LSH near-dup pairs (promoted from rows-only in
    // round 3): permutations are seeded sha256 hashes (shaSeededHash60) so
    // DuckDB computes the identical signatures, band keys are compared
    // relationally in the oracle, the hot-bucket cap is off (strict LSH
    // semantics), and the threshold is applied INSIDE minHashLsh — nothing
    // below it is ever materialized (the round-2 bench ran threshold 0.0
    // and eagerly checkpointed the whole unfiltered candidate set).
    // Measured recall vs exact Jaccard stays asserted in TextSimSpec and
    // reported by tools/RecallProbe — off the bench path (VERDICT r2 #2).
    "q26_minhash_lsh" -> ((s, d) =>
      Dedup.minHashLsh(T(s, d, "documents"), "doc_id", "text",
        k = 3, numHashes = 16, bands = 4, threshold = 0.7,
        maxBucket = Int.MaxValue, hashFn = Dedup.shaSeededHash60)
        .select(col("d1"), col("d2"),
          round(col("est_jaccard"), 4).as("est_jaccard"))),
    // IVF ANN (k-means-lite inverted file, learned buckets) — the
    // data-adaptive counterpart of q29. recall_at_k vs the quadratic brute
    // baseline is computed only when the recall gate is on (Verify turns
    // it on; the bench measures the scale path alone) — -1.0 = not
    // measured this run, floor asserted in TextSimSpec either way.
    "q40_ann_ivf" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val ivf = Ann.ivfTopK(emb, "vec_id", "embedding", k = 5)
      val recall = recallGate.map { _ =>
        val brute = Ann.bruteTopK(emb, "vec_id", "embedding", 5)
          .select(col("vec_id"), col("nn_id")).persist()
        val nTrue = brute.count()
        val caught = brute.join(ivf.select(col("vec_id"), col("nn_id")),
          Seq("vec_id", "nn_id"), "left_semi").count()
        brute.unpersist()
        if (nTrue == 0L) 1.0
        else math.rint(10000.0 * caught / nTrue) / 10000.0
      }.getOrElse(-1.0)
      ivf.select(col("vec_id"), col("nn_id"), col("rnk"),
        round(col("cosine"), 4).as("cosine"),
        lit(recall).as("recall_at_k"))
    }),

    // LSH ANN; recall_at_k measured behind the same gate as q40
    // (asserted >= 0.9 in TextSimSpec). 32x4 is the measured small-table
    // tuning; at corpus scale lshTopK derives bitsPerBand from n.
    "q29_ann_lsh" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val lsh = Ann.lshTopK(emb, "vec_id", "embedding", k = 5, dim = 64,
        bands = 32, bitsPerBand = 4)
      val recall = recallGate.map { _ =>
        val brute = Ann.bruteTopK(emb, "vec_id", "embedding", 5)
          .select(col("vec_id"), col("nn_id")).persist()
        val nTrue = brute.count()
        val caught = brute.join(lsh.select(col("vec_id"), col("nn_id")),
          Seq("vec_id", "nn_id"), "left_semi").count()
        brute.unpersist()
        if (nTrue == 0L) 1.0
        else math.rint(10000.0 * caught / nTrue) / 10000.0
      }.getOrElse(-1.0)
      lsh.select(col("vec_id"), col("nn_id"), col("rnk"),
        round(col("cosine"), 4).as("cosine"),
        lit(recall).as("recall_at_k"))
    }),

    // oracle-parity SRP-LSH ANN (maximum-inner-product semantics):
    // integer-quantized vectors, sha-derived ±1 planes, band-bucket
    // candidates, exact integer-dot re-rank — the hash-matchable twin of
    // q29 (which stays the float fast path; round-3 promotion of the
    // LSH-ANN family to a green CORRECTNESS row)
    "q57_ann_lsh_parity" -> ((s, d) =>
      Ann.lshTopKParity(T(s, d, "embeddings"), "vec_id", "embedding",
        k = 5, dim = 64, bands = 8, bitsPerBand = 8)),
    // oracle-parity IVF ANN: sha-sampled centroids, exact integer
    // distances and re-rank — the hash-matchable twin of q40
    "q58_ann_ivf_parity" -> ((s, d) =>
      Ann.ivfTopKParity(T(s, d, "embeddings"), "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)),

    // multi-source BFS: min hop distance (<= 4) to the sha-sampled seed
    // set — the reachability primitive (graph feature generation;
    // replayed by a bounded recursive CTE like q56)
    "q59_bfs" -> ((s, d) => {
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 20)
      graft.kernels.Bfs.distances(sym, seeds, maxHop = 4)
    }),

    // deterministic stratified downsampling: balance languages to the
    // smallest stratum's row count via sha-keyed keep decisions — fully
    // reproducible corpus mixing (every doc's fate is a pure function of
    // (salt, doc_id, per-lang counts))
    "q60_stratified_sample" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val fr = graft.text.TrainPrep
        .mixtureStats(docs, "lang", TF.tokenCount(col("text")))
        .select(col("stratum"), col("keep_ppm"))
      graft.text.TrainPrep
        .stratifiedSample(docs, "doc_id", "lang", fr, salt = "mix")
        .select(col("doc_id"), col("lang"))
    }),
    // per-language mixture statistics + balancing keep-fractions (the
    // input table of q60, exposed as its own operator)
    "q61_mixture" -> ((s, d) =>
      graft.text.TrainPrep.mixtureStats(T(s, d, "documents"), "lang",
        TF.tokenCount(col("text")))),

    // personalized PageRank: teleport + dangling mass distributed over a
    // sha-sampled seed set (PageRank.run(personalized=...)); replayed by
    // the q10 recursive CTE with a per-vertex teleport column
    "q62_ppr" -> ((s, d) => {
      // materialized once: consumed by the seed filter AND the PR pre-
      // loop; symmetric=true as in q10 (input is a symmetrize() view)
      val sym = Edges.symmetrize(cooc(s, d).select(col("src"), col("dst")))
        .localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 20)
      PageRank.run(s, sym, fixedIter = Some(10),
          personalized = Some(seeds), symmetric = true)
        .ranks.select(col("vid"), round(col("rank"), 8).as("rank"))
    }),

    // bounded-hop weighted shortest paths (synchronous Bellman-Ford, <= 4
    // edges): integer co-occurrence weights keep the replay exact
    "q63_sssp" -> ((s, d) => {
      val cw = cooc(s, d).filter(col("weight") >= 2)
        .localCheckpoint(eager = true) // consumed by both union branches
      val symW = cw.select(col("src"), col("dst"), col("weight"))
        .union(cw.select(col("dst").as("src"), col("src").as("dst"),
          col("weight")))
      val seeds = symW.select(col("src").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 20)
      graft.kernels.Bfs.weightedDistances(symW, seeds, rounds = 4)
    }),

    // eigenvector centrality: 6 power-iteration supersteps, normalized
    // once at the end (unnormalized walk counts stay integer-exact)
    "q64_eigencentrality" -> ((s, d) =>
      graft.kernels.EigenCentrality.run(s, Edges.symmetrize(e2(s, d)), 6)
        .scores.select(col("vid"), round(col("score"), 8).as("score"))),

    // benchmark-contamination check: corpus docs sharing any word trigram
    // with the sha-sampled "benchmark" slice of the corpus
    "q65_contamination" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val isBench = pmod(Dedup.shaTokenHash60(col("doc_id").cast("string")),
        lit(1000L)) < 30
      graft.text.TrainPrep.contamination(
        docs.filter(!isBench), "doc_id", "text",
        docs.filter(isBench), "text", n = 3, minShared = 1L)
    }),

    // corpus-wide top-20 word bigrams by document frequency (profiling /
    // boilerplate detection; distributed TakeOrdered, no global window)
    "q66_top_ngrams" -> ((s, d) =>
      graft.text.TrainPrep.topNgrams(T(s, d, "documents"), "doc_id", "text",
        n = 2, k = 20)),

    // A7 block info ALONE, hash-matched (round-4 promotion of the stage
    // feeding q38's greedy packer, mirroring how q56 isolated the flood):
    // per-color size + sorted neighbor-color set over the q56 flood colors
    "q67_block_info" -> ((s, d) => {
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 50)
        .select(col("vid"), col("vid").as("color"))
      val colors = graft.partition.BdgLayout.floodColors(sym, seeds,
        maxHop = 4)._1
      graft.partition.BdgLayout.blockInfo(sym, colors)
        .select(col("color"), col("size"),
          array_join(col("nbs").cast("array<string>"), ",").as("nbs"))
    }),

    // GC seed/core stage ALONE, hash-matched (round-4 promotion of q37's
    // first stage — the greedy phi loop itself stays spec-covered): per
    // qualifying seed, the strong-neighbor core on the SAME weighted
    // graph and params as q37 (minWeight=2, minCore=10)
    "q68_gc_seed_cores" -> ((s, d) =>
      graft.kernels.FocusCluster.seedCores(
        cooc(s, d).select(col("src"), col("dst"), col("weight")),
        minWeight = 2.0, minCore = 10)),

    // k-truss peel, 3 FIXED rounds (k=3: every surviving edge in >= 1
    // triangle of the surviving subgraph — k=4 empties this sparse graph:
    // only 2 of its 3445 edges reach support 2) — the cohesive-subgraph
    // operator over the TC fabric; fixed rounds so DuckDB replays the
    // identical staged SQL (the fixpoint path is spec-covered)
    "q69_ktruss" -> ((s, d) =>
      graft.kernels.KTruss.run(e2(s, d), k = 3, maxRounds = 3)),

    // common-neighbor link prediction: top-5 non-edge candidates per
    // vertex (wedge join via the co-occurrence derivation, exact scores)
    "q70_link_predict" -> ((s, d) =>
      graft.kernels.LinkPredict.commonNeighbors(e2(s, d), topK = 5)),

    // per-vertex local clustering coefficient over the thresholded graph
    // (per-row exact-integer arithmetic on top of the q07 triangle plan)
    "q71_clustering" -> ((s, d) =>
      graft.kernels.GraphStats.localClustering(e2(s, d))),

    // resource-allocation link scores in exact fixed-point ppm (integer
    // parity discipline — the float Adamic-Adar twin is spec-covered)
    "q72_link_ra" -> ((s, d) =>
      graft.kernels.LinkPredict.resourceAllocation(e2(s, d), topK = 5)),

    // degree assortativity: one row, integer sums + one double projection
    "q73_assortativity" -> ((s, d) =>
      graft.kernels.GraphStats.assortativity(e2(s, d))),

    // per-edge embeddedness: triangle support + endpoint-degree Jaccard
    "q74_embeddedness" -> ((s, d) =>
      graft.kernels.GraphStats.edgeEmbeddedness(e2(s, d))),

    // deterministic DeepWalk corpus: one sha-steered 4-step walk per
    // vertex (graph-embedding training data; every step SQL-replayable)
    "q75_random_walks" -> ((s, d) =>
      graft.kernels.RandomWalk.walks(e2(s, d), length = 4)),

    // skip-gram (center, context) pairs within window 2 over q75's walks
    "q76_skipgram_pairs" -> ((s, d) =>
      graft.kernels.RandomWalk.skipGramPairs(
        graft.kernels.RandomWalk.walks(e2(s, d), length = 4), window = 2)),

    // Gopher-style repetition gates: top-token share + duplicate-bigram
    // share as floor-ppm integers, keep flag at (12%, 2%) — thresholds
    // calibrated so both classes appear at sf0.01
    "q77_repetition" -> ((s, d) =>
      graft.text.QualityRules.repetitionStats(
        T(s, d, "documents"), "doc_id", "text")),

    // PII scrub over a deterministically planted corpus (~30% of docs get
    // a synthetic email + dotted quad appended — the raw word-salad corpus
    // has none, so the patterns are exercised both ways): match counts +
    // the masked-text sha identity
    "q78_pii_scrub" -> ((s, d) => {
      val id = col("doc_id")
      val planted = T(s, d, "documents").select(id,
        when(pmod(Dedup.shaTokenHash60(
            concat(lit("pii:"), id.cast("string"))), lit(10L)) < 3,
          concat(col("text"),
            lit(" contact admin"), id.cast("string"),
            lit("@example.com at 10.2."),
            pmod(id, lit(256L)).cast("string"), lit("."),
            pmod(id * 7, lit(256L)).cast("string")))
          .otherwise(col("text")).as("text"))
      graft.text.QualityRules.piiStats(planted, "doc_id", "text")
    }),

    // deterministic fixed-size per-language sample (reservoir semantics
    // via sha order, two-phase top-k — no per-stratum window funnel)
    "q79_reservoir" -> ((s, d) =>
      graft.text.TrainPrep.reservoirSample(
        T(s, d, "documents"), "doc_id", "lang", k = 8, salt = "rsv")
        .select(col("doc_id"), col("lang"), col("rnk"))),

    // harmonic centrality of the sha-sampled landmark set, 4-hop horizon:
    // ONE labeled multi-source BFS shared across seeds, floor-ppm sums
    "q80_harmonic" -> ((s, d) => {
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 20)
      graft.kernels.GraphStats.harmonicCentrality(sym, seeds, maxHop = 4)
    }),

    // dedup END TO END: q26's LSH pairs collapsed into clusters (hash-min
    // CC over the pair graph) with a canonical survivor per cluster — the
    // rewrite table every dedup pipeline actually ships
    "q81_dedup_canonical" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
        k = 3, numHashes = 16, bands = 4, threshold = 0.7,
        maxBucket = Int.MaxValue, hashFn = Dedup.shaSeededHash60)
      Dedup.canonicalize(s, docs, "doc_id", pairs)
    }),

    // node-induced deterministic half-sample of the thresholded graph —
    // the debug-subset / progressive-training subsample (edge survives
    // iff both endpoints' sha-keeps fire; pushdown-friendly per-row
    // predicate, zero shuffle)
    "q82_subgraph_sample" -> ((s, d) =>
      Edges.sampleInduced(e2(s, d), salt = "sg", keepPerMille = 500)),

    // node2vec second-order walks (p = q = 2 as integer weights 1/2/1):
    // sha-drawn into the per-step weight CDF — each step SQL-replayable
    "q83_node2vec" -> ((s, d) =>
      graft.kernels.RandomWalk.node2vecWalks(e2(s, d), length = 3)),

    // as-of (point-in-time) join: every event annotated with the LATEST
    // at-or-before purchase of the same user — the single-shuffle
    // union+window plan (no range-join row explosion); -1/'' sentinels
    // for events with no prior purchase
    "q84_asof" -> ((s, d) => {
      val ev = T(s, d, "events")
      val right = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin.asofBackward(ev, right, "user_id", "ts", "ts",
          Seq("purchase_id", "purchase_ts", "purchase_value"))
        .select(col("event_id"), col("event_type"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          coalesce(date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss"),
            lit("")).as("purchase_ts"),
          round(coalesce(col("purchase_value"), lit(-1.0)), 6)
            .as("purchase_value"))
    }),

    // corpus-driven boilerplate: word 5-grams whose document frequency is
    // >= 5 are boilerplate phrases (C4-style frequent-phrase rule — the
    // phrase table comes from the corpus itself, unlike q65 where it is
    // an external benchmark); per-doc floor-ppm share + keep gate
    "q85_boilerplate" -> ((s, d) =>
      graft.text.QualityRules.frequentPhraseStats(
        T(s, d, "documents"), "doc_id", "text")),

    // per-doc top-3 salient terms by tf-idf with the exact-integer
    // idf = 1000000*N div df (parity twin of the ln(N/df) production
    // scoring — same plan, bit-replayable ranking)
    "q86_tfidf" -> ((s, d) =>
      graft.text.TfIdf.topTermsIdfPpm(
        T(s, d, "documents"), "doc_id", "text", k = 3)),

    // sliding event-time windows (1 h window, 15 min slide): per-row
    // 4-way Expand + one hash aggregation — no self-join, no range join
    "q87_sliding" -> ((s, d) =>
      graft.streaming.Streaming.slidingAgg(T(s, d, "events"), 60, 15)
        .select(
          date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss")
            .as("win_start"),
          col("event_type"), col("n"),
          round(col("sum_value"), 6).as("sum_value"))),

    // span-level corpus rewrite (CCNet line-dedup analog): 3-word spans
    // occurring in > 2 docs are boilerplate and removed; docs reassembled
    "q88_span_dedup" -> ((s, d) =>
      Dedup.dedupSpans(T(s, d, "documents"), "doc_id", "text",
        spanWords = 3, maxDf = 2)),

    // HITS hubs/authorities on the DIRECTED co-occurrence edges, 4 full
    // iterations, deferred normalization (integer path counts until the
    // final division — half-step-replayable in a recursive CTE)
    "q89_hits" -> ((s, d) => {
      val r = graft.kernels.Hits.run(s, e2(s, d), iters = 4).scores
      r.select(col("vid"), round(col("hub"), 8).as("hub"),
        round(col("auth"), 8).as("auth"))
    }),

    // GNN-style 2-layer neighborhood aggregation (GraphSAGE-sum with
    // degree as the input feature) — per-node structural features for
    // training export; integer sums end to end
    "q90_khop" -> ((s, d) =>
      graft.kernels.GraphStats.khopFeatures(
        Edges.symmetrize(e2(s, d)), hops = 2)),

    // calibrated int8 embedding compression: per-dimension min/max →
    // affine map onto [-127,127] + max reconstruction error per vector.
    // qvec is projected as a comma-joined string (sort-stable scalar):
    // the driver's pandas compare sorts every column and cannot order
    // raw arrays, so both sides emit the identical CSV rendering.
    "q91_quantize_int8" -> ((s, d) =>
      Ann.calibratedInt8(T(s, d, "embeddings"), "vec_id", "embedding")
        .withColumn("qvec",
          concat_ws(",", col("qvec").cast("array<string>")))),

    // deterministic Luby MIS (sha priorities), 2-round prefix — the
    // symmetry-breaking primitive; each round is a min-aggregate over
    // the shrinking undecided subgraph, staged-SQL-replayable
    "q92_mis" -> ((s, d) =>
      graft.kernels.Mis.run(s, Edges.symmetrize(e2(s, d)),
        maxRounds = 2)),

    // PMI-family collocations: top adjacent word pairs by exact-integer
    // lift ppm over the bigram contingency table (hapax pairs dropped)
    "q93_collocations" -> ((s, d) =>
      graft.text.TfIdf.collocationLiftPpm(T(s, d, "documents"), "doc_id", "text",
        minCount = 2, k = 20)),

    // Newman modularity decomposition of the brand partition over the
    // co-occurrence graph — integer counts, one double projection per
    // community row (Q = sum of contributions)
    "q95_modularity" -> ((s, d) => {
      val brands = broadcast(T(s, d, "part")
        .select(col("p_partkey").as("vid"), col("p_brand").as("label")))
      graft.kernels.GraphStats.modularity(e2(s, d), brands)
    }),

    // landmark betweenness (Brandes from sha-sampled seeds, horizon 2):
    // forward integer path counts + one backward dependency level —
    // staged-SQL-replayable; the spec covers deeper horizons
    "q94_betweenness" -> ((s, d) => {
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 20)
      graft.kernels.Betweenness.landmark(s, sym, seeds, maxHop = 2)
    }),

    // B5 greedy block->worker packing, hash-matched (round-4 promotion of
    // the LAST spec-only §2 stage): the integer parity twin of q38's
    // packer over the q56 flood colors; a DuckDB recursive CTE replays
    // every placement (one iteration per block, list-carried state)
    "q96_bdg_assign" -> ((s, d) => {
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 50)
        .select(col("vid"), col("vid").as("color"))
      val colors = graft.partition.BdgLayout.floodColors(sym, seeds,
        maxHop = 4)._1
      graft.partition.BdgLayout.assignBlocksExact(s, sym, colors,
        workers = 8)
    }),

    // B7 cross-edge statistics, hash-matched: per-worker blocks/vertices/
    // cross edges for the q96 assignment, with the sha-hash-partition
    // baseline on the same colored subgraph (the number BDG must beat —
    // EuroSys §8.4; at sf0.01 BDG crosses 2756 directed edges vs 5952)
    "q97_bdg_cross" -> ((s, d) => {
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 50)
        .select(col("vid"), col("vid").as("color"))
      val colors = graft.partition.BdgLayout.floodColors(sym, seeds,
        maxHop = 4)._1
      val assign = graft.partition.BdgLayout.assignBlocksExact(s, sym,
        colors, workers = 8)
      graft.partition.BdgLayout.crossEdgeStatsExact(s, sym, colors, assign,
        workers = 8)
    }),

    // strongly connected components of the sha-directed derivation —
    // FW-BW-Trim coloring (trim peels the acyclic mass, forward hash-min
    // colors the cyclic core, backward sweep extracts mutual-reach
    // classes); the directed analog hash-min CC cannot see. Oracle:
    // full transitive closure + mutual-reach min in DuckDB.
    "q98_scc" -> ((s, d) =>
      graft.kernels.Scc.run(s, graft.kernels.Scc.shaDirect(e2(s, d)))),

    // minimum spanning forest by Borůvka contraction over unique sha
    // weights — oracle replays KRUSKAL edge-by-edge in a recursive CTE
    // (list-carried union-find): two different MST algorithms must agree
    // because unique weights make the forest unique
    "q99_mst" -> ((s, d) =>
      graft.kernels.Mst.boruvka(s, graft.kernels.Mst.shaWeights(e2(s, d)))),

    // incremental PageRank: 6 supersteps on the full graph, drill-down
    // deletion (vid % 7 == 0 — the q46 predicate), then 4 WARM-START
    // supersteps on the survivor graph seeded from the pre-deletion
    // ranks — the resume-after-deletion path a catalog-backed engine
    // actually runs; the oracle replays both phases in one recursive CTE
    "q100_pr_warm" -> ((s, d) => {
      // materialized once: both PR pre-loops and the deletion filter
      // consume it
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val r0 = PageRank.run(s, sym, fixedIter = Some(6),
        symmetric = true).ranks
      val ef = sym.filter(pmod(col("src"), lit(7)) =!= 0 &&
        pmod(col("dst"), lit(7)) =!= 0)
      PageRank.run(s, ef, fixedIter = Some(4), symmetric = true,
        initRanks = Some(r0)).ranks
        .select(col("vid"), round(col("rank"), 8).as("rank"))
    }),

    // diameter lower bound by double sweep: two BFS evaluations instead
    // of |V| (all-pairs) — the standard web-graph diameter estimate
    "q101_diameter" -> ((s, d) =>
      graft.kernels.GraphStats.doubleSweep(Edges.symmetrize(e2(s, d)))),

    // corpus-trained bigram LM fluency score (CCNet/Wiki-LM quality
    // gate, integer ppm): train counts and score every doc in one pass
    "q102_bigram_lm" -> ((s, d) =>
      graft.text.QualityRules.bigramLmScore(
        T(s, d, "documents"), "doc_id", "text")),

    // clustering agreement: Rand index (pair-counting, integer ppm)
    // between 5-superstep label propagation and the CC ground truth —
    // the evaluation op run after every community-detection change
    "q103_rand_index" -> ((s, d) => {
      // materialized once: both kernels build their own persisted edge
      // fabric from it
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      graft.kernels.GraphStats.randIndex(
        LabelPropagation.run(s, sym, 5).labels,
        ConnectedComponents.run(s, sym).components)
    }),

    // one-row structural profile with EXACT degree percentiles (the
    // density-drift check logged around every corpus/graph filter)
    "q104_profile" -> ((s, d) =>
      graft.kernels.GraphStats.degreeProfile(e2(s, d))),

    // deterministic greedy coloring: Jones-Plassmann parallel fixpoint
    // on Spark == sequential first-fit greedy in sha-priority order,
    // which the oracle replays one vertex per recursion step
    "q105_coloring" -> ((s, d) =>
      graft.kernels.Coloring.jonesPlassmann(s,
        Edges.symmetrize(e2(s, d)))),

    // bipartite butterfly census straight off the co-occurrence weight
    // table (2x2 bicliques = C(weight,2) per co-occurring pair)
    "q106_butterflies" -> ((s, d) =>
      graft.kernels.GraphStats.butterflies(cooc(s, d))),

    // exact rectangle (4-cycle) count via the diagonal wedge table
    "q107_rectangles" -> ((s, d) =>
      graft.kernels.GraphStats.rectangles(Edges.symmetrize(e2(s, d)))),

    // Katz centrality in scaled-integer form (beta = 1/4, 6 supersteps,
    // y = 4^6 * Katz — zero floating point, exact 64-bit end to end)
    "q108_katz" -> ((s, d) =>
      graft.kernels.EigenCentrality.katzScaled(s,
        Edges.symmetrize(e2(s, d)))),

    // topological layering of the degree-oriented DAG (longest path
    // ending at each vertex — the scheduling depth / topo-sort key)
    "q109_topo_layers" -> ((s, d) =>
      graft.kernels.GraphStats.dagLayers(s,
        Edges.orientByDegree(e2(s, d)))),

    // full coreness decomposition by 4 fixed h-index rounds (exact
    // core numbers at fixpoint — spec-checked; the fixed prefix is the
    // oracle-replayable parity form, the q69/q92 discipline)
    "q110_coreness" -> ((s, d) =>
      graft.kernels.KCore.coreness(s, Edges.symmetrize(e2(s, d)),
        iters = Some(4))),

    // drill-down impact analysis: which vertices' PageRank moved most
    // after the deletion — the attribution query a catalog-backed
    // engine answers after every q46-style drill-down; reuses the q100
    // warm-start phases, top-20 by |delta| with vid tie-break
    "q111_pr_movers" -> ((s, d) => {
      // materialized once: both PR pre-loops and the deletion filter
      // consume it
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val r0 = PageRank.run(s, sym, fixedIter = Some(6),
        symmetric = true).ranks
      val ef = sym.filter(pmod(col("src"), lit(7)) =!= 0 &&
        pmod(col("dst"), lit(7)) =!= 0)
      val r1 = PageRank.run(s, ef, fixedIter = Some(4), symmetric = true,
        initRanks = Some(r0)).ranks
      r0.select(col("vid"), col("rank").as("r0"))
        .join(r1.select(col("vid"), col("rank").as("r1")), "vid")
        .select(col("vid"), round(col("r0"), 8).as("rank_before"),
          round(col("r1"), 8).as("rank_after"),
          round(col("r1") - col("r0"), 8).as("delta"))
        .orderBy(abs(col("delta")).desc, col("vid")).limit(20)
    }),

    // weighted label propagation over co-occurrence STRENGTH (5 fixed
    // supersteps; integer weight sums keep every round exact)
    "q112_lp_weighted" -> ((s, d) => {
      val cw = cooc(s, d).filter(col("weight") >= 2)
        .localCheckpoint(eager = true) // consumed by both union branches
      val symW = cw.select(col("src"), col("dst"), col("weight"))
        .unionAll(cw.select(col("dst").as("src"), col("src").as("dst"),
          col("weight")))
      LabelPropagation.run(s, symW, 5, weightCol = Some("weight")).labels
    }),

    // count-min sketch heavy hitters: exact top-30 corpus tokens joined
    // with their sketch point-estimates (4×256 counters, sha-derived row
    // hashes → DuckDB replays the sketch bit-for-bit). The sketch is the
    // fixed-memory path for token frequency at 100 TB — one pass, full
    // map-side combine, counter table ≤ depth·width rows regardless of
    // vocabulary size
    "q113_cms_heavy" -> ((s, d) => {
      val toks = T(s, d, "documents")
        .select(explode(TF.tokens(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      graft.text.Sketches.cmTopK(toks, "t", "cnt", k = 30)
        .select(col("t"), col("cnt"), col("rnk"), col("cms_est"))
    }),

    // HyperLogLog register table: approximate distinct users per
    // event_type as 64 integer registers per group — the scale path for
    // distinct counting (max combines map-side; output is groups·64 rows
    // whatever the user cardinality). Registers are integer-exact and
    // sha-derived, so the oracle replays them; the float estimate they
    // imply is asserted within tolerance in SketchSpec
    "q114_hll_users" -> ((s, d) =>
      graft.text.Sketches.hllRegisters(T(s, d, "events"),
          "event_type", "user_id")
        .select(col("grp").as("event_type"), col("reg"), col("max_rank"))),

    // first-arrival dedup, batch twin of Streaming.dedupStream (which
    // runs the same keys with dropDuplicatesWithinWatermark — bounded
    // state; stream/batch key-set parity in StreamingSpec): one argmin
    // aggregation, no per-key window sort
    "q115_dedup_first" -> ((s, d) =>
      graft.streaming.Streaming.dedupBatch(T(s, d, "events"),
        Seq("user_id", "event_type"))),

    // supergraph contraction (host-graph move): part-level co-occurrence
    // edges contracted to the brand level — two endpoint-keyed joins +
    // one aggregation whose key space is the contracted graph
    "q116_brand_graph" -> ((s, d) =>
      Edges.contract(cooc(s, d),
        T(s, d, "part").select(col("p_partkey").as("vid"),
          col("p_brand").as("grp")))),

    // DOULION-style sampled triangle count (Tsourakakis et al. KDD'09,
    // deterministic sha edge sampling p=1/4): exact TC on the sampled
    // graph, unbiased estimate = tc·p^-3. The approximate-counting path
    // when even the oriented intersection is too big — the sample is a
    // pushed-down scan filter, everything downstream shrinks by p
    "q117_tc_sampled" -> ((s, d) => {
      val samp = e2(s, d).filter(
        pmod(Dedup.shaTokenHash60(concat(col("src").cast("string"),
          lit(":"), col("dst").cast("string"))), lit(4L)) === 0L)
      TriangleCount.total(samp)
        .select(col("triangles").as("sampled_tc"),
          (col("triangles") * 64L).as("tc_est"))
    }),

    // landmark distance oracle (Eppstein-Wang / web-graph distance
    // sketches): the 4 highest-degree vertices as landmarks (the standard
    // hub heuristic — their BFS balls cover the most pairs), one shared
    // multi-source labeled BFS builds the index, then any pair's distance
    // upper bound is min over landmarks of d(u,l)+d(l,v) — index probes,
    // no per-query traversal; here evaluated over a sha-chosen probe set
    "q118_landmark_dist" -> ((s, d) => {
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
    }),

    // deterministic greedy maximal matching (Israeli-Itai local-min
    // rounds, sha edge priorities) — 3 fixed rounds as the oracle parity
    // form; the fixpoint (maximal matching / 2-approx vertex cover) is
    // spec-checked in KernelSpec
    "q119_matching" -> ((s, d) =>
      graft.kernels.Matching.greedy(s, e2(s, d), maxRounds = 3)),

    // densest-subgraph peeling census (Charikar / BKV parallel peel,
    // integer deg·|V| > 2·|E| rule): per-round (n_v, n_e) for 4 fixed
    // rounds — the dense-core / link-farm detector
    "q120_densest" -> ((s, d) =>
      graft.kernels.Densest.peelCensus(s, e2(s, d), rounds = 4)),

    // rich-club census: hub-interlinking profile at degree thresholds
    // 1/2/4/8 — one pass over degrees + edge min-degree tags
    "q121_rich_club" -> ((s, d) =>
      graft.kernels.GraphStats.richClub(e2(s, d), Seq(1, 2, 4, 8))),

    // time-respecting reachability (earliest arrival, Wu et al. VLDB'14):
    // contacts = same event_type within 300 s (banded bucket join,
    // directed earlier→later), seeds = sha-sampled users at time 0,
    // 4 bounded rounds (the fixpoint is spec-covered; static
    // reachability would OVERCOUNT — an edge usable before you arrive
    // is useless)
    "q122_temporal_reach" -> ((s, d) => {
      val ev = T(s, d, "events")
      val c = graft.kernels.TemporalReach.contacts(ev,
        "user_id", "event_type", "ts", deltaSec = 300L)
      val seeds = ev.select(col("user_id").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 50)
      graft.kernels.TemporalReach.earliestArrival(s, c, seeds,
        maxRounds = 4)
    }),

    // graph delta between two catalog snapshots (time travel): per-vertex
    // degree before/after a deletion, changed vertices only — the
    // incremental-pipeline primitive (downstream re-runs only where
    // delta != 0 instead of diffing |E| rows)
    "q123_snapshot_diff" -> ((s, d) => {
      val root = scratchDir("graft_snapdiff")
      val cat = new graft.catalog.LocalCatalog(root)
      cat.createOrReplace("edges", e2(s, d))
      cat.deleteWhere(s, "edges",
        pmod(col("src"), lit(5)) === 0 || pmod(col("dst"), lit(5)) === 0)
      val snaps = cat.snapshots("edges").sorted
      Edges.degreeDelta(
        cat.readSnapshot(s, "edges", snaps.head),
        cat.readSnapshot(s, "edges", snaps.last))
    }),

    // Bloom-filter decontamination — the fixed-memory scale twin of q65:
    // the benchmark's trigram set compresses to <= 16384 sha-derived bit
    // positions (broadcastable whatever the benchmark size); flagged =
    // all 3 hash positions set. False positives are sha-deterministic
    // (replayed by the oracle) and there are no false negatives — the
    // safe direction for decontamination
    "q124_bloom_decontam" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val isBench = pmod(Dedup.shaTokenHash60(col("doc_id").cast("string")),
        lit(1000L)) < 30
      graft.text.TrainPrep.contaminationBloom(
        docs.filter(!isBench), "doc_id", "text",
        docs.filter(isBench), "text", n = 3)
    }),

    // SemDeDup embedding-space dedup (Abbas et al. 2023): IVF sha-centroid
    // clusters bound the quadratic, integer-cosine >= 0.38 within a
    // cluster drops the higher id — the semantic-level pass a pretraining
    // pipeline runs after exact (q16) and MinHash (q26/q81) dedup
    "q125_semdedup" -> ((s, d) =>
      Ann.semDedup(T(s, d, "embeddings"), "vec_id", "embedding",
          nlist = 16, thresholdPpm = 380000L)
        .select(col("vec_id"), col("cluster"),
          col("keep").cast("long").as("keep"), col("kept_for"))),

    // exact set-similarity self-join with prefix filtering (AllPairs /
    // PPJoin family): vertex pairs whose neighbor sets overlap at
    // Jaccard >= 0.5 — the EXACT-contract twin of the MinHash-LSH
    // near-dup path (q26). The oracle computes the unfiltered all-pairs
    // answer, so the hash match is also evidence the prefix filter is
    // lossless
    "q126_setsim_join" -> ((s, d) =>
      graft.sim.SetSimJoin.jaccardJoin(
        Edges.symmetrize(e2(s, d))
          .select(col("src").as("id"), col("dst").as("tok")),
        "id", "tok", thresholdPpm = 500000L)),

    // oracle-parity k-means (2 Lloyd rounds: integer assignment, floor
    // centroid updates, empty-cluster carry): the clustering substrate
    // under IVF (q40/q58) and SemDeDup (q125) as a first-class
    // hash-matched operator
    "q127_kmeans" -> ((s, d) =>
      Ann.kmeansParity(T(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2)),

    // ordered funnel analysis (view -> click -> purchase, earliest-
    // completion semantics): per-user reached stage + completion time —
    // |steps| user-keyed min-aggs, never a window over raw events
    "q128_funnel" -> ((s, d) =>
      graft.operators.Funnel.stages(T(s, d, "events"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))),

    // fixed-memory histogram quantile sketch over document lengths: the
    // scale twin of q104's exact percentiles — <= 64 counters shuffle
    // whatever the input size, estimate = lower edge of the bucket where
    // the cumulative count reaches ceil(q*n/100), error <= one width
    "q129_hist_quantiles" -> ((s, d) =>
      graft.text.Sketches.histQuantiles(T(s, d, "documents"),
        col("n_chars"), buckets = 64, qsPct = Seq(50, 90, 99))),

    // systematic PPS sampling: 50 picks walked along the cumulative
    // token-weight axis — inclusion ∝ weight, deterministic, docs heavier
    // than W/k picked multiply (n_picks); the weighted complement of the
    // uniform sha splits (q48/q60/q79)
    "q130_pps_sample" -> ((s, d) =>
      graft.text.TrainPrep.systematicPpsSample(s, T(s, d, "documents"),
        "doc_id", TF.tokenCount(col("text")), k = 50)),

    // Z-order (Morton) curve bucket census: the Iceberg/Delta OPTIMIZE
    // ZORDER layout primitive — per top-level curve tile, edge count and
    // vertex spread in each role (compact tiles = a src-range x dst-range
    // predicate touches few buckets); the curve key is pure shift/mask
    // integer arithmetic, replayed bit-for-bit
    "q131_zorder_census" -> ((s, d) =>
      graft.partition.ZOrder.bucketCensus(e2(s, d),
        bits = 16, bucketBits = 14)),

    // temporal 2-chain motif census (Paranjape-Benson-Leskovec WSDM'17):
    // per middle vertex, contact pairs u->v then v->w with the relay
    // departing after the arrival and the whole span within 600 s —
    // information actually relayable through v (static wedges overcount)
    "q132_temporal_motifs" -> ((s, d) => {
      val c = graft.kernels.TemporalReach.contacts(T(s, d, "events"),
        "user_id", "event_type", "ts", deltaSec = 300L)
      graft.kernels.TemporalReach.chainMotifs(c, windowUs = 600000000L)
    }),

    // kNN label-noise detection (Wilson editing): per labeled embedding,
    // the ppm of its <=5 exact-MIPS nearest q57-candidate neighbors that
    // share its label; neighborhood disagreement flags suspected noise —
    // the curation pass over labeled finetuning/eval data
    "q133_label_noise" -> ((s, d) =>
      Ann.labelNoise(T(s, d, "embeddings"), "vec_id", "embedding",
        "label", k = 5, dim = 64, bands = 8, bitsPerBand = 8)),

    // per-community conductance of the brand partition — the
    // cut/volume community-quality metric complementing q95's
    // modularity (same label table, same thresholded graph)
    "q134_conductance" -> ((s, d) => {
      val brands = broadcast(T(s, d, "part")
        .select(col("p_partkey").as("vid"), col("p_brand").as("label")))
      graft.kernels.GraphStats.conductance(e2(s, d), brands)
    }),

    // BPE merge learning (tokenizer training): the first 3 merges
    // learned from the documents corpus — integer pair counts over the
    // distinct-word vocabulary, lexicographic tie-break, leftmost
    // non-overlapping merge per round
    "q135_bpe_merges" -> ((s, d) =>
      graft.text.BpeTrain.learnMerges(T(s, d, "documents"), "text", 3)),

    // ACL sweep-cut local clustering: personalized PageRank from the
    // sha-sampled seed set on the thresholded graph, vertices swept in
    // degree-normalized-rank order, exact conductance per prefix — the
    // argmin prefix is the local cluster (composes the q62 PPR kernel
    // with the q134 conductance metric)
    "q136_sweep_cut" -> ((s, d) => {
      // materialized once: consumed by the seed filter, the PR pre-loop
      // AND three sweep passes (degrees, 2m count, prefix-internal join);
      // symmetric=true as in q10 (input is a symmetrize() view)
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 20)
      val pr = PageRank.run(s, sym, fixedIter = Some(10),
          personalized = Some(seeds), symmetric = true)
        .ranks.select(col("vid"), round(col("rank"), 8).as("rank"))
      graft.kernels.SweepCut.sweep(sym, pr, limit = 150)
    }),

    // truss communities: connected components of the q69 3-truss
    // subgraph (fixed 3 peel rounds, the oracle-parity configuration) —
    // triangle-dense communities that bridge edges cannot glue together
    "q137_truss_comm" -> ((s, d) =>
      graft.kernels.KTruss.communities(s, e2(s, d), k = 3, maxRounds = 3)),

    // per-vertex ego-net density census (OddBall-style, integer ppm):
    // near-clique egos (mirror clusters / spam farms) vs near-star hubs,
    // from degree + the q07 triangle plan alone
    "q138_ego_density" -> ((s, d) =>
      graft.kernels.GraphStats.egoDensity(e2(s, d))),

    // tokenizer application: per-doc [a-z]+ word count and symbol count
    // after the 3 learned q135 merges — the train→encode loop closed;
    // the merge fold runs over the distinct-word vocabulary only
    "q139_bpe_encode" -> ((s, d) =>
      graft.text.BpeTrain.encode(T(s, d, "documents"), "doc_id", "text", 3)),

    // DSIR-style hashed n-gram domain-affinity scoring (integer ppm):
    // target = the English slice; features = word uni+bigrams sha-hashed
    // into 4096 buckets; score = summed smoothed rate difference (ppb)
    "q140_domain_affinity" -> ((s, d) =>
      graft.text.TrainPrep.domainAffinity(T(s, d, "documents"),
        "doc_id", "text", col("lang") === "en", buckets = 4096)),

    // padding-efficient length-bucketed batch assembly (group-by-length
    // finetuning batches): width-128 token buckets, 16384-token batches,
    // per-batch padding waste
    "q141_length_batches" -> ((s, d) =>
      graft.text.TrainPrep.lengthBucketBatches(T(s, d, "documents"),
        "doc_id", TF.tokenCount(col("text")),
        bucketWidth = 128, batchTokens = 16384)),

    // attribution interval join (batch twin of the stream-stream
    // watermarked join — StreamingSpec asserts stream == batch): every
    // view credited for a same-user click within the next 60 minutes
    "q142_attribution" -> ((s, d) =>
      graft.streaming.Streaming.attributionBatch(T(s, d, "events"),
        windowMin = 60)),

    // disparity-filter backbone (integer cross-multiplied): edges whose
    // weight exceeds 2x the uniform share of either endpoint's strength
    // — a multiscale sparsifier STRICTLY finer than the global weight>=2
    // threshold (63 vs 3445 edges at sf0.01; at 1500 ppt the two rules
    // coincide on this graph, so the query uses 2000 to evidence the
    // local rule)
    "q143_backbone" -> ((s, d) =>
      Edges.disparityBackbone(cooc(s, d), alphaPpt = 2000L)),

    // vocabulary coverage / OOV rate against the top-500 corpus words —
    // the tokenizer-coverage profile (vocab broadcast, one corpus pass)
    "q144_oov" -> ((s, d) =>
      graft.text.TrainPrep.oovStats(T(s, d, "documents"),
        "doc_id", "text", vocabSize = 500)),

    // warm-started incremental CC: labels from the thresholded subgraph
    // seed CC on the FULL co-occurrence graph (edge-insertion
    // maintenance, the CC complement of q100's warm PageRank); fixpoint
    // — and the oracle — is identical to a cold run
    "q145_cc_warm" -> ((s, d) => {
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
    }),

    // motif (triangle-weighted) conductance of the brand partition:
    // communities judged by the TRIANGLES they cut (edge weight = q74's
    // triangle support) — robust to weak-tie noise; complements q134
    "q146_motif_conductance" -> ((s, d) => {
      val supE = graft.kernels.GraphStats.edgeEmbeddedness(e2(s, d))
        .select(col("src"), col("dst"), col("sup").as("weight"))
      val brands = broadcast(T(s, d, "part")
        .select(col("p_partkey").as("vid"), col("p_brand").as("label")))
      graft.kernels.GraphStats.conductanceWeighted(supE, brands)
    }),

    // hub-removal robustness census: for each of the top-5 degree hubs,
    // the component count and largest-component size among vertices that
    // retain an edge after the hub is removed — the single-point-of-
    // failure profile; 5 bounded per-seed CC runs (J4 license, like MCF)
    "q147_hub_impact" -> ((s, d) => {
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
    }),

    // s-core (weighted core, Eidsaa-Almaas): strength-based peel on the
    // full co-occurrence weights, 3 FIXED rounds for the staged oracle
    // (the fixpoint path is spec-covered); survivors' strengths
    "q148_score" -> ((s, d) =>
      graft.kernels.KCore.sCore(cooc(s, d), s = 8L, maxRounds = 3)),

    // corpus-curation funnel: the end-to-end keep pipeline (language ->
    // length -> exact-dedup survivor -> decontamination) with per-stage
    // attrition counts — every stage is an already-verified operator
    // (q20/q18/q16/q65) composed into one plan
    "q149_curation_funnel" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val s1 = docs
      val s2 = s1.filter(TF.langId(col("text")) === "en")
      val s3 = s2.filter(TF.tokenCount(col("text")) >= 20)
      val keepers = s3.groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val s4 = s3.join(keepers, Seq("doc_id"), "left_semi")
      val isBench = pmod(Dedup.shaTokenHash60(col("doc_id").cast("string")),
        lit(1000L)) < 30
      val flagged = graft.text.TrainPrep.contamination(
          s4.filter(!isBench), "doc_id", "text",
          docs.filter(isBench), "text", n = 3, minShared = 1L)
        .select(col("doc_id"))
      val s5 = s4.filter(!isBench).join(flagged, Seq("doc_id"), "left_anti")
      Seq(("1_all", s1), ("2_lang", s2), ("3_length", s3),
        ("4_dedup", s4), ("5_decontam", s5))
        .map { case (name, df) =>
          df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"),
            col("n_docs"))
        }
        .reduce(_ union _)
    }),

    // Iceberg-style MERGE INTO (upsert): a deterministic update batch
    // (sha%10 slice relabeled) plus an insert batch (shifted ids) merged
    // into a documents catalog; the latest snapshot is read back — prior
    // snapshots stay time-travelable (CatalogSpec)
    "q150_catalog_merge" -> ((s, d) => {
      val root = scratchDir("graft_mrg")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      cat.createOrReplace("docs", docs)
      val touched = pmod(Dedup.shaTokenHash60(col("doc_id").cast("string")),
        lit(10L)) === 0
      val updates = docs.filter(touched)
        .select(col("doc_id"), lit("xx").as("lang"),
          (col("n_chars") + 1000000L).as("n_chars"))
      val inserts = docs.filter(touched)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          lit("new").as("lang"), col("n_chars"))
      cat.merge(s, "docs", updates.unionByName(inserts), "doc_id")
      cat.read(s, "docs")
    }),

    // row-level CDC between two catalog snapshots (changelog scan):
    // delete a sha%7 slice, upsert the q150-style update batch, then
    // diff snapshot 0 vs latest — one (key, payload-sha) full outer join
    "q151_cdc" -> ((s, d) => {
      val root = scratchDir("graft_cdc")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val s0 = cat.createOrReplace("docs", docs)
      cat.deleteWhere(s, "docs",
        pmod(Dedup.shaTokenHash60(col("doc_id").cast("string")),
          lit(7L)) === 0)
      val touched = pmod(Dedup.shaTokenHash60(col("doc_id").cast("string")),
        lit(10L)) === 0
      cat.merge(s, "docs",
        docs.filter(touched)
          .select(col("doc_id"), lit("xx").as("lang"), col("n_chars")),
        "doc_id")
      graft.catalog.Cdc.rowDiff(cat.readSnapshot(s, "docs", s0),
        cat.read(s, "docs"), "doc_id", Seq("lang", "n_chars"))
    }),

    // exact-percentile winsorization of document token counts at
    // p05/p95 — outlier capping before packing/weighted sampling
    "q152_winsorize" -> ((s, d) =>
      graft.text.TrainPrep.winsorize(T(s, d, "documents"), "doc_id",
        TF.tokenCount(col("text")), loPct = 5, hiPct = 95)),

    // HLL register-set ALGEBRA: per-type register tables for view/click
    // merged by max into the union sketch — the mergeability that makes
    // the sketch a scale primitive (distinct users over view ∪ click
    // without re-touching either side's raw events)
    "q153_hll_union" -> ((s, d) => {
      val ev = T(s, d, "events")
        .filter(col("event_type").isin("view", "click"))
      graft.text.Sketches.hllRegisters(ev, "event_type", "user_id")
        .groupBy(col("reg")).agg(max(col("max_rank")).as("max_rank"))
    }),

    // oracle-parity product quantization ANN (ADC): m=8 subspace
    // codebooks from the q58 sha sample, integer encode argmin, exact
    // asymmetric-distance scan for a sha-sampled query slice — the
    // codes-in-memory quantization member next to int8 (q91) and IVF
    // (q58); at 100 TB the IVF routing composes in front of the ADC scan
    "q154_pq_parity" -> ((s, d) =>
      Ann.pqTopKParity(T(s, d, "embeddings"), "vec_id", "embedding",
        k = 5, dim = 64, m = 8, ksub = 16)),

    // lexical diversity (type-token ratio + Gini–Simpson index, integer
    // ppm): the repetitive/template/spam text gate that length and
    // stopword ratios (q19) miss
    "q155_diversity" -> ((s, d) =>
      graft.text.QualityRules.tokenDiversity(
        T(s, d, "documents"), "doc_id", "text")),

    // catalog ADD COLUMN schema evolution: append a batch carrying a new
    // `quality` column; the merged read widens the table and back-fills
    // prior rows (surfaced as -1 via coalesce: a null bigint would
    // round-trip as float through the driver's pandas compare)
    "q156_schema_evolution" -> ((s, d) => {
      val root = scratchDir("graft_evo")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents")
      cat.createOrReplace("evo", docs.select(col("doc_id"), col("lang")))
      val touched = pmod(Dedup.shaTokenHash60(col("doc_id").cast("string")),
        lit(10L)) === 0
      cat.append("evo", docs.filter(touched)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          TF.tokenCount(col("text")).as("quality")))
      cat.read(s, "evo")
        .select(col("doc_id"), col("lang"),
          coalesce(col("quality"), lit(-1L)).as("quality"))
    }),

    // contamination severity ladder: longest benchmark n-gram shared
    // (3/6/12 words) — triage between incidental phrase overlap and
    // verbatim benchmark leakage (the graded twin of q65's boolean)
    "q157_contamination_severity" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val isBench = pmod(Dedup.shaTokenHash60(col("doc_id").cast("string")),
        lit(1000L)) < 30
      graft.text.TrainPrep.contaminationSeverity(
        docs.filter(!isBench), "doc_id", "text",
        docs.filter(isBench), "text", sizes = Seq(3, 6, 12))
    }),

    // HyperANF ball sketches (Boldi–Vigna WWW'11): per-vertex HLL of the
    // 2-hop ball, advanced by max-merging neighbor registers — the
    // effective-diameter/ball-size primitive whose state is 16 registers
    // per vertex regardless of ball size (q90's k-hop is the exact twin)
    "q158_anf" -> ((s, d) =>
      graft.kernels.GraphStats.anf(
        Edges.symmetrize(e2(s, d)), hops = 2, regBits = 4)),

    // GraphSAGE-style layer-wise neighbor sampling: per-vertex adjacency
    // down-sampled to the 5 (then 3) lowest sha-ranked neighbors, 2-hop
    // expansion from the sha-sampled seeds — the bounded GNN mini-batch
    // computation graph
    "q159_sage_sample" -> ((s, d) =>
      graft.kernels.GraphStats.sageSample(
        Edges.symmetrize(e2(s, d)), seedPpt = 20, fanouts = Seq(5, 3))),

    // exact 4-clique census: the oriented-DAG sextuple join (triangle-
    // first join order), one motif up from q06's triangles
    "q160_k4" -> ((s, d) => graft.kernels.GraphStats.k4Count(e2(s, d))),

    // streaming UPSERT ingest: a deterministic one-row-per-key change
    // feed applied micro-batch by micro-batch via foreachBatch MERGE —
    // the continuous CDC-application path (q150 is the one-shot twin);
    // final state is batch-split-independent because each key merges once
    "q161_stream_upsert" -> ((s, d) => {
      val root = scratchDir("graft_supsert")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      cat.createOrReplace("docs", docs)
      val feed = docs.filter(pmod(Dedup.shaTokenHash60(
          col("doc_id").cast("string")), lit(5L)) === 0)
        .select(col("doc_id"), lit("xx").as("lang"),
          (col("n_chars") + 7L).as("n_chars"))
      val feedDir = s"$root/feed"
      feed.repartition(3).write.mode("overwrite").parquet(feedDir)
      graft.streaming.Streaming.ingestUpsert(s, feedDir, feed.schema,
        cat, "docs", "doc_id")
      cat.read(s, "docs")
    }),

    // snapshot expiry (compact-then-expire table maintenance): three
    // staged commits compacted into a self-contained snapshot, history
    // expired to keep=1 — content intact, unreachable files deleted
    // (CatalogSpec asserts expired time travel fails, kept ids read)
    "q162_snapshot_expiry" -> ((s, d) => {
      val root = scratchDir("graft_exp")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val h = pmod(Dedup.shaTokenHash60(col("doc_id").cast("string")),
        lit(3L))
      cat.createOrReplace("docs", docs.filter(h === 0))
      cat.append("docs", docs.filter(h === 1))
      cat.append("docs", docs.filter(h === 2))
      cat.compact(s, "docs")
      val expired = cat.expireSnapshots("docs", keep = 1)
      require(expired.nonEmpty, "compact-then-expire must prune history")
      cat.read(s, "docs")
    }),

    // 1-WL color refinement, 3 rounds: canonical per-vertex structural
    // fingerprints (GNN role features, subgraph-dedup keys); sha-hashed
    // counted neighbor-color multisets, initial color = degree
    "q163_wl_colors" -> ((s, d) =>
      graft.kernels.WlRefinement.colors(
        Edges.symmetrize(e2(s, d)), rounds = 3)),

    // zone-map data skipping over documents value-clustered by n_chars
    // (width-64 zones): the range predicate on the clustered column
    // skips most zones by bounds alone, the same-shaped predicate on
    // the scattered doc_id column prunes nothing — the layout-decision
    // evidence a 100 TB table is clustered from
    "q164_zone_skip" -> ((s, d) =>
      graft.catalog.ZoneMap.skippingStats(T(s, d, "documents"),
        "n_chars", width = 64L, "doc_id",
        cLo = 200L, cHi = 400L, pLo = 100L, pHi = 5000L)),

    // optimistic-concurrency commit validation: txn B staged against the
    // base snapshot must detect the keys txn A changed under it (its
    // sha%17==3 slice), abort those, and rebase — output is B's write
    // set with the conflict verdict and the post-rebase state (A's
    // n_chars bump preserved under B's lang rewrite)
    "q165_commit_conflict" -> ((s, d) => {
      val root = scratchDir("graft_txn")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val s0 = cat.createOrReplace("docs", docs)
      val h = pmod(Dedup.shaTokenHash60(col("doc_id").cast("string")),
        lit(17L))
      cat.merge(s, "docs", docs.filter(h === 3)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000L).as("n_chars")), "doc_id")
      val bKeys = docs.filter(h === 3 || h === 5).select(col("doc_id"))
      val verdict = graft.catalog.Cdc.conflictKeys(
        cat.readSnapshot(s, "docs", s0), cat.read(s, "docs"),
        "doc_id", Seq("lang", "n_chars"), bKeys)
      val rebased = cat.read(s, "docs")
        .join(bKeys, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), lit("xx").as("lang"), col("n_chars"))
      cat.merge(s, "docs", rebased, "doc_id")
      cat.read(s, "docs").join(verdict, "doc_id")
        .select(col("doc_id"), col("conflicted"), col("lang"),
          col("n_chars"))
    }),

    // watermark late-data quarantine ledger: 10-min tumbling windows,
    // 5-min allowed lateness, deterministic 0..19-min arrival jitter —
    // per window the on-time / late-accepted / dropped split a
    // withWatermark stream would produce at steady state
    "q166_late_quarantine" -> ((s, d) =>
      graft.streaming.Streaming.lateAccounting(T(s, d, "events"),
        "event_id", "ts", windowMin = 10, latenessMin = 5,
        maxJitterMin = 20)),

    // Molloy-Reed percolation profile: kappa = <k^2>/<k> (ppm) for the
    // full graph and after removing the top-1% hubs — the quantitative
    // robustness complement of q147's per-hub census
    "q167_robustness" -> ((s, d) =>
      graft.kernels.GraphStats.molloyReed(
        Edges.symmetrize(e2(s, d)), hubPct = 1)),

    // per-vertex neighbor-label Gini diversity (p_brand labels): the
    // heterophily feature a GNN sampler stratifies on; label dim
    // broadcast, counted-histogram two-phase agg
    "q168_nbr_diversity" -> ((s, d) =>
      graft.kernels.GraphStats.neighborLabelDiversity(
        Edges.symmetrize(e2(s, d)),
        broadcast(T(s, d, "part")
          .select(col("p_partkey").as("vid"), col("p_brand").as("label"))))),

    // bond-percolation profile: component structure under RANDOM edge
    // failure (sha-kept edges at 400/800 ppt) — the random-failure
    // complement of q167's targeted attack; two bounded CC runs (J4)
    "q169_percolation" -> ((s, d) => {
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
    }),

    // incremental degree-view maintenance: a deleted slice (sha%10==7)
    // and an inserted shifted slice (sha%10==3) applied to the
    // materialized view WITHOUT rescanning the base edges; oracle
    // recomputes from the modified edge set — additivity makes the two
    // provably identical
    "q170_ivm_degrees" -> ((s, d) => {
      val e = e2(s, d).localCheckpoint(eager = true)
      val hh = pmod(Dedup.shaTokenHash60(concat(col("src").cast("string"),
        lit(":"), col("dst").cast("string"))), lit(10L))
      val view = Edges.degrees(Edges.symmetrize(e))
      val deleted = e.filter(hh === 7)
      val inserted = e.filter(hh === 3)
        .select((col("src") + 100000L).as("src"),
          (col("dst") + 100000L).as("dst"))
      Edges.maintainDegrees(view, deleted, inserted)
    }),

    // compaction planning over a simulated file manifest (doc_id div 20
    // files, size = total chars): small files greedily packed into
    // ~15000-byte output groups — pure metadata planning, never the data
    "q171_compaction_plan" -> ((s, d) =>
      graft.catalog.Compaction.plan(
        T(s, d, "documents")
          .groupBy(expr("doc_id div 20L").as("file_id"))
          .agg(sum(col("n_chars")).as("size_bytes")),
        "file_id", "size_bytes",
        smallBytes = 6000L, targetBytes = 15000L)),

    // deterministic negative-edge sampling (link-prediction training
    // labels): 3 sha-derived candidates per vertex, rejected on
    // non-vertex / self / actual-edge — no RNG state anywhere
    "q172_neg_samples" -> ((s, d) =>
      graft.kernels.GraphStats.negativeSamples(
        Edges.symmetrize(e2(s, d)), k = 3)),

    // MinHash calibration ledger (sketch QA): per estimate-decile
    // absolute error of the q26 signature estimate vs exact shingle
    // Jaccard, exact side computed over CANDIDATE pairs only
    "q173_sketch_calibration" -> ((s, d) =>
      // maxBucket capped off: the oracle replays UNCAPPED banding (the
      // same configuration rule as q26); production callers keep the cap
      Dedup.minHashCalibration(T(s, d, "documents"), "doc_id", "text",
        k = 3, numHashes = 16, bands = 4, maxBucket = Int.MaxValue)),

    // weak supervision: seed-clamped label spreading over the q57
    // parity-ANN kNN graph — a sha-chosen 20% slice carries 4-way
    // labels, 2 argmax rounds spread them; -1 = never reached
    "q174_label_spread" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val pairs = Ann.lshTopKParity(emb, "vec_id", "embedding",
          k = 5, dim = 64, bands = 8, bitsPerBand = 8)
        .select(col("vec_id").as("src"), col("nn_id").as("dst"))
      val h = Dedup.shaTokenHash60(col("vec_id").cast("string"))
      val seeds = emb.filter(pmod(h, lit(5L)) === 0L)
        .select(col("vec_id").as("vid"),
          pmod(Dedup.shaTokenHash60(
            concat(lit("L:"), col("vec_id").cast("string"))), lit(4L))
            .as("label"))
      val lab = graft.kernels.LabelSpread.run(s, pairs, seeds, rounds = 2)
      emb.select(col("vec_id"))
        .join(lab.withColumnRenamed("vid", "vec_id"),
          Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          coalesce(col("label"), lit(-1L)).as("label"),
          coalesce(col("origin"), lit(-1L)).as("origin"))
    }),

    // rendezvous (highest-random-weight) shard placement of the vertex
    // set over 8 shards — consistent-hashing data placement with the
    // per-shard load histogram; argmax encoded as max(sha*8 + shard)
    // (60-bit sha, so the packed key stays in long range)
    "q175_rendezvous" -> ((s, d) => {
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
    }),

    // labeler-agreement harness: Cohen's kappa (integer ppm) between
    // the length rule (tokens >= 20, q149's gate) and the diversity
    // rule (gini >= 500000, q155's score) over documents
    "q176_kappa" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val div = graft.text.QualityRules
        .tokenDiversity(docs, "doc_id", "text")
        .select(col("doc_id"), col("gini_ppm"))
      val joined = docs.select(col("doc_id"),
          (TF.tokenCount(col("text")) >= 20L).cast("long").as("la"))
        .join(div, "doc_id")
        .select(col("la"), (col("gini_ppm") >= 500000L).cast("long").as("lb"))
      graft.text.QualityRules.agreementKappa(joined, col("la"), col("lb"))
    }),

    // curriculum export order: 8 diversity-score bins best-first,
    // sha-shuffled within each bin, global index via the two-phase rank
    // (no single-task window)
    "q177_curriculum" -> ((s, d) => {
      val score = graft.text.QualityRules
        .tokenDiversity(T(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("gini_ppm"))
      graft.text.TrainPrep.curriculumOrder(s, score, "doc_id",
        col("gini_ppm"), bins = 8)
    }),

    // inverted index build (search-side corpus artifact): per-(term,doc)
    // tf + sorted position list for terms with df >= 5 — one explode +
    // two aggs, the df gate keeps hapax noise out of the postings
    "q178_inverted_index" -> ((s, d) => {
      val toks = T(s, d, "documents")
        .select(col("doc_id"), posexplode(TF.tokens(col("text"))))
        .withColumnRenamed("pos", "p").withColumnRenamed("col", "term")
      val postings = toks.groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"),
          array_join(sort_array(collect_list(col("p")))
            .cast("array<string>"), ",").as("positions"))
      val df5 = postings.groupBy(col("term"))
        .agg(count(lit(1)).as("df")).filter(col("df") >= 5)
      postings.join(df5, "term")
        .select(col("term"), col("doc_id"), col("tf"), col("df"),
          col("positions"))
    }),

    // dedup-aware split-leakage audit: near-dup pairs (q26 config)
    // crossing the q48 train/val/test boundaries — the contamination
    // check a split must pass before training; output = per
    // (split_a, split_b) pair counts with the cross-split leak flag
    "q179_split_leakage" -> ((s, d) => {
      val pairs = Dedup.minHashLsh(T(s, d, "documents"), "doc_id", "text",
        k = 3, numHashes = 16, bands = 4, threshold = 0.7,
        maxBucket = Int.MaxValue, hashFn = Dedup.shaSeededHash60)
      val sp = T(s, d, "documents").select(col("doc_id"),
        graft.text.TrainPrep.hashSplit("doc_id", "s1").as("split"))
      pairs
        .join(sp.select(col("doc_id").as("d1"), col("split").as("sa")), "d1")
        .join(sp.select(col("doc_id").as("d2"), col("split").as("sb")), "d2")
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leak",
          (col("split_a") =!= col("split_b")).cast("int"))
    }),

    // shuffle-skew advisor over the derivation's join key (l_partkey):
    // the top-10 heaviest keys with corpus share and vs-average ratio —
    // the report that decides salting before the co-occurrence self-join
    "q180_skew_advisor" -> ((s, d) => {
      val cnt = T(s, d, "lineitem")
        .groupBy(col("l_partkey").as("key"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum(col("n")).as("total"),
        count(lit(1)).as("n_keys"))
      cnt.orderBy(col("n").desc, col("key")).limit(10)
        .crossJoin(broadcast(tot))
        .select(col("key"), col("n"),
          expr("n * 1000000L div total").as("share_ppm"),
          expr("n * n_keys * 1000000L div total").as("vs_avg_ppm"))
    }),

    // graph summarization: the WL-2 color classes as supernodes, edges
    // aggregated per canonical color pair — the structural summary a
    // graph-compression / visualization layer reads instead of |E| rows
    "q181_wl_summary" -> ((s, d) => {
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
    }),

    // per-source dataset card ("datasheets for datasets"): docs, token
    // volume, language spread, exact-dup rate, mean length — the
    // one-page corpus profile, every column a verified rule composed
    "q182_dataset_card" -> ((s, d) =>
      T(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TF.tokenCount(col("text"))).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(sha2(col("text"), 256)).as("n_unique"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_langs"),
          expr("(n_docs - n_unique) * 1000000L div n_docs").as("dup_ppm"),
          expr("n_chars div n_docs").as("mean_chars"))),

    // distributional OOD score: per-doc L1 ppm distance between the
    // doc's letter histogram and the corpus's — explode-free 26-counter
    // codegen, one corpus pass + a 1-row histogram broadcast
    "q183_char_ood" -> ((s, d) =>
      graft.text.QualityRules.charDistributionOod(
        T(s, d, "documents"), "doc_id", "text")),

    // optimizer-statistics QA: CMS inner-product estimate of the
    // l_partkey SELF-join size (the cooc derivation's pre-cap pair
    // count) vs the exact sum-of-squares — the cardinality statistic a
    // cost-based planner consults, with its measured overestimate
    "q184_cms_join_size" -> ((s, d) => {
      val keys = T(s, d, "lineitem")
        .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(eager = true)
      val sk = graft.text.Sketches.countMin(keys, "k", "cnt")
      val est = graft.text.Sketches.cmJoinSize(sk, sk)
      val exact = keys.agg(sum(col("cnt") * col("cnt")).as("exact_pairs"))
      exact.crossJoin(est)
        .select(col("exact_pairs"), col("join_size_est"),
          expr("(join_size_est - exact_pairs) * 1000000L div exact_pairs")
            .as("over_ppm"))
    }),

    // approximate-query-processing error report: per-lang mean doc
    // length, exact vs a 20% sha-sample estimate, |error| in ppm — the
    // calibration a dashboard needs before trusting sampled aggregates
    "q185_aqp_error" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val exact = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_exact"), sum(col("n_chars")).as("sc"))
        .select(col("lang"), col("n_exact"),
          expr("sc div n_exact").as("mean_exact"))
      val est = docs
        .filter(pmod(Dedup.shaTokenHash60(col("doc_id").cast("string")),
          lit(5L)) === 0L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sample"), sum(col("n_chars")).as("ss"))
        .select(col("lang"), col("n_sample"),
          expr("ss div n_sample").as("mean_est"))
      exact.join(est, Seq("lang"), "left_outer")
        .select(col("lang"), col("n_exact"), col("mean_exact"),
          coalesce(col("n_sample"), lit(0L)).as("n_sample"),
          coalesce(col("mean_est"), lit(-1L)).as("mean_est"),
          coalesce(expr("abs(mean_est - mean_exact) * 1000000L div mean_exact"),
            lit(-1L)).as("err_ppm"))
    }),

    // user-journey sequence mining: within-session event-type bigram
    // census (q53's 30-min session rule) — the transition table a
    // behavioral model trains on; per-user windows, bounded per key
    "q186_journey_bigrams" -> ((s, d) => {
      val gapUs = 30 * 60L * 1000000L
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      T(s, d, "events")
        .withColumn("tus", unix_micros(col("ts").cast("timestamp")))
        .withColumn("pus", lag(col("tus"), 1).over(ord))
        .withColumn("ns", when(col("pus").isNull ||
          col("tus") - col("pus") > gapUs, 1L).otherwise(0L))
        .withColumn("sess_no", sum(col("ns")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("nt", lead(col("event_type"), 1).over(ord))
        .withColumn("nsess", lead(col("sess_no"), 1).over(ord))
        .filter(col("nsess") === col("sess_no"))
        .groupBy(col("event_type").as("from_type"), col("nt").as("to_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // synchronous Louvain phase-1 local move (2 rounds), integer-exact
    // modularity gain, singleton init — the unsupervised counterpart of
    // q36's attribute-seeded community detection
    "q187_louvain_move" -> ((s, d) =>
      graft.kernels.Louvain.localMove(s, e2(s, d), rounds = 2)),

    // asymmetric containment near-dup (Broder): minhash-LSH candidates,
    // EXACT shingle containment |A∩B| div |A| in ppm, both orientations
    // >= 0.8 — the quote/subsumption pairs q26's resemblance misses
    "q188_containment" -> ((s, d) =>
      Dedup.containmentLsh(T(s, d, "documents"), "doc_id", "text",
        k = 3, numHashes = 16, bands = 4, thresholdPpm = 800000L,
        maxBucket = Int.MaxValue, hashFn = Dedup.shaSeededHash60)),

    // BM25 retrieval scoring (odds idf, integer micro-units) for a fixed
    // query-term set — the ranked scorer fed by q178's inverted index
    "q189_bm25" -> ((s, d) =>
      graft.text.TfIdf.bm25OddsMicro(T(s, d, "documents"), "doc_id",
        "text", Seq("spark", "join", "stream", "filter"))),

    // differential-privacy-style histogram release: per-(lang, source)
    // counts + bounded two-sided noise, clamp at 0, k=5 suppression. The
    // noise is a DETERMINISTIC sha-derived stand-in (no calibrated RNG in
    // this sandbox); the release shape — sensitivity-1 count, bounded
    // additive noise, small-count suppression — is the real pipeline
    "q190_dp_release" -> ((s, d) => {
      val noise = pmod(Dedup.shaTokenHash60(
        concat(lit("dp:"), col("lang"), lit(":"), col("source"))),
        lit(7L)) - lit(3L)
      T(s, d, "documents").groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("source"),
          greatest(lit(0L), col("n") + noise).as("released"))
        .filter(col("released") >= 5L)
    }),

    // weighted sampling without replacement (integer A-ES variant): key =
    // sha60("ws:"+id) div weight, monotone in weight (heavier docs draw
    // smaller keys), 20 smallest kept — distributed TakeOrdered, no
    // global sort; the deterministic weighted twin of q79/q130
    "q191_weighted_sample" -> ((s, d) =>
      T(s, d, "documents")
        .withColumn("sha_key", Dedup.shaTokenHash60(
          concat(lit("ws:"), col("doc_id").cast("string"))))
        .withColumn("k", expr("sha_key div greatest(n_chars, 1L)"))
        .orderBy(col("k"), col("doc_id")).limit(20)
        .select(col("doc_id"), col("n_chars"), col("k").as("sample_key"))),

    // robust per-language outliers: low-median + MAD, all integer — docs
    // with |n_chars − med| > 2·MAD. Low-median = element at position
    // (cnt+1) div 2 in value order (exact, no interpolation); the per-
    // lang window is fine because lang cardinality is tiny — at corpus
    // scale swap in percentile_approx
    "q192_mad_outliers" -> ((s, d) => {
      val docs = T(s, d, "documents")
      def lowMedian(in: DataFrame, v: String, out: String): DataFrame = {
        val w = Window.partitionBy(col("lang"))
          .orderBy(col(v), col("doc_id"))
        in.withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("cnt",
            count(lit(1)).over(Window.partitionBy(col("lang"))))
          .filter(col("rn") === expr("(cnt + 1L) div 2L"))
          .groupBy(col("lang")).agg(min(col(v)).as(out))
      }
      val med = lowMedian(docs, "n_chars", "med")
      val dev = docs.join(med, "lang")
        .withColumn("dev", abs(col("n_chars") - col("med")))
      dev.join(lowMedian(dev, "dev", "mad"), "lang")
        .filter(col("dev") > lit(2L) * col("mad"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("med"), col("mad"))
    }),

    // onion decomposition: the peel SCHEDULE of 3-core peeling, 4
    // synchronized rounds — layer i = peeled in round i, survivors get
    // layer 0 (the deep core); the periphery-to-center signal q110's
    // core number alone does not give
    "q193_onion" -> ((s, d) =>
      graft.kernels.KCore.onionLayers(s,
        Edges.symmetrize(e2(s, d)), k = 3, rounds = 4)),

    // exact bridge (cut-edge) probe over the 12 sha-smallest candidate
    // edges: one multi-source reachability keyed by candidate, removed
    // edge enforced via a broadcast — is this co-occurrence link the
    // ONLY path between its endpoints?
    "q194_bridges" -> ((s, d) => {
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
    }),

    // SimRank (2 iterations, C = 0.8, integer ppm, in-loop threshold
    // 10000 ppm): second-order structural similarity — two vertices
    // score high when their NEIGHBORS are similar, shared edge or not
    "q195_simrank" -> ((s, d) =>
      graft.kernels.SimRank.run(s, e2(s, d), cPpm = 800000L,
        iters = 2, minPpm = 10000L)),

    // Louvain phase 2: contract the 2-round q187 assignment into a
    // weighted super-graph (ca <= cb; ca = cb rows carry the
    // intra-community edge count) — the coarsened input the next
    // Louvain level runs on
    "q196_louvain_coarsen" -> ((s, d) => {
      val e = e2(s, d).localCheckpoint(eager = true)
      graft.kernels.Louvain.coarsen(e,
        graft.kernels.Louvain.localMove(s, e, rounds = 2))
    }),

    // articulation-point (cut-vertex) probe over the 8 sha-smallest
    // degree>=2 vertices: one candidate-keyed reachability seeded at
    // each candidate's min neighbor with the candidate itself excluded
    "q197_articulation" -> ((s, d) => {
      val e = e2(s, d).localCheckpoint(eager = true)
      val cand = Edges.degrees(Edges.symmetrize(e))
        .filter(col("degree") >= 2L)
        .withColumn("hh", Dedup.shaTokenHash60(
          concat(lit("ap:"), col("vid").cast("string"))))
        .orderBy(col("hh"), col("vid")).limit(8).select(col("vid"))
      graft.kernels.Bridges.articulationProbe(s, e, cand)
    }),

    // token-budget allocation across sources (integer water-filling,
    // budget = half the corpus chars): equal shares, short sources keep
    // what they have, the freed remainder splits among the unsatisfied
    "q198_token_budget" -> ((s, d) =>
      graft.text.TrainPrep.tokenBudget(T(s, d, "documents"), "source",
        col("n_chars"))),

    // per-doc n-gram novelty: ppm share of distinct 3-shingles whose
    // global first occurrence (min doc_id) is this doc — the
    // diffuse-overlap data-valuation signal pairwise dedup cannot see
    "q199_novelty" -> ((s, d) =>
      Dedup.noveltyPpm(T(s, d, "documents"), "doc_id", "text")),

    // bigram cross-entropy in whole bits: floor-log2 surprisal via
    // binary-string length (libm-free) — the log-scale companion of
    // q102's linear ppm fluency score
    "q200_surprisal_bits" -> ((s, d) =>
      graft.text.QualityRules.bigramSurprisalBits(
        T(s, d, "documents"), "doc_id", "text")),

    // event burst detection: hourly (event_type, hour) counts vs the
    // trailing 3-hour sum; burst when the hour doubles its trailing
    // average (3·n > 2·sum3h) — per-type RANGE windows over a tiny
    // (type, hour) key space
    "q201_burst" -> ((s, d) => {
      val c = T(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_timestamp(ts) div 3600").as("h"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rangeBetween(-3, -1)
      c.withColumn("trail_n", sum(col("n")).over(w))
        .filter(col("trail_n").isNotNull &&
          col("n") * lit(3L) > col("trail_n") * lit(2L))
        .select(col("event_type"), col("h"), col("n"), col("trail_n"))
    }),

    // SCAN structural clustering (KDD'07): density-connected clusters
    // plus the hub/outlier roles plain community detection cannot
    // express — ε = 0.4 (cross-multiplied as ε²·10⁶ = 160000), μ = 4;
    // the heavy step reuses the degree-oriented triangle plan
    "q202_scan" -> ((s, d) =>
      graft.kernels.Scan.run(s, e2(s, d), epsSqPpm = 160000L, mu = 4)),

    // per-component bipartite (odd-cycle) verdict: one parity-BFS
    // frontier for ALL components at once, rooted at each hash-min
    // component id
    "q203_bipartite" -> ((s, d) =>
      graft.kernels.Bipartite.run(s, e2(s, d))),

    // DegreeDiscountIC influence maximization (KDD'09): 8 cascade seeds
    // at p = 0.1, each round one broadcast-filtered aggregation + one
    // distributed argmax — the no-simulation spread heuristic
    "q204_influence" -> ((s, d) =>
      graft.kernels.Influence.degreeDiscount(s, e2(s, d),
        k = 8, pPpm = 100000L)),

    // decision-stump training (depth-1 CART, exact integer Gini):
    // distill the stopword-density rule the_cnt/n_tokens >= 5% into the
    // best single-feature gate — the quality-classifier root trained
    // closed-form inside the engine (a batch perceptron at these
    // magnitudes provably oscillates; see DecisionStump)
    "q205_stump" -> ((s, d) => {
      val t = TF.tokens(col("text"))
      // size - size(array_remove) == size(filter(= "the")) (split yields
      // no nulls), but stays codegen'd: the filter() higher-order
      // function is CodegenFallback and its per-element interpreted
      // lambda dominated the label projection (guide #4)
      val theCnt = (size(t) - size(array_remove(t, "the"))).cast("long")
      val ft = T(s, d, "documents").select(
        (theCnt * 20L >= TF.tokenCount(col("text"))).cast("long").as("y"),
        TF.tokenCount(col("text")).as("f_ntok"),
        expr("n_chars").as("f_nchars"),
        theCnt.as("f_the"))
        .withColumn("f_meanlen", expr("f_nchars div f_ntok"))
      graft.text.DecisionStump.train(ft,
        Seq("f_ntok", "f_meanlen", "f_the", "f_nchars"))
    }),

    // source-pair phrasing overlap: word-bigram vocabulary Jaccard in
    // ppm — which sources duplicate each other's phrasing (the corpus-
    // design dual of q179's doc-level split leakage)
    "q206_source_overlap" -> ((s, d) => {
      val bg = T(s, d, "documents").select(col("source"),
        explode(TF.wordNgrams(col("text"), 2)).as("b")).distinct()
      val n = bg.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      bg.as("a").join(bg.as("b"),
          col("a.b") === col("b.b") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
        .agg(count(lit(1)).as("inter"))
        .join(n.select(col("source").as("sa"), col("nv").as("na")), "sa")
        .join(n.select(col("source").as("sb"), col("nv").as("nb")), "sb")
        .select(col("sa"), col("sb"), col("inter"),
          expr("inter * 1000000L div (na + nb - inter)").as("jaccard_ppm"))
    }),

    // hashing-trick features (Weinberger ICML'09): tokens sha-hashed
    // into 64 buckets, per-doc top-4 by count — the fixed-width sparse
    // representation in-engine classifiers (q205) consume at any
    // vocabulary size
    "q207_feature_hash" -> ((s, d) => {
      val hb = T(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
        .withColumn("bucket", Dedup.shaTokenHash60(col("tok")) % 64L)
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("cnt").desc, col("bucket"))
      hb.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 4L)
    }),

    // Gopher structural gates (Rae et al. 2021 §A1.1): word count,
    // cross-multiplied mean word length, stop-word presence, max-token
    // share — four integer predicates + the composite pass
    "q208_gopher" -> ((s, d) =>
      graft.text.QualityRules.gopherGates(
        T(s, d, "documents"), "doc_id", "text")),

    // hard-negative mining over the q57 parity-LSH candidates: per
    // labeled vector the best other-label candidate (the triplet-loss
    // negative) vs the best same-label one, with the margin that flags
    // boundary examples worth oversampling
    "q209_hard_negatives" -> ((s, d) =>
      Ann.hardNegatives(T(s, d, "embeddings"), "vec_id", "embedding",
        "label", dim = 64, bands = 8, bitsPerBand = 8)),

    // directed dyad/triad census over the sha-directed derivation:
    // reciprocity (mutual vs asymmetric dyads) and feed-forward vs
    // feedback closed triads — the hierarchy-vs-circularity profile of
    // the linking structure
    "q210_triads" -> ((s, d) =>
      graft.kernels.Triads.census(graft.kernels.Scc.shaDirect(e2(s, d)))),

    // multinomial Naive Bayes distilled from the stopword-density rule
    // (the q205 label), trained and self-evaluated in two shuffles:
    // integer floor-log2 count-ratio weights, confusion matrix out
    "q211_nb" -> ((s, d) => {
      val t = TF.tokens(col("text"))
      // size - size(array_remove) == size(filter(= "the")) (split yields
      // no nulls), but stays codegen'd: the filter() higher-order
      // function is CodegenFallback and its per-element interpreted
      // lambda dominated the label projection (guide #4)
      val theCnt = (size(t) - size(array_remove(t, "the"))).cast("long")
      graft.text.NaiveBayes.confusion(T(s, d, "documents"), "doc_id",
        "text", (theCnt * 20L >= TF.tokenCount(col("text"))).cast("long"))
    }),

    // Johnson-Lindenstrauss sign-projection calibration: 64 -> 16 dims
    // with sha-derived +-1 planes, per-pair squared-distance distortion
    // in ppm over the 40 sha-smallest vectors
    "q212_jl_parity" -> ((s, d) =>
      Ann.jlDistortion(T(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, outDim = 16, sampleN = 40)),

    // configuration-model degree-class mixing: observed edges between
    // log2-degree classes vs the S_a*S_b/2m null — q73's assortativity
    // scalar resolved per class pair
    "q213_degree_mixing" -> ((s, d) =>
      graft.kernels.GraphStats.degreeMixing(e2(s, d))),

    // synchronous integer forward-push PPR from the sha-min seed: 3
    // rounds, mass in 1e-12 units — the local-cluster primitive whose
    // cost tracks the seed's neighborhood, not the graph
    "q214_ppr_push" -> ((s, d) => {
      val e = e2(s, d).localCheckpoint(eager = true)
      val seed = Edges.degrees(Edges.symmetrize(e))
        .withColumn("hh", Dedup.shaTokenHash60(
          concat(lit("fp:"), col("vid").cast("string"))))
        .orderBy(col("hh"), col("vid")).limit(1)
        .head().getLong(0)
      graft.kernels.ForwardPush.run(s, e, seed)
    }),

    // per-label centroid separability: signed squared cosine (ppm)
    // between milli-unit integer class centroids — the corpus-level
    // roll-up of the q133/q209 label-geometry signals
    "q215_label_centroids" -> ((s, d) =>
      Ann.labelCentroidSep(T(s, d, "embeddings"), "vec_id", "embedding",
        "label")),

    // corpus-level TextRank keywords: adjacent-token graph (count-pruned),
    // 3 integer weighted-PageRank rounds in ppm, top 20
    "q216_textrank" -> ((s, d) =>
      graft.text.TextRank.keywords(T(s, d, "documents"), "doc_id", "text")),

    // T5-style span corruption: sha-selected 3-token spans masked to "_",
    // (corrupted, target) seq2seq pairs as a pure function of the corpus
    "q217_span_corrupt" -> ((s, d) =>
      graft.text.SpanCorrupt.pairs(T(s, d, "documents"), "doc_id", "text")),

    // maximal-marginal-relevance re-rank: sha-min query vector, top-32
    // integer-dot pool, greedy diversified top-8 at lambda 0.7
    "q218_mmr" -> ((s, d) =>
      Ann.mmrSelect(T(s, d, "embeddings"), "vec_id", "embedding")),

    // blocked edit-distance near-dup join: shared 8-char prefix block +
    // length +-3, levenshtein over 48-char prefixes <= 3
    "q219_typo_pairs" -> ((s, d) =>
      Dedup.typoPairs(T(s, d, "documents"), "doc_id", "text")),

    // reciprocal-rank fusion of the q189 BM25 ranking with the raw
    // term-frequency ranking for the same query, rrf k = 60, top 20
    "q220_rrf" -> ((s, d) =>
      graft.text.TfIdf.rrfFusion(T(s, d, "documents"), "doc_id", "text",
        Seq("spark", "join", "stream", "filter"))),

    // interpolated Kneser-Ney bigram probabilities in integer milli:
    // top-20 left contexts, top-3 continuations each — the
    // continuation-count smoothing q102/q200 lack
    "q221_kn_bigram" -> ((s, d) =>
      graft.text.QualityRules.knBigram(T(s, d, "documents"), "doc_id",
        "text")),

    // association-strength normalization of the co-occurrence graph
    // (van Eck & Waltman JASIST'09): as_ppm = w*T*1e6 div (f_u*f_v) —
    // the probabilistic normalization that deflates hub-hub edges raw
    // weight ranking inflates; top 50
    "q222_assoc_strength" -> ((s, d) => {
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
    }),

    // expected hitting time to the top-5-degree hub set: 4 integer-milli
    // Jacobi sweeps of h = 1 + mean(nbr h), the absorbing-walk proximity
    // feature (PPR's dual — steps TO the trusted set, not mass FROM it)
    "q223_hitting_time" -> ((s, d) =>
      graft.kernels.HittingTime.run(e2(s, d))),

    // degree-distribution power-law fit: integer least-squares slope of
    // the floor-log2 log-log histogram (the salting-threshold profiler)
    "q224_powerlaw_fit" -> ((s, d) =>
      graft.kernels.GraphStats.powerLawFit(e2(s, d))),

    // tokenizer fertility per predicted language: BPE-ish sub-tokens per
    // whitespace word, floor ppm, one 4-group aggregation
    "q225_fertility" -> ((s, d) =>
      graft.text.QualityRules.tokenizerFertility(T(s, d, "documents"),
        "text")),

    // train/val unigram drift after the sha split: top-12 tokens by ppm
    // gap + the global total-variation distance on every row
    "q226_split_drift" -> ((s, d) =>
      graft.text.TrainPrep.splitDrift(T(s, d, "documents"), "doc_id",
        "text")),

    // degenerate-generation detector: longest consecutive repeated-token
    // run per document (runs >= 3), islands trick on the doc key
    "q227_token_runs" -> ((s, d) =>
      graft.text.QualityRules.maxTokenRun(T(s, d, "documents"), "doc_id",
        "text")),

    // weighted (Ruzicka) Jaccard between weighted neighborhoods on the
    // thresholded co-occurrence graph — top-30 merge-candidate pairs
    "q228_wjaccard" -> ((s, d) =>
      graft.kernels.LinkPredict.weightedJaccard(
        cooc(s, d).filter(col("weight") >= 2))),

    // gains/lift ledger of the q211 NB classifier: per-score-band counts,
    // precision and cumulative positive capture — the threshold-picking
    // view (window runs over the tiny score histogram, never over docs)
    "q229_nb_gains" -> ((s, d) => {
      val t = TF.tokens(col("text"))
      // size - size(array_remove) == size(filter(= "the")) (split yields
      // no nulls), but stays codegen'd: the filter() higher-order
      // function is CodegenFallback and its per-element interpreted
      // lambda dominated the label projection (guide #4)
      val theCnt = (size(t) - size(array_remove(t, "the"))).cast("long")
      graft.text.NaiveBayes.gains(T(s, d, "documents"), "doc_id",
        "text", (theCnt * 20L >= TF.tokenCount(col("text"))).cast("long"))
    }),

    // TextTiling-style block cohesion: Jaccard ppm between adjacent
    // 20-token blocks, boundary flag under 10% — the long-doc chunker
    "q230_block_cohesion" -> ((s, d) =>
      graft.text.QualityRules.blockCohesion(T(s, d, "documents"),
        "doc_id", "text")),

    // semi-structured extraction: JSON field pulled out of the event
    // props payload, aggregated per event type (platform JSON path op)
    "q231_props_extract" -> ((s, d) =>
      T(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .select(col("event_type"), col("n"), col("sum_k"),
          expr("sum_k * 1000L div n").as("avg_k_milli"))),

    // top-50 rank agreement between plain-degree and weighted-degree
    // (strength) hub rankings: overlap + truncated Spearman footrule
    "q232_rank_stability" -> ((s, d) => {
      val c = cooc(s, d).localCheckpoint(eager = true)
      val dg = Edges.degrees(Edges.symmetrize(c.select(col("src"),
          col("dst"))))
        .select(col("vid"), col("degree").as("score"))
      val st = c.select(col("src").as("vid"), col("weight"))
        .unionAll(c.select(col("dst"), col("weight")))
        .groupBy(col("vid")).agg(sum(col("weight")).as("score"))
      graft.kernels.GraphStats.rankAgreement(dg, st)
    }),

    // exact-dedup savings ledger: duplicate-cluster size histogram with
    // copies and characters removed by keeping one doc per content hash
    "q233_dedup_stats" -> ((s, d) =>
      Dedup.dedupSavings(T(s, d, "documents"), "text")),

    // Iceberg-style branch (WAP): stage the odd-length docs on branch
    // "exp"; default read stays pinned to main, the branch sees the union
    "q234_catalog_branch" -> ((s, d) => {
      val root = scratchDir("graft-branch")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents").select(col("doc_id"), col("n_chars"))
      cat.createOrReplace("corpus", docs.filter(col("n_chars") % 2 === 0))
      cat.branch("corpus", "exp")
      cat.appendTo("corpus", "exp", docs.filter(col("n_chars") % 2 =!= 0))
      def ledger(df: DataFrame, ref: String) =
        df.agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
          .select(lit(ref).as("ref"), col("n_rows"), col("sum_chars"))
      ledger(cat.read(s, "corpus"), "main")
        .unionAll(ledger(cat.readRef(s, "corpus", "exp"), "exp"))
    }),

    // packing-efficiency audit over the q47 layout: spanners, spilled
    // tokens, fill ppm — one scalar row
    "q235_pack_audit" -> ((s, d) =>
      graft.text.TrainPrep.packAudit(
        graft.text.TrainPrep.sequentialPack(s, T(s, d, "documents"),
          "doc_id", TF.tokenCount(col("text")), capacity = 512), 512)),

    // cross-key interval-overlap self-join via time binning — the band
    // join Spark lacks natively; each pair counted once in the bin of
    // the later start, no dedup shuffle
    "q236_interval_join" -> ((s, d) =>
      graft.streaming.Streaming.intervalOverlap(T(s, d, "events"), 512)),

    // NB reliability ledger: implied 2^|s|/(2^|s|+1) confidence vs
    // empirical band accuracy + expected calibration error, integer ppm
    "q237_nb_calibration" -> ((s, d) => {
      val t = TF.tokens(col("text"))
      // size - size(array_remove) == size(filter(= "the")) (split yields
      // no nulls), but stays codegen'd: the filter() higher-order
      // function is CodegenFallback and its per-element interpreted
      // lambda dominated the label projection (guide #4)
      val theCnt = (size(t) - size(array_remove(t, "the"))).cast("long")
      graft.text.NaiveBayes.calibration(T(s, d, "documents"), "doc_id",
        "text", (theCnt * 20L >= TF.tokenCount(col("text"))).cast("long"))
    }),

    // exact Lorenz deciles + Gini of doc-length concentration — value-
    // histogram ranks, no per-row global sort
    "q238_lorenz" -> ((s, d) =>
      graft.text.TrainPrep.lorenzDeciles(T(s, d, "documents"), "n_chars")),

    // Heaps'-law vocabulary growth per 64-doc block — word-trigram
    // first-occurrence agg + a ledger-sized cumulative window
    "q239_heaps" -> ((s, d) =>
      graft.text.TrainPrep.heapsLedger(T(s, d, "documents"), "doc_id",
        "text", n = 3, bucket = 64)),

    // gap-based throttle (debounce) ledger — kept iff > 60 s after the
    // key's previous event; one-long-per-key state in the stream twin
    "q240_throttle" -> ((s, d) =>
      graft.streaming.Streaming.throttleBatch(T(s, d, "events"), 60L)),

    // structural dedup of connected components: canonical degree-
    // histogram sha per component, grouped into shape classes
    "q241_component_fp" -> ((s, d) =>
      graft.kernels.GraphStats.componentFingerprints(s, e2(s, d))),

    // k-anonymity audit over (lang, source, length-bucket) quasi-
    // identifiers: groups under k=3 + corpus risk share
    "q242_kanon" -> ((s, d) =>
      graft.text.QualityRules.kAnonymityRisk(
        T(s, d, "documents").select(col("lang"), col("source"),
          expr("n_chars div 100L").as("len_bucket")),
        Seq("lang", "source", "len_bucket"), k = 3L)),

    // exact midrank-tie AUC of the common-neighbor link predictor
    // against the weight-1 pairs the >= 2 threshold dropped
    "q243_linkpred_auc" -> ((s, d) => {
      // ONE co-occurrence derivation serves the thresholded graph and
      // the weighted table (e2 is its weight>=2 filter)
      val cw = cooc(s, d).localCheckpoint(eager = true)
      graft.kernels.LinkPredict.linkAuc(
        cw.filter(col("weight") >= 2).select(col("src"), col("dst")), cw)
    }),

    // robust winnowing (MOSS) fingerprint selection: rightmost window
    // minimum over sha-seeded positional 5-gram hashes, w=4
    "q244_winnow" -> ((s, d) =>
      Dedup.winnow(T(s, d, "documents"), "doc_id", "text", k = 5, w = 4)
        .withColumnRenamed("id", "doc_id")),

    // per-32-token-segment language id: mixing ledger per document
    "q245_code_switch" -> ((s, d) =>
      graft.text.QualityRules.codeSwitch(T(s, d, "documents"), "doc_id",
          "text", seg = 32)
        .withColumnRenamed("id", "doc_id")),

    // retention triangle: first-active-day cohorts x day offset
    "q246_retention" -> ((s, d) =>
      graft.operators.Cohorts.retention(T(s, d, "events"), "user_id",
        "ts")),

    // first-view -> first-later-purchase latency histogram (hours) +
    // exact median bucket from the cumulative ledger
    "q247_convert_latency" -> ((s, d) =>
      graft.operators.Cohorts.convertLatency(T(s, d, "events"),
        "user_id", "event_type", "ts", "view", "purchase")),

    // RFM tercile segmentation census, 27 cells max
    "q248_rfm" -> ((s, d) =>
      graft.operators.Cohorts.rfm(T(s, d, "events"), "user_id", "ts",
        "value")),

    // C4/LDNOOBW-style wordlist gate: per-doc hit ppm + keep decision
    "q249_blocklist" -> ((s, d) =>
      graft.text.QualityRules.blocklistGate(T(s, d, "documents"),
        "doc_id", "text", Seq("error", "slow", "fail"),
        thresholdPpm = 50000L)),

    // NDCG@10 + MRR of the q189 BM25 ranking, relevance = matched
    // query terms; integer micro discounts shared with the oracle
    "q250_ndcg" -> ((s, d) =>
      graft.text.TfIdf.ndcgAtK(
        graft.text.TfIdf.bm25OddsMicro(T(s, d, "documents"), "doc_id",
          "text", Seq("spark", "join", "stream", "filter")),
        "doc_id", "n_terms_matched", "score_micro", k = 10)),

    // false-twin (identical-neighborhood) classes + quotient ratio
    "q251_structural_equiv" -> ((s, d) =>
      graft.kernels.GraphStats.structuralEquivalence(e2(s, d))),

    // same-brand edge share vs degree-preserving random expectation
    "q252_homophily" -> ((s, d) =>
      graft.kernels.GraphStats.labelHomophily(e2(s, d),
        T(s, d, "part").select(col("p_partkey").as("vid"),
          col("p_brand").as("label")))),

    // 2-approx minimum vertex cover (Gavril): endpoints of the q119
    // maximal matching (3-round replayable prefix), each with its sym
    // degree — the "monitoring set" / cut-coverage primitive; |cover| <=
    // 2 OPT and |matching| <= OPT bound it from both sides
    "q253_vertex_cover" -> ((s, d) => {
      // materialized once: consumed by the cover rounds AND the degree join
      val e = e2(s, d).localCheckpoint(eager = true)
      graft.kernels.Matching.vertexCover(s, e, maxRounds = 3)
        .join(Edges.degrees(Edges.symmetrize(e)), "vid")
    }),

    // leave-one-source-out NB data valuation: per held-out source, the
    // confusion matrix of the classifier retrained WITHOUT that source
    // (additive sufficient statistics — one extra aggregation, no
    // retraining pass), evaluated on the surviving docs; same label
    // rule and integer bit arithmetic as q211
    "q254_loo_source_value" -> ((s, d) => {
      val t = TF.tokens(col("text"))
      // size - size(array_remove) == size(filter(= "the")) (split yields
      // no nulls), but stays codegen'd: the filter() higher-order
      // function is CodegenFallback and its per-element interpreted
      // lambda dominated the label projection (guide #4)
      val theCnt = (size(t) - size(array_remove(t, "the"))).cast("long")
      graft.text.NaiveBayes.looSourceValue(T(s, d, "documents"), "doc_id",
        "text", "source",
        (theCnt * 20L >= TF.tokenCount(col("text"))).cast("long"))
    }),

    // l-diversity audit (attribute disclosure, the q242 companion):
    // (lang, 25-char length bucket) groups whose docs span < 3 distinct
    // sources leak their source to anyone who locates the group (the
    // fine bucket keeps the audit non-vacuous at every sf)
    "q255_ldiversity" -> ((s, d) =>
      graft.text.QualityRules.lDiversityRisk(
        T(s, d, "documents").select(col("lang"),
          expr("n_chars div 25L").as("len_bucket"), col("source")),
        Seq("lang", "len_bucket"), "source", l = 3L)),

    // EWMA level anomaly over densified hourly event counts (α = 1/4,
    // integer micro-units) — the long-memory detector beside q201's
    // 3-hour window burst rule; per-type bounded array fold, the
    // recurrence replayed by a recursive CTE
    "q256_ewma_anomaly" -> ((s, d) =>
      graft.streaming.Streaming.ewmaAnomaly(T(s, d, "events"))),

    // effective diameter (90th-percentile reach distance, the standard
    // large-graph distance summary — Boldi–Vigna's metric) measured
    // EXACTLY on a sha-sampled 2% seed set (Eppstein–Wang sampling),
    // 6-hop horizon: the per-hop neighborhood-function ledger with the
    // integer 10·cum ≥ 9·total rule; one multi-seed BFS (q118's
    // machinery), the cumulative window runs over ≤ 7 hop rows
    "q257_eff_diameter" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
      val seeds = sym.select(col("src").as("vid")).distinct()
        .filter(pmod(Dedup.shaTokenHash60(col("vid").cast("string")),
          lit(1000L)) < 20)
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
    })
  )

  /** Quadratic-by-design exactness baselines, retired from the BENCH path
    * (VERDICT r4 #7): each is the all-pairs ground-truth twin of a benched
    * bucketed scale path (q23/q28 → q57/q58 parity ANN + q29/q40 fast
    * paths; q33 → q125 SemDeDup / q26 LSH). Verify still runs and
    * hash-checks all three every round — they are correctness evidence,
    * wrong thing to time, exactly like the recall baselines behind
    * [[recallGate]]. Bench skips them and records the count. */
  val benchGated: Set[String] =
    Set("q23_ann_top1", "q28_ann_topk", "q33_embed_neardup")

  /** Recall gate for the approximate-operator queries: when set, q29/q40
    * additionally evaluate their exact quadratic baseline to report
    * measured recall (honest evidence, wrong thing to time — VERDICT r2
    * #2). Verify turns it on (`graft.recall=1`); Bench leaves it off so
    * the recorded numbers measure the scale paths. */
  private def recallGate: Option[Unit] =
    if (sys.props.get("graft.recall").orElse(sys.env.get("SPARK_GRAFT_RECALL"))
        .contains("1")) Some(()) else None

  def oracleSql: Map[String, String] = Map(
    "q01_cooccur_edges" ->
      s"""WITH $CTE SELECT src, dst, weight FROM cooc""",
    "q02_degrees" ->
      s"""WITH $CTE SELECT vid, degree FROM deg""",
    "q03_seed_filter" ->
      s"""WITH $CTE SELECT vid, degree FROM deg WHERE degree > 1""",
    "q04_orient_bydeg" ->
      s"""WITH $CTE
         |SELECT CASE WHEN x.degree < y.degree OR (x.degree = y.degree AND e.s < e.d) THEN e.s ELSE e.d END AS src,
         |       CASE WHEN x.degree < y.degree OR (x.degree = y.degree AND e.s < e.d) THEN e.d ELSE e.s END AS dst
         |FROM e JOIN deg x ON e.s = x.vid JOIN deg y ON e.d = y.vid""".stripMargin,
    "q05_adj" ->
      s"""WITH $CTE SELECT s AS src, array_to_string(list(d ORDER BY d), ',') AS adj FROM sym GROUP BY 1""",
    "q06_tc_total" ->
      s"""WITH $CTE
         |SELECT count(*) AS triangles
         |FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d""".stripMargin,
    "q07_tc_pervertex" ->
      s"""WITH $CTE,
         |tri AS (SELECT a.s AS x, a.d AS y, b.d AS z
         |        FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
         |corners AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |SELECT v AS vid, count(*) AS tc FROM corners GROUP BY 1""".stripMargin,
    "q08_cc" ->
      s"""WITH RECURSIVE $CTE,
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM deg
         |  UNION
         |  SELECT s.d, r.lbl FROM reach r JOIN sym s ON r.vid = s.s
         |)
         |SELECT vid, min(lbl) AS component FROM reach GROUP BY vid""".stripMargin,
    "q09_cc_sizes" ->
      s"""WITH RECURSIVE $CTE,
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM deg
         |  UNION
         |  SELECT s.d, r.lbl FROM reach r JOIN sym s ON r.vid = s.s
         |),
         |cc AS (SELECT vid, min(lbl) AS component FROM reach GROUP BY vid)
         |SELECT component, count(*) AS n FROM cc GROUP BY 1""".stripMargin,
    "q10_pagerank" ->
      s"""WITH RECURSIVE $CTE, $FULL,
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
         |SELECT vid, round(rank, 8) AS rank FROM pr WHERE iter = 10""".stripMargin,
    "q11_lp" ->
      s"""WITH RECURSIVE $CTE,
         |lp(iter, vid, lbl) AS (
         |  SELECT 0, vid, vid FROM deg
         |  UNION ALL
         |  SELECT iter + 1, vid, arg_min(nlbl, cnt * (-1000000000) + nlbl) FROM (
         |    SELECT l.iter AS iter, s.d AS vid, l.lbl AS nlbl, count(*) AS cnt
         |    FROM lp l JOIN sym s ON l.vid = s.s
         |    WHERE l.iter < 5
         |    GROUP BY 1, 2, 3
         |  ) GROUP BY 1, 2
         |)
         |SELECT vid, lbl AS label FROM lp WHERE iter = 5""".stripMargin,
    "q12_argmax_degree" ->
      s"""WITH $CTE
         |SELECT max(degree) AS max_degree, count(*) AS n_at_max, min(vid) AS min_vid
         |FROM deg WHERE degree = (SELECT max(degree) FROM deg)""".stripMargin,
    "q13_topk_nbrs" ->
      s"""WITH $CTE,
         |w AS (SELECT src AS s, dst AS d, weight FROM cooc
         |      UNION ALL SELECT dst, src, weight FROM cooc),
         |r AS (SELECT s, d, weight,
         |             row_number() OVER (PARTITION BY s ORDER BY weight DESC, d) AS rn
         |      FROM w)
         |SELECT s AS src, d AS dst, weight FROM r WHERE rn <= 3""".stripMargin,
    "q14_pattern_brand" ->
      s"""WITH $CTE
         |SELECT x.p_brand AS brand_a, y.p_brand AS brand_c, count(*) AS pairs
         |FROM cooc JOIN part x ON cooc.src = x.p_partkey
         |          JOIN part y ON cooc.dst = y.p_partkey
         |GROUP BY 1, 2""".stripMargin,
    "q15_sha_invariant" ->
      "SELECT doc_id, sha256(text) AS sha FROM documents",
    "q16_dedup_exact" ->
      """SELECT sha256(text) AS text_sha, count(*) AS n_docs, min(doc_id) AS keeper
        |FROM documents GROUP BY 1""".stripMargin,
    // identical sha slice as the Spark side: ~1/4 of docs, exact on the slice
    "q17_ngram_jaccard" ->
      """WITH docs AS (SELECT doc_id, text FROM documents
        |  WHERE CAST(('0x' || substr(sha256('q17:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 4 = 0),
        |pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i FROM docs),
        |sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g FROM pos),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 6) AS jaccard
        |FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
        |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.65""".stripMargin,
    "q18_tokens" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |FROM documents""".stripMargin,
    "q19_quality" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        | round(CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |       / len(regexp_split_to_array(trim(text), '\s+')), 6) AS avg_token_len,
        | round(CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |       x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
        |       / len(regexp_split_to_array(trim(text), '\s+')), 6) AS stopword_ratio,
        | round(CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS DOUBLE)
        |       / length(text), 6) AS alpha_ratio
        |FROM documents""".stripMargin,
    "q20_langid" ->
      """SELECT doc_id,
        | CASE WHEN e >= d AND e >= f AND e > 0 THEN 'en'
        |      WHEN d >= f AND d > 0 THEN 'de'
        |      WHEN f > 0 THEN 'fr'
        |      ELSE 'und' END AS lang_pred
        |FROM (SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','it'))) AS e,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('der','die','das','und','ist','nicht'))) AS d,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('le','la','les','et','est','que'))) AS f
        |FROM documents)""".stripMargin,
    "q21_fingerprint" ->
      """SELECT doc_id, sha256(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |FROM documents""".stripMargin,
    "q22_embed_norm" ->
      """SELECT vec_id,
        | round(sqrt(list_sum(list_transform(embedding,
        |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2
        |FROM embeddings""".stripMargin,
    "q23_ann_top1" ->
      """WITH p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb, b.label AS lb,
        |         list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |                          list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS dot
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        |r AS (SELECT va, vb, lb,
        |             row_number() OVER (PARTITION BY va ORDER BY dot DESC, vb) AS rn
        |      FROM p)
        |SELECT va AS vec_id, vb AS nn_id, lb AS nn_label FROM r WHERE rn = 1""".stripMargin,
    "q24_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q25_mm_decode" ->
      """SELECT doc_id,
        | 16 + octet_length(encode(text)) % 48 AS width,
        | 16 + (CAST(ascii(substr(text, 1, 1)) AS BIGINT) + octet_length(encode(text))) % 48 AS height,
        | CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte
        |FROM documents""".stripMargin,
    "q30_pattern_path3" ->
      s"""WITH $CTE,
         |lab AS (SELECT p_partkey AS vid, p_brand AS label FROM part)
         |SELECT count(*) AS matches
         |FROM lab a
         |JOIN sym e1 ON e1.s = a.vid
         |JOIN lab b ON e1.d = b.vid
         |JOIN sym e2 ON e2.s = b.vid
         |JOIN lab c ON e2.d = c.vid
         |WHERE a.label = 'Brand#1' AND b.label = 'Brand#2'
         |  AND c.label = 'Brand#3' AND a.vid <> c.vid""".stripMargin,
    "q35_pattern_tree" ->
      s"""WITH $CTE,
         |lab AS (SELECT p_partkey AS vid, p_brand AS label FROM part)
         |SELECT count(*) AS matches
         |FROM lab a
         |JOIN sym e1 ON e1.s = a.vid JOIN lab b ON e1.d = b.vid
         |JOIN sym e2 ON e2.s = a.vid JOIN lab c ON e2.d = c.vid
         |JOIN sym e3 ON e3.s = b.vid JOIN lab d ON e3.d = d.vid
         |WHERE a.label = 'Brand#1' AND b.label = 'Brand#2'
         |  AND c.label = 'Brand#3' AND d.label = 'Brand#4'
         |  AND b.vid <> c.vid AND a.vid <> d.vid AND c.vid <> d.vid""".stripMargin,
    "q33_embed_neardup" ->
      """WITH p AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2,
        |    list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |                     list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |    AS cosine
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT d1, d2, round(cosine, 6) AS cosine FROM p
        |WHERE cosine >= 0.35""".stripMargin,
    "q34_tokens_bpe" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
        |   AS n_bpe_tokens
        |FROM documents""".stripMargin,
    // oracle-parity MinHash-LSH: identical seeded-sha signatures (min of
    // sha256("j:" || shingle) top-60-bits per permutation j), band keys
    // compared RELATIONALLY (list equality per band of 4), distinct
    // colliding pairs, est = equal components / 16 — the exact relational
    // replay of Dedup.minHashLsh(hashFn = shaSeededHash60, cap off)
    "q26_minhash_lsh" ->
      """WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
        |             FROM documents),
        |sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g FROM pos),
        |hx AS (SELECT doc_id, j,
        |              min(CAST(('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' || g), 1, 15)) AS BIGINT)) AS m
        |       FROM sh, (SELECT unnest(range(16)) AS j) GROUP BY 1, 2),
        |bnd AS (SELECT doc_id, CAST(j // 4 AS INT) AS band, list(m ORDER BY j) AS key
        |        FROM hx GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM bnd a JOIN bnd b
        |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |eq AS (SELECT c.d1, c.d2,
        |              sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) / 16.0 AS est
        |       FROM cand c JOIN hx x ON x.doc_id = c.d1
        |                   JOIN hx y ON y.doc_id = c.d2 AND x.j = y.j
        |       GROUP BY 1, 2)
        |SELECT d1, d2, round(est, 4) AS est_jaccard FROM eq
        |WHERE est >= 0.7""".stripMargin,
    // SimHash over the shared sha256-based 60-bit token hash: bit j of the
    // fingerprint = sign of the per-token (2*bit_j - 1) sum
    "q27_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |             FROM documents),
        |h AS (SELECT doc_id, CAST(('0x' || substr(sha256(t), 1, 15)) AS BIGINT) AS h FROM tok),
        |b AS (SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS s
        |      FROM h, (SELECT unnest(range(60)) AS j) GROUP BY 1, 2)
        |SELECT doc_id,
        |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |FROM b GROUP BY 1""".stripMargin,
    // exact all-pairs Hamming over the same sha-based fingerprints — the
    // pigeonhole multi-probe must reproduce it exactly at radius 3
    "q54_simhash_neardup" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |             FROM documents),
        |h AS (SELECT doc_id, CAST(('0x' || substr(sha256(t), 1, 15)) AS BIGINT) AS h FROM tok),
        |b AS (SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS s
        |      FROM h, (SELECT unnest(range(60)) AS j) GROUP BY 1, 2),
        |sh AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |       FROM b GROUP BY 1)
        |SELECT a.doc_id AS d1, c.doc_id AS d2,
        |       CAST(bit_count(xor(a.simhash, c.simhash)) AS INT) AS hamming
        |FROM sh a JOIN sh c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.simhash, c.simhash)) <= 3""".stripMargin,
    "q28_ann_topk" ->
      """WITH p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |                     list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |    AS cosine
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        |r AS (SELECT va, vb, cosine,
        |             row_number() OVER (PARTITION BY va ORDER BY cosine DESC, vb) AS rn
        |      FROM p)
        |SELECT va AS vec_id, vb AS nn_id, CAST(rn AS BIGINT) AS rnk,
        |       round(cosine, 4) AS cosine
        |FROM r WHERE rn <= 5""".stripMargin,
    // exhaustive clique enumeration (members ascending => each clique once,
    // rooted at its min member) -> argmax size + ties + lex-min witness.
    // NOTE: vertex base = deg (every endpoint of sym); a UNION-based verts
    // CTE would NOT be deduplicated by DuckDB under WITH RECURSIVE.
    "q31_maxclique" ->
      s"""WITH RECURSIVE $CTE,
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
         |FROM clq WHERE len(members) = (SELECT m FROM mx)""".stripMargin,
    "q42_demo_sample" ->
      s"""WITH $CTE,
         |tri AS (SELECT a.s AS x, a.d AS y, b.d AS z
         |        FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
         |corners AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
         |tc AS (SELECT v AS vid, count(*) AS tc FROM corners GROUP BY 1)
         |SELECT vid, tc FROM tc WHERE tc BETWEEN 1 AND 20 AND vid % 10 = 0""".stripMargin,
    "q55_corpus_filter" ->
      """WITH k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
        |q AS (SELECT d.doc_id,
        |  CASE WHEN e >= g AND e >= f AND e > 0 THEN 'en'
        |       WHEN g >= f AND g > 0 THEN 'de'
        |       WHEN f > 0 THEN 'fr' ELSE 'und' END AS lang,
        |  n_tokens, alpha
        |  FROM (SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> x IN ('the','a','of','and','to','in','is','it'))) AS e,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> x IN ('der','die','das','und','ist','nicht'))) AS g,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> x IN ('le','la','les','et','est','que'))) AS f,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS DOUBLE)
        |      / length(text) AS alpha
        |    FROM documents) d
        |  JOIN k ON d.doc_id = k.doc_id)
        |SELECT doc_id, n_tokens FROM q
        |WHERE lang = 'en' AND n_tokens >= 10 AND alpha >= 0.4""".stripMargin,
    "q53_sessions" ->
      """WITH x AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus,
        |       lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS pus
        |       FROM events),
        |y AS (SELECT user_id, event_id, value, tus,
        |       CASE WHEN pus IS NULL OR tus - pus > 1800000000
        |            THEN 1 ELSE 0 END AS ns
        |      FROM x),
        |z AS (SELECT user_id, value, tus,
        |       sum(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS sess_no
        |      FROM y)
        |SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
        |       min(tus) AS session_start_us, max(tus) AS session_end_us,
        |       count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM z GROUP BY 1, 2""".stripMargin,
    "q52_mm_features" ->
      """WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS len
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(range(8)) AS j FROM b),
        |i AS (SELECT doc_id, len, text, unnest(range(0, len)) AS p FROM b),
        |v AS (SELECT doc_id,
        |             CAST(floor(p / greatest(ceil(len / 8.0), 1)) AS BIGINT) AS j,
        |             CAST(ascii(substr(text, CAST(p + 1 AS INT), 1)) AS DOUBLE) AS byte
        |      FROM i),
        |m AS (SELECT doc_id, j, avg(byte) / 255.0 AS f FROM v GROUP BY 1, 2)
        |SELECT g.doc_id, g.j,
        |       round(CAST(coalesce(m.f, 0.0) AS DOUBLE), 6) AS f
        |FROM g LEFT JOIN m ON g.doc_id = m.doc_id AND g.j = m.j""".stripMargin,
    "q51_mm_resize" ->
      """WITH f AS (SELECT doc_id,
        |  16 + octet_length(encode(text)) % 48 AS width,
        |  16 + (CAST(ascii(substr(text, 1, 1)) AS BIGINT)
        |        + octet_length(encode(text))) % 48 AS height
        |  FROM documents),
        |sc AS (SELECT doc_id, width, height,
        |  least(CAST(32.0 AS DOUBLE) / width, CAST(32.0 AS DOUBLE) / height,
        |        CAST(1.0 AS DOUBLE)) AS s
        |  FROM f)
        |SELECT doc_id, width, height,
        |  greatest(CAST(floor(width * s) AS BIGINT), 1) AS out_width,
        |  greatest(CAST(floor(height * s) AS BIGINT), 1) AS out_height,
        |  round(s, 6) AS scale
        |FROM sc""".stripMargin,
    "q41_mm_frames" ->
      """WITH f AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
        |idx AS (SELECT doc_id, text, len,
        |               unnest(range(0, CAST(ceil(len / 32.0) AS BIGINT), 4)) AS i
        |        FROM f)
        |SELECT doc_id, i AS frame_idx, i * 32 AS offset,
        |       least(32, len - i * 32) AS frame_len,
        |       CAST(ascii(substr(text, CAST(i * 32 + 1 AS INT), 1)) AS BIGINT) AS first_byte
        |FROM idx""".stripMargin,
    "q39_pattern_cycle" ->
      s"""WITH $CTE,
         |lab AS (SELECT p_partkey AS vid, p_brand AS label FROM part)
         |SELECT count(*) AS matches FROM sym e1
         |JOIN lab a ON a.vid = e1.s JOIN lab b ON b.vid = e1.d
         |JOIN sym e2 ON e2.s = e1.d JOIN lab c ON c.vid = e2.d
         |JOIN sym e3 ON e3.s = e1.s AND e3.d = e2.d
         |WHERE a.label = 'Brand#14' AND b.label = 'Brand#8' AND c.label = 'Brand#8'
         |  AND a.vid <> b.vid AND a.vid <> c.vid AND b.vid <> c.vid""".stripMargin,
    // attribute-sharing clique enumeration carrying the narrowing common
    // attr set; per seed (min member) the argmax-size / lex-min community
    "q36_community" ->
      s"""WITH RECURSIVE $CTE,
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
         |FROM best WHERE rn = 1""".stripMargin,
    // peel to fixpoint: each recursive row is the whole survivor id-list;
    // UNION (distinct) halts the recursion at the first repeated list
    "q32_kcore" ->
      s"""WITH RECURSIVE $CTE,
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
         |GROUP BY 1""".stripMargin,
    // every text format must reproduce the parquet-derived graph's totals
    "q43_io_roundtrip" ->
      s"""WITH $CTE,
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
         |          (SELECT w FROM wz)""".stripMargin,
    // resumed run must land on the same fixpoint as q08; resumed_from =
    // (supersteps the 2-capped first run actually executed) + 1, derived
    // by replaying hash-min for 2 iterations (input-independent — if the
    // graph converged in 1 superstep the marker is 2, not 3)
    "q44_resume" ->
      s"""WITH RECURSIVE $CTE,
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
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM deg
         |  UNION
         |  SELECT s.d, r.lbl FROM reach r JOIN sym s ON r.vid = s.s
         |)
         |SELECT vid, min(lbl) AS component,
         |       CAST((SELECT v FROM rf) AS INT) AS resumed_from
         |FROM reach GROUP BY vid""".stripMargin,
    // replay 4 synchronous hash-min supersteps (self-message via symz) and
    // diff consecutive states; stop where the engine's loop stops (first
    // changed=0 iteration, capped at 4)
    "q45_metrics" ->
      s"""WITH RECURSIVE $CTE,
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
         |WHERE iter <= (SELECT k FROM stp)""".stripMargin,
    // CC over the graph with all vid%7==0 endpoints deleted
    "q46_drilldown" ->
      s"""WITH RECURSIVE $CTE,
         |e2 AS (SELECT s, d FROM e WHERE s % 7 <> 0 AND d % 7 <> 0),
         |sym2 AS (SELECT s, d FROM e2 UNION ALL SELECT d, s FROM e2),
         |deg2 AS (SELECT s AS vid FROM sym2 GROUP BY 1),
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM deg2
         |  UNION
         |  SELECT s2.d, r.lbl FROM reach r JOIN sym2 s2 ON r.vid = s2.s
         |)
         |SELECT vid, min(lbl) AS component FROM reach GROUP BY vid""".stripMargin,
    "q47_pack" ->
      """WITH t AS (SELECT doc_id,
        |                  len(regexp_split_to_array(trim(text), '\s+')) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n,
        |             CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS strt
        |      FROM t)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |       CAST(floor(strt / 512.0) AS BIGINT) AS bin,
        |       strt % 512 AS bin_offset
        |FROM c""".stripMargin,
    "q48_split" ->
      """SELECT doc_id,
        |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(('0x' || substr(sha256('s1:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |       AS BIGINT) % 100 AS h
        |FROM documents)""".stripMargin,
    "q49_intradoc" ->
      """WITH s AS (SELECT doc_id, string_split(text, '. ') AS sents
        |           FROM documents)
        |SELECT doc_id, len(sents) AS n_sent,
        |       len(list_distinct(sents)) AS n_uniq,
        |       round(1.0 - CAST(len(list_distinct(sents)) AS DOUBLE)
        |             / len(sents), 6) AS dup_ratio
        |FROM s""".stripMargin,
    // bounded BFS replay of the frozen min-adoption flood: reach holds
    // every (vertex, seed color, path length <= 4) triple; a vertex's
    // flood color is the min color at its MINIMUM seed distance (the
    // closed form of synchronous adopt-and-freeze — seeds at distance
    // d are unreachable adopters once the vertex froze at d_min < d)
    "q56_voronoi" ->
      s"""WITH RECURSIVE $CTE,
         |seeds AS (SELECT vid FROM deg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 50),
         |reach(vid, color, h) AS (
         |  SELECT vid, vid, 0 FROM seeds
         |  UNION
         |  SELECT s.d, r.color, r.h + 1 FROM reach r JOIN sym s ON r.vid = s.s
         |  WHERE r.h < 4
         |),
         |md AS (SELECT vid, min(h) AS mh FROM reach GROUP BY 1)
         |SELECT r.vid, min(r.color) AS color
         |FROM reach r JOIN md ON r.vid = md.vid AND r.h = md.mh
         |GROUP BY 1""".stripMargin,
    "q50_comp_hist" ->
      s"""WITH RECURSIVE $CTE,
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM deg
         |  UNION
         |  SELECT s.d, r.lbl FROM reach r JOIN sym s ON r.vid = s.s
         |),
         |cc AS (SELECT vid, min(lbl) AS component FROM reach GROUP BY vid),
         |bc AS (SELECT cc.component AS component, p.p_brand AS brand,
         |              count(*) AS n
         |       FROM cc JOIN part p ON cc.vid = p.p_partkey GROUP BY 1, 2)
         |SELECT component, string_agg(brand || ':' || n, ',' ORDER BY brand)
         |       AS hist
         |FROM bc GROUP BY 1""".stripMargin,
    // oracle-parity SRP-LSH ANN: ±1 plane component (b,j,d) = parity of
    // the first sha256 hex nibble of "b:j:d"; signatures, band buckets,
    // candidates and the integer MIPS re-rank are all exact-integer, so
    // both engines agree bit-for-bit (list_dot_product over ints stays
    // below 2^53 — exact in double, cast back to BIGINT)
    "q57_ann_lsh_parity" ->
      """WITH planes AS (
        |  SELECT bb.b, jj.j, dd.d,
        |         CASE WHEN CAST(('0x' || substr(sha256(
        |             CAST(bb.b AS VARCHAR) || ':' || CAST(jj.j AS VARCHAR)
        |             || ':' || CAST(dd.d AS VARCHAR)), 1, 1)) AS INT) % 2 = 1
        |              THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(8)) AS b) bb,
        |       (SELECT unnest(range(8)) AS j) jj,
        |       (SELECT unnest(range(64)) AS d) dd),
        |qv AS (SELECT vec_id,
        |              list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |       FROM embeddings),
        |comp AS (SELECT vec_id, generate_subscripts(q, 1) - 1 AS d,
        |                unnest(q) AS x
        |         FROM qv),
        |dots AS (SELECT c.vec_id, p.b, p.j, sum(c.x * p.s) AS dot
        |         FROM comp c JOIN planes p ON p.d = c.d GROUP BY 1, 2, 3),
        |sig AS (SELECT vec_id, b,
        |               sum(CASE WHEN dot > 0 THEN (1 << j) ELSE 0 END) AS bucket
        |        FROM dots GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS vec_id, c.vec_id AS nn_id
        |         FROM sig a JOIN sig c
        |           ON a.b = c.b AND a.bucket = c.bucket AND a.vec_id <> c.vec_id),
        |pd AS (SELECT cand.vec_id, cand.nn_id,
        |              CAST(list_dot_product(CAST(x.q AS DOUBLE[]),
        |                                    CAST(y.q AS DOUBLE[])) AS BIGINT) AS dot
        |       FROM cand JOIN qv x ON x.vec_id = cand.vec_id
        |                 JOIN qv y ON y.vec_id = cand.nn_id)
        |SELECT vec_id, nn_id,
        |       CAST(row_number() OVER (PARTITION BY vec_id
        |                               ORDER BY dot DESC, nn_id) AS BIGINT) AS rnk,
        |       dot
        |FROM pd
        |QUALIFY rnk <= 5""".stripMargin,
    // oracle-parity IVF ANN: centroids = the 16 vectors ranked first by
    // sha-hash of id; assignment/probes rank by the exact-integer
    // ||c||^2 - 2 a.c with ties to the lower centroid id; candidates =
    // vectors whose home list is probed; integer MIPS re-rank
    "q58_ann_ivf_parity" ->
      """WITH qv AS (SELECT vec_id,
        |              list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |       FROM embeddings),
        |hh AS (SELECT vec_id, q,
        |              CAST(('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |       FROM qv),
        |cent AS (SELECT q AS cq,
        |                CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid
        |         FROM hh
        |         QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 16),
        |ds AS (SELECT v.vec_id, c.cid,
        |              CAST(list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                 - 2 * list_dot_product(CAST(v.q AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                   AS BIGINT) AS d2
        |       FROM qv v, cent c),
        |assign AS (SELECT vec_id AS nn_id, cid AS cluster FROM ds
        |           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
        |probes AS (SELECT vec_id, cid AS cluster FROM ds
        |           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) <= 4),
        |pd AS (SELECT p.vec_id, a.nn_id,
        |              CAST(list_dot_product(CAST(x.q AS DOUBLE[]),
        |                                    CAST(y.q AS DOUBLE[])) AS BIGINT) AS dot
        |       FROM probes p JOIN assign a ON a.cluster = p.cluster
        |                                  AND a.nn_id <> p.vec_id
        |       JOIN qv x ON x.vec_id = p.vec_id
        |       JOIN qv y ON y.vec_id = a.nn_id)
        |SELECT vec_id, nn_id,
        |       CAST(row_number() OVER (PARTITION BY vec_id
        |                               ORDER BY dot DESC, nn_id) AS BIGINT) AS rnk,
        |       dot
        |FROM pd
        |QUALIFY rnk <= 5""".stripMargin,
    // bounded multi-source BFS replay: dist = min hop count (<= 4) to any
    // sha-sampled seed (the q56 recursion minus the color payload)
    "q59_bfs" ->
      s"""WITH RECURSIVE $CTE,
         |seeds AS (SELECT vid FROM deg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 20),
         |reach(vid, h) AS (
         |  SELECT vid, 0 FROM seeds
         |  UNION
         |  SELECT s.d, r.h + 1 FROM reach r JOIN sym s ON r.vid = s.s
         |  WHERE r.h < 4
         |)
         |SELECT vid, CAST(min(h) AS BIGINT) AS dist FROM reach GROUP BY 1""".stripMargin,
    // stratified sample: keep a doc iff sha256("mix:" || doc_id) mod 1e6
    // clears its language's keep_ppm (min-stratum balancing fractions)
    "q60_stratified_sample" ->
      """WITH st AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |fr AS (SELECT lang,
        |              (SELECT min(n_docs) FROM st) * 1000000 // n_docs AS keep_ppm
        |       FROM st)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN fr ON d.lang = fr.lang
        |WHERE CAST(('0x' || substr(sha256('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000 < fr.keep_ppm""".stripMargin,
    "q61_mixture" ->
      """WITH st AS (SELECT lang AS stratum, count(*) AS n_docs,
        |                   CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |            FROM documents GROUP BY 1)
        |SELECT stratum, n_docs, n_tokens,
        |       (SELECT min(n_docs) FROM st) * 1000000 // n_docs AS keep_ppm
        |FROM st""".stripMargin,
    // personalized PageRank replay: the q10 recursion with the uniform
    // 1/n teleport replaced by a per-vertex tele column (1/|seeds| on the
    // sha-sampled seeds, 0 elsewhere); on the symmetric full graph there
    // is no dangling mass
    "q62_ppr" ->
      s"""WITH RECURSIVE $CTE, $FULL,
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
         |SELECT vid, round(rank, 8) AS rank FROM ppr WHERE iter = 10""".stripMargin,
    // bounded Bellman-Ford replay: dist = min total weight over paths of
    // <= 4 edges from the seed set (exact: integer weights)
    "q63_sssp" ->
      s"""WITH RECURSIVE $CTE,
         |ew AS (SELECT src AS s, dst AS d, weight AS w FROM cooc WHERE weight >= 2
         |       UNION ALL
         |       SELECT dst, src, weight FROM cooc WHERE weight >= 2),
         |seeds AS (SELECT vid FROM deg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 20),
         |reach(vid, dist, h) AS (
         |  SELECT vid, CAST(0 AS BIGINT), 0 FROM seeds
         |  UNION
         |  SELECT e.d, r.dist + e.w, r.h + 1 FROM reach r JOIN ew e ON r.vid = e.s
         |  WHERE r.h < 4
         |)
         |SELECT vid, min(dist) AS dist FROM reach GROUP BY 1""".stripMargin,
    // power-iteration replay: unnormalized x_k = walk counts (integer in
    // double), one final L1 normalization
    "q64_eigencentrality" ->
      s"""WITH RECURSIVE $CTE,
         |ec(iter, vid, x) AS (
         |  SELECT 0, vid, CAST(1.0 AS DOUBLE) FROM deg
         |  UNION ALL
         |  SELECT e.iter + 1, s.d, sum(e.x) FROM ec e JOIN sym s ON e.vid = s.s
         |  WHERE e.iter < 6 GROUP BY 1, 2
         |)
         |SELECT vid, round(x / (SELECT sum(x) FROM ec WHERE iter = 6), 8) AS score
         |FROM ec WHERE iter = 6""".stripMargin,
    // word-trigram contamination: distinct per-doc trigrams joined against
    // the deduplicated benchmark trigram set
    "q65_contamination" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |                    CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 30 AS is_bench
        |             FROM documents),
        |pos AS (SELECT doc_id, t, is_bench, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tok WHERE len(t) >= 3),
        |ng AS (SELECT DISTINCT doc_id, is_bench, array_to_string(t[i:i+2], ' ') AS g
        |       FROM pos),
        |bg AS (SELECT DISTINCT g FROM ng WHERE is_bench)
        |SELECT n.doc_id, count(*) AS n_shared
        |FROM ng n JOIN bg ON n.g = bg.g
        |WHERE NOT n.is_bench
        |GROUP BY 1
        |HAVING count(*) >= 1""".stripMargin,
    "q66_top_ngrams" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM tok WHERE len(t) >= 2),
        |ng AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS g FROM pos),
        |fr AS (SELECT g, count(*) AS n_docs FROM ng GROUP BY 1)
        |SELECT g, n_docs,
        |       CAST(row_number() OVER (ORDER BY n_docs DESC, g) AS BIGINT) AS rnk
        |FROM fr
        |QUALIFY rnk <= 20""".stripMargin,
    // q56's flood replay extended one stage: per-color size + sorted
    // neighbor-color CSV over colored-colored edges (A7 block info,
    // reference partition/BDGPartitioner.tpp:5-135)
    "q67_block_info" ->
      s"""WITH RECURSIVE $CTE,
         |seeds AS (SELECT vid FROM deg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 50),
         |reach(vid, color, h) AS (
         |  SELECT vid, vid, 0 FROM seeds
         |  UNION
         |  SELECT s.d, r.color, r.h + 1 FROM reach r JOIN sym s ON r.vid = s.s
         |  WHERE r.h < 4
         |),
         |md AS (SELECT vid, min(h) AS mh FROM reach GROUP BY 1),
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
         |GROUP BY 1, 2""".stripMargin,
    // GC seed rule: the CTE's sym IS the strong (weight >= 2) symmetric
    // edge set of the q37 weighted graph, so core(seed) = {seed} ∪ its
    // sym-neighbors, kept at size >= 10 (apps/focusCO.cpp:608-629)
    "q68_gc_seed_cores" ->
      s"""WITH $CTE,
         |corem AS (SELECT s AS seed, d AS m FROM sym
         |          UNION
         |          SELECT s, s FROM sym),
         |agg AS (SELECT seed, count(*) AS core_size,
         |               string_agg(CAST(m AS VARCHAR), ',' ORDER BY m) AS core
         |        FROM corem GROUP BY 1)
         |SELECT seed, core_size, core FROM agg WHERE core_size >= 10""".stripMargin,
    // 3 staged peel rounds (q06's triangle join per round): keep edges in
    // >= k-2 = 1 triangle of the current subgraph, recompute, repeat
    "q69_ktruss" ->
      s"""WITH $CTE,
         |t0 AS MATERIALIZED (SELECT a.s AS x, a.d AS y, b.d AS z
         |       FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
         |s0 AS MATERIALIZED (SELECT s, d, count(*) AS sup FROM (
         |         SELECT x AS s, y AS d FROM t0 UNION ALL
         |         SELECT x, z FROM t0 UNION ALL SELECT y, z FROM t0) u0
         |       GROUP BY 1, 2),
         |p1 AS MATERIALIZED (SELECT e.s, e.d FROM e JOIN s0 ON e.s = s0.s AND e.d = s0.d
         |       WHERE s0.sup >= 1),
         |t1 AS MATERIALIZED (SELECT a.s AS x, a.d AS y, b.d AS z
         |       FROM p1 a JOIN p1 b ON a.d = b.s JOIN p1 c ON a.s = c.s AND b.d = c.d),
         |s1 AS MATERIALIZED (SELECT s, d, count(*) AS sup FROM (
         |         SELECT x AS s, y AS d FROM t1 UNION ALL
         |         SELECT x, z FROM t1 UNION ALL SELECT y, z FROM t1) u1
         |       GROUP BY 1, 2),
         |p2 AS MATERIALIZED (SELECT p1.s, p1.d FROM p1 JOIN s1 ON p1.s = s1.s AND p1.d = s1.d
         |       WHERE s1.sup >= 1),
         |t2 AS MATERIALIZED (SELECT a.s AS x, a.d AS y, b.d AS z
         |       FROM p2 a JOIN p2 b ON a.d = b.s JOIN p2 c ON a.s = c.s AND b.d = c.d),
         |s2 AS MATERIALIZED (SELECT s, d, count(*) AS sup FROM (
         |         SELECT x AS s, y AS d FROM t2 UNION ALL
         |         SELECT x, z FROM t2 UNION ALL SELECT y, z FROM t2) u2
         |       GROUP BY 1, 2)
         |SELECT p2.s AS src, p2.d AS dst
         |FROM p2 JOIN s2 ON p2.s = s2.s AND p2.d = s2.d
         |WHERE s2.sup >= 1""".stripMargin,
    // wedge join on the shared center = the cooc derivation over the
    // symmetric edge table; non-edges only; per-vertex top-5 by
    // (common-neighbor count desc, candidate id)
    "q70_link_predict" ->
      s"""WITH $CTE,
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
         |QUALIFY rnk <= 5""".stripMargin,
    // q07's triangle corners + degree table; lcc is one double division of
    // exact integers (identical IEEE op both engines), round(8)
    "q71_clustering" ->
      s"""WITH $CTE,
         |tri AS (SELECT a.s AS x, a.d AS y, b.d AS z
         |        FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
         |corners AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
         |tcv AS (SELECT v AS vid, count(*) AS tc FROM corners GROUP BY 1)
         |SELECT deg.vid, deg.degree, coalesce(tcv.tc, 0) AS tc,
         |       round(2.0 * coalesce(tcv.tc, 0) / (deg.degree * (deg.degree - 1)), 8) AS lcc
         |FROM deg LEFT JOIN tcv ON deg.vid = tcv.vid
         |WHERE deg.degree >= 2""".stripMargin,
    // wedge join weighted by the center's floor-ppm inverse degree; the
    // integer sum is order-independent, so the hash matches bit-for-bit
    "q72_link_ra" ->
      s"""WITH $CTE,
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
         |QUALIFY rnk <= 5""".stripMargin,
    // Newman's r over directed pairs: exact integer sums, one double
    // projection replayed with the identical expression shape
    "q73_assortativity" ->
      s"""WITH $CTE,
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
         |FROM sums""".stripMargin,
    // q07's triangle corners charged to canonical edges; jaccard keeps u,v
    // in the union (sup / (du + dv - sup)), one exact double division
    "q74_embeddedness" ->
      s"""WITH $CTE,
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
         |JOIN deg db ON e.d = db.vid""".stripMargin,
    // sha-steered walk replay: sorted adjacency lists + a recursive CTE
    // stepping cur -> lst[sha(salt:walk:step:cur) mod len + 1]
    "q75_random_walks" ->
      s"""WITH RECURSIVE $CTE,
         |adjl AS (SELECT s, list(d ORDER BY d) AS lst FROM sym GROUP BY s),
         |walks(walk, step, cur) AS (
         |  SELECT vid, CAST(0 AS BIGINT), vid FROM deg
         |  UNION ALL
         |  SELECT w.walk, w.step + 1,
         |         a.lst[CAST(CAST(('0x' || substr(sha256('walk:' || CAST(w.walk AS VARCHAR) || ':' || CAST(w.step + 1 AS VARCHAR) || ':' || CAST(w.cur AS VARCHAR)), 1, 15)) AS BIGINT) % len(a.lst) AS INT) + 1]
         |  FROM walks w JOIN adjl a ON w.cur = a.s
         |  WHERE w.step < 4
         |)
         |SELECT walk, step, cur AS vid FROM walks""".stripMargin,
    // q75's walk table self-joined within the window, pair counts
    "q76_skipgram_pairs" ->
      s"""WITH RECURSIVE $CTE,
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
         |GROUP BY 1, 2""".stripMargin,
    // token mode via unnest + two-phase count; bigram stats as list
    // arithmetic; all ratios floor-ppm integer division — bit-exact
    "q77_repetition" ->
      """WITH toks AS (SELECT doc_id,
        |        unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |      FROM documents),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |md AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(max(c) AS BIGINT) AS top_cnt FROM tc GROUP BY 1),
        |tt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |       FROM documents),
        |bs AS (SELECT doc_id,
        |         CASE WHEN len(t) >= 2 THEN CAST(len(t) - 1 AS BIGINT)
        |              ELSE 0 END AS nbg,
        |         CASE WHEN len(t) >= 2 THEN CAST(len(list_distinct(
        |                [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]))
        |              AS BIGINT) ELSE 0 END AS dbg
        |       FROM tt)
        |SELECT md.doc_id, n_tokens, top_cnt,
        |       top_cnt * 1000000 // n_tokens AS top_tok_ppm,
        |       CASE WHEN nbg > 0 THEN (nbg - dbg) * 1000000 // nbg
        |            ELSE 0 END AS dup_bigram_ppm,
        |       CAST(CASE WHEN top_cnt * 1000000 // n_tokens <= 120000
        |                  AND (CASE WHEN nbg > 0
        |                       THEN (nbg - dbg) * 1000000 // nbg
        |                       ELSE 0 END) <= 20000
        |            THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM md JOIN bs ON md.doc_id = bs.doc_id""".stripMargin,
    // identical planting expression, RE2-safe patterns, email masked
    // before dotted quads (an email host can look like a quad)
    "q78_pii_scrub" ->
      """WITH planted AS (SELECT doc_id,
        |    CASE WHEN CAST(('0x' || substr(sha256('pii:' ||
        |             CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 3
        |      THEN text || ' contact admin' || CAST(doc_id AS VARCHAR)
        |           || '@example.com at 10.2.'
        |           || CAST(doc_id % 256 AS VARCHAR) || '.'
        |           || CAST((doc_id * 7) % 256 AS VARCHAR)
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT)
        |    AS n_ipv4,
        |  sha256(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'))
        |    AS masked_sha
        |FROM planted""".stripMargin,
    // global top-8 per stratum by sha order — the two-phase plan's result
    // is partitioning-independent, so one window replays it
    "q79_reservoir" ->
      """SELECT doc_id, lang, rnk FROM (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(('0x' || substr(sha256('rsv:' ||
        |        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id)
        |      AS BIGINT) AS rnk
        |  FROM documents) t
        |WHERE rnk <= 8""".stripMargin,
    // labeled BFS replay: recursive CTE over (seed, vid, dist), min-dist
    // per pair, floor-ppm harmonic sums (exact integer aggregation)
    "q80_harmonic" ->
      s"""WITH RECURSIVE $CTE,
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
         |FROM md WHERE dist > 0 GROUP BY 1""".stripMargin,
    // q26's exact LSH pair chain, then transitive-closure min-label CC
    // over the pair graph (the q08 oracle pattern) and a corpus left join
    "q81_dedup_canonical" ->
      """WITH RECURSIVE pos AS (SELECT doc_id, text,
        |      unnest(generate_series(1, length(text) - 2)) AS i
        |    FROM documents),
        |sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
        |       FROM pos),
        |hx AS (SELECT doc_id, j,
        |         min(CAST(('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' || g),
        |             1, 15)) AS BIGINT)) AS m
        |       FROM sh, (SELECT unnest(range(16)) AS j) GROUP BY 1, 2),
        |bnd AS (SELECT doc_id, CAST(j // 4 AS INT) AS band,
        |               list(m ORDER BY j) AS key
        |        FROM hx GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM bnd a JOIN bnd b
        |           ON a.band = b.band AND a.key = b.key
        |              AND a.doc_id < b.doc_id),
        |eq AS (SELECT c.d1, c.d2,
        |              sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) / 16.0 AS est
        |       FROM cand c JOIN hx x ON x.doc_id = c.d1
        |                   JOIN hx y ON y.doc_id = c.d2 AND x.j = y.j
        |       GROUP BY 1, 2),
        |pr AS (SELECT d1, d2 FROM eq WHERE est >= 0.7),
        |psym AS (SELECT d1 AS s, d2 AS d FROM pr
        |         UNION ALL SELECT d2, d1 FROM pr),
        |verts AS (SELECT DISTINCT s AS vid FROM psym),
        |reach(vid, lbl) AS (
        |  SELECT vid, vid FROM verts
        |  UNION
        |  SELECT p.d, r.lbl FROM reach r JOIN psym p ON r.vid = p.s
        |),
        |comp AS (SELECT vid, min(lbl) AS c FROM reach GROUP BY vid)
        |SELECT d.doc_id, coalesce(comp.c, d.doc_id) AS canonical_id,
        |       CAST(CASE WHEN coalesce(comp.c, d.doc_id) = d.doc_id
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
        |FROM documents d LEFT JOIN comp ON d.doc_id = comp.vid""".stripMargin,
    // identical sha-keep predicate on both endpoints of the e CTE
    "q82_subgraph_sample" ->
      s"""WITH $CTE
         |SELECT s AS src, d AS dst FROM e
         |WHERE CAST(('0x' || substr(sha256('sg:' || CAST(s AS VARCHAR)),
         |        1, 15)) AS BIGINT) % 1000 < 500
         |  AND CAST(('0x' || substr(sha256('sg:' || CAST(d AS VARCHAR)),
         |        1, 15)) AS BIGINT) % 1000 < 500""".stripMargin,
    // staged second-order replay: uniform step 1 via the sorted adjacency
    // pick, then per step one candidate expansion + dist-1 flag + weight
    // CDF window + sha draw — the exact plan, step by step
    "q83_node2vec" ->
      s"""WITH $CTE,
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
         |UNION ALL SELECT walk, 3, cur FROM p3""".stripMargin,
    // the same union+running-last plan the Spark operator compiles to
    // (DuckDB's ASOF JOIN has unspecified tie order, so the oracle spells
    // out the deterministic at-or-before semantics instead)
    "q84_asof" ->
      """WITH u AS (
        |  SELECT user_id, ts, 1 AS tag, event_id, event_type,
        |         NULL::BIGINT AS pid, NULL::TIMESTAMP AS pts,
        |         NULL::DOUBLE AS pval
        |  FROM events
        |  UNION ALL
        |  SELECT user_id, ts, 0, NULL, NULL, event_id, ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT *,
        |    last_value(pid IGNORE NULLS) OVER win AS lpid,
        |    last_value(pts IGNORE NULLS) OVER win AS lpts,
        |    last_value(pval IGNORE NULLS) OVER win AS lpval
        |  FROM u
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, tag, pid, pts, pval
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type,
        |       coalesce(lpid, -1) AS purchase_id,
        |       coalesce(strftime(lpts, '%Y-%m-%d %H:%M:%S'), '') AS purchase_ts,
        |       round(coalesce(lpval, -1), 6) AS purchase_value
        |FROM w WHERE tag = 1""".stripMargin,
    "q85_boilerplate" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
        |        FROM tok WHERE len(t) >= 5),
        |pg AS (SELECT doc_id, array_to_string(t[i:i+4], ' ') AS g, count(*) AS c
        |       FROM pos GROUP BY 1, 2),
        |dfq AS (SELECT g, count(*) AS df FROM pg GROUP BY 1),
        |per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_phrases,
        |               CAST(sum(CASE WHEN df >= 5 THEN c ELSE 0 END) AS BIGINT)
        |                 AS n_boiler
        |        FROM pg JOIN dfq USING (g) GROUP BY 1)
        |SELECT d.doc_id,
        |       coalesce(n_phrases, 0) AS n_phrases,
        |       coalesce(n_boiler, 0) AS n_boiler,
        |       CASE WHEN coalesce(n_phrases, 0) > 0
        |            THEN coalesce(n_boiler, 0) * 1000000 // n_phrases
        |            ELSE 0 END AS boiler_ppm,
        |       CASE WHEN (CASE WHEN coalesce(n_phrases, 0) > 0
        |                       THEN coalesce(n_boiler, 0) * 1000000 // n_phrases
        |                       ELSE 0 END) <= 500000
        |            THEN 1 ELSE 0 END AS keep
        |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin,
    "q86_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |        unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |      FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |sc AS (SELECT doc_id, term,
        |         CAST(tf * ((1000000 * nn.n) // df) AS BIGINT) AS score
        |       FROM tf JOIN dfq USING (term) CROSS JOIN nn),
        |rk AS (SELECT *, row_number() OVER
        |         (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
        |       FROM sc)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score
        |FROM rk WHERE rank <= 3""".stripMargin,
    // sliding windows are epoch-aligned on the 15-min slide, so each event
    // lands in exactly 4 windows: base bucket minus k slides, k = 0..3
    "q87_sliding" ->
      """SELECT strftime(make_timestamp(
        |         (900 * (CAST(floor(epoch(ts)) AS BIGINT) // 900) - 900 * k)
        |           * 1000000), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events, (SELECT unnest(range(4)) AS k)
        |GROUP BY 1, 2""".stripMargin,
    // span i = words [i*3+1, i*3+3] (1-indexed inclusive slice == Spark's
    // slice(t, i*3+1, 3)); boilerplate = span text in > 2 distinct docs
    "q88_span_dedup" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |sp0 AS (SELECT doc_id, t,
        |          unnest(generate_series(0,
        |            CAST(ceil(len(t) / 3.0) AS BIGINT) - 1)) AS i
        |        FROM tok),
        |sp AS (SELECT doc_id, i,
        |         array_to_string(t[(i*3 + 1):(i*3 + 3)], ' ') AS span
        |       FROM sp0),
        |dfq AS (SELECT span, count(DISTINCT doc_id) AS ndocs
        |        FROM sp GROUP BY 1),
        |kept AS (SELECT doc_id, i, span FROM sp JOIN dfq USING (span)
        |         WHERE ndocs <= 2),
        |re AS (SELECT doc_id, count(*) AS kept_spans,
        |              string_agg(span, ' ' ORDER BY i) AS kept_text
        |       FROM kept GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1)
        |SELECT t.doc_id AS id, n_spans,
        |       coalesce(kept_spans, 0) AS kept_spans,
        |       coalesce(kept_text, '') AS kept_text
        |FROM tot t LEFT JOIN re USING (doc_id)""".stripMargin,
    // HITS by half-steps: odd iters hold authority (pull hub across src→dst),
    // even iters hold hub (pull authority back); iter 7 = a_4, iter 8 = h_4
    "q89_hits" ->
      s"""WITH RECURSIVE $CTE,
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
         |FROM hub h FULL JOIN auth a ON h.vid = a.vid""".stripMargin,
    "q90_khop" ->
      s"""WITH $CTE,
         |l1 AS (SELECT s.s AS vid, CAST(sum(d.degree) AS BIGINT) AS f1
         |       FROM sym s JOIN deg d ON s.d = d.vid GROUP BY 1),
         |l2 AS (SELECT s.s AS vid, CAST(sum(l1.f1) AS BIGINT) AS f2
         |       FROM sym s JOIN l1 ON s.d = l1.vid GROUP BY 1)
         |SELECT deg.vid, deg.degree,
         |       coalesce(l1.f1, 0) AS f1, coalesce(l2.f2, 0) AS f2
         |FROM deg LEFT JOIN l1 USING (vid) LEFT JOIN l2 USING (vid)""".stripMargin,
    // identical double op order as the Spark plan: ((x-lo)/(hi-lo))*254,
    // floor, -127; recon = lo + ((q+127)*(hi-lo))/254
    "q91_quantize_int8" ->
      """WITH dims AS (
        |  SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM (SELECT vec_id, embedding,
        |          unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)),
        |stats AS (SELECT pos, min(x) AS lo, max(x) AS hi
        |          FROM dims GROUP BY 1),
        |q AS (SELECT vec_id, dims.pos, x, lo, hi,
        |        CASE WHEN hi > lo
        |             THEN CAST(floor((x - lo) / (hi - lo) * 254.0) AS BIGINT)
        |                  - 127
        |             ELSE 0 END AS qv
        |      FROM dims JOIN stats ON dims.pos = stats.pos),
        |r AS (SELECT vec_id, pos, x, qv,
        |        CASE WHEN hi > lo
        |             THEN lo + CAST(qv + 127 AS DOUBLE) * (hi - lo) / 254.0
        |             ELSE lo END AS recon
        |      FROM q)
        |SELECT vec_id AS id,
        |       array_to_string(array_agg(qv ORDER BY pos), ',') AS qvec,
        |       round(max(abs(x - recon)), 8) AS max_abs_err
        |FROM r GROUP BY 1""".stripMargin,
    // staged 2-round Luby replay: sha60 priorities, strict-less winner
    // rule (ties block both sides — well-defined on every engine),
    // winners + their neighbors leave the undecided set between rounds
    "q92_mis" ->
      s"""WITH $CTE,
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
         |UNION ALL SELECT vid, 2 AS round FROM w2""".stripMargin,
    // exact-integer lift over the bigram contingency table, identical
    // staged-div associativity as the Spark expression
    "q93_collocations" ->
      """WITH tok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |pos AS (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM tok WHERE len(t) >= 2),
        |bg AS (SELECT t[i] AS x, t[i+1] AS y, count(*) AS n_xy
        |       FROM pos GROUP BY 1, 2),
        |b AS (SELECT sum(n_xy) AS b FROM bg),
        |lx AS (SELECT x, sum(n_xy) AS n_x FROM bg GROUP BY 1),
        |ry AS (SELECT y, sum(n_xy) AS n_y FROM bg GROUP BY 1),
        |sc AS (SELECT bg.x, bg.y, bg.n_xy,
        |         CAST(((1000000 * bg.n_xy) // lx.n_x) * b.b // ry.n_y
        |           AS BIGINT) AS lift_ppm
        |       FROM bg JOIN lx USING (x) JOIN ry USING (y) CROSS JOIN b
        |       WHERE bg.n_xy >= 2),
        |rk AS (SELECT *, row_number() OVER
        |         (ORDER BY lift_ppm DESC, x, y) AS rnk FROM sc)
        |SELECT x, y, n_xy, lift_ppm FROM rk WHERE rnk <= 20""".stripMargin,
    // identical per-row double projection order: e_c/m - (d_c/2m)^2
    "q95_modularity" ->
      s"""WITH $CTE,
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
         |FROM ds LEFT JOIN internal USING (label) CROSS JOIN m""".stripMargin,
    // staged horizon-2 Brandes replay: forward sigma levels l1/l2 (exact
    // integers), one backward dependency level (delta at the horizon is
    // 0), bc = per-vertex sum over seeds of delta at dist >= 1
    "q94_betweenness" ->
      s"""WITH $CTE,
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
         |FROM alldeps GROUP BY 1""".stripMargin,

    // B5 greedy packer replay: q67's block table (q56 flood colors ->
    // per-color size + neighbor LIST), ranked size-desc/color-asc, then a
    // recursive CTE places ONE block per iteration carrying (hist, loads)
    // as list state — priority s*(cap-load) encoded *8+(7-j) so max-p/
    // min-j ties break exactly like the Scala loop; fallback min-load/
    // min-j. MATERIALIZED hints keep DuckDB 1.0 from re-inlining the
    // flood into every recursion step. All-integer, so the replay is
    // bit-exact (see BdgLayout.assignBlocksExact).
    "q96_bdg_assign" ->
      s"""WITH RECURSIVE $CTE,
         |seeds AS (SELECT vid FROM deg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 50),
         |reach(vid, color, h) AS (
         |  SELECT vid, vid, 0 FROM seeds
         |  UNION
         |  SELECT s.d, r.color, r.h + 1 FROM reach r JOIN sym s ON r.vid = s.s
         |  WHERE r.h < 4
         |),
         |md AS (SELECT vid, min(h) AS mh FROM reach GROUP BY 1),
         |colors AS MATERIALIZED (
         |  SELECT r.vid, min(r.color) AS color
         |  FROM reach r JOIN md ON r.vid = md.vid AND r.h = md.mh GROUP BY 1),
         |sizes AS (SELECT color, count(*) AS size FROM colors GROUP BY 1),
         |nbp AS (SELECT DISTINCT ca.color AS c1, cb.color AS c2
         |        FROM sym s JOIN colors ca ON s.s = ca.vid
         |                   JOIN colors cb ON s.d = cb.vid
         |        WHERE ca.color <> cb.color),
         |binfo AS (SELECT z.color, z.size,
         |                 coalesce(list(n.c2 ORDER BY n.c2)
         |                          FILTER (n.c2 IS NOT NULL), []) AS nbs
         |          FROM sizes z LEFT JOIN nbp n ON z.color = n.c1
         |          GROUP BY 1, 2),
         |blocks AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY size DESC, color) AS rk,
         |         color, size, nbs FROM binfo),
         |nblocks AS MATERIALIZED (
         |  SELECT count(*) AS nb_cnt, (11*sum(size))//(10*8) AS cap FROM blocks),
         |st(i, hist, loads) AS (
         |  SELECT 0, CAST([] AS STRUCT(c BIGINT, w BIGINT, z BIGINT)[]),
         |         CAST([0,0,0,0,0,0,0,0] AS BIGINT[])
         |  UNION ALL
         |  SELECT t.i + 1,
         |         list_append(t.hist, {'c': t.color, 'w': t.chosen, 'z': t.size}),
         |         [t.loads[j+1] + CASE WHEN j = t.chosen THEN t.size ELSE 0 END FOR j IN range(8)]
         |  FROM (
         |    SELECT s.i, s.hist, s.loads, b.color, b.size,
         |      coalesce(
         |        7 - (list_max([
         |           coalesce(list_sum([h.z FOR h IN s.hist IF h.w = j AND list_contains(b.nbs, h.c)]), 0)
         |             * (n.cap - s.loads[j+1]) * 8 + (7 - j)
         |           FOR j IN range(8)
         |           IF s.loads[j+1] + b.size <= n.cap
         |              AND coalesce(list_sum([h.z FOR h IN s.hist IF h.w = j AND list_contains(b.nbs, h.c)]), 0)
         |                  * (n.cap - s.loads[j+1]) > 0]) % 8),
         |        list_min([s.loads[j+1] * 8 + j FOR j IN range(8)]) % 8) AS chosen
         |    FROM st s JOIN blocks b ON b.rk = s.i + 1 CROSS JOIN nblocks n
         |  ) t
         |)
         |SELECT h.c AS color, h.w AS worker
         |FROM (SELECT unnest(hist) AS h FROM st, nblocks
         |      WHERE st.i = nblocks.nb_cnt)""".stripMargin,

    // B7 replay: the q96 assignment joined back onto the colors, per-
    // worker blocks/vertices/cross edges over colored-colored sym edges,
    // sha-hash baseline on the SAME subset, full 0..7 worker universe
    "q97_bdg_cross" ->
      s"""WITH RECURSIVE $CTE,
         |seeds AS (SELECT vid FROM deg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 50),
         |reach(vid, color, h) AS (
         |  SELECT vid, vid, 0 FROM seeds
         |  UNION
         |  SELECT s.d, r.color, r.h + 1 FROM reach r JOIN sym s ON r.vid = s.s
         |  WHERE r.h < 4
         |),
         |md AS (SELECT vid, min(h) AS mh FROM reach GROUP BY 1),
         |colors AS MATERIALIZED (
         |  SELECT r.vid, min(r.color) AS color
         |  FROM reach r JOIN md ON r.vid = md.vid AND r.h = md.mh GROUP BY 1),
         |sizes AS (SELECT color, count(*) AS size FROM colors GROUP BY 1),
         |nbp AS (SELECT DISTINCT ca.color AS c1, cb.color AS c2
         |        FROM sym s JOIN colors ca ON s.s = ca.vid
         |                   JOIN colors cb ON s.d = cb.vid
         |        WHERE ca.color <> cb.color),
         |binfo AS (SELECT z.color, z.size,
         |                 coalesce(list(n.c2 ORDER BY n.c2)
         |                          FILTER (n.c2 IS NOT NULL), []) AS nbs
         |          FROM sizes z LEFT JOIN nbp n ON z.color = n.c1
         |          GROUP BY 1, 2),
         |blocks AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY size DESC, color) AS rk,
         |         color, size, nbs FROM binfo),
         |nblocks AS MATERIALIZED (
         |  SELECT count(*) AS nb_cnt, (11*sum(size))//(10*8) AS cap FROM blocks),
         |st(i, hist, loads) AS (
         |  SELECT 0, CAST([] AS STRUCT(c BIGINT, w BIGINT, z BIGINT)[]),
         |         CAST([0,0,0,0,0,0,0,0] AS BIGINT[])
         |  UNION ALL
         |  SELECT t.i + 1,
         |         list_append(t.hist, {'c': t.color, 'w': t.chosen, 'z': t.size}),
         |         [t.loads[j+1] + CASE WHEN j = t.chosen THEN t.size ELSE 0 END FOR j IN range(8)]
         |  FROM (
         |    SELECT s.i, s.hist, s.loads, b.color, b.size,
         |      coalesce(
         |        7 - (list_max([
         |           coalesce(list_sum([h.z FOR h IN s.hist IF h.w = j AND list_contains(b.nbs, h.c)]), 0)
         |             * (n.cap - s.loads[j+1]) * 8 + (7 - j)
         |           FOR j IN range(8)
         |           IF s.loads[j+1] + b.size <= n.cap
         |              AND coalesce(list_sum([h.z FOR h IN s.hist IF h.w = j AND list_contains(b.nbs, h.c)]), 0)
         |                  * (n.cap - s.loads[j+1]) > 0]) % 8),
         |        list_min([s.loads[j+1] * 8 + j FOR j IN range(8)]) % 8) AS chosen
         |    FROM st s JOIN blocks b ON b.rk = s.i + 1 CROSS JOIN nblocks n
         |  ) t
         |),
         |asg AS MATERIALIZED (
         |  SELECT h.c AS color, h.w AS worker
         |  FROM (SELECT unnest(hist) AS h FROM st, nblocks
         |        WHERE st.i = nblocks.nb_cnt)),
         |lay AS MATERIALIZED (
         |  SELECT c.vid, c.color, a.worker
         |  FROM colors c JOIN asg a ON c.color = a.color),
         |wedges AS MATERIALIZED (
         |  SELECT s.s, s.d, la.worker AS wa, lb.worker AS wb
         |  FROM sym s JOIN lay la ON s.s = la.vid JOIN lay lb ON s.d = lb.vid),
         |crossx AS (SELECT wa AS worker, count(*) AS cross_edges
         |           FROM wedges WHERE wa <> wb GROUP BY 1),
         |hcross AS (SELECT CAST(('0x' || substr(sha256(CAST(s AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS worker,
         |                  count(*) AS sha_cross_edges
         |           FROM wedges
         |           WHERE CAST(('0x' || substr(sha256(CAST(s AS VARCHAR)), 1, 15)) AS BIGINT) % 8
         |              <> CAST(('0x' || substr(sha256(CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 8
         |           GROUP BY 1),
         |perw AS (SELECT worker, count(DISTINCT color) AS n_blocks,
         |                count(*) AS n_vertices FROM lay GROUP BY 1)
         |SELECT u.worker,
         |       coalesce(p.n_blocks, 0) AS n_blocks,
         |       coalesce(p.n_vertices, 0) AS n_vertices,
         |       coalesce(c.cross_edges, 0) AS cross_edges,
         |       coalesce(h.sha_cross_edges, 0) AS sha_cross_edges
         |FROM (SELECT unnest(range(8)) AS worker) u
         |LEFT JOIN perw p ON u.worker = p.worker
         |LEFT JOIN crossx c ON u.worker = c.worker
         |LEFT JOIN hcross h ON u.worker = h.worker""".stripMargin,

    // end-to-end BDG pipeline replay — q97's flood+packer+stats CTE at
    // the production 1% seed rate and 6-hop flood radius
    "q38_bdg_layout" ->
      s"""WITH RECURSIVE $CTE,
         |seeds AS (SELECT vid FROM deg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 10),
         |reach(vid, color, h) AS (
         |  SELECT vid, vid, 0 FROM seeds
         |  UNION
         |  SELECT s.d, r.color, r.h + 1 FROM reach r JOIN sym s ON r.vid = s.s
         |  WHERE r.h < 6
         |),
         |md AS (SELECT vid, min(h) AS mh FROM reach GROUP BY 1),
         |colors AS MATERIALIZED (
         |  SELECT r.vid, min(r.color) AS color
         |  FROM reach r JOIN md ON r.vid = md.vid AND r.h = md.mh GROUP BY 1),
         |sizes AS (SELECT color, count(*) AS size FROM colors GROUP BY 1),
         |nbp AS (SELECT DISTINCT ca.color AS c1, cb.color AS c2
         |        FROM sym s JOIN colors ca ON s.s = ca.vid
         |                   JOIN colors cb ON s.d = cb.vid
         |        WHERE ca.color <> cb.color),
         |binfo AS (SELECT z.color, z.size,
         |                 coalesce(list(n.c2 ORDER BY n.c2)
         |                          FILTER (n.c2 IS NOT NULL), []) AS nbs
         |          FROM sizes z LEFT JOIN nbp n ON z.color = n.c1
         |          GROUP BY 1, 2),
         |blocks AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY size DESC, color) AS rk,
         |         color, size, nbs FROM binfo),
         |nblocks AS MATERIALIZED (
         |  SELECT count(*) AS nb_cnt, (11*sum(size))//(10*8) AS cap FROM blocks),
         |st(i, hist, loads) AS (
         |  SELECT 0, CAST([] AS STRUCT(c BIGINT, w BIGINT, z BIGINT)[]),
         |         CAST([0,0,0,0,0,0,0,0] AS BIGINT[])
         |  UNION ALL
         |  SELECT t.i + 1,
         |         list_append(t.hist, {'c': t.color, 'w': t.chosen, 'z': t.size}),
         |         [t.loads[j+1] + CASE WHEN j = t.chosen THEN t.size ELSE 0 END FOR j IN range(8)]
         |  FROM (
         |    SELECT s.i, s.hist, s.loads, b.color, b.size,
         |      coalesce(
         |        7 - (list_max([
         |           coalesce(list_sum([h.z FOR h IN s.hist IF h.w = j AND list_contains(b.nbs, h.c)]), 0)
         |             * (n.cap - s.loads[j+1]) * 8 + (7 - j)
         |           FOR j IN range(8)
         |           IF s.loads[j+1] + b.size <= n.cap
         |              AND coalesce(list_sum([h.z FOR h IN s.hist IF h.w = j AND list_contains(b.nbs, h.c)]), 0)
         |                  * (n.cap - s.loads[j+1]) > 0]) % 8),
         |        list_min([s.loads[j+1] * 8 + j FOR j IN range(8)]) % 8) AS chosen
         |    FROM st s JOIN blocks b ON b.rk = s.i + 1 CROSS JOIN nblocks n
         |  ) t
         |),
         |asg AS MATERIALIZED (
         |  SELECT h.c AS color, h.w AS worker
         |  FROM (SELECT unnest(hist) AS h FROM st, nblocks
         |        WHERE st.i = nblocks.nb_cnt)),
         |lay AS MATERIALIZED (
         |  SELECT c.vid, c.color, a.worker
         |  FROM colors c JOIN asg a ON c.color = a.color),
         |wedges AS MATERIALIZED (
         |  SELECT s.s, s.d, la.worker AS wa, lb.worker AS wb
         |  FROM sym s JOIN lay la ON s.s = la.vid JOIN lay lb ON s.d = lb.vid),
         |crossx AS (SELECT wa AS worker, count(*) AS cross_edges
         |           FROM wedges WHERE wa <> wb GROUP BY 1),
         |hcross AS (SELECT CAST(('0x' || substr(sha256(CAST(s AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS worker,
         |                  count(*) AS sha_cross_edges
         |           FROM wedges
         |           WHERE CAST(('0x' || substr(sha256(CAST(s AS VARCHAR)), 1, 15)) AS BIGINT) % 8
         |              <> CAST(('0x' || substr(sha256(CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 8
         |           GROUP BY 1),
         |perw AS (SELECT worker, count(DISTINCT color) AS n_blocks,
         |                count(*) AS n_vertices FROM lay GROUP BY 1)
         |SELECT u.worker,
         |       coalesce(p.n_blocks, 0) AS n_blocks,
         |       coalesce(p.n_vertices, 0) AS n_vertices,
         |       coalesce(c.cross_edges, 0) AS cross_edges,
         |       coalesce(h.sha_cross_edges, 0) AS sha_cross_edges
         |FROM (SELECT unnest(range(8)) AS worker) u
         |LEFT JOIN perw p ON u.worker = p.worker
         |LEFT JOIN crossx c ON u.worker = c.worker
         |LEFT JOIN hcross h ON u.worker = h.worker""".stripMargin,

    // SCC ground truth: sha-steered orientation (h%3: 0 fwd, 1 bwd,
    // 2 both — Scc.shaDirect's exact rule), full transitive closure,
    // scc id = min over mutually-reachable vertices (incl. self)
    "q98_scc" ->
      s"""WITH RECURSIVE $CTE,
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
         |GROUP BY 1""".stripMargin,

    // MSF ground truth: Kruskal replay — edges in unique-sha-weight
    // order, one per recursion step, union-find carried as a fully
    // flattened representative list (merge = rewrite hi→lo), an edge
    // joins the forest iff its endpoints' representatives differ
    "q99_mst" ->
      s"""WITH RECURSIVE $CTE,
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
         |FROM (SELECT unnest(mst) AS m FROM st, ne WHERE st.i = ne.n)""".stripMargin,

    // two-phase replay: pr1 = 6 uniform-start supersteps on the full
    // thresholded sym graph; fe = the q46 deletion predicate applied
    // symmetrically; pr2 = 4 supersteps on the survivor graph seeded
    // from pr1@6 (warm start). Arithmetic forms mirror the q10 oracle.
    "q100_pr_warm" ->
      s"""WITH RECURSIVE $CTE,
         |ne2 AS (SELECT count(*) AS n FROM deg),
         |pr1(iter, vid, rank) AS (
         |  SELECT 0, vid, CAST(1.0 AS DOUBLE) / (SELECT n FROM ne2) FROM deg
         |  UNION ALL
         |  SELECT p.iter + 1, s.d,
         |         CAST(0.15 AS DOUBLE) / (SELECT n FROM ne2)
         |         + CAST(0.85 AS DOUBLE) * sum(p.rank / g.degree)
         |  FROM pr1 p JOIN deg g ON p.vid = g.vid JOIN sym s ON p.vid = s.s
         |  WHERE p.iter < 6
         |  GROUP BY 1, 2
         |),
         |fe AS (SELECT s, d FROM sym WHERE s % 7 <> 0 AND d % 7 <> 0),
         |fdeg2 AS (SELECT s AS vid, count(*) AS odeg FROM fe GROUP BY 1),
         |n2 AS (SELECT count(*) AS n FROM fdeg2),
         |pr2(iter, vid, rank) AS (
         |  SELECT 0, f.vid, p.rank
         |  FROM fdeg2 f JOIN pr1 p ON f.vid = p.vid WHERE p.iter = 6
         |  UNION ALL
         |  SELECT q.iter + 1, fe.d,
         |         CAST(0.15 AS DOUBLE) / (SELECT n FROM n2)
         |         + CAST(0.85 AS DOUBLE) * sum(q.rank / g.odeg)
         |  FROM pr2 q JOIN fdeg2 g ON q.vid = g.vid JOIN fe ON q.vid = fe.s
         |  WHERE q.iter < 4
         |  GROUP BY 1, 2
         |)
         |SELECT vid, round(rank, 8) AS rank FROM pr2 WHERE iter = 4""".stripMargin,

    // double sweep replay: max-degree start (min-vid ties), BFS, argmax
    // by (dist desc, vid) twice; diameter_lb = the 2nd eccentricity
    "q101_diameter" ->
      s"""WITH RECURSIVE $CTE,
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
         |FROM start, far1, far2""".stripMargin,

    // bigram LM replay: same whitespace tokens, bigram strings joined
    // with one space, conditional ppm = count(w1,w2)*1e6 // count(w1,·)
    // over the BIGRAM stream, per-doc floor-ppm average
    "q102_bigram_lm" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM tk WHERE len(t) >= 2),
        |bgs AS (SELECT doc_id,
        |               t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS bg,
        |               t[CAST(i AS INT)] AS w1
        |        FROM pos),
        |bc AS (SELECT bg, count(*) AS bc FROM bgs GROUP BY 1),
        |pc AS (SELECT w1, count(*) AS pc FROM bgs GROUP BY 1)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |       CAST(sum(x.bc * 1000000 // p.pc) AS BIGINT) // count(*) AS lm_ppm
        |FROM bgs b JOIN bc x ON b.bg = x.bg JOIN pc p ON b.w1 = p.w1
        |GROUP BY 1""".stripMargin,

    // Rand index replay: the q11 LP recursion and the q08 CC closure
    // feed one contingency table; agreements in pair-counting form
    "q103_rand_index" ->
      s"""WITH RECURSIVE $CTE,
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM deg
         |  UNION
         |  SELECT s.d, r.lbl FROM reach r JOIN sym s ON r.vid = s.s
         |),
         |comp AS (SELECT vid, min(lbl) AS cb FROM reach GROUP BY vid),
         |lp(iter, vid, lbl) AS (
         |  SELECT 0, vid, vid FROM deg
         |  UNION ALL
         |  SELECT iter + 1, vid, arg_min(nlbl, cnt * (-1000000000) + nlbl) FROM (
         |    SELECT l.iter AS iter, s.d AS vid, l.lbl AS nlbl, count(*) AS cnt
         |    FROM lp l JOIN sym s ON l.vid = s.s
         |    WHERE l.iter < 5
         |    GROUP BY 1, 2, 3
         |  ) GROUP BY 1, 2
         |),
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
         |FROM s1, s2, s3""".stripMargin,

    // profile replay: degree histogram cumsum; percentile q = smallest
    // degree with cum*100 >= n*q (exact ceil order statistic)
    "q104_profile" ->
      s"""WITH $CTE,
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
         |FROM sc""".stripMargin,

    // first-fit greedy replay in (sha60("col:vid"), vid) order: adj
    // keeps only HIGHER-priority (lower ord) neighbors, the recursion
    // appends one color per step, chosen = smallest c in 0..deg not
    // used by those neighbors — provably the Jones-Plassmann fixpoint
    "q105_coloring" ->
      s"""WITH RECURSIVE $CTE,
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
         |FROM st, nv2, vert v WHERE st.i = nv2.n""".stripMargin,

    "q106_butterflies" ->
      s"""WITH $CTE
         |SELECT count(*) AS n_copairs, max(weight) AS max_cooc,
         |       CAST(sum(weight) AS BIGINT) AS wedge_pairs,
         |       CAST(sum(weight * (weight - 1) // 2) AS BIGINT) AS butterflies
         |FROM cooc""".stripMargin,

    // rectangles: wedge table over the symmetric adjacency (u < v
    // diagonal pairs), C4 = sum C(w,2) / 2 (each counted per diagonal)
    "q107_rectangles" ->
      s"""WITH $CTE,
         |wt AS (SELECT a.d AS u, b.d AS v, count(*) AS w
         |       FROM sym a JOIN sym b ON a.s = b.s AND a.d < b.d
         |       GROUP BY 1, 2)
         |SELECT CAST(sum(w) AS BIGINT) AS wedges,
         |       count(*) AS diag_pairs,
         |       CAST(sum(w * (w - 1) // 2) AS BIGINT) // 2 AS c4
         |FROM wt""".stripMargin,

    // Katz scaled-integer replay: y' = 4^iter + sum of in-neighbor y
    "q108_katz" ->
      s"""WITH RECURSIVE $CTE,
         |kz(iter, vid, y, c) AS (
         |  SELECT 0, vid, CAST(1 AS BIGINT), CAST(1 AS BIGINT) FROM deg
         |  UNION ALL
         |  SELECT k.iter + 1, s.d, min(k.c) * 4 + CAST(sum(k.y) AS BIGINT),
         |         min(k.c) * 4
         |  FROM kz k JOIN sym s ON k.vid = s.s
         |  WHERE k.iter < 6
         |  GROUP BY 1, 2
         |)
         |SELECT vid, y AS katz_scaled FROM kz WHERE iter = 6""".stripMargin,

    // topo layering replay: degree orientation (lower (degree,vid)
    // first), longest path via dedup'd (vid, h) expansion — bounded by
    // V x depth because the orientation is acyclic
    "q109_topo_layers" ->
      s"""WITH RECURSIVE $CTE,
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
         |SELECT vid, CAST(max(h) AS BIGINT) AS layer FROM lp GROUP BY 1""".stripMargin,

    // h-index iteration replay, 4 unrolled stages: c0 = degree, then
    // c' = per-vertex H-index of neighbor c (max over least(c, rank))
    "q110_coreness" ->
      s"""WITH $CTE,
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
         |SELECT vid, c FROM h4""".stripMargin,

    // movers replay: the q100 two-phase CTE, survivors joined across
    // phases, rounded delta, top-20 by (|delta| desc, vid)
    "q111_pr_movers" ->
      s"""WITH RECURSIVE $CTE,
         |ne2 AS (SELECT count(*) AS n FROM deg),
         |pr1(iter, vid, rank) AS (
         |  SELECT 0, vid, CAST(1.0 AS DOUBLE) / (SELECT n FROM ne2) FROM deg
         |  UNION ALL
         |  SELECT p.iter + 1, s.d,
         |         CAST(0.15 AS DOUBLE) / (SELECT n FROM ne2)
         |         + CAST(0.85 AS DOUBLE) * sum(p.rank / g.degree)
         |  FROM pr1 p JOIN deg g ON p.vid = g.vid JOIN sym s ON p.vid = s.s
         |  WHERE p.iter < 6
         |  GROUP BY 1, 2
         |),
         |fe AS (SELECT s, d FROM sym WHERE s % 7 <> 0 AND d % 7 <> 0),
         |fdeg2 AS (SELECT s AS vid, count(*) AS odeg FROM fe GROUP BY 1),
         |n2 AS (SELECT count(*) AS n FROM fdeg2),
         |pr2(iter, vid, rank) AS (
         |  SELECT 0, f.vid, p.rank
         |  FROM fdeg2 f JOIN pr1 p ON f.vid = p.vid WHERE p.iter = 6
         |  UNION ALL
         |  SELECT q.iter + 1, fe.d,
         |         CAST(0.15 AS DOUBLE) / (SELECT n FROM n2)
         |         + CAST(0.85 AS DOUBLE) * sum(q.rank / g.odeg)
         |  FROM pr2 q JOIN fdeg2 g ON q.vid = g.vid JOIN fe ON q.vid = fe.s
         |  WHERE q.iter < 4
         |  GROUP BY 1, 2
         |)
         |SELECT a.vid, round(a.rank, 8) AS rank_before,
         |       round(b.rank, 8) AS rank_after,
         |       round(b.rank - a.rank, 8) AS delta
         |FROM pr1 a JOIN pr2 b ON a.vid = b.vid
         |WHERE a.iter = 6 AND b.iter = 4
         |ORDER BY abs(round(b.rank - a.rank, 8)) DESC, a.vid
         |LIMIT 20""".stripMargin,

    // weighted LP replay: the q11 recursion with count(*) -> sum(weight)
    "q112_lp_weighted" ->
      s"""WITH RECURSIVE $CTE,
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
         |SELECT vid, lbl AS label FROM wlp WHERE iter = 5""".stripMargin,
    // count-min sketch replayed bucket-for-bucket: same sha row hashes,
    // same 4x256 counter table, min over rows = the point estimate
    "q113_cms_heavy" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |             FROM documents),
        |cnt AS (SELECT t, count(*) AS cnt FROM tok GROUP BY 1),
        |rb AS (SELECT t, cnt, i,
        |       CAST(('0x' || substr(sha256(t || '#' || i), 1, 15)) AS BIGINT) % 256 AS bucket
        |       FROM cnt CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) ii),
        |sk AS (SELECT i, bucket, CAST(sum(cnt) AS BIGINT) AS c
        |       FROM rb GROUP BY 1, 2),
        |top AS (SELECT t, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, t) AS BIGINT) AS rnk
        |        FROM cnt QUALIFY rnk <= 30),
        |est AS (SELECT rb.t, min(sk.c) AS cms_est
        |        FROM rb JOIN top ON rb.t = top.t
        |        JOIN sk ON sk.i = rb.i AND sk.bucket = rb.bucket
        |        GROUP BY 1)
        |SELECT top.t, top.cnt, top.rnk, est.cms_est
        |FROM top JOIN est ON top.t = est.t""".stripMargin,
    // HLL registers replayed: reg = h % 64, rank = first '1' position in
    // the zero-padded binary expansion of h div 64 (55 if all-zero)
    "q114_hll_users" ->
      """WITH h AS (SELECT event_type,
        |           CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |           FROM events),
        |r AS (SELECT event_type, h % 64 AS reg, h // 64 AS rest FROM h)
        |SELECT event_type, reg,
        |       CAST(max(CASE WHEN rest = 0 THEN 55
        |                ELSE instr(lpad(bin(rest), 54, '0'), '1') END) AS BIGINT)
        |         AS max_rank
        |FROM r GROUP BY 1, 2""".stripMargin,
    // first-arrival dedup: first (ts, event_id) row per key + dup count
    "q115_dedup_first" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
        |       row_number() OVER (PARTITION BY user_id, event_type
        |                          ORDER BY ts, event_id) AS rn,
        |       count(*) OVER (PARTITION BY user_id, event_type) AS n_dups
        |       FROM events)
        |SELECT user_id, event_type, tus AS first_ts_us,
        |       event_id AS first_event_id, CAST(n_dups AS BIGINT) AS n_dups
        |FROM ev WHERE rn = 1""".stripMargin,
    // contraction replay: endpoint->brand map, intra-brand dropped,
    // canonical brand pair, count + strength
    "q116_brand_graph" ->
      s"""WITH $CTE,
         |pm AS (SELECT p_partkey AS vid, p_brand AS grp FROM part),
         |m AS (SELECT a.grp AS gs, b.grp AS gd, c.weight
         |      FROM cooc c JOIN pm a ON c.src = a.vid
         |      JOIN pm b ON c.dst = b.vid WHERE a.grp <> b.grp)
         |SELECT least(gs, gd) AS g1, greatest(gs, gd) AS g2,
         |       count(*) AS n_pairs, CAST(sum(weight) AS BIGINT) AS strength
         |FROM m GROUP BY 1, 2""".stripMargin,
    // sampled-TC replay: same sha edge predicate, q06's triangle join
    "q117_tc_sampled" ->
      s"""WITH $CTE,
         |se AS (SELECT s, d FROM e
         |       WHERE CAST(('0x' || substr(sha256(s || ':' || d), 1, 15)) AS BIGINT) % 4 = 0),
         |t AS (SELECT count(*) AS c
         |      FROM se a JOIN se b ON a.d = b.s
         |      JOIN se c ON a.s = c.s AND b.d = c.d)
         |SELECT c AS sampled_tc, c * 64 AS tc_est FROM t""".stripMargin,
    // landmark index replay: 4 smallest-sha vertices, bounded BFS per
    // landmark (recursive CTE, min dist), probe-pair upper bounds
    "q118_landmark_dist" ->
      s"""WITH RECURSIVE $CTE, $FULL,
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
         |GROUP BY 1, 2""".stripMargin,
    // greedy matching replayed: 3 unrolled local-min rounds, sha edge
    // priorities, saturated endpoints removed between rounds. Stages are
    // MATERIALIZED — DuckDB would otherwise inline each CTE per
    // reference and the unrolled chain re-evaluates exponentially
    "q119_matching" ->
      s"""WITH $CTE,
         |l0 AS MATERIALIZED (SELECT s, d,
         |       CAST(('0x' || substr(sha256('mm:' || s || ':' || d), 1, 15)) AS BIGINT) AS p
         |       FROM e),
         |v1 AS MATERIALIZED (SELECT v, min(p) AS mp FROM
         |       (SELECT s AS v, p FROM l0 UNION ALL SELECT d, p FROM l0) GROUP BY 1),
         |m1 AS MATERIALIZED (SELECT l.s, l.d FROM l0 l
         |       JOIN v1 a ON l.s = a.v AND l.p = a.mp
         |       JOIN v1 b ON l.d = b.v AND l.p = b.mp),
         |x1 AS MATERIALIZED (SELECT s AS v FROM m1 UNION SELECT d FROM m1),
         |l1 AS MATERIALIZED (SELECT l.* FROM l0 l
         |       WHERE NOT EXISTS (SELECT 1 FROM x1 WHERE x1.v = l.s)
         |         AND NOT EXISTS (SELECT 1 FROM x1 WHERE x1.v = l.d)),
         |v2 AS MATERIALIZED (SELECT v, min(p) AS mp FROM
         |       (SELECT s AS v, p FROM l1 UNION ALL SELECT d, p FROM l1) GROUP BY 1),
         |m2 AS MATERIALIZED (SELECT l.s, l.d FROM l1 l
         |       JOIN v2 a ON l.s = a.v AND l.p = a.mp
         |       JOIN v2 b ON l.d = b.v AND l.p = b.mp),
         |x2 AS MATERIALIZED (SELECT s AS v FROM m2 UNION SELECT d FROM m2),
         |l2 AS MATERIALIZED (SELECT l.* FROM l1 l
         |       WHERE NOT EXISTS (SELECT 1 FROM x2 WHERE x2.v = l.s)
         |         AND NOT EXISTS (SELECT 1 FROM x2 WHERE x2.v = l.d)),
         |v3 AS MATERIALIZED (SELECT v, min(p) AS mp FROM
         |       (SELECT s AS v, p FROM l2 UNION ALL SELECT d, p FROM l2) GROUP BY 1),
         |m3 AS MATERIALIZED (SELECT l.s, l.d FROM l2 l
         |       JOIN v3 a ON l.s = a.v AND l.p = a.mp
         |       JOIN v3 b ON l.d = b.v AND l.p = b.mp)
         |SELECT s AS src, d AS dst, 1 AS round FROM m1
         |UNION ALL SELECT s, d, 2 FROM m2
         |UNION ALL SELECT s, d, 3 FROM m3""".stripMargin,
    // densest peel replayed: 4 unrolled integer-rule stages (also
    // MATERIALIZED); isolated survivors count in n_v via the LEFT JOIN
    "q120_densest" ->
      s"""WITH $CTE,
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
         |UNION ALL SELECT 4, nv, ne FROM c4""".stripMargin,
    // rich-club replay: degree > k vertex counts + min-endpoint-degree
    // edge counts per threshold, phi = 2 n_e / (n_v (n_v - 1))
    "q121_rich_club" ->
      s"""WITH $CTE,
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
         |FROM nv LEFT JOIN ne ON nv.k = ne.k""".stripMargin,
    // earliest-arrival temporal reachability, bounded to 4 contact hops:
    // the recursion carries (vid, arrival-candidate, path length); UNION
    // dedup bounds states by |contacts|·rounds, and min-over-states
    // equals the kernel's min-over-paths(<=4) exactly (a contact from u
    // departing at tu qualifies iff SOME state t <= tu exists, i.e. iff
    // min-arrival(u) <= tu)
    "q122_temporal_reach" ->
      """WITH RECURSIVE ev AS (SELECT user_id AS u, event_type AS g, epoch_us(ts) AS t FROM events),
        |seeds AS (SELECT DISTINCT u AS vid FROM ev
        |          WHERE CAST(('0x' || substr(sha256(CAST(u AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 50),
        |c AS (SELECT a.u AS src, b.u AS dst, a.t AS tu, b.t AS tv
        |      FROM ev a JOIN ev b ON a.g = b.g
        |       AND b.t >= a.t AND b.t - a.t <= 300000000
        |       AND (a.t < b.t OR (a.t = b.t AND a.u < b.u)) AND a.u <> b.u),
        |reach(vid, t, r) AS (
        |  SELECT vid, CAST(0 AS BIGINT), 0 FROM seeds
        |  UNION
        |  SELECT c.dst, c.tv, r.r + 1 FROM reach r JOIN c ON c.src = r.vid AND c.tu >= r.t
        |  WHERE r.r < 4
        |)
        |SELECT vid, min(t) AS arrival FROM reach GROUP BY 1""".stripMargin,
    // snapshot graph diff: degrees of the full derived edge table vs the
    // post-deleteWhere survivor set, changed vertices only
    "q123_snapshot_diff" ->
      s"""WITH $CTE,
         |e5 AS (SELECT s, d FROM e WHERE s % 5 <> 0 AND d % 5 <> 0),
         |syma AS (SELECT s, d FROM e5 UNION ALL SELECT d, s FROM e5),
         |db AS (SELECT s AS vid, count(*) AS nb FROM sym GROUP BY 1),
         |da AS (SELECT s AS vid, count(*) AS na FROM syma GROUP BY 1)
         |SELECT coalesce(db.vid, da.vid) AS vid,
         |       coalesce(nb, 0) AS deg_before, coalesce(na, 0) AS deg_after,
         |       coalesce(na, 0) - coalesce(nb, 0) AS delta
         |FROM db FULL OUTER JOIN da ON db.vid = da.vid
         |WHERE coalesce(na, 0) <> coalesce(nb, 0)""".stripMargin,
    // Bloom decontamination replay: identical bench/doc split and
    // trigrams as q65, sha bit positions p_j(g) = sha60(j || ':' || g)
    // mod 16384, flagged iff all 3 positions land in the bench set
    "q124_bloom_decontam" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |                    CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 30 AS is_bench
        |             FROM documents),
        |pos AS (SELECT doc_id, t, is_bench, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tok WHERE len(t) >= 3),
        |ng AS (SELECT DISTINCT doc_id, is_bench, array_to_string(t[i:i+2], ' ') AS g
        |       FROM pos),
        |hp AS (SELECT doc_id, is_bench, g, j,
        |              CAST(('0x' || substr(sha256(j || ':' || g), 1, 15)) AS BIGINT) % 16384 AS p
        |       FROM ng, (SELECT unnest([0, 1, 2]) AS j)),
        |bloom AS (SELECT DISTINCT p FROM hp WHERE is_bench),
        |hits AS (SELECT h.doc_id, h.g FROM hp h JOIN bloom b ON h.p = b.p
        |         WHERE NOT h.is_bench
        |         GROUP BY h.doc_id, h.g HAVING count(*) = 3)
        |SELECT doc_id, count(*) AS n_flagged FROM hits GROUP BY 1
        |HAVING count(*) >= 1""".stripMargin,
    // SemDeDup replay: the q58 centroid assignment verbatim, then the
    // within-cluster pairwise integer-cosine rule in HUGEINT —
    // dot > 0 AND dot^2 * 10^12 >= 380000^2 * |a|^2 * |b|^2
    "q125_semdedup" ->
      """WITH qv AS (SELECT vec_id,
        |              list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |       FROM embeddings),
        |hh AS (SELECT vec_id, q,
        |              CAST(('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |       FROM qv),
        |cent AS (SELECT q AS cq,
        |                CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid
        |         FROM hh
        |         QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 16),
        |ds AS (SELECT v.vec_id, c.cid,
        |              CAST(list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                 - 2 * list_dot_product(CAST(v.q AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                   AS BIGINT) AS d2
        |       FROM qv v, cent c),
        |assign AS (SELECT vec_id, cid AS cluster FROM ds
        |           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
        |nn AS (SELECT a.vec_id, a.cluster, v.q,
        |              CAST(list_dot_product(CAST(v.q AS DOUBLE[]), CAST(v.q AS DOUBLE[])) AS BIGINT) AS n2
        |       FROM assign a JOIN qv v ON v.vec_id = a.vec_id),
        |pr AS (SELECT a.vec_id AS keep_id, b.vec_id AS drop_id,
        |              CAST(list_dot_product(CAST(a.q AS DOUBLE[]), CAST(b.q AS DOUBLE[])) AS BIGINT) AS dot,
        |              a.n2 AS na, b.n2 AS nb
        |       FROM nn a JOIN nn b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
        |dropped AS (SELECT drop_id, min(keep_id) AS kept_for FROM pr
        |            WHERE dot > 0
        |              AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * CAST(1000000000000 AS HUGEINT)
        |                  >= CAST(380000 AS HUGEINT) * CAST(380000 AS HUGEINT)
        |                     * CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)
        |            GROUP BY 1)
        |SELECT a.vec_id, a.cluster,
        |       CAST(d.kept_for IS NULL AS BIGINT) AS keep, d.kept_for
        |FROM assign a LEFT JOIN dropped d ON d.drop_id = a.vec_id""".stripMargin,
    // unfiltered all-pairs Jaccard ground truth: every vertex pair sharing
    // a neighbor, exact intersection via the co-token join, integer ppm
    // floor-division — matching the prefix-filtered Spark plan proves the
    // filter drops no qualifying pair
    "q126_setsim_join" ->
      s"""WITH $CTE,
         |sz AS (SELECT s AS id, count(*) AS n FROM sym GROUP BY 1),
         |ip AS (SELECT a.s AS u, b.s AS v, count(*) AS inter
         |       FROM sym a JOIN sym b ON a.d = b.d AND a.s < b.s
         |       GROUP BY 1, 2),
         |j AS (SELECT u, v, inter, x.n AS n_u, y.n AS n_v
         |      FROM ip JOIN sz x ON ip.u = x.id JOIN sz y ON ip.v = y.id)
         |SELECT u, v, inter, n_u, n_v,
         |       inter * 1000000 // (n_u + n_v - inter) AS jaccard_ppm
         |FROM j WHERE inter * 1000000 >= 500000 * (n_u + n_v - inter)""".stripMargin,
    // two Lloyd rounds replayed stage-by-stage: sha codebook (the q58
    // cent), integer-rank assignment with ties to the lower cid,
    // per-dimension floor(sum/count) updates with empty-cluster carry,
    // final assignment + exact integer squared distance
    "q127_kmeans" ->
      """WITH qv AS (SELECT vec_id,
        |              list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |       FROM embeddings),
        |hh AS (SELECT vec_id, q,
        |              CAST(('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |       FROM qv),
        |c0 AS (SELECT q AS cq,
        |              CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid
        |       FROM hh
        |       QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 8),
        |d0 AS (SELECT v.vec_id, c.cid,
        |              CAST(list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                 - 2 * list_dot_product(CAST(v.q AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                   AS BIGINT) AS d2
        |       FROM qv v, c0 c),
        |a0 AS (SELECT vec_id, cid FROM d0
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
        |x0 AS (SELECT a0.cid, v.q, unnest(generate_series(1, len(v.q))) AS i
        |       FROM a0 JOIN qv v ON v.vec_id = a0.vec_id),
        |u0 AS (SELECT cid, i,
        |              CAST(floor(CAST(sum(q[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cc
        |       FROM x0 GROUP BY 1, 2),
        |cp0 AS (SELECT cid, cq, unnest(generate_series(1, len(cq))) AS i FROM c0),
        |c1 AS (SELECT cp0.cid, list(coalesce(u0.cc, cp0.cq[cp0.i]) ORDER BY cp0.i) AS cq
        |       FROM cp0 LEFT JOIN u0 ON u0.cid = cp0.cid AND u0.i = cp0.i
        |       GROUP BY 1),
        |d1 AS (SELECT v.vec_id, c.cid,
        |              CAST(list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                 - 2 * list_dot_product(CAST(v.q AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                   AS BIGINT) AS d2
        |       FROM qv v, c1 c),
        |a1 AS (SELECT vec_id, cid FROM d1
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
        |x1 AS (SELECT a1.cid, v.q, unnest(generate_series(1, len(v.q))) AS i
        |       FROM a1 JOIN qv v ON v.vec_id = a1.vec_id),
        |u1 AS (SELECT cid, i,
        |              CAST(floor(CAST(sum(q[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cc
        |       FROM x1 GROUP BY 1, 2),
        |cp1 AS (SELECT cid, cq, unnest(generate_series(1, len(cq))) AS i FROM c1),
        |c2 AS (SELECT cp1.cid, list(coalesce(u1.cc, cp1.cq[cp1.i]) ORDER BY cp1.i) AS cq
        |       FROM cp1 LEFT JOIN u1 ON u1.cid = cp1.cid AND u1.i = cp1.i
        |       GROUP BY 1),
        |d2f AS (SELECT v.vec_id, c.cid,
        |               CAST(list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                  - 2 * list_dot_product(CAST(v.q AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                    AS BIGINT) AS dr,
        |               CAST(list_dot_product(CAST(v.q AS DOUBLE[]), CAST(v.q AS DOUBLE[]))
        |                    AS BIGINT) AS n2
        |        FROM qv v, c2 c)
        |SELECT vec_id, cid AS cluster, n2 + dr AS d2 FROM d2f
        |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dr, cid) = 1""".stripMargin,
    // funnel replay: earliest view, earliest strictly-later click,
    // earliest strictly-later purchase; stage = completed prefix length
    "q128_funnel" ->
      """WITH ev AS (SELECT user_id AS u, event_type AS g, epoch_us(ts) AS t
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')),
        |uni AS (SELECT DISTINCT u FROM ev),
        |s1 AS (SELECT u, min(t) AS t1 FROM ev WHERE g = 'view' GROUP BY 1),
        |s2 AS (SELECT ev.u, min(t) AS t2 FROM ev JOIN s1 ON ev.u = s1.u
        |       WHERE g = 'click' AND t > t1 GROUP BY 1),
        |s3 AS (SELECT ev.u, min(t) AS t3 FROM ev JOIN s2 ON ev.u = s2.u
        |       WHERE g = 'purchase' AND t > t2 GROUP BY 1)
        |SELECT uni.u AS user_id,
        |       CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |                 WHEN t2 IS NOT NULL THEN 2
        |                 WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
        |       coalesce(t3, t2, t1) AS t_final
        |FROM uni LEFT JOIN s1 ON uni.u = s1.u
        |         LEFT JOIN s2 ON uni.u = s2.u
        |         LEFT JOIN s3 ON uni.u = s3.u""".stripMargin,
    // histogram sketch replay: identical integer width/bucket/target
    // arithmetic (// is floor division; all values non-negative)
    "q129_hist_quantiles" ->
      """WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents),
        |st AS (SELECT min(v) AS mn, max(v) AS mx, count(*) AS n FROM v),
        |wd AS (SELECT mn, n, (mx - mn) // 64 + 1 AS width FROM st),
        |h AS (SELECT (v - mn) // width AS b, count(*) AS c FROM v, wd GROUP BY 1),
        |cu AS (SELECT b, sum(c) OVER (ORDER BY b) AS cum FROM h),
        |qs AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pct)
        |SELECT pct, min(b) AS bucket,
        |       (SELECT mn FROM wd) + min(b) * (SELECT width FROM wd) AS est
        |FROM qs JOIN cu ON cum >= (pct * (SELECT n FROM wd) + 99) // 100
        |GROUP BY 1""".stripMargin,
    // systematic PPS replay: window cumsum over doc_id order (the oracle
    // may use the global window the Spark plan avoids), positions
    // p_j = floor(j*W/50), n_picks = |{j in [0,50): p_j in [start, start+w)}|
    "q130_pps_sample" ->
      """WITH t AS (SELECT doc_id,
        |                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w
        |           FROM documents),
        |c AS (SELECT doc_id, w,
        |             CAST(sum(w) OVER (ORDER BY doc_id) - w AS BIGINT) AS strt
        |      FROM t),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM t),
        |p AS (SELECT doc_id, w, strt,
        |             greatest(0, least(50, ((strt + w) * 50 + tw - 1) // tw)
        |                         - ((strt * 50 + tw - 1) // tw)) AS n_picks
        |      FROM c, tot)
        |SELECT doc_id, w AS weight, strt AS w_start, n_picks
        |FROM p WHERE n_picks > 0""".stripMargin,
    // Morton interleave replay: z = Σ ((x>>i)&1)<<2i | ((y>>i)&1)<<(2i+1)
    // — terms occupy disjoint bits, so integer SUM == bitwise OR
    "q131_zorder_census" ->
      s"""WITH $CTE,
         |bt AS (SELECT s, d, unnest(generate_series(0, 15)) AS i FROM e),
         |z2 AS (SELECT s, d,
         |              CAST(sum((((s % 65536) >> i) & 1) << (2 * i))
         |                 + sum((((d % 65536) >> i) & 1) << (2 * i + 1))
         |                   AS BIGINT) AS z
         |       FROM bt GROUP BY s, d)
         |SELECT z >> 18 AS bucket, count(*) AS n_edges,
         |       count(DISTINCT s) AS n_src, count(DISTINCT d) AS n_dst
         |FROM z2 GROUP BY 1""".stripMargin,
    // temporal chain motifs over the q122 contact table: relay departs
    // at-or-after arrival, full span within the 600 s window
    "q132_temporal_motifs" ->
      """WITH ev AS (SELECT user_id AS u, event_type AS g, epoch_us(ts) AS t FROM events),
        |c AS (SELECT a.u AS src, b.u AS dst, a.t AS tu, b.t AS tv
        |      FROM ev a JOIN ev b ON a.g = b.g
        |       AND b.t >= a.t AND b.t - a.t <= 300000000
        |       AND (a.t < b.t OR (a.t = b.t AND a.u < b.u)) AND a.u <> b.u)
        |SELECT a.dst AS v, count(*) AS n_chains
        |FROM c a JOIN c b ON a.dst = b.src
        |WHERE b.tu >= a.tv AND b.tv - a.tu <= 600000000 AND a.src <> b.dst
        |GROUP BY 1""".stripMargin,
    // the q57 candidate/re-rank pipeline verbatim, folded into per-vector
    // label agreement over the top-5 neighbors
    "q133_label_noise" ->
      """WITH planes AS (
        |  SELECT bb.b, jj.j, dd.d,
        |         CASE WHEN CAST(('0x' || substr(sha256(
        |             CAST(bb.b AS VARCHAR) || ':' || CAST(jj.j AS VARCHAR)
        |             || ':' || CAST(dd.d AS VARCHAR)), 1, 1)) AS INT) % 2 = 1
        |              THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(8)) AS b) bb,
        |       (SELECT unnest(range(8)) AS j) jj,
        |       (SELECT unnest(range(64)) AS d) dd),
        |qv AS (SELECT vec_id,
        |              list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |       FROM embeddings),
        |comp AS (SELECT vec_id, generate_subscripts(q, 1) - 1 AS d,
        |                unnest(q) AS x
        |         FROM qv),
        |dots AS (SELECT c.vec_id, p.b, p.j, sum(c.x * p.s) AS dot
        |         FROM comp c JOIN planes p ON p.d = c.d GROUP BY 1, 2, 3),
        |sig AS (SELECT vec_id, b,
        |               sum(CASE WHEN dot > 0 THEN (1 << j) ELSE 0 END) AS bucket
        |        FROM dots GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS vec_id, c.vec_id AS nn_id
        |         FROM sig a JOIN sig c
        |           ON a.b = c.b AND a.bucket = c.bucket AND a.vec_id <> c.vec_id),
        |pd AS (SELECT cand.vec_id, cand.nn_id,
        |              CAST(list_dot_product(CAST(x.q AS DOUBLE[]),
        |                                    CAST(y.q AS DOUBLE[])) AS BIGINT) AS dot
        |       FROM cand JOIN qv x ON x.vec_id = cand.vec_id
        |                 JOIN qv y ON y.vec_id = cand.nn_id),
        |nn AS (SELECT vec_id, nn_id FROM pd
        |       QUALIFY row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dot DESC, nn_id) <= 5),
        |ag AS (SELECT nn.vec_id, CAST(la.label AS BIGINT) AS label,
        |              count(*) AS n_nbrs,
        |              CAST(sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS n_same
        |       FROM nn JOIN embeddings la ON la.vec_id = nn.vec_id
        |               JOIN embeddings lb ON lb.vec_id = nn.nn_id
        |       GROUP BY 1, 2)
        |SELECT vec_id, label, n_nbrs, n_same,
        |       (n_same * 1000000) // n_nbrs AS same_ppm,
        |       CAST((n_same * 1000000) // n_nbrs < 500000 AS BIGINT) AS suspect
        |FROM ag""".stripMargin,
    // cut(S) counts each boundary edge once per side over sym; vol(S) is
    // the labeled-degree sum; phi = cut/min(vol, 2m-vol), NULL when the
    // community is the whole graph
    "q134_conductance" ->
      s"""WITH $CTE,
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
         |FROM per CROSS JOIN m2""".stripMargin,
    // 3 BPE rounds replayed as chained CTEs: sequences are |-wrapped
    // ||-joined symbol strings so replace('|l||r|','|lr|') IS the
    // leftmost non-overlapping merge (the consumed delimiter blocks
    // overlap; the wrapper blocks sub-symbol matches)
    "q135_bpe_merges" ->
      """WITH words AS (
        |  SELECT w AS word, count(*) AS freq
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |        FROM documents)
        |  GROUP BY 1),
        |s0 AS (SELECT '|' || array_to_string(regexp_extract_all(word, '.'),
        |                                     '||') || '|' AS seq, freq
        |       FROM words),
        |x1 AS (SELECT string_split(trim(seq, '|'), '||') AS syms, freq FROM s0),
        |e1 AS (SELECT unnest(generate_series(1, len(syms) - 1)) AS i,
        |              syms, freq
        |       FROM x1 WHERE len(syms) >= 2),
        |p1 AS (SELECT syms[i] AS l, syms[i + 1] AS r,
        |              CAST(sum(freq) AS BIGINT) AS cnt
        |       FROM e1 GROUP BY 1, 2),
        |k1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |s1 AS (SELECT replace(seq, '|' || l || '||' || r || '|',
        |                      '|' || l || r || '|') AS seq, freq
        |       FROM s0 CROSS JOIN k1),
        |x2 AS (SELECT string_split(trim(seq, '|'), '||') AS syms, freq FROM s1),
        |e2 AS (SELECT unnest(generate_series(1, len(syms) - 1)) AS i,
        |              syms, freq
        |       FROM x2 WHERE len(syms) >= 2),
        |p2 AS (SELECT syms[i] AS l, syms[i + 1] AS r,
        |              CAST(sum(freq) AS BIGINT) AS cnt
        |       FROM e2 GROUP BY 1, 2),
        |k2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |s2 AS (SELECT replace(seq, '|' || l || '||' || r || '|',
        |                      '|' || l || r || '|') AS seq, freq
        |       FROM s1 CROSS JOIN k2),
        |x3 AS (SELECT string_split(trim(seq, '|'), '||') AS syms, freq FROM s2),
        |e3 AS (SELECT unnest(generate_series(1, len(syms) - 1)) AS i,
        |              syms, freq
        |       FROM x3 WHERE len(syms) >= 2),
        |p3 AS (SELECT syms[i] AS l, syms[i + 1] AS r,
        |              CAST(sum(freq) AS BIGINT) AS cnt
        |       FROM e3 GROUP BY 1, 2),
        |k3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1)
        |SELECT CAST(1 AS INT) AS round, l AS merge_left, r AS merge_right,
        |       cnt AS pair_count FROM k1
        |UNION ALL SELECT 2, l, r, cnt FROM k2
        |UNION ALL SELECT 3, l, r, cnt FROM k3""".stripMargin,
    // ACL sweep replay: the q62 PPR recursion on the THRESHOLDED graph
    // (symmetric -> no dangling mass), ranks rounded to 8 (the oracle
    // discipline), top-150 by rank/degree, prefix cut/volume via one
    // greatest-position charge per internal edge + running sums
    "q136_sweep_cut" ->
      s"""WITH RECURSIVE $CTE,
         |seeds AS (SELECT vid FROM deg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 20),
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
         |FROM sweep CROSS JOIN m2""".stripMargin,
    // q69's 3-round truss peel, then the q08 hash-min recursion over the
    // surviving (symmetrized) edges
    "q137_truss_comm" ->
      s"""WITH RECURSIVE $CTE,
         |t0 AS MATERIALIZED (SELECT a.s AS x, a.d AS y, b.d AS z
         |       FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
         |s0 AS MATERIALIZED (SELECT s, d, count(*) AS sup FROM (
         |         SELECT x AS s, y AS d FROM t0 UNION ALL
         |         SELECT x, z FROM t0 UNION ALL SELECT y, z FROM t0) u0
         |       GROUP BY 1, 2),
         |p1 AS MATERIALIZED (SELECT e.s, e.d FROM e JOIN s0 ON e.s = s0.s AND e.d = s0.d
         |       WHERE s0.sup >= 1),
         |t1 AS MATERIALIZED (SELECT a.s AS x, a.d AS y, b.d AS z
         |       FROM p1 a JOIN p1 b ON a.d = b.s JOIN p1 c ON a.s = c.s AND b.d = c.d),
         |s1 AS MATERIALIZED (SELECT s, d, count(*) AS sup FROM (
         |         SELECT x AS s, y AS d FROM t1 UNION ALL
         |         SELECT x, z FROM t1 UNION ALL SELECT y, z FROM t1) u1
         |       GROUP BY 1, 2),
         |p2 AS MATERIALIZED (SELECT p1.s, p1.d FROM p1 JOIN s1 ON p1.s = s1.s AND p1.d = s1.d
         |       WHERE s1.sup >= 1),
         |t2 AS MATERIALIZED (SELECT a.s AS x, a.d AS y, b.d AS z
         |       FROM p2 a JOIN p2 b ON a.d = b.s JOIN p2 c ON a.s = c.s AND b.d = c.d),
         |s2 AS MATERIALIZED (SELECT s, d, count(*) AS sup FROM (
         |         SELECT x AS s, y AS d FROM t2 UNION ALL
         |         SELECT x, z FROM t2 UNION ALL SELECT y, z FROM t2) u2
         |       GROUP BY 1, 2),
         |p3 AS MATERIALIZED (SELECT p2.s, p2.d FROM p2 JOIN s2 ON p2.s = s2.s AND p2.d = s2.d
         |       WHERE s2.sup >= 1),
         |tsym AS MATERIALIZED (SELECT s, d FROM p3 UNION ALL SELECT d, s FROM p3),
         |tv AS (SELECT DISTINCT s AS vid FROM tsym),
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM tv
         |  UNION
         |  SELECT t.d, r.lbl FROM reach r JOIN tsym t ON r.vid = t.s
         |)
         |SELECT vid, min(lbl) AS component FROM reach GROUP BY vid""".stripMargin,
    // ego density: the q07 triangle corners per vertex + degree, then
    // pure integer ppm arithmetic per row
    "q138_ego_density" ->
      s"""WITH $CTE,
         |tri AS (SELECT a.s AS x, a.d AS y, b.d AS z
         |        FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
         |corners AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
         |            UNION ALL SELECT z FROM tri),
         |tcv AS (SELECT v AS vid, CAST(count(*) AS BIGINT) AS tri FROM corners GROUP BY 1)
         |SELECT d.vid, d.degree, coalesce(t.tri, 0) AS tri,
         |       d.degree + coalesce(t.tri, 0) AS ego_edges,
         |       (2 * (d.degree + coalesce(t.tri, 0)) * 1000000)
         |         // ((d.degree + 1) * d.degree) AS density_ppm
         |FROM deg d LEFT JOIN tcv t ON d.vid = t.vid""".stripMargin,
    // the q135 merge chain with the word carried through, one more
    // replace round (s3), then docs join the (word -> n_syms) map
    "q139_bpe_encode" ->
      """WITH dw AS MATERIALIZED (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents),
        |words AS MATERIALIZED (SELECT word, count(*) AS freq FROM dw GROUP BY 1),
        |s0 AS MATERIALIZED (
        |  SELECT word, '|' || array_to_string(regexp_extract_all(word, '.'),
        |                                      '||') || '|' AS seq, freq
        |  FROM words),
        |x1 AS (SELECT string_split(trim(seq, '|'), '||') AS syms, freq FROM s0),
        |e1 AS (SELECT unnest(generate_series(1, len(syms) - 1)) AS i,
        |              syms, freq
        |       FROM x1 WHERE len(syms) >= 2),
        |p1 AS (SELECT syms[i] AS l, syms[i + 1] AS r,
        |              CAST(sum(freq) AS BIGINT) AS cnt
        |       FROM e1 GROUP BY 1, 2),
        |k1 AS (SELECT l, r FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |s1 AS MATERIALIZED (
        |  SELECT word, replace(seq, '|' || l || '||' || r || '|',
        |                       '|' || l || r || '|') AS seq, freq
        |  FROM s0 CROSS JOIN k1),
        |x2 AS (SELECT string_split(trim(seq, '|'), '||') AS syms, freq FROM s1),
        |e2 AS (SELECT unnest(generate_series(1, len(syms) - 1)) AS i,
        |              syms, freq
        |       FROM x2 WHERE len(syms) >= 2),
        |p2 AS (SELECT syms[i] AS l, syms[i + 1] AS r,
        |              CAST(sum(freq) AS BIGINT) AS cnt
        |       FROM e2 GROUP BY 1, 2),
        |k2 AS (SELECT l, r FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |s2 AS MATERIALIZED (
        |  SELECT word, replace(seq, '|' || l || '||' || r || '|',
        |                       '|' || l || r || '|') AS seq, freq
        |  FROM s1 CROSS JOIN k2),
        |x3 AS (SELECT string_split(trim(seq, '|'), '||') AS syms, freq FROM s2),
        |e3 AS (SELECT unnest(generate_series(1, len(syms) - 1)) AS i,
        |              syms, freq
        |       FROM x3 WHERE len(syms) >= 2),
        |p3 AS (SELECT syms[i] AS l, syms[i + 1] AS r,
        |              CAST(sum(freq) AS BIGINT) AS cnt
        |       FROM e3 GROUP BY 1, 2),
        |k3 AS (SELECT l, r FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
        |s3 AS MATERIALIZED (
        |  SELECT word, replace(seq, '|' || l || '||' || r || '|',
        |                       '|' || l || r || '|') AS seq
        |  FROM s2 CROSS JOIN k3),
        |toks AS (SELECT word,
        |                CAST(len(string_split(trim(seq, '|'), '||')) AS BIGINT) AS ntok
        |         FROM s3)
        |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(sum(t.ntok) AS BIGINT) AS n_tokens
        |FROM dw d JOIN toks t USING (word)
        |GROUP BY 1""".stripMargin,
    // hashed-gram rates: per-bucket target/raw counts densified over all
    // 4096 buckets, add-one-smoothed integer ppm, per-doc summed diff
    "q140_domain_affinity" ->
      """WITH toks AS (SELECT doc_id, lang = 'en' AS is_t,
        |                     regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |uni AS (SELECT doc_id, is_t, unnest(t) AS g FROM toks),
        |bi AS (SELECT doc_id, is_t, array_to_string(t[i:i+1], ' ') AS g
        |       FROM (SELECT doc_id, is_t, t,
        |                    unnest(generate_series(1, len(t) - 1)) AS i
        |             FROM toks WHERE len(t) >= 2)),
        |g AS MATERIALIZED (
        |  SELECT doc_id, is_t, g,
        |         CAST(('0x' || substr(sha256(g), 1, 15)) AS BIGINT) % 4096 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |counts AS (SELECT b, CAST(count(*) AS BIGINT) AS rc,
        |                  CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tc
        |           FROM g GROUP BY 1),
        |dense AS (SELECT gs.b, coalesce(c.rc, 0) AS rc, coalesce(c.tc, 0) AS tc
        |          FROM (SELECT unnest(generate_series(0, 4095)) AS b) gs
        |          LEFT JOIN counts c ON gs.b = c.b),
        |tot AS (SELECT CAST(sum(rc) AS BIGINT) AS rt,
        |               CAST(sum(tc) AS BIGINT) AS tt FROM dense),
        |rates AS (SELECT b,
        |            CAST((tc + 1) * 1000000000 // (tt + 4096) AS BIGINT) AS t_ppb,
        |            CAST((rc + 1) * 1000000000 // (rt + 4096) AS BIGINT) AS r_ppb
        |          FROM dense CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(t_ppb - r_ppb) AS BIGINT) AS score_ppb
        |FROM g JOIN rates USING (b)
        |GROUP BY 1""".stripMargin,
    // width-128 length buckets, 16384-token batch capacity, id-ordered
    // row_number per bucket, integer division throughout
    "q141_length_batches" ->
      """WITH d AS (SELECT doc_id,
        |                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |b AS (SELECT doc_id, n_tokens,
        |             ((n_tokens - 1) // 128 + 1) * 128 AS bucket_cap
        |      FROM d WHERE n_tokens >= 1),
        |c AS (SELECT doc_id, n_tokens, bucket_cap,
        |             greatest(1, 16384 // bucket_cap) AS capacity,
        |             row_number() OVER (PARTITION BY bucket_cap
        |                                ORDER BY doc_id) AS rn
        |      FROM b)
        |SELECT bucket_cap, (rn - 1) // capacity AS batch_id,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |       CAST(count(*) * bucket_cap - sum(n_tokens) AS BIGINT) AS padded_tokens
        |FROM c GROUP BY 1, 2""".stripMargin,
    // user-keyed equi-join + the (0, 60 min] interval predicate
    "q142_attribution" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_us
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
        |      FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, view_us, click_id, click_us
        |FROM v JOIN c ON v.user_id = c.user_id
        |WHERE click_us > view_us AND click_us <= view_us + 3600000000""".stripMargin,
    // per-endpoint degree/strength over the symmetrized weighted graph,
    // integer cross-multiplied keep rule, either-endpoint semantics
    "q143_backbone" ->
      s"""WITH $CTE,
         |symw AS (SELECT src AS s, dst AS d, weight FROM cooc
         |         UNION ALL SELECT dst, src, weight FROM cooc),
         |st AS (SELECT s AS vid, count(*) AS k,
         |              CAST(sum(weight) AS BIGINT) AS str
         |       FROM symw GROUP BY 1)
         |SELECT c.src, c.dst, c.weight
         |FROM cooc c JOIN st u ON c.src = u.vid JOIN st v ON c.dst = v.vid
         |WHERE c.weight * u.k * 1000 >= 2000 * u.str
         |   OR c.weight * v.k * 1000 >= 2000 * v.str""".stripMargin,
    // top-500 vocabulary by (count desc, word), whitespace tokens, per-
    // doc OOV ppm by integer division
    "q144_oov" ->
      """WITH tok AS (SELECT doc_id,
        |                    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |             FROM documents),
        |vocab AS (SELECT w FROM (SELECT w, count(*) AS cnt FROM tok GROUP BY 1)
        |          ORDER BY cnt DESC, w LIMIT 500)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1000000
        |              // count(*) AS BIGINT) AS oov_ppm
        |FROM tok t LEFT JOIN vocab v ON t.w = v.w
        |GROUP BY 1""".stripMargin,
    // the q08 hash-min recursion on the FULL graph — warm start cannot
    // change the fixpoint (labels are member ids), so the oracle is a
    // cold replay
    "q145_cc_warm" ->
      s"""WITH RECURSIVE $CTE, $FULL,
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM fdeg
         |  UNION
         |  SELECT s.d, r.lbl FROM reach r JOIN fsym s ON r.vid = s.s
         |)
         |SELECT vid, min(lbl) AS component FROM reach GROUP BY vid""".stripMargin,
    // triangle support per canonical edge (the q69 s0 stage), then the
    // q134 conductance shape with weighted sums
    "q146_motif_conductance" ->
      s"""WITH $CTE,
         |t0 AS MATERIALIZED (SELECT a.s AS x, a.d AS y, b.d AS z
         |       FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
         |s0 AS MATERIALIZED (SELECT s, d, count(*) AS sup FROM (
         |         SELECT x AS s, y AS d FROM t0 UNION ALL
         |         SELECT x, z FROM t0 UNION ALL SELECT y, z FROM t0) u0
         |       GROUP BY 1, 2),
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
         |FROM per CROSS JOIN tot""".stripMargin,
    // hub-keyed hash-min recursion: one recursive CTE carries the hub id
    // through, seeds = endpoints of edges that survive the hub's removal
    "q147_hub_impact" ->
      s"""WITH RECURSIVE $CTE,
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
         |FROM sizes GROUP BY 1""".stripMargin,
    // 3 staged strength-peel rounds over the full weighted graph, then
    // survivors' strengths (the round the Spark peel stops at)
    "q148_score" ->
      s"""WITH $CTE,
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
         |        UNION ALL SELECT d, s, weight FROM w3) GROUP BY 1""".stripMargin,
    // the q20 lang rule, a length gate, the q16 min-id dedup survivor,
    // and the q65 trigram decontamination, composed; one count per stage
    "q149_curation_funnel" ->
      """WITH lang AS (SELECT doc_id, text,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','it'))) AS e,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('der','die','das','und','ist','nicht'))) AS d,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('le','la','les','et','est','que'))) AS f
        |  FROM documents),
        |d2 AS MATERIALIZED (SELECT doc_id, text FROM lang
        |      WHERE e >= d AND e >= f AND e > 0),
        |d3 AS MATERIALIZED (SELECT doc_id, text FROM d2
        |      WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 20),
        |kp AS (SELECT min(doc_id) AS doc_id FROM d3 GROUP BY sha256(text)),
        |d4 AS MATERIALIZED (SELECT d3.doc_id, d3.text FROM d3
        |      JOIN kp ON d3.doc_id = kp.doc_id),
        |nb AS MATERIALIZED (SELECT doc_id, text FROM d4
        |      WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 >= 30),
        |bt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |       FROM documents
        |       WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 30),
        |bpos AS (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i
        |         FROM bt WHERE len(t) >= 3),
        |bg AS MATERIALIZED (SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS g
        |      FROM bpos),
        |npos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |         FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |               FROM nb) WHERE len(t) >= 3),
        |ng AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |       FROM npos),
        |flagged AS (SELECT DISTINCT n.doc_id FROM ng n JOIN bg ON n.g = bg.g),
        |d5 AS (SELECT nb.doc_id FROM nb LEFT JOIN flagged fl
        |       ON nb.doc_id = fl.doc_id WHERE fl.doc_id IS NULL)
        |SELECT '1_all' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
        |UNION ALL SELECT '2_lang', CAST(count(*) AS BIGINT) FROM d2
        |UNION ALL SELECT '3_length', CAST(count(*) AS BIGINT) FROM d3
        |UNION ALL SELECT '4_dedup', CAST(count(*) AS BIGINT) FROM d4
        |UNION ALL SELECT '5_decontam', CAST(count(*) AS BIGINT) FROM d5""".stripMargin,
    // simulated MERGE: matched keys take the update payload, the insert
    // batch appends shifted ids
    "q150_catalog_merge" ->
      """WITH h AS (SELECT doc_id, lang, n_chars,
        |  CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS h10
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN h10 = 0 THEN 'xx' ELSE lang END AS lang,
        |       CASE WHEN h10 = 0 THEN n_chars + 1000000 ELSE n_chars END AS n_chars
        |FROM h
        |UNION ALL
        |SELECT doc_id + 10000000, 'new', n_chars FROM h WHERE h10 = 0""".stripMargin,
    // the delete+merge sequence folded into CASE logic: the sha%10 slice
    // ends updated (its lang always changes), the rest of the sha%7
    // slice ends deleted; everything else is unchanged and not emitted
    "q151_cdc" ->
      """WITH h AS (SELECT doc_id,
        |  CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 7 AS h7,
        |  CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS h10
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN h10 = 0 THEN 'update' ELSE 'delete' END AS op
        |FROM h WHERE h10 = 0 OR h7 = 0""".stripMargin,
    // exact-percentile thresholds from the cumulative value histogram,
    // per-row integer clipping
    "q152_winsorize" ->
      """WITH d AS (SELECT doc_id,
        |             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS v
        |           FROM documents),
        |n AS (SELECT count(*) AS n FROM d),
        |hist AS (SELECT v, count(*) AS c FROM d GROUP BY 1),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM hist),
        |lo AS (SELECT min(v) AS lo FROM cum CROSS JOIN n WHERE cum * 100 >= n.n * 5),
        |hi AS (SELECT min(v) AS hi FROM cum CROSS JOIN n WHERE cum * 100 >= n.n * 95)
        |SELECT doc_id, v, least(greatest(v, lo), hi) AS v_clipped,
        |       CAST(CASE WHEN v < lo THEN -1 WHEN v > hi THEN 1 ELSE 0 END
        |            AS BIGINT) AS tail
        |FROM d CROSS JOIN lo CROSS JOIN hi""".stripMargin,
    // the q114 register replay restricted to view/click, merged by max
    "q153_hll_union" ->
      """WITH h AS (SELECT CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |           FROM events WHERE event_type IN ('view', 'click')),
        |r AS (SELECT h % 64 AS reg, h // 64 AS rest FROM h)
        |SELECT reg,
        |       CAST(max(CASE WHEN rest = 0 THEN 55
        |                ELSE instr(lpad(bin(rest), 54, '0'), '1') END) AS BIGINT)
        |         AS max_rank
        |FROM r GROUP BY 1""".stripMargin,
    // PQ replay: codebook = subvectors of the 16 sha-ranked vectors,
    // integer encode argmin (ties low cid), exact ADC sum over stored
    // codes for the sha%1000<40 query slice, top-5 by (adc, id)
    "q154_pq_parity" ->
      """WITH qv AS (SELECT vec_id,
        |              list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |       FROM embeddings),
        |hh AS (SELECT vec_id, q,
        |              CAST(('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |       FROM qv),
        |samp AS (SELECT q, CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid
        |         FROM hh QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 16),
        |cb AS (SELECT (generate_subscripts(q, 1) - 1) // 8 AS s, cid,
        |              (generate_subscripts(q, 1) - 1) % 8 AS dpos, unnest(q) AS c
        |       FROM samp),
        |comp AS (SELECT vec_id, (generate_subscripts(q, 1) - 1) // 8 AS s,
        |                (generate_subscripts(q, 1) - 1) % 8 AS dpos, unnest(q) AS x
        |         FROM qv),
        |d2 AS (SELECT comp.vec_id, cb.s, cb.cid,
        |              sum((comp.x - cb.c) * (comp.x - cb.c)) AS d2
        |       FROM comp JOIN cb ON cb.s = comp.s AND cb.dpos = comp.dpos
        |       GROUP BY 1, 2, 3),
        |code AS (SELECT vec_id AS nn_id, s, cid FROM d2
        |         QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) = 1),
        |qd AS (SELECT d.* FROM d2 d JOIN hh ON hh.vec_id = d.vec_id
        |       WHERE hh.h % 1000 < 40),
        |adc AS (SELECT qd.vec_id, code.nn_id, CAST(sum(qd.d2) AS BIGINT) AS adc
        |        FROM qd JOIN code ON code.s = qd.s AND code.cid = qd.cid
        |        WHERE code.nn_id <> qd.vec_id
        |        GROUP BY 1, 2)
        |SELECT vec_id, nn_id,
        |       CAST(row_number() OVER (PARTITION BY vec_id
        |                               ORDER BY adc, nn_id) AS BIGINT) AS rnk,
        |       adc
        |FROM adc
        |QUALIFY rnk <= 5""".stripMargin,
    // integer diversity replay: same whitespace tokens, per-word counts,
    // ppm floor division
    "q155_diversity" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |wc AS (SELECT doc_id, unnest(t) AS w FROM tok),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM wc GROUP BY 1, 2),
        |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(count(*) AS BIGINT) AS distinct_tokens,
        |              CAST(sum(c * c) AS BIGINT) AS sumsq
        |       FROM cnt GROUP BY 1)
        |SELECT doc_id, n_tokens, distinct_tokens,
        |       CAST(distinct_tokens * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
        |       CAST(1000000 - sumsq * 1000000 // (n_tokens * n_tokens) AS BIGINT)
        |         AS gini_ppm
        |FROM ag""".stripMargin,
    // schema evolution replay: the base snapshot lacks `quality`
    // (back-filled -1); the appended slice carries its token count
    "q156_schema_evolution" ->
      """SELECT doc_id, lang, CAST(-1 AS BIGINT) AS quality FROM documents
        |UNION ALL
        |SELECT doc_id + 10000000 AS doc_id, lang,
        |       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS quality
        |FROM documents
        |WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 = 0""".stripMargin,
    // severity ladder replay: q65's gram pipeline over sizes {3,6,12},
    // max matched size per non-benchmark doc
    "q157_contamination_severity" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |                    CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 30 AS is_bench
        |             FROM documents),
        |sz AS (SELECT unnest([3, 6, 12]) AS g_n),
        |pos AS (SELECT doc_id, t, is_bench, g_n,
        |               unnest(generate_series(1, len(t) - g_n + 1)) AS i
        |        FROM tok CROSS JOIN sz WHERE len(t) >= g_n),
        |ng AS (SELECT DISTINCT doc_id, is_bench, g_n,
        |              array_to_string(t[i:i+g_n-1], ' ') AS g
        |       FROM pos),
        |bg AS (SELECT DISTINCT g_n, g FROM ng WHERE is_bench)
        |SELECT n.doc_id, CAST(max(n.g_n) AS BIGINT) AS max_gram
        |FROM ng n JOIN bg ON n.g_n = bg.g_n AND n.g = bg.g
        |WHERE NOT n.is_bench
        |GROUP BY 1""".stripMargin,
    // HyperANF replay: sha-derived registers (the q114 family at 16
    // registers), two staged max-merge hops over sym, per-vertex summary
    "q158_anf" ->
      s"""WITH $CTE,
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
         |FROM r2 GROUP BY 1""".stripMargin,
    // sampled-adjacency replay: one sha-ranked row_number window per
    // vertex, seeds expand through the rn<=5 then rn<=3 blocks
    "q159_sage_sample" ->
      s"""WITH $CTE,
         |rk AS (SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY
         |         CAST(('0x' || substr(sha256(CAST(s AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT), d) AS rn
         |       FROM sym),
         |seeds AS (SELECT vid FROM deg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 20),
         |l1 AS (SELECT DISTINCT seeds.vid AS seed, CAST(1 AS BIGINT) AS hop,
         |              rk.s AS src, rk.d AS dst
         |       FROM seeds JOIN rk ON rk.s = seeds.vid WHERE rk.rn <= 5),
         |l2 AS (SELECT DISTINCT l1.seed, CAST(2 AS BIGINT) AS hop,
         |              rk.s AS src, rk.d AS dst
         |       FROM l1 JOIN rk ON rk.s = l1.dst WHERE rk.rn <= 3)
         |SELECT seed, hop, src, dst FROM l1
         |UNION ALL
         |SELECT seed, hop, src, dst FROM l2""".stripMargin,
    // K4 replay: q04's degree orientation (MATERIALIZED — six self-
    // references), the oriented-DAG sextuple join counts each 4-clique
    // exactly once
    "q160_k4" ->
      s"""WITH $CTE,
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
         |JOIN o bd ON bd.s = ab.d AND bd.d = cd.d""".stripMargin,
    // change-feed replay: one update row per sha%5 key, latest-wins
    "q161_stream_upsert" ->
      """SELECT doc_id,
        |       CASE WHEN h % 5 = 0 THEN 'xx' ELSE lang END AS lang,
        |       CASE WHEN h % 5 = 0 THEN n_chars + 7 ELSE n_chars END AS n_chars
        |FROM (SELECT doc_id, lang, n_chars,
        |             CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |      FROM documents) t""".stripMargin,
    // expiry preserves the compacted content: staged thirds re-union to
    // the whole table
    "q162_snapshot_expiry" ->
      "SELECT doc_id, lang, n_chars FROM documents",
    // 1-WL replay: three staged refinements (MATERIALIZED — each color
    // table feeds both the next round's multiset and its own rehash),
    // sha60 color hash over the sorted "color:count" encoding
    "q163_wl_colors" ->
      s"""WITH $CTE,
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
         |FROM c3 JOIN sz ON c3.c = sz.c""".stripMargin,
    // zone bounds + bounds-first scan verdicts, pure integer
    "q164_zone_skip" ->
      """WITH z AS (SELECT n_chars // 64 AS zone, n_chars AS c, doc_id AS p
        |           FROM documents),
        |ag AS (SELECT zone, count(*) AS n_rows,
        |              min(c) AS c_min, max(c) AS c_max,
        |              min(p) AS p_min, max(p) AS p_max
        |       FROM z GROUP BY 1)
        |SELECT zone, n_rows, c_min, c_max, p_min, p_max,
        |       CAST(NOT (c_max < 200 OR c_min > 400) AS INT) AS scan_clustered,
        |       CAST(NOT (p_max < 100 OR p_min > 5000) AS INT) AS scan_probe
        |FROM ag""".stripMargin,
    // OCC replay: A's slice (sha%17==3) conflicts with B's write set
    // (sha%17 in (3,5)); the final state carries A's bump under B's
    // rebased lang rewrite
    "q165_commit_conflict" ->
      """WITH h AS (SELECT doc_id, lang, n_chars,
        |                  CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 17 AS cls
        |           FROM documents)
        |SELECT doc_id, CAST(cls = 3 AS INT) AS conflicted,
        |       'xx' AS lang,
        |       CASE WHEN cls = 3 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |FROM h WHERE cls IN (3, 5)""".stripMargin,
    // fixed-delay watermark ledger replay: integral epoch seconds,
    // sha-derived 0..19-min jitter, 600 s windows, 300 s lateness
    "q166_late_quarantine" ->
      """WITH ev AS (SELECT epoch_us(ts) // 1000000 AS es,
        |                   CAST(('0x' || substr(sha256(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 20 * 60 AS jit
        |            FROM events),
        |w AS (SELECT es - es % 600 AS window_start_es,
        |             es + jit - (es - es % 600 + 600) AS delay
        |      FROM ev)
        |SELECT window_start_es,
        |       CAST(sum(CASE WHEN delay <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
        |       CAST(sum(CASE WHEN delay > 0 AND delay <= 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_accepted,
        |       CAST(sum(CASE WHEN delay > 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM w GROUP BY 1""".stripMargin,
    // Molloy-Reed replay: top-ceil(n/100) hubs by (degree desc, vid),
    // survivors' degree moments, kappa in integral ppm
    "q167_robustness" ->
      s"""WITH $CTE,
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
         |FROM p""".stripMargin,
    // neighbor-label Gini: counted label histogram then 1 - sum p^2 ppm
    "q168_nbr_diversity" ->
      s"""WITH $CTE,
         |lab AS (SELECT p_partkey AS vid, p_brand AS label FROM part),
         |nl AS (SELECT s.d AS vid, l.label, count(*) AS n
         |       FROM sym s JOIN lab l ON s.s = l.vid GROUP BY 1, 2),
         |ag AS (SELECT vid, CAST(sum(n) AS BIGINT) AS deg_labeled,
         |              CAST(count(*) AS BIGINT) AS n_labels,
         |              CAST(sum(n * n) AS BIGINT) AS sumsq
         |       FROM nl GROUP BY 1)
         |SELECT vid, deg_labeled, n_labels,
         |       1000000 - sumsq * 1000000 // (deg_labeled * deg_labeled) AS div_ppm
         |FROM ag""".stripMargin,
    // percolation replay: one p-keyed recursive hash-min CC over the
    // sha-kept edge sets (same move as q147's hub-keyed CTE)
    "q169_percolation" ->
      s"""WITH RECURSIVE $CTE,
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
         |         LEFT JOIN stats ON lad.p = stats.p""".stripMargin,
    // IVM replay: degrees recomputed from the modified edge set —
    // additivity makes the incremental path provably identical
    "q170_ivm_degrees" ->
      s"""WITH $CTE,
         |hcls AS (SELECT s, d,
         |                CAST(('0x' || substr(sha256(CAST(s AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS h
         |         FROM e),
         |m AS (SELECT s, d FROM hcls WHERE h <> 7
         |      UNION ALL
         |      SELECT s + 100000, d + 100000 FROM hcls WHERE h = 3),
         |msym AS (SELECT s, d FROM m UNION ALL SELECT d, s FROM m)
         |SELECT s AS vid, count(*) AS degree FROM msym GROUP BY 1""".stripMargin,
    // greedy pack replay: cumulative candidate size over file order
    "q171_compaction_plan" ->
      """WITH mf AS (SELECT doc_id // 20 AS file_id,
        |                   CAST(sum(n_chars) AS BIGINT) AS size_bytes
        |            FROM documents GROUP BY 1),
        |cand AS (SELECT file_id, size_bytes,
        |                CAST(size_bytes < 6000 AS INT) AS candidate
        |         FROM mf),
        |cum AS (SELECT file_id, size_bytes, candidate,
        |               CAST(COALESCE(sum(CASE WHEN candidate = 1 THEN size_bytes END)
        |                 OVER (ORDER BY file_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        |        FROM cand)
        |SELECT file_id, size_bytes, candidate,
        |       CAST(CASE WHEN candidate = 1 THEN cb // 15000 ELSE -1 END AS BIGINT) AS target_group
        |FROM cum""".stripMargin,
    // negative-sampling replay: modular sha candidates, semi/anti checks
    "q172_neg_samples" ->
      s"""WITH $CTE,
         |verts AS (SELECT DISTINCT s AS vid FROM sym),
         |mv AS (SELECT max(vid) AS mv FROM verts),
         |cand AS (SELECT v.vid AS src, CAST(i.i AS BIGINT) AS i,
         |                CAST(('0x' || substr(sha256(CAST(v.vid AS VARCHAR) || '#' || CAST(i.i AS VARCHAR)), 1, 15)) AS BIGINT) % ((SELECT mv FROM mv) + 1) AS dst
         |         FROM verts v, (SELECT unnest([0, 1, 2]) AS i) i)
         |SELECT c.src, c.i, c.dst
         |FROM cand c
         |JOIN verts x ON c.dst = x.vid
         |LEFT JOIN sym s ON c.src = s.s AND c.dst = s.d
         |WHERE c.src <> c.dst AND s.s IS NULL""".stripMargin,
    // calibration replay: q26's sha-seeded signatures + banding, exact
    // shingle Jaccard on candidates, integer ppm error per decile
    "q173_sketch_calibration" ->
      """WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
        |             FROM documents),
        |shg AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g FROM pos),
        |hx AS MATERIALIZED (
        |  SELECT doc_id, j,
        |         min(CAST(('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' || g), 1, 15)) AS BIGINT)) AS m
        |  FROM shg, (SELECT unnest(range(16)) AS j) GROUP BY 1, 2),
        |bnd AS (SELECT doc_id, CAST(j // 4 AS INT) AS band, list(m ORDER BY j) AS key
        |        FROM hx GROUP BY 1, 2),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bnd a JOIN bnd b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |est AS (SELECT c.d1, c.d2,
        |               CAST(sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) * 1000000 // 16 AS BIGINT) AS est_ppm
        |        FROM cand c JOIN hx x ON x.doc_id = c.d1
        |                    JOIN hx y ON y.doc_id = c.d2 AND x.j = y.j
        |        GROUP BY 1, 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM shg GROUP BY 1),
        |ix AS (SELECT c.d1, c.d2, count(*) AS i
        |       FROM cand c JOIN shg a ON a.doc_id = c.d1
        |                   JOIN shg b ON b.doc_id = c.d2 AND b.g = a.g
        |       GROUP BY 1, 2),
        |pairs AS (SELECT CAST(e.est_ppm // 100000 AS BIGINT) AS bucket,
        |                 abs(e.est_ppm - COALESCE(ix.i, 0) * 1000000 // (sa.n + sb.n - COALESCE(ix.i, 0))) AS err
        |          FROM est e
        |          LEFT JOIN ix ON e.d1 = ix.d1 AND e.d2 = ix.d2
        |          JOIN sz sa ON sa.doc_id = e.d1
        |          JOIN sz sb ON sb.doc_id = e.d2)
        |SELECT bucket, count(*) AS n_pairs,
        |       CAST(sum(err) // count(*) AS BIGINT) AS mean_abs_err_ppm,
        |       CAST(max(err) AS BIGINT) AS max_err_ppm
        |FROM pairs GROUP BY 1""".stripMargin,
    // label-spread replay: q57's signature/candidate pipeline -> top-5
    // kNN graph, sha seeds, two clamped arg_min vote rounds
    "q174_label_spread" ->
      """WITH planes AS (
        |  SELECT bb.b, jj.j, dd.d,
        |         CASE WHEN CAST(('0x' || substr(sha256(
        |             CAST(bb.b AS VARCHAR) || ':' || CAST(jj.j AS VARCHAR)
        |             || ':' || CAST(dd.d AS VARCHAR)), 1, 1)) AS INT) % 2 = 1
        |              THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(8)) AS b) bb,
        |       (SELECT unnest(range(8)) AS j) jj,
        |       (SELECT unnest(range(64)) AS d) dd),
        |qv AS (SELECT vec_id,
        |              list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |       FROM embeddings),
        |comp AS (SELECT vec_id, generate_subscripts(q, 1) - 1 AS d,
        |                unnest(q) AS x
        |         FROM qv),
        |dots AS (SELECT c.vec_id, p.b, p.j, sum(c.x * p.s) AS dot
        |         FROM comp c JOIN planes p ON p.d = c.d GROUP BY 1, 2, 3),
        |sig AS (SELECT vec_id, b,
        |               sum(CASE WHEN dot > 0 THEN (1 << j) ELSE 0 END) AS bucket
        |        FROM dots GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS vec_id, c.vec_id AS nn_id
        |         FROM sig a JOIN sig c
        |           ON a.b = c.b AND a.bucket = c.bucket AND a.vec_id <> c.vec_id),
        |pd AS (SELECT cand.vec_id, cand.nn_id,
        |              CAST(list_dot_product(CAST(x.q AS DOUBLE[]),
        |                                    CAST(y.q AS DOUBLE[])) AS BIGINT) AS dot
        |       FROM cand JOIN qv x ON x.vec_id = cand.vec_id
        |                 JOIN qv y ON y.vec_id = cand.nn_id),
        |knn AS MATERIALIZED (
        |  SELECT vec_id, nn_id FROM (
        |    SELECT vec_id, nn_id,
        |           row_number() OVER (PARTITION BY vec_id
        |                              ORDER BY dot DESC, nn_id) AS rnk
        |    FROM pd) WHERE rnk <= 5),
        |symg AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT vec_id AS src, nn_id AS dst FROM knn
        |    UNION ALL SELECT nn_id, vec_id FROM knn)),
        |l0 AS MATERIALIZED (
        |  SELECT vec_id AS vid,
        |         CAST(('0x' || substr(sha256('L:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS label,
        |         CAST(0 AS BIGINT) AS origin
        |  FROM embeddings
        |  WHERE CAST(('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 = 0),
        |v1 AS (SELECT g.dst AS vid, l.label, count(*) AS cnt
        |       FROM symg g JOIN l0 l ON g.src = l.vid GROUP BY 1, 2),
        |l1 AS MATERIALIZED (
        |  SELECT * FROM l0
        |  UNION ALL
        |  SELECT vid, arg_min(label, cnt * (-1000000000) + label),
        |         CAST(1 AS BIGINT)
        |  FROM v1 WHERE vid NOT IN (SELECT vid FROM l0) GROUP BY vid),
        |v2 AS (SELECT g.dst AS vid, l.label, count(*) AS cnt
        |       FROM symg g JOIN l1 l ON g.src = l.vid GROUP BY 1, 2),
        |l2 AS (SELECT * FROM l1
        |       UNION ALL
        |       SELECT vid, arg_min(label, cnt * (-1000000000) + label),
        |              CAST(2 AS BIGINT)
        |       FROM v2 WHERE vid NOT IN (SELECT vid FROM l1) GROUP BY vid)
        |SELECT e.vec_id, COALESCE(l2.label, -1) AS label,
        |       COALESCE(l2.origin, -1) AS origin
        |FROM embeddings e LEFT JOIN l2 ON e.vec_id = l2.vid""".stripMargin,
    // rendezvous replay: packed max(sha*8 + shard) per vertex
    "q175_rendezvous" ->
      s"""WITH $CTE,
         |pk AS (SELECT vid,
         |              max(CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR) || ':' || CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT) * 8 + sh) AS packed
         |       FROM deg, (SELECT unnest(range(8)) AS sh) s GROUP BY 1),
         |asg AS (SELECT vid, packed % 8 AS shard FROM pk)
         |SELECT shard, count(*) AS n_vertices,
         |       CAST(count(*) * 8 * 1000000 // (SELECT count(*) FROM asg) AS BIGINT) AS load_ppm
         |FROM asg GROUP BY 1""".stripMargin,
    // kappa replay: q155's token histogram feeds both labelers; the
    // final division is sign-decomposed so DuckDB's floor // replays
    // Spark's truncating div on a possibly-negative po - pe
    "q176_kappa" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |wc AS (SELECT doc_id, unnest(t) AS w FROM tok),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM wc GROUP BY 1, 2),
        |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(sum(c * c) AS BIGINT) AS sumsq
        |       FROM cnt GROUP BY 1),
        |lab AS (SELECT CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END AS a,
        |               CASE WHEN 1000000 - sumsq * 1000000 // (n_tokens * n_tokens) >= 500000
        |                    THEN 1 ELSE 0 END AS b
        |        FROM ag),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        |             CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |             CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |             CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
        |      FROM lab),
        |k AS (SELECT n, n00, n01, n10, n11,
        |             CAST((n00 + n11) * 1000000 // n AS BIGINT) AS po_ppm,
        |             CAST(((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)) * 1000000 // (n * n) AS BIGINT) AS pe_ppm
        |      FROM m)
        |SELECT n, n00, n01, n10, n11, po_ppm, pe_ppm,
        |       CAST(CASE WHEN pe_ppm = 1000000 THEN 1000000
        |                 WHEN po_ppm - pe_ppm >= 0
        |                   THEN (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
        |                 ELSE -((pe_ppm - po_ppm) * 1000000 // (1000000 - pe_ppm))
        |            END AS BIGINT) AS kappa_ppm
        |FROM k""".stripMargin,
    // curriculum replay: q155's gini feeds the bin; rank = row_number
    // over (packed key, doc_id) — the two-phase rank's exact total order
    "q177_curriculum" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |wc AS (SELECT doc_id, unnest(t) AS w FROM tok),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM wc GROUP BY 1, 2),
        |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(sum(c * c) AS BIGINT) AS sumsq
        |       FROM cnt GROUP BY 1),
        |sc AS (SELECT doc_id,
        |              CAST(1000000 - sumsq * 1000000 // (n_tokens * n_tokens) AS BIGINT) AS gini
        |       FROM ag),
        |ky AS (SELECT doc_id,
        |              CAST(gini * 8 // 1000001 AS BIGINT) AS bin,
        |              (7 - gini * 8 // 1000001) * (CAST(1 AS BIGINT) << 60)
        |                + CAST(('0x' || substr(sha256('cur:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS key
        |       FROM sc)
        |SELECT doc_id, bin,
        |       CAST(row_number() OVER (ORDER BY key, doc_id) - 1 AS BIGINT) AS order_idx
        |FROM ky""".stripMargin,
    // postings replay: WITH ORDINALITY positions (1-based -> -1), df gate
    "q178_inverted_index" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |pos AS (SELECT doc_id, unnest(t) AS term,
        |               generate_subscripts(t, 1) - 1 AS p
        |        FROM tok),
        |post AS MATERIALIZED (
        |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
        |         string_agg(CAST(p AS VARCHAR), ',' ORDER BY p) AS positions
        |  FROM pos GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM post GROUP BY 1 HAVING count(*) >= 5)
        |SELECT p.term, p.doc_id, p.tf, d.df, p.positions
        |FROM post p JOIN dfc d ON p.term = d.term""".stripMargin,
    // leakage replay: q26's sha-banding candidates + the q48 split rule
    "q179_split_leakage" ->
      """WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
        |             FROM documents),
        |shg AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g FROM pos),
        |hx AS MATERIALIZED (
        |  SELECT doc_id, j,
        |         min(CAST(('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' || g), 1, 15)) AS BIGINT)) AS m
        |  FROM shg, (SELECT unnest(range(16)) AS j) GROUP BY 1, 2),
        |bnd AS (SELECT doc_id, CAST(j // 4 AS INT) AS band, list(m ORDER BY j) AS key
        |        FROM hx GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM bnd a JOIN bnd b
        |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |eq AS (SELECT c.d1, c.d2,
        |              sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) / 16.0 AS est
        |       FROM cand c JOIN hx x ON x.doc_id = c.d1
        |                   JOIN hx y ON y.doc_id = c.d2 AND x.j = y.j
        |       GROUP BY 1, 2),
        |prs AS (SELECT d1, d2 FROM eq WHERE est >= 0.7),
        |sp AS (SELECT doc_id,
        |              CASE WHEN CAST(('0x' || substr(sha256('s1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
        |                   WHEN CAST(('0x' || substr(sha256('s1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
        |                   ELSE 'test' END AS split
        |       FROM documents),
        |tag AS (SELECT least(a.split, b.split) AS split_a,
        |               greatest(a.split, b.split) AS split_b
        |        FROM prs JOIN sp a ON prs.d1 = a.doc_id
        |                 JOIN sp b ON prs.d2 = b.doc_id)
        |SELECT split_a, split_b, count(*) AS n_pairs,
        |       CAST(split_a <> split_b AS INT) AS leak
        |FROM tag GROUP BY 1, 2""".stripMargin,
    // skew replay: top-10 keys by (count desc, key), integral shares
    "q180_skew_advisor" ->
      """WITH cnt AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n
        |             FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |               CAST(count(*) AS BIGINT) AS n_keys FROM cnt)
        |SELECT key, n,
        |       CAST(n * 1000000 // (SELECT total FROM tot) AS BIGINT) AS share_ppm,
        |       CAST(n * (SELECT n_keys FROM tot) * 1000000 // (SELECT total FROM tot) AS BIGINT) AS vs_avg_ppm
        |FROM cnt ORDER BY n DESC, key LIMIT 10""".stripMargin,
    // WL-2 supergraph replay: q163's first two refinement rounds, then
    // the canonical color-pair edge rollup
    "q181_wl_summary" ->
      s"""WITH $CTE,
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
         |GROUP BY 1, 2""".stripMargin,
    // dataset-card replay: q18's token rule, exact-dup sha, integral ppm
    "q182_dataset_card" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST((count(*) - count(DISTINCT sha256(text))) * 1000000 // count(*) AS BIGINT) AS dup_ppm,
        |       CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars
        |FROM documents GROUP BY 1""".stripMargin,
    // OOD replay: the same 26 length-difference counters, corpus
    // histogram over letter-bearing docs, integral ppm L1
    "q183_char_ood" -> {
      val ls = ('a' to 'z').toSeq
      val cnts = ls.map(c =>
        s"(length(lt) - length(replace(lt, '$c', ''))) AS c_$c")
        .mkString(", ")
      val tot = ls.map(c => s"c_$c").mkString(" + ")
      val gs = ls.map(c => s"CAST(sum(c_$c) AS BIGINT) AS g_$c")
        .mkString(", ")
      val gtot = ls.map(c => s"g_$c").mkString(" + ")
      val l1 = ls.map(c =>
        s"abs(c_$c * 1000000 // total - g_$c * 1000000 // gtotal)")
        .mkString(" + ")
      s"""WITH lt AS (SELECT doc_id, lower(text) AS lt FROM documents),
         |cn AS (SELECT doc_id, $cnts FROM lt),
         |fl AS MATERIALIZED (SELECT *, $tot AS total FROM cn
         |                    WHERE $tot > 0),
         |corp AS (SELECT $gs FROM fl),
         |corpt AS (SELECT *, $gtot AS gtotal FROM corp)
         |SELECT doc_id, CAST(total AS BIGINT) AS n_letters,
         |       CAST($l1 AS BIGINT) AS l1_ppm
         |FROM fl, corpt""".stripMargin
    },
    // CMS join-size replay: sha-bucketed counters, min-of-row dots
    "q184_cms_join_size" ->
      """WITH keys AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cnt
        |              FROM lineitem GROUP BY 1),
        |cms AS MATERIALIZED (
        |  SELECT r.i AS row,
        |         CAST(('0x' || substr(sha256(CAST(k AS VARCHAR) || '#' || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS bucket,
        |         CAST(sum(cnt) AS BIGINT) AS c
        |  FROM keys, (SELECT unnest(range(4)) AS i) r GROUP BY 1, 2),
        |dots AS (SELECT a.row, CAST(sum(a.c * b.c) AS BIGINT) AS dot
        |         FROM cms a JOIN cms b ON a.row = b.row AND a.bucket = b.bucket
        |         GROUP BY 1),
        |ex AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS exact_pairs FROM keys)
        |SELECT ex.exact_pairs,
        |       (SELECT min(dot) FROM dots) AS join_size_est,
        |       CAST(((SELECT min(dot) FROM dots) - ex.exact_pairs) * 1000000 // ex.exact_pairs AS BIGINT) AS over_ppm
        |FROM ex""".stripMargin,
    // AQP replay: the same sha%5 sample, integral means, sentinel -1
    "q185_aqp_error" ->
      """WITH ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact,
        |                   CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_exact
        |            FROM documents GROUP BY 1),
        |sm AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sample,
        |              CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_est
        |       FROM documents
        |       WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 = 0
        |       GROUP BY 1)
        |SELECT ex.lang, ex.n_exact, ex.mean_exact,
        |       COALESCE(sm.n_sample, 0) AS n_sample,
        |       COALESCE(sm.mean_est, -1) AS mean_est,
        |       COALESCE(CAST(abs(sm.mean_est - ex.mean_exact) * 1000000 // ex.mean_exact AS BIGINT), -1) AS err_ppm
        |FROM ex LEFT JOIN sm ON ex.lang = sm.lang""".stripMargin,
    // journey-bigram replay: identical session numbering (lag + gap +
    // running sum) and lead pairing over (epoch micros, event_id) order
    "q186_journey_bigrams" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |            FROM events),
        |w AS (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS pus
        |      FROM ev),
        |n AS (SELECT *, CASE WHEN pus IS NULL OR tus - pus > 1800000000 THEN 1 ELSE 0 END AS ns
        |      FROM w),
        |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |      FROM n),
        |x AS (SELECT *,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS nt,
        |             lead(sess_no) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS nsess
        |      FROM s)
        |SELECT event_type AS from_type, nt AS to_type, count(*) AS n
        |FROM x WHERE nsess = sess_no GROUP BY 1, 2""".stripMargin,

    // two chained Louvain local-move rounds: candidate communities =
    // neighbor communities + own, integer gain 2m·e_vC − deg·degsum',
    // argmax by (gain desc, community asc)
    "q187_louvain_move" ->
      s"""WITH $CTE,
         |$LOUV
         |SELECT vid, comm AS community FROM a2""".stripMargin,

    // q26's sha-parity banding prefix, then exact shingle containment of
    // each candidate orientation in ppm
    "q188_containment" ->
      """WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
        |             FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g FROM pos),
        |hx AS (SELECT doc_id, j,
        |              min(CAST(('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' || g), 1, 15)) AS BIGINT)) AS m
        |       FROM sh, (SELECT unnest(range(16)) AS j) GROUP BY 1, 2),
        |bnd AS (SELECT doc_id, CAST(j // 4 AS INT) AS band, list(m ORDER BY j) AS key
        |        FROM hx GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM bnd a JOIN bnd b
        |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |ix AS MATERIALIZED (SELECT c.d1, c.d2, CAST(count(*) AS BIGINT) AS i
        |      FROM cand c JOIN sh a ON a.doc_id = c.d1
        |                  JOIN sh b ON b.doc_id = c.d2 AND a.g = b.g
        |      GROUP BY 1, 2),
        |bo AS (SELECT i.d1 AS contained, i.d2 AS container, (1000000 * i.i) // x.n AS containment_ppm
        |       FROM ix i JOIN sz x ON x.doc_id = i.d1
        |       UNION ALL
        |       SELECT i.d2, i.d1, (1000000 * i.i) // y.n
        |       FROM ix i JOIN sz y ON y.doc_id = i.d2)
        |SELECT contained, container, containment_ppm FROM bo
        |WHERE containment_ppm >= 800000""".stripMargin,

    // BM25 odds-idf in integer micro-units, k1 = 1.2, b = 0.75 (ppm),
    // same staged associativity as the Spark expressions
    "q189_bm25" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |dl AS MATERIALIZED (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, unnest(t) AS term FROM tok)
        |       WHERE term IN ('spark', 'join', 'stream', 'filter') GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |pt AS (SELECT tf.doc_id, tf.tf,
        |              (2 * (nn.n - df.df) + 1) * 1000000 // (2 * df.df + 1) AS idf_ppm,
        |              (1000000 - 750000) + (750000 * dl.dl * nn.n) // nn.tot AS norm_ppm
        |       FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN nn),
        |sc AS (SELECT doc_id,
        |              CAST(sum(idf_ppm * (tf * (1000000 + 1200000) * 1000000 //
        |                (tf * 1000000 + (1200000 * norm_ppm) // 1000000)) // 1000000) AS BIGINT) AS s,
        |              CAST(count(*) AS BIGINT) AS nm
        |       FROM pt GROUP BY 1)
        |SELECT dl.doc_id, dl.dl, coalesce(sc.nm, 0) AS n_terms_matched,
        |       coalesce(sc.s, 0) AS score_micro
        |FROM dl LEFT JOIN sc ON sc.doc_id = dl.doc_id""".stripMargin,

    // sha-derived bounded noise, clamp at 0, k = 5 suppression
    "q190_dp_release" ->
      """WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, source,
        |             greatest(CAST(0 AS BIGINT), n +
        |               (CAST(('0x' || substr(sha256('dp:' || lang || ':' || source), 1, 15)) AS BIGINT) % 7) - 3) AS released
        |      FROM g)
        |SELECT lang, source, released FROM r WHERE released >= 5""".stripMargin,

    // integer A-ES: 20 smallest sha60 div weight keys
    "q191_weighted_sample" ->
      """WITH k AS (SELECT doc_id, n_chars,
        |             CAST(('0x' || substr(sha256('ws:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |               // greatest(n_chars, 1) AS sample_key
        |           FROM documents)
        |SELECT doc_id, n_chars, sample_key FROM k
        |ORDER BY sample_key, doc_id LIMIT 20""".stripMargin,

    // low-median + MAD per lang, outliers at dev > 2·MAD
    "q192_mad_outliers" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS cnt
        |           FROM documents),
        |med AS (SELECT lang, min(n_chars) AS med FROM r WHERE rn = (cnt + 1) // 2 GROUP BY 1),
        |dv AS MATERIALIZED (SELECT d.doc_id, d.lang, d.n_chars, m.med,
        |             abs(d.n_chars - m.med) AS dev
        |      FROM documents d JOIN med m ON m.lang = d.lang),
        |r2 AS (SELECT lang, dev, doc_id,
        |             row_number() OVER (PARTITION BY lang ORDER BY dev, doc_id) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS cnt
        |       FROM dv),
        |mad AS (SELECT lang, min(dev) AS mad FROM r2 WHERE rn = (cnt + 1) // 2 GROUP BY 1)
        |SELECT dv.doc_id, dv.lang, dv.n_chars, dv.med, mad.mad
        |FROM dv JOIN mad USING (lang) WHERE dv.dev > 2 * mad.mad""".stripMargin,

    // four peel rounds of the 3-core, vertex set carried explicitly so
    // isolated survivors keep peeling; survivors after round 4 = layer 0
    "q193_onion" ->
      s"""WITH $CTE,
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
         |UNION ALL SELECT vid, CAST(0 AS BIGINT) FROM v4""".stripMargin,

    // per-candidate transitive closure with the candidate edge excluded
    // (recursive UNION = global dedup, terminates at the component)
    "q194_bridges" ->
      s"""WITH RECURSIVE $CTE,
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
         |  ON r.cs = c.s AND r.cd = c.d AND r.vid = c.d""".stripMargin,

    // two SimRank rounds: round 1 folds s0 = diag into 10^6·common, both
    // rounds share the (800000·tot) // (10^6·deg·deg) update and the
    // 10000 ppm in-loop threshold
    "q195_simrank" ->
      s"""WITH $CTE,
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
         |SELECT a, b, sp AS sim_ppm FROM s2""".stripMargin,

    // the shared two-round chain, then contract edges onto communities
    "q196_louvain_coarsen" ->
      s"""WITH $CTE,
         |$LOUV
         |SELECT least(x.comm, y.comm) AS ca, greatest(x.comm, y.comm) AS cb,
         |       CAST(count(*) AS BIGINT) AS weight
         |FROM e JOIN a2 x ON x.vid = e.s JOIN a2 y ON y.vid = e.d
         |GROUP BY 1, 2""".stripMargin,

    // candidate-keyed reachability from each candidate's min neighbor,
    // candidate vertex excluded; articulation iff a neighbor is unreached
    "q197_articulation" ->
      s"""WITH RECURSIVE $CTE,
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
         |GROUP BY 1""".stripMargin,

    // integer water-filling, one redistribution round, all positive so
    // DuckDB // replays Spark div exactly
    "q198_token_budget" ->
      """WITH a AS (SELECT source AS stratum, CAST(sum(n_chars) AS BIGINT) AS avail
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(avail) AS BIGINT) * 1 // 2 AS budget,
        |             CAST(count(*) AS BIGINT) AS k FROM a),
        |r1 AS (SELECT a.stratum, a.avail, t.budget, t.k, t.budget // t.k AS fair,
        |              least(a.avail, t.budget // t.k) AS a1
        |       FROM a CROSS JOIN t),
        |s AS (SELECT CAST(sum(a1) AS BIGINT) AS used,
        |             CAST(sum(CASE WHEN avail > fair THEN 1 ELSE 0 END) AS BIGINT) AS unsat
        |      FROM r1),
        |f AS (SELECT r1.stratum, r1.avail,
        |             CASE WHEN r1.avail <= r1.fair THEN r1.a1
        |                  ELSE least(r1.avail, r1.fair +
        |                    CASE WHEN s.unsat > 0 THEN (r1.budget - s.used) // s.unsat ELSE 0 END)
        |             END AS alloc
        |      FROM r1 CROSS JOIN s)
        |SELECT stratum, avail, alloc, alloc * 1000000 // avail AS fill_ppm FROM f""".stripMargin,

    // global first-occurrence (min doc id) per shingle, then per-doc ppm
    "q199_novelty" ->
      """WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
        |             FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id AS id, substr(text, CAST(i AS INT), 3) AS g FROM pos),
        |f AS (SELECT g, min(id) AS first_id FROM sh GROUP BY 1)
        |SELECT id, CAST(count(*) AS BIGINT) AS n_shingles,
        |       (1000000 * CAST(sum(CASE WHEN id = first_id THEN 1 ELSE 0 END) AS BIGINT))
        |         // CAST(count(*) AS BIGINT) AS novel_ppm
        |FROM sh JOIN f USING (g) GROUP BY 1""".stripMargin,

    // q102's bigram counts; per-occurrence bits = length(bin(pc // bc)) - 1
    // (bin renders a positive bigint identically in Spark and DuckDB)
    "q200_surprisal_bits" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM tk WHERE len(t) >= 2),
        |bgs AS (SELECT doc_id,
        |               t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS bg,
        |               t[CAST(i AS INT)] AS w1
        |        FROM pos),
        |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS bc FROM bgs GROUP BY 1),
        |pc AS (SELECT w1, CAST(count(*) AS BIGINT) AS pc FROM bgs GROUP BY 1),
        |sc AS (SELECT g.doc_id, CAST(length(bin(p.pc // b.bc)) - 1 AS BIGINT) AS bits
        |       FROM bgs g JOIN bc b USING (bg) JOIN pc p USING (w1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(bits) AS BIGINT) AS total_bits,
        |       CAST(sum(bits) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT) AS avg_mbits
        |FROM sc GROUP BY 1""".stripMargin,

    // hourly counts per type, trailing 3-hour RANGE sum, integer ratio
    "q201_burst" ->
      """WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |                  CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, h, n,
        |             sum(n) OVER (PARTITION BY event_type ORDER BY h
        |                          RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING) AS tn
        |      FROM c)
        |SELECT event_type, h, n, CAST(tn AS BIGINT) AS trail_n FROM w
        |WHERE tn IS NOT NULL AND n * 3 > tn * 2""".stripMargin,

    // σ ≥ ε via com²·10⁶ ≥ ε²ppm·|N[u]|·|N[v]| (closed neighborhoods);
    // clusters = hash-min CC over core–core ε-edges; roles per the paper
    "q202_scan" ->
      s"""WITH RECURSIVE $CTE,
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
         |           LEFT JOIN att a ON a.vid = d.vid""".stripMargin,

    // parity BFS from each hash-min component root; a vertex reached at
    // both parities witnesses the odd cycle
    "q203_bipartite" ->
      s"""WITH RECURSIVE $CTE,
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM deg
         |  UNION
         |  SELECT s.d, r.lbl FROM reach r JOIN sym s ON r.vid = s.s
         |),
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
         |FROM cs LEFT JOIN oddc o USING (component)""".stripMargin,

    // 8 greedy rounds replayed with the pick list carried in the
    // recursion; per-candidate discount from list_intersect with the
    // sorted adjacency; argmax = struct list_max (dd, then min vid)
    "q204_influence" ->
      s"""WITH RECURSIVE $CTE,
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
         |FROM st, generate_series(1, 8) g(gs) WHERE i = 8""".stripMargin,

    // exact CART split search: per-(feature, value) label counts,
    // cumulative left/right tallies, floor-ppb weighted Gini
    "q205_stump" ->
      """WITH ft AS (
        |  SELECT CASE WHEN CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                    t -> t = 'the')) AS BIGINT) * 20
        |              >= CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |         THEN 1 ELSE 0 END AS y,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS f_ntok,
        |         n_chars // CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS f_meanlen,
        |         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                  t -> t = 'the')) AS BIGINT) AS f_the,
        |         n_chars AS f_nchars
        |  FROM documents),
        |lg AS (SELECT y, feature, value FROM ft
        |       UNPIVOT (value FOR feature IN (f_ntok, f_meanlen, f_the, f_nchars))),
        |vc AS (SELECT feature, value, CAST(sum(y) AS BIGINT) AS p,
        |              CAST(count(*) - sum(y) AS BIGINT) AS q
        |       FROM lg GROUP BY 1, 2),
        |cum AS (SELECT feature, value,
        |               sum(p) OVER (PARTITION BY feature ORDER BY value) AS pl,
        |               sum(q) OVER (PARTITION BY feature ORDER BY value) AS ql,
        |               sum(p) OVER (PARTITION BY feature) AS pt,
        |               sum(q) OVER (PARTITION BY feature) AS qt
        |        FROM vc),
        |sc AS (SELECT feature, value AS threshold, pl, ql, pt - pl AS pr,
        |              qt - ql AS qr, pl + ql AS nl, pt + qt - pl - ql AS nr
        |       FROM cum WHERE pt + qt - pl - ql > 0),
        |gi AS (SELECT feature, threshold,
        |              CAST(((nl*nl - pl*pl - ql*ql) * 1000000000) // nl +
        |                   ((nr*nr - pr*pr - qr*qr) * 1000000000) // nr AS BIGINT) AS score_ppb,
        |              CAST((greatest(pl, ql) + greatest(pr, qr)) * 1000000 // (nl + nr) AS BIGINT) AS acc_ppm
        |       FROM sc)
        |SELECT feature, threshold, score_ppb, acc_ppm,
        |       CAST(row_number() OVER (ORDER BY score_ppb, feature, threshold) AS BIGINT) AS rank
        |FROM gi
        |QUALIFY row_number() OVER (PARTITION BY feature ORDER BY score_ppb, threshold) = 1""".stripMargin,

    // distinct word bigrams per source, pairwise intersection, floor-ppm
    // Jaccard
    "q206_source_overlap" ->
      """WITH tk AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bg AS (SELECT DISTINCT source, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS b
        |       FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM bg GROUP BY 1),
        |ov AS (SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS inter
        |       FROM bg a JOIN bg b ON a.b = b.b AND a.source < b.source GROUP BY 1, 2)
        |SELECT ov.sa, ov.sb, ov.inter,
        |       ov.inter * 1000000 // (x.nv + y.nv - ov.inter) AS jaccard_ppm
        |FROM ov JOIN n x ON x.source = ov.sa JOIN n y ON y.source = ov.sb""".stripMargin,

    // sha60(token) % 64 buckets, per-doc top-4 by (count desc, bucket)
    "q207_feature_hash" ->
      """WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |            FROM documents),
        |hb AS (SELECT doc_id,
        |              CAST(('0x' || substr(sha256(tok), 1, 15)) AS BIGINT) % 64 AS bucket,
        |              CAST(count(*) AS BIGINT) AS cnt
        |       FROM tk GROUP BY 1, 2)
        |SELECT doc_id, bucket, cnt,
        |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bucket)
        |            AS BIGINT) AS rank
        |FROM hb QUALIFY rank <= 4""".stripMargin,

    // the four Gopher gates as integer predicates; mean word length by
    // cross-multiplication (40 ≤ 10·mean ≤ 48)
    "q208_gopher" ->
      """WITH ft AS (SELECT doc_id, n_chars,
        |                   regexp_split_to_array(trim(text), '\s+') AS t,
        |                   CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS BIGINT) AS nc_ns
        |            FROM documents),
        |mx AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS maxtok FROM (
        |         SELECT doc_id, count(*) AS c FROM ft, unnest(t) AS u(x)
        |         GROUP BY doc_id, x) GROUP BY 1),
        |m AS (SELECT f.doc_id, CAST(len(f.t) AS BIGINT) AS nw, f.nc_ns,
        |             CAST(len(list_filter(f.t,
        |                x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT) AS nstop,
        |             mx.maxtok
        |      FROM ft f JOIN mx ON mx.doc_id = f.doc_id)
        |SELECT doc_id, nw,
        |       CAST(CASE WHEN nw BETWEEN 25 AND 80 THEN 1 ELSE 0 END AS BIGINT) AS r_words,
        |       CAST(CASE WHEN 40*nw <= 10*nc_ns AND 10*nc_ns <= 48*nw THEN 1 ELSE 0 END AS BIGINT) AS r_meanlen,
        |       CAST(CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
        |       CAST(CASE WHEN maxtok * 5 <= nw THEN 1 ELSE 0 END AS BIGINT) AS r_rep,
        |       CAST(CASE WHEN nw BETWEEN 25 AND 80 AND 40*nw <= 10*nc_ns
        |                  AND 10*nc_ns <= 48*nw AND nstop >= 2
        |                  AND maxtok * 5 <= nw THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM m""".stripMargin,

    // the q57/q133 candidate pipeline, split by label agreement into
    // top-1 hard negative (inner) and top-1 hard positive (left,
    // missing encoded -1/0)
    "q209_hard_negatives" ->
      """WITH planes AS (
        |  SELECT bb.b, jj.j, dd.d,
        |         CASE WHEN CAST(('0x' || substr(sha256(
        |             CAST(bb.b AS VARCHAR) || ':' || CAST(jj.j AS VARCHAR)
        |             || ':' || CAST(dd.d AS VARCHAR)), 1, 1)) AS INT) % 2 = 1
        |              THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(8)) AS b) bb,
        |       (SELECT unnest(range(8)) AS j) jj,
        |       (SELECT unnest(range(64)) AS d) dd),
        |qv AS (SELECT vec_id,
        |              list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |       FROM embeddings),
        |comp AS (SELECT vec_id, generate_subscripts(q, 1) - 1 AS d,
        |                unnest(q) AS x
        |         FROM qv),
        |dots AS (SELECT c.vec_id, p.b, p.j, sum(c.x * p.s) AS dot
        |         FROM comp c JOIN planes p ON p.d = c.d GROUP BY 1, 2, 3),
        |sig AS (SELECT vec_id, b,
        |               sum(CASE WHEN dot > 0 THEN (1 << j) ELSE 0 END) AS bucket
        |        FROM dots GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS vec_id, c.vec_id AS nn_id
        |         FROM sig a JOIN sig c
        |           ON a.b = c.b AND a.bucket = c.bucket AND a.vec_id <> c.vec_id),
        |pd AS (SELECT cand.vec_id, cand.nn_id,
        |              CAST(la.label AS BIGINT) AS label,
        |              CAST(lb.label AS BIGINT) AS nn_label,
        |              CAST(list_dot_product(CAST(x.q AS DOUBLE[]),
        |                                    CAST(y.q AS DOUBLE[])) AS BIGINT) AS dot
        |       FROM cand JOIN qv x ON x.vec_id = cand.vec_id
        |                 JOIN qv y ON y.vec_id = cand.nn_id
        |                 JOIN embeddings la ON la.vec_id = cand.vec_id
        |                 JOIN embeddings lb ON lb.vec_id = cand.nn_id),
        |neg AS (SELECT vec_id, label, nn_id AS hard_neg_id, dot AS neg_dot
        |        FROM pd WHERE label <> nn_label
        |        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, nn_id) = 1),
        |pos AS (SELECT vec_id, nn_id AS hard_pos_id, dot AS pos_dot
        |        FROM pd WHERE label = nn_label
        |        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, nn_id) = 1)
        |SELECT n.vec_id, n.label, n.hard_neg_id, n.neg_dot,
        |       coalesce(p.hard_pos_id, -1) AS hard_pos_id,
        |       coalesce(p.pos_dot, 0) AS pos_dot,
        |       coalesce(p.pos_dot, 0) - n.neg_dot AS margin
        |FROM neg n LEFT JOIN pos p USING (vec_id)""".stripMargin,

    // dyads from the canonical pair's directed-edge count; closed triads
    // from the wedge join; a < b && a < c keeps one cycle rotation
    "q210_triads" ->
      s"""WITH $CTE,
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
         |WHERE w.a < w.b AND w.a < w.c""".stripMargin,

    // NB replay: per-token class counts, floor-log2 weights via bin(),
    // token-instance score sum + prior bits, confusion matrix
    "q211_nb" ->
      """WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |            FROM documents),
        |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok,
        |                CAST(sum(CASE WHEN tok = 'the' THEN 1 ELSE 0 END) AS BIGINT) AS thec
        |         FROM tk GROUP BY 1),
        |lab AS (SELECT doc_id, CASE WHEN thec * 20 >= ntok THEN 1 ELSE 0 END AS y FROM base),
        |ti AS (SELECT t.doc_id, l.y, t.tok FROM tk t JOIN lab l USING (doc_id)),
        |tot AS (SELECT y, CAST(count(*) AS BIGINT) AS t,
        |               CAST(count(DISTINCT doc_id) AS BIGINT) AS n
        |        FROM ti GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM ti),
        |w AS (SELECT tok,
        |        CAST(length(bin((CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) + 1)
        |                        * ((SELECT t FROM tot WHERE y = 0) + (SELECT v FROM vv)))) AS BIGINT)
        |      - CAST(length(bin((CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) + 1)
        |                        * ((SELECT t FROM tot WHERE y = 1) + (SELECT v FROM vv)))) AS BIGINT) AS w
        |      FROM ti GROUP BY 1),
        |sc AS (SELECT ti.doc_id, ti.y,
        |              CAST(sum(w.w) AS BIGINT)
        |              + CAST(length(bin((SELECT n FROM tot WHERE y = 1))) AS BIGINT)
        |              - CAST(length(bin((SELECT n FROM tot WHERE y = 0))) AS BIGINT) AS score
        |       FROM ti JOIN w USING (tok) GROUP BY 1, 2)
        |SELECT CAST(y AS BIGINT) AS y,
        |       CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM sc GROUP BY 1, 2""".stripMargin,

    // JL replay: sha +-1 signs, integer projection, pairwise squared
    // distances via component self-joins over the 40 sha-smallest vectors
    "q212_jl_parity" ->
      """WITH signs AS (
        |  SELECT jj.j, dd.d,
        |         CASE WHEN CAST(('0x' || substr(sha256(
        |             'jl:' || CAST(jj.j AS VARCHAR) || ':' || CAST(dd.d AS VARCHAR)), 1, 1)) AS INT) % 2 = 1
        |              THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(16)) AS j) jj,
        |       (SELECT unnest(range(64)) AS d) dd),
        |qv AS (SELECT vec_id,
        |              list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |       FROM embeddings),
        |sam AS (SELECT vec_id, q FROM qv
        |        ORDER BY CAST(('0x' || substr(sha256('jlp:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
        |        LIMIT 40),
        |comp AS (SELECT vec_id, generate_subscripts(q, 1) - 1 AS d, unnest(q) AS x
        |         FROM sam),
        |pr AS (SELECT c.vec_id, s.j, CAST(sum(c.x * s.s) AS BIGINT) AS yj
        |       FROM comp c JOIN signs s USING (d) GROUP BY 1, 2),
        |d2o AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |               CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
        |        FROM comp a JOIN comp b ON a.d = b.d AND a.vec_id < b.vec_id
        |        GROUP BY 1, 2),
        |d2p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |               CAST(sum((a.yj - b.yj) * (a.yj - b.yj)) AS BIGINT) AS d2
        |        FROM pr a JOIN pr b ON a.j = b.j AND a.vec_id < b.vec_id
        |        GROUP BY 1, 2)
        |SELECT o.id_a, o.id_b, o.d2 AS d2_orig, p.d2 AS d2_proj,
        |       CASE WHEN o.d2 = 0 THEN 1000000
        |            ELSE (p.d2 * 1000000) // (16 * o.d2) END AS distortion_ppm
        |FROM d2o o JOIN d2p p USING (id_a, id_b)""".stripMargin,

    // degree-class mixing vs the configuration-model null
    "q213_degree_mixing" ->
      s"""WITH $CTE,
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
         |LEFT JOIN obs o ON o.cls_a = a.cls AND o.cls_b = b.cls""".stripMargin,

    // forward-push replay: 3 synchronous rounds as a recursive CTE —
    // each round every vertex settles alpha, splits the rest by integer
    // div over its neighbors; state = self row + incoming, summed
    "q214_ppr_push" ->
      s"""WITH RECURSIVE $CTE,
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
         |WHERE rnd = 3 AND (p <> 0 OR r <> 0)""".stripMargin,

    // label-centroid separability replay: milli-unit integer centroids,
    // signed squared cosine in ppm
    "q215_label_centroids" ->
      """WITH qc AS (
        |  SELECT CAST(label AS BIGINT) AS lbl,
        |         generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS x
        |  FROM (SELECT label,
        |               list_transform(embedding,
        |                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |        FROM embeddings)),
        |cent AS (SELECT lbl, pos,
        |                CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
        |         FROM qc GROUP BY 1, 2),
        |pair AS (SELECT a.lbl AS la, b.lbl AS lb,
        |                CAST(sum(a.c * b.c) AS BIGINT) AS dot
        |         FROM cent a JOIN cent b ON a.pos = b.pos AND a.lbl <= b.lbl
        |         GROUP BY 1, 2),
        |n2 AS (SELECT la AS lbl, dot AS n2 FROM pair WHERE la = lb)
        |SELECT p.la AS label_a, p.lb AS label_b,
        |       CASE WHEN x.n2 = 0 OR y.n2 = 0 THEN 0
        |            ELSE (CASE WHEN p.dot >= 0 THEN 1 ELSE -1 END)
        |                 * (((p.dot * p.dot) // x.n2) * 1000000 // y.n2) END AS cos2_ppm
        |FROM pair p JOIN n2 x ON x.lbl = p.la JOIN n2 y ON y.lbl = p.lb""".stripMargin,

    // TextRank replay: pruned adjacent-token graph, 3 recursive ppm
    // power rounds (every vertex of the symmetric graph has in-edges,
    // so the contrib aggregation covers all of them), top 20
    "q216_textrank" ->
      """WITH RECURSIVE tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |tok AS (SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok FROM tk),
        |keep AS (SELECT tok FROM tok GROUP BY 1 HAVING count(*) >= 5),
        |kept AS (SELECT doc_id, pos, tok FROM tok JOIN keep USING (tok)),
        |pe AS (SELECT least(a.tok, b.tok) AS u, greatest(a.tok, b.tok) AS v,
        |              CAST(count(*) AS BIGINT) AS w
        |       FROM kept a JOIN kept b
        |         ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND a.tok <> b.tok
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |se AS (SELECT u AS src, v AS dst, w FROM pe UNION ALL SELECT v, u, w FROM pe),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM se GROUP BY 1),
        |pr(it, tok, r) AS (
        |  SELECT 0, src, CAST(1000000 AS BIGINT) FROM ow
        |  UNION ALL
        |  SELECT c.it + 1, se.dst,
        |         CAST(150000 + (850000 * sum((c.r * se.w) // ow.wout)) // 1000000 AS BIGINT)
        |  FROM pr c JOIN se ON se.src = c.tok JOIN ow ON ow.src = c.tok
        |  WHERE c.it < 3
        |  GROUP BY 1, 2)
        |SELECT tok, r AS rank_ppm,
        |       CAST(row_number() OVER (ORDER BY r DESC, tok) AS BIGINT) AS rk
        |FROM pr WHERE it = 3 ORDER BY r DESC, tok LIMIT 20""".stripMargin,

    // span-corruption replay: sha start predicate, range-masked tokens,
    // ordered string_agg reassembly
    "q217_span_corrupt" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |tok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n,
        |               CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS pos,
        |               unnest(t) AS tok
        |        FROM tk),
        |st AS (SELECT doc_id, pos AS sp FROM tok
        |       WHERE pos + 3 <= n
        |         AND CAST(('0x' || substr(sha256('sc:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 8),
        |mk AS (SELECT DISTINCT t2.doc_id, t2.pos FROM tok t2
        |       JOIN st ON st.doc_id = t2.doc_id
        |              AND t2.pos >= st.sp AND t2.pos < st.sp + 3),
        |tg AS (SELECT t.doc_id, t.pos, t.tok,
        |              CASE WHEN mk.pos IS NOT NULL THEN 1 ELSE 0 END AS m
        |       FROM tok t LEFT JOIN mk ON mk.doc_id = t.doc_id AND mk.pos = t.pos)
        |SELECT doc_id, CAST(max(pos) + 1 AS BIGINT) AS n_tokens,
        |       CAST(sum(m) AS BIGINT) AS n_masked,
        |       string_agg(CASE WHEN m = 1 THEN '_' ELSE tok END, ' ' ORDER BY pos) AS corrupted,
        |       coalesce(string_agg(CASE WHEN m = 1 THEN tok END, ' ' ORDER BY pos), '') AS target
        |FROM tg GROUP BY 1""".stripMargin,

    // MMR replay: top-32 pool by integer dot, recursive greedy with the
    // selected vectors carried as a list (list_max over per-selected
    // dots = the running max-sim term)
    "q218_mmr" ->
      """WITH RECURSIVE qv AS (
        |  SELECT vec_id, list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |qq AS (SELECT vec_id AS qid, q AS qvec FROM qv
        |       ORDER BY CAST(('0x' || substr(sha256('q:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
        |       LIMIT 1),
        |pool AS (SELECT v.vec_id, v.q,
        |                CAST(list_dot_product(CAST(v.q AS DOUBLE[]),
        |                                      CAST(qq.qvec AS DOUBLE[])) AS BIGINT) AS rel
        |         FROM qv v, qq WHERE v.vec_id <> qq.qid
        |         ORDER BY rel DESC, v.vec_id LIMIT 32),
        |sel(rk, vid, mmr, ids, sq) AS (
        |  SELECT * FROM (
        |    SELECT 1 AS rk, vec_id AS vid, CAST(700000 * rel AS BIGINT) AS mmr,
        |           [vec_id] AS ids, [q] AS sq
        |    FROM pool ORDER BY CAST(700000 * rel AS BIGINT) DESC, vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT * FROM (
        |    SELECT s.rk + 1, p.vec_id,
        |           CAST(700000 * p.rel - 300000 * list_max(list_transform(s.sq,
        |             x -> CAST(list_dot_product(CAST(p.q AS DOUBLE[]), CAST(x AS DOUBLE[])) AS BIGINT))) AS BIGINT) AS mmr,
        |           list_append(s.ids, p.vec_id), list_append(s.sq, p.q)
        |    FROM sel s JOIN pool p ON NOT list_contains(s.ids, p.vec_id)
        |    WHERE s.rk < 8
        |    ORDER BY mmr DESC, p.vec_id LIMIT 1))
        |SELECT rk, vid AS vec_id, mmr AS mmr_score FROM sel""".stripMargin,

    // blocked levenshtein near-dup replay
    "q219_typo_pairs" ->
      """WITH t AS (SELECT doc_id AS id,
        |                  substr(lower(trim(text)), 1, 48) AS pfx
        |           FROM documents),
        |tb AS (SELECT id, pfx, substr(pfx, 1, 8) AS blk FROM t)
        |SELECT a.id AS doc_a, b.id AS doc_b,
        |       CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
        |FROM tb a JOIN tb b ON a.blk = b.blk AND a.id < b.id
        |WHERE levenshtein(a.pfx, b.pfx) <= 3""".stripMargin,

    // RRF replay: the q189 BM25 ranking fused with the raw tf ranking
    "q220_rrf" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |dl AS MATERIALIZED (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, unnest(t) AS term FROM tok)
        |       WHERE term IN ('spark', 'join', 'stream', 'filter') GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |pt AS (SELECT tf.doc_id, tf.tf,
        |              (2 * (nn.n - df.df) + 1) * 1000000 // (2 * df.df + 1) AS idf_ppm,
        |              (1000000 - 750000) + (750000 * dl.dl * nn.n) // nn.tot AS norm_ppm
        |       FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN nn),
        |sc AS (SELECT doc_id,
        |              CAST(sum(idf_ppm * (tf * (1000000 + 1200000) * 1000000 //
        |                (tf * 1000000 + (1200000 * norm_ppm) // 1000000)) // 1000000) AS BIGINT) AS s
        |       FROM pt GROUP BY 1),
        |ra AS (SELECT dl.doc_id,
        |              CAST(row_number() OVER (ORDER BY coalesce(sc.s, 0) DESC, dl.doc_id) AS BIGINT) AS rank_bm25
        |       FROM dl LEFT JOIN sc ON sc.doc_id = dl.doc_id),
        |tfs AS (SELECT dl.doc_id, coalesce(sum(tf.tf), 0) AS tfs
        |        FROM dl LEFT JOIN tf ON tf.doc_id = dl.doc_id GROUP BY 1),
        |rb AS (SELECT doc_id,
        |              CAST(row_number() OVER (ORDER BY tfs DESC, doc_id) AS BIGINT) AS rank_tf
        |       FROM tfs)
        |SELECT ra.doc_id, ra.rank_bm25, rb.rank_tf,
        |       1000000 // (60 + ra.rank_bm25) + 1000000 // (60 + rb.rank_tf) AS rrf_ppm
        |FROM ra JOIN rb USING (doc_id)
        |ORDER BY rrf_ppm DESC, ra.doc_id LIMIT 20""".stripMargin,

    // Kneser-Ney replay: bigram type/occurrence counts, continuation
    // counts, the milli formula, per-head rank
    "q221_kn_bigram" ->
      """WITH tk AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bgs AS (SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
        |        FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)),
        |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bgs GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |              CAST(count(*) AS BIGINT) AS n1plus
        |       FROM bg GROUP BY 1),
        |pre AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1pre FROM bg GROUP BY 1),
        |bb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM bg),
        |top AS (SELECT w1, c1, n1plus FROM c1 ORDER BY c1 DESC, w1 LIMIT 20),
        |sc AS (SELECT bg.w1, bg.w2, bg.c12,
        |              (CASE WHEN bg.c12 * 1000 - 750 > 0
        |                    THEN (bg.c12 * 1000 - 750) // top.c1 ELSE 0 END)
        |              + ((750 * top.n1plus) // top.c1)
        |                * ((1000 * pre.n1pre) // bb.b) // 1000 AS pkn_milli
        |       FROM bg JOIN top USING (w1) JOIN pre USING (w2) CROSS JOIN bb)
        |SELECT w1, w2, c12, pkn_milli, rk FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY w1
        |            ORDER BY pkn_milli DESC, w2) AS BIGINT) AS rk
        |  FROM sc)
        |WHERE rk <= 3""".stripMargin,

    // association-strength replay over the full co-occurrence graph
    "q222_assoc_strength" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
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
        |ORDER BY as_ppm DESC, c.src, c.dst LIMIT 50""".stripMargin,

    // unrolled 4-sweep integer-milli Jacobi replay of the hitting time
    "q223_hitting_time" ->
      s"""WITH $CTE,
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
        |FROM v JOIN h4 ON h4.vid = v.vid""".stripMargin,

    // integer least squares over the floor-log2 log-log histogram
    "q224_powerlaw_fit" ->
      s"""WITH $CTE,
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
        |FROM sl CROSS JOIN nv""".stripMargin,

    // langid vote x token counts, one group-by, floor-ppm fertility
    "q225_fertility" ->
      """WITH sc AS (SELECT
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','it'))) AS e,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('der','die','das','und','ist','nicht'))) AS d,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('le','la','les','et','est','que'))) AS f,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS t
        |FROM documents),
        |lg AS (SELECT CASE WHEN e >= d AND e >= f AND e > 0 THEN 'en'
        |                   WHEN d >= f AND d > 0 THEN 'de'
        |                   WHEN f > 0 THEN 'fr' ELSE 'und' END AS lang_pred,
        |              w, t FROM sc)
        |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(w) AS BIGINT) AS n_words,
        |       CAST(sum(t) AS BIGINT) AS n_subtokens,
        |       CAST(sum(t) AS BIGINT) * 1000000 // CAST(sum(w) AS BIGINT) AS fertility_ppm
        |FROM lg GROUP BY 1""".stripMargin,

    // sha-split replay, per-split unigram ppm, full-outer gap + TV
    "q226_split_drift" ->
      """WITH sp AS (SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
        |                   ELSE 'test' END AS split, text
        |       FROM (SELECT CAST(('0x' || substr(sha256('s1:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |                    AS BIGINT) % 100 AS h, text FROM documents)),
        |tok AS (SELECT split, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |        FROM sp WHERE split <> 'test'),
        |cnt AS (SELECT split, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |tot AS (SELECT split, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
        |ppm AS (SELECT cnt.split, cnt.token, cnt.c * 1000000 // tot.t AS ppm
        |        FROM cnt JOIN tot USING (split)),
        |tr AS (SELECT token, ppm AS train_ppm FROM ppm WHERE split = 'train'),
        |va AS (SELECT token, ppm AS valid_ppm FROM ppm WHERE split = 'val'),
        |j AS MATERIALIZED (SELECT coalesce(tr.token, va.token) AS token,
        |            CAST(coalesce(train_ppm, 0) AS BIGINT) AS train_ppm,
        |            CAST(coalesce(valid_ppm, 0) AS BIGINT) AS valid_ppm,
        |            CAST(abs(coalesce(train_ppm, 0) - coalesce(valid_ppm, 0)) AS BIGINT) AS delta_ppm
        |     FROM tr FULL OUTER JOIN va ON tr.token = va.token),
        |tv AS (SELECT CAST(sum(delta_ppm) AS BIGINT) // 2 AS tv_ppm FROM j)
        |SELECT token, train_ppm, valid_ppm, delta_ppm, tv.tv_ppm
        |FROM j CROSS JOIN tv
        |ORDER BY delta_ppm DESC, token LIMIT 12""".stripMargin,

    // islands trick replay: run key = position - per-(doc,token) rank
    "q227_token_runs" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |            FROM documents),
        |pos AS (SELECT doc_id, a[CAST(i AS INT)] AS token, CAST(i AS BIGINT) AS p
        |        FROM tk, unnest(generate_series(1, len(a))) AS u(i)),
        |grp AS (SELECT doc_id, token,
        |               p - row_number() OVER (PARTITION BY doc_id, token ORDER BY p) AS g
        |        FROM pos),
        |runs AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS run_len
        |         FROM grp GROUP BY doc_id, token, g
        |         HAVING count(*) >= 3)
        |SELECT doc_id, token, run_len FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |            ORDER BY run_len DESC, token) AS rk FROM runs)
        |WHERE rk = 1""".stripMargin,

    // weighted-Jaccard replay on the thresholded weighted graph
    "q228_wjaccard" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
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
        |ORDER BY wj_ppm DESC, u, v LIMIT 30""".stripMargin,

    // q211's NB trunk + per-score-value gains windows
    "q229_nb_gains" ->
      """WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |            FROM documents),
        |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok,
        |                CAST(sum(CASE WHEN tok = 'the' THEN 1 ELSE 0 END) AS BIGINT) AS thec
        |         FROM tk GROUP BY 1),
        |lab AS (SELECT doc_id, CASE WHEN thec * 20 >= ntok THEN 1 ELSE 0 END AS y FROM base),
        |ti AS (SELECT t.doc_id, l.y, t.tok FROM tk t JOIN lab l USING (doc_id)),
        |tot AS (SELECT y, CAST(count(*) AS BIGINT) AS t,
        |               CAST(count(DISTINCT doc_id) AS BIGINT) AS n
        |        FROM ti GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM ti),
        |w AS (SELECT tok,
        |        CAST(length(bin((CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) + 1)
        |                        * ((SELECT t FROM tot WHERE y = 0) + (SELECT v FROM vv)))) AS BIGINT)
        |      - CAST(length(bin((CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) + 1)
        |                        * ((SELECT t FROM tot WHERE y = 1) + (SELECT v FROM vv)))) AS BIGINT) AS w
        |      FROM ti GROUP BY 1),
        |sc AS (SELECT ti.doc_id, ti.y,
        |              CAST(sum(w.w) AS BIGINT)
        |              + CAST(length(bin((SELECT n FROM tot WHERE y = 1))) AS BIGINT)
        |              - CAST(length(bin((SELECT n FROM tot WHERE y = 0))) AS BIGINT) AS score
        |       FROM ti JOIN w USING (tok) GROUP BY 1, 2),
        |hist AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
        |                CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |         FROM sc GROUP BY 1),
        |tp AS (SELECT CAST(greatest(sum(pos), 1) AS BIGINT) AS t FROM hist)
        |SELECT score, n, pos,
        |       CAST(sum(n) OVER win AS BIGINT) AS cum_n,
        |       CAST(sum(pos) OVER win AS BIGINT) AS cum_pos,
        |       pos * 1000000 // n AS rate_ppm,
        |       CAST(sum(pos) OVER win AS BIGINT) * 1000000 // tp.t AS capture_ppm
        |FROM hist CROSS JOIN tp
        |WINDOW win AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)""".stripMargin,

    // adjacent-block distinct-token Jaccard, boundary under 100000 ppm
    "q230_block_cohesion" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |            FROM documents),
        |pos AS (SELECT DISTINCT doc_id, CAST((i - 1) // 20 AS BIGINT) AS block,
        |               a[CAST(i AS INT)] AS token
        |        FROM tk, unnest(generate_series(1, len(a))) AS u(i)),
        |sz AS (SELECT doc_id, block, CAST(count(*) AS BIGINT) AS sz
        |       FROM pos GROUP BY 1, 2),
        |ix AS (SELECT a.doc_id, a.block, CAST(count(*) AS BIGINT) AS ix
        |       FROM pos a JOIN pos b ON a.doc_id = b.doc_id
        |         AND a.block + 1 = b.block AND a.token = b.token
        |       GROUP BY 1, 2)
        |SELECT l.doc_id, l.block,
        |       coalesce(ix.ix, 0) * 1000000 // (l.sz + r.sz - coalesce(ix.ix, 0)) AS overlap_ppm,
        |       (coalesce(ix.ix, 0) * 1000000 // (l.sz + r.sz - coalesce(ix.ix, 0))) < 100000 AS is_boundary
        |FROM sz l JOIN sz r ON l.doc_id = r.doc_id AND l.block + 1 = r.block
        |LEFT JOIN ix ON ix.doc_id = l.doc_id AND ix.block = l.block""".stripMargin,

    // JSON path extraction parity: k summed per event type, milli mean
    "q231_props_extract" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) * 1000
        |         // CAST(count(*) AS BIGINT) AS avg_k_milli
        |FROM events GROUP BY 1""".stripMargin,

    // degree vs strength top-50: overlap + footrule (absent rank = 51)
    "q232_rank_stability" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
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
        |FROM ta FULL OUTER JOIN tb USING (vid)""".stripMargin,

    // content-hash cluster histogram with per-size savings
    "q233_dedup_stats" ->
      """WITH g AS (SELECT sha256(text) AS h, CAST(count(*) AS BIGINT) AS n,
        |                  CAST(max(length(text)) AS BIGINT) AS len
        |           FROM documents GROUP BY 1)
        |SELECT n AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |       CAST(sum(n) AS BIGINT) AS n_docs,
        |       CAST(sum((n - 1) * len) AS BIGINT) AS chars_saved
        |FROM g GROUP BY 1""".stripMargin,

    // branch isolation replay: main = even-length docs, exp = all docs
    "q234_catalog_branch" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |                  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |           FROM documents WHERE n_chars % 2 = 0),
        |x AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |             CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |      FROM documents)
        |SELECT 'main' AS ref, n_rows, sum_chars FROM m
        |UNION ALL SELECT 'exp', n_rows, sum_chars FROM x""".stripMargin,

    // q47's pack layout + the one-row efficiency reduction
    "q235_pack_audit" ->
      """WITH t AS (SELECT doc_id,
        |                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS strt
        |      FROM t),
        |p AS (SELECT n AS n_tokens, CAST(floor(strt / 512.0) AS BIGINT) AS bin,
        |             strt % 512 AS bin_offset FROM c)
        |SELECT CAST(max(bin) + 1 AS BIGINT) AS n_bins,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN bin_offset + n_tokens > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_spanners,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(sum(greatest(0, bin_offset + n_tokens - 512)) AS BIGINT) AS spilled_tokens,
        |       CAST(sum(n_tokens) AS BIGINT) * 1000000
        |         // (CAST(max(bin) + 1 AS BIGINT) * 512) AS fill_ppm
        |FROM p""".stripMargin,

    // closed-interval overlap, duration = floor(value) whole seconds
    "q236_interval_join" ->
      """WITH iv AS (SELECT event_id, epoch_us(ts) // 1000000 AS s,
        |                   epoch_us(ts) // 1000000
        |                   + greatest(0, CAST(floor(value) AS BIGINT)) AS e
        |            FROM events)
        |SELECT a.event_id AS e1, b.event_id AS e2,
        |       least(a.e, b.e) - greatest(a.s, b.s) AS overlap_sec
        |FROM iv a JOIN iv b
        |  ON a.event_id < b.event_id AND a.s <= b.e AND b.s <= a.e""".stripMargin,

    // reliability ledger over the q211 NB score histogram
    "q237_nb_calibration" ->
      """WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |            FROM documents),
        |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok,
        |                CAST(sum(CASE WHEN tok = 'the' THEN 1 ELSE 0 END) AS BIGINT) AS thec
        |         FROM tk GROUP BY 1),
        |lab AS (SELECT doc_id, CASE WHEN thec * 20 >= ntok THEN 1 ELSE 0 END AS y FROM base),
        |ti AS (SELECT t.doc_id, l.y, t.tok FROM tk t JOIN lab l USING (doc_id)),
        |tot AS (SELECT y, CAST(count(*) AS BIGINT) AS t,
        |               CAST(count(DISTINCT doc_id) AS BIGINT) AS n
        |        FROM ti GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM ti),
        |w AS (SELECT tok,
        |        CAST(length(bin((CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) + 1)
        |                        * ((SELECT t FROM tot WHERE y = 0) + (SELECT v FROM vv)))) AS BIGINT)
        |      - CAST(length(bin((CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) + 1)
        |                        * ((SELECT t FROM tot WHERE y = 1) + (SELECT v FROM vv)))) AS BIGINT) AS w
        |      FROM ti GROUP BY 1),
        |sc AS (SELECT ti.doc_id, ti.y,
        |              CAST(sum(w.w) AS BIGINT)
        |              + CAST(length(bin((SELECT n FROM tot WHERE y = 1))) AS BIGINT)
        |              - CAST(length(bin((SELECT n FROM tot WHERE y = 0))) AS BIGINT) AS score
        |       FROM ti JOIN w USING (tok) GROUP BY 1, 2),
        |led AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(CASE WHEN y = CASE WHEN score > 0 THEN 1 ELSE 0 END
        |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |        FROM sc GROUP BY 1),
        |cal AS (SELECT score, n, n_correct,
        |               (1000000 * (CAST(1 AS BIGINT) << least(abs(score), 20)))
        |                 // ((CAST(1 AS BIGINT) << least(abs(score), 20)) + 1) AS conf_ppm,
        |               (1000000 * n_correct) // n AS acc_ppm
        |        FROM led),
        |g AS (SELECT score, n, n_correct, conf_ppm, acc_ppm,
        |             abs(conf_ppm - acc_ppm) AS gap_ppm FROM cal),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |              CAST(sum(n * gap_ppm) AS BIGINT) AS sg FROM g)
        |SELECT score, n, n_correct, conf_ppm, acc_ppm, gap_ppm,
        |       sg // nn AS ece_ppm
        |FROM g CROSS JOIN tt""".stripMargin,

    // exact Lorenz deciles + Gini over the length-value histogram
    "q238_lorenz" ->
      """WITH h AS (SELECT CAST(n_chars AS BIGINT) AS x, CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY 1),
        |cum AS (SELECT x, c, CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS r1,
        |               CAST(sum(c) OVER (ORDER BY x) - c AS BIGINT) AS r0 FROM h),
        |tot AS (SELECT CAST(max(r1) AS BIGINT) AS n, CAST(sum(x * c) AS BIGINT) AS t,
        |               CAST(sum(x * (c * r0 + c * (c + 1) // 2)) AS BIGINT) AS s
        |        FROM cum),
        |gg AS (SELECT n, t, (1000000 * (2 * s - (n + 1) * t)) // (n * t) AS gini_ppm FROM tot),
        |dec AS (SELECT d.decile, cum.x,
        |               least(cum.r1, (d.decile + 1) * gg.n // 10)
        |                 - greatest(cum.r0, d.decile * gg.n // 10) AS o
        |        FROM cum CROSS JOIN gg
        |             CROSS JOIN (SELECT unnest(range(10)) AS decile) d),
        |agg AS (SELECT decile, CAST(sum(o) AS BIGINT) AS n_docs,
        |               CAST(sum(o * x) AS BIGINT) AS mass
        |        FROM dec WHERE o > 0 GROUP BY 1)
        |SELECT CAST(decile AS BIGINT) AS decile, n_docs, mass,
        |       (1000000 * mass) // gg.t AS mass_ppm,
        |       (1000000 * CAST(sum(mass) OVER (ORDER BY decile) AS BIGINT)) // gg.t AS cum_mass_ppm,
        |       gg.gini_ppm
        |FROM agg CROSS JOIN gg""".stripMargin,

    // vocabulary growth by 64-doc block from trigram first occurrences
    "q239_heaps" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tok WHERE len(t) >= 3),
        |tk AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS tok FROM pos),
        |f AS (SELECT tok, CAST(min(doc_id) AS BIGINT) AS fid FROM tk GROUP BY 1),
        |b AS (SELECT fid // 64 AS bucket, CAST(count(*) AS BIGINT) AS new_tokens
        |      FROM f GROUP BY 1)
        |SELECT bucket, bucket * 64 AS first_doc, bucket * 64 + 63 AS last_doc,
        |       new_tokens,
        |       CAST(sum(new_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab
        |FROM b""".stripMargin,

    // kept iff first of key or > 60 s after the key's previous event
    "q240_throttle" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
        |           FROM events),
        |k AS (SELECT user_id, event_type,
        |             CASE WHEN lag(tus) OVER w IS NULL
        |                    OR tus - lag(tus) OVER w > 60000000 THEN 1 ELSE 0 END AS kept
        |      FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY tus, event_id))
        |SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(kept) AS BIGINT) AS n_kept
        |FROM k GROUP BY 1, 2""".stripMargin,

    // canonical size|degree-histogram sha per component, shape classes
    "q241_component_fp" ->
      s"""WITH RECURSIVE $CTE,
         |reach(vid, lbl) AS (
         |  SELECT vid, vid FROM deg
         |  UNION
         |  SELECT s.d, r.lbl FROM reach r JOIN sym s ON r.vid = s.s
         |),
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
         |FROM per GROUP BY 1, 2""".stripMargin,

    // QI groups under k=3 + constant corpus risk share
    "q242_kanon" ->
      """WITH g AS (SELECT lang, source, n_chars // 100 AS len_bucket,
        |                  CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1, 2, 3),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t,
        |             CAST(sum(CASE WHEN n_docs < 3 THEN n_docs ELSE 0 END) AS BIGINT) AS r
        |      FROM g)
        |SELECT lang, source, len_bucket, n_docs, (1000000 * r) // t AS risk_ppm
        |FROM g CROSS JOIN t WHERE n_docs < 3""".stripMargin,

    // Mann-Whitney AUC with midrank ties over the score histogram
    "q243_linkpred_auc" ->
      s"""WITH $CTE,
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
         |FROM agg WHERE np > 0 AND nn > 0""".stripMargin,

    // robust winnowing: rightmost min of each full 4-window of 5-gram
    // sha60 hashes, distinct selections
    "q244_winnow" ->
      """WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS i
        |             FROM documents WHERE length(text) >= 8),
        |h AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |             CAST(('0x' || substr(sha256(substr(text, CAST(i AS INT), 5)), 1, 15)) AS BIGINT) AS h
        |      FROM pos),
        |w AS (SELECT doc_id, pos, h,
        |             count(*) OVER win AS cnt,
        |             min(struct_pack(h := h, np := -pos)) OVER win AS m
        |      FROM h WINDOW win AS (PARTITION BY doc_id ORDER BY pos
        |                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
        |SELECT DISTINCT doc_id, -struct_extract(m, 'np') AS pos,
        |       struct_extract(m, 'h') AS fp
        |FROM w WHERE cnt = 4""".stripMargin,

    // per-32-token-segment language id, mixing ledger per document
    "q245_code_switch" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents WHERE length(trim(text)) > 0),
        |seg AS (SELECT doc_id, array_to_string(t[i*32+1 : i*32+32], ' ') AS s
        |        FROM (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // 32)) AS i
        |              FROM tok)),
        |lid AS (SELECT doc_id,
        |          CASE WHEN e >= d AND e >= f AND e > 0 THEN 'en'
        |               WHEN d >= f AND d > 0 THEN 'de'
        |               WHEN f > 0 THEN 'fr' ELSE 'und' END AS l
        |        FROM (SELECT doc_id,
        |            len(list_filter(regexp_split_to_array(trim(s), '\s+'),
        |                x -> x IN ('the','a','of','and','to','in','is','it'))) AS e,
        |            len(list_filter(regexp_split_to_array(trim(s), '\s+'),
        |                x -> x IN ('der','die','das','und','ist','nicht'))) AS d,
        |            len(list_filter(regexp_split_to_array(trim(s), '\s+'),
        |                x -> x IN ('le','la','les','et','est','que'))) AS f
        |          FROM seg)),
        |pl AS (SELECT doc_id, l, CAST(count(*) AS BIGINT) AS c FROM lid GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_segments,
        |               CAST(count(*) AS BIGINT) AS n_langs,
        |               max(struct_pack(c := c, l := l)) AS m
        |        FROM pl GROUP BY 1)
        |SELECT doc_id, n_segments, n_langs,
        |       struct_extract(m, 'l') AS majority_lang,
        |       (1000000 * (n_segments - struct_extract(m, 'c'))) // n_segments AS minority_ppm
        |FROM agg""".stripMargin,

    // first-active-day cohorts, per-offset activity + floor-ppm share
    "q246_retention" ->
      """WITH act AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d
        |             FROM events),
        |coh AS (SELECT u, CAST(min(d) AS BIGINT) AS c FROM act GROUP BY 1),
        |sz AS (SELECT c AS cohort_day, CAST(count(*) AS BIGINT) AS cohort_n
        |       FROM coh GROUP BY 1),
        |r AS (SELECT coh.c AS cohort_day, a.d - coh.c AS day_offset,
        |             CAST(count(*) AS BIGINT) AS n_active
        |      FROM act a JOIN coh ON a.u = coh.u GROUP BY 1, 2)
        |SELECT r.cohort_day, r.day_offset, r.n_active, sz.cohort_n,
        |       (1000000 * r.n_active) // sz.cohort_n AS retention_ppm
        |FROM r JOIN sz USING (cohort_day)""".stripMargin,

    // hour-bucketed first-conversion delays + median bucket
    "q247_convert_latency" ->
      """WITH f AS (SELECT user_id AS u, CAST(min(epoch_us(ts)) AS BIGINT) AS f
        |           FROM events WHERE event_type = 'view' GROUP BY 1),
        |d AS (SELECT e.user_id AS u, CAST(min(epoch_us(e.ts) - f.f) AS BIGINT) AS delay
        |      FROM events e JOIN f ON e.user_id = f.u
        |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f.f GROUP BY 1),
        |h AS (SELECT delay // 3600000000 AS bucket_h, CAST(count(*) AS BIGINT) AS n_users
        |      FROM d GROUP BY 1),
        |c AS (SELECT bucket_h, n_users,
        |             CAST(sum(n_users) OVER (ORDER BY bucket_h) AS BIGINT) AS cum_users
        |      FROM h),
        |m AS (SELECT CAST(min(bucket_h) AS BIGINT) AS median_bucket_h
        |      FROM c CROSS JOIN (SELECT max(cum_users) AS n FROM c) t
        |      WHERE cum_users >= (n + 1) // 2)
        |SELECT bucket_h, n_users, cum_users, m.median_bucket_h
        |FROM c CROSS JOIN m""".stripMargin,

    // RFM tercile census; boundaries from value-histogram cum counts
    "q248_rfm" ->
      """WITH per AS (SELECT user_id AS u,
        |                    CAST(max(epoch_us(ts) // 86400000000) AS BIGINT) AS lastd,
        |                    CAST(count(*) AS BIGINT) AS freq,
        |                    CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS BIGINT) AS mon
        |             FROM events GROUP BY 1),
        |mx AS (SELECT CAST(max(lastd) AS BIGINT) AS maxd FROM per),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
        |ft AS (SELECT u, maxd - lastd AS rec, freq, mon // 1000000 AS mband
        |       FROM per CROSS JOIN mx),
        |rh AS (SELECT rec AS v, CAST(count(*) AS BIGINT) AS c FROM ft GROUP BY 1),
        |rt AS (SELECT v AS rec, least(2, (3 * CAST(sum(c) OVER (ORDER BY v) - c AS BIGINT)) // nn.n) AS rec_t
        |       FROM rh CROSS JOIN nn),
        |fh AS (SELECT freq AS v, CAST(count(*) AS BIGINT) AS c FROM ft GROUP BY 1),
        |ftt AS (SELECT v AS freq, least(2, (3 * CAST(sum(c) OVER (ORDER BY v) - c AS BIGINT)) // nn.n) AS freq_t
        |        FROM fh CROSS JOIN nn),
        |mh AS (SELECT mband AS v, CAST(count(*) AS BIGINT) AS c FROM ft GROUP BY 1),
        |mt AS (SELECT v AS mband, least(2, (3 * CAST(sum(c) OVER (ORDER BY v) - c AS BIGINT)) // nn.n) AS mband_t
        |       FROM mh CROSS JOIN nn)
        |SELECT rt.rec_t AS r_t, ftt.freq_t AS f_t, mt.mband_t AS m_t,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM ft JOIN rt USING (rec) JOIN ftt USING (freq) JOIN mt USING (mband)
        |GROUP BY 1, 2, 3""".stripMargin,

    // per-doc blocklist hits + keep decision
    "q249_blocklist" ->
      """SELECT doc_id,
        |       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |            x -> x IN ('error', 'slow', 'fail'))) AS BIGINT) AS hits,
        |       CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) > 0
        |            THEN (1000000 * CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                 x -> x IN ('error', 'slow', 'fail'))) AS BIGINT))
        |                 // CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |            ELSE 0 END AS hit_ppm,
        |       CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) > 0
        |            THEN (1000000 * CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                 x -> x IN ('error', 'slow', 'fail'))) AS BIGINT))
        |                 // CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |            ELSE 0 END < 50000 AS keep
        |FROM documents""".stripMargin,

    // NDCG@10 + MRR over the q189 chain; disc table interpolated from
    // the same TfIdf.ndcgDiscMicro constants the operator uses
    "q250_ndcg" -> {
      val discVals = graft.text.TfIdf.ndcgDiscMicro(10).zipWithIndex
        .map { case (dv, i) => s"(${i + 1}, $dv)" }.mkString(", ")
      s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
        |dl AS MATERIALIZED (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, unnest(t) AS term FROM tok)
        |       WHERE term IN ('spark', 'join', 'stream', 'filter') GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |pt AS (SELECT tf.doc_id, tf.tf,
        |              (2 * (nn.n - df.df) + 1) * 1000000 // (2 * df.df + 1) AS idf_ppm,
        |              (1000000 - 750000) + (750000 * dl.dl * nn.n) // nn.tot AS norm_ppm
        |       FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN nn),
        |sc AS (SELECT doc_id,
        |              CAST(sum(idf_ppm * (tf * (1000000 + 1200000) * 1000000 //
        |                (tf * 1000000 + (1200000 * norm_ppm) // 1000000)) // 1000000) AS BIGINT) AS s,
        |              CAST(count(*) AS BIGINT) AS nm
        |       FROM pt GROUP BY 1),
        |sco AS (SELECT dl.doc_id AS doc_id, coalesce(sc.nm, 0) AS rel,
        |               coalesce(sc.s, 0) AS score
        |        FROM dl LEFT JOIN sc ON sc.doc_id = dl.doc_id),
        |disc(rnk, dv) AS (VALUES $discVals),
        |act AS (SELECT rel, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
        |        FROM sco ORDER BY score DESC, doc_id LIMIT 10),
        |ide AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk
        |        FROM sco ORDER BY rel DESC, doc_id LIMIT 10),
        |a AS (SELECT CAST(sum(rel * disc.dv) AS BIGINT) AS dcg_micro,
        |             CAST(min(CASE WHEN rel > 0 THEN act.rnk END) AS BIGINT) AS fr
        |      FROM act JOIN disc ON disc.rnk = act.rnk),
        |i AS (SELECT CAST(sum(rel * disc.dv) AS BIGINT) AS idcg_micro
        |      FROM ide JOIN disc ON disc.rnk = ide.rnk)
        |SELECT a.dcg_micro, i.idcg_micro,
        |       (1000000 * a.dcg_micro) // i.idcg_micro AS ndcg_ppm,
        |       coalesce(1000000 // a.fr, 0) AS mrr_micro
        |FROM a CROSS JOIN i WHERE i.idcg_micro > 0""".stripMargin
    },

    // identical sorted-neighbor-list sha classes + quotient ppm
    "q251_structural_equiv" ->
      s"""WITH $CTE,
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
         |FROM cls CROSS JOIN tot WHERE n_vertices >= 2""".stripMargin,

    // same-label edge share vs sum of squared end-label shares
    "q252_homophily" ->
      s"""WITH $CTE,
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
         |FROM obs CROSS JOIN ag""".stripMargin,

    // the q119 3-round matching replay, endpoints unioned into the cover,
    // each with its sym degree
    "q253_vertex_cover" ->
      s"""WITH $CTE,
         |l0 AS MATERIALIZED (SELECT s, d,
         |       CAST(('0x' || substr(sha256('mm:' || s || ':' || d), 1, 15)) AS BIGINT) AS p
         |       FROM e),
         |v1 AS MATERIALIZED (SELECT v, min(p) AS mp FROM
         |       (SELECT s AS v, p FROM l0 UNION ALL SELECT d, p FROM l0) GROUP BY 1),
         |m1 AS MATERIALIZED (SELECT l.s, l.d FROM l0 l
         |       JOIN v1 a ON l.s = a.v AND l.p = a.mp
         |       JOIN v1 b ON l.d = b.v AND l.p = b.mp),
         |x1 AS MATERIALIZED (SELECT s AS v FROM m1 UNION SELECT d FROM m1),
         |l1 AS MATERIALIZED (SELECT l.* FROM l0 l
         |       WHERE NOT EXISTS (SELECT 1 FROM x1 WHERE x1.v = l.s)
         |         AND NOT EXISTS (SELECT 1 FROM x1 WHERE x1.v = l.d)),
         |v2 AS MATERIALIZED (SELECT v, min(p) AS mp FROM
         |       (SELECT s AS v, p FROM l1 UNION ALL SELECT d, p FROM l1) GROUP BY 1),
         |m2 AS MATERIALIZED (SELECT l.s, l.d FROM l1 l
         |       JOIN v2 a ON l.s = a.v AND l.p = a.mp
         |       JOIN v2 b ON l.d = b.v AND l.p = b.mp),
         |x2 AS MATERIALIZED (SELECT s AS v FROM m2 UNION SELECT d FROM m2),
         |l2 AS MATERIALIZED (SELECT l.* FROM l1 l
         |       WHERE NOT EXISTS (SELECT 1 FROM x2 WHERE x2.v = l.s)
         |         AND NOT EXISTS (SELECT 1 FROM x2 WHERE x2.v = l.d)),
         |v3 AS MATERIALIZED (SELECT v, min(p) AS mp FROM
         |       (SELECT s AS v, p FROM l2 UNION ALL SELECT d, p FROM l2) GROUP BY 1),
         |m3 AS MATERIALIZED (SELECT l.s, l.d FROM l2 l
         |       JOIN v3 a ON l.s = a.v AND l.p = a.mp
         |       JOIN v3 b ON l.d = b.v AND l.p = b.mp),
         |cover AS (SELECT s AS vid FROM m1 UNION SELECT d FROM m1
         |          UNION SELECT s FROM m2 UNION SELECT d FROM m2
         |          UNION SELECT s FROM m3 UNION SELECT d FROM m3)
         |SELECT c.vid, deg.degree FROM cover c JOIN deg ON c.vid = deg.vid""".stripMargin,

    // LOO NB replay: q211's pipeline with per-source totals subtracted
    // inside the bit-logs; length(bin()) differences replay Spark's
    // (length-1) bits exactly (the -1s cancel in every difference)
    "q254_loo_source_value" ->
      """WITH tk AS (SELECT doc_id, source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |            FROM documents),
        |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok,
        |                CAST(sum(CASE WHEN tok = 'the' THEN 1 ELSE 0 END) AS BIGINT) AS thec
        |         FROM tk GROUP BY 1),
        |lab AS (SELECT doc_id, CASE WHEN thec * 20 >= ntok THEN 1 ELSE 0 END AS y FROM base),
        |ti AS (SELECT t.doc_id, t.source AS dsrc, l.y, t.tok FROM tk t JOIN lab l USING (doc_id)),
        |tot AS (SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
        |               CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0,
        |               CAST(count(DISTINCT CASE WHEN y = 1 THEN doc_id END) AS BIGINT) AS n1,
        |               CAST(count(DISTINCT CASE WHEN y = 0 THEN doc_id END) AS BIGINT) AS n0,
        |               CAST(count(DISTINCT tok) AS BIGINT) AS v
        |        FROM ti),
        |stot AS (SELECT dsrc AS hsrc,
        |               CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1s,
        |               CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0s,
        |               CAST(count(DISTINCT CASE WHEN y = 1 THEN doc_id END) AS BIGINT) AS n1s,
        |               CAST(count(DISTINCT CASE WHEN y = 0 THEN doc_id END) AS BIGINT) AS n0s
        |        FROM ti GROUP BY 1),
        |pres AS (SELECT DISTINCT tok, dsrc FROM ti),
        |excl AS (SELECT p.dsrc AS hsrc, CAST(count(*) AS BIGINT) AS vx
        |         FROM pres p JOIN (SELECT tok, count(*) AS ns FROM pres GROUP BY 1) q USING (tok)
        |         WHERE q.ns = 1 GROUP BY 1),
        |scal AS (SELECT s.hsrc, s.t1s, s.t0s, s.n1s, s.n0s,
        |                (SELECT v FROM tot) - coalesce(e.vx, 0) AS vloo
        |         FROM stot s LEFT JOIN excl e USING (hsrc)),
        |cnt AS (SELECT tok,
        |               CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |               CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
        |        FROM ti GROUP BY 1),
        |cnts AS (SELECT tok, dsrc AS hsrc,
        |               CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1s,
        |               CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0s
        |         FROM ti GROUP BY 1, 2),
        |w AS (SELECT c.tok, s.hsrc,
        |             CAST(length(bin((c.c1 - coalesce(cs.c1s, 0) + 1) * ((SELECT t0 FROM tot) - s.t0s + s.vloo))) AS BIGINT)
        |           - CAST(length(bin((c.c0 - coalesce(cs.c0s, 0) + 1) * ((SELECT t1 FROM tot) - s.t1s + s.vloo))) AS BIGINT) AS w,
        |             CAST(length(bin((SELECT n1 FROM tot) - s.n1s + 1)) AS BIGINT)
        |           - CAST(length(bin((SELECT n0 FROM tot) - s.n0s + 1)) AS BIGINT) AS prior
        |      FROM cnt c CROSS JOIN scal s
        |      LEFT JOIN cnts cs ON cs.tok = c.tok AND cs.hsrc = s.hsrc),
        |sc AS (SELECT ti.doc_id, ti.y, w.hsrc, w.prior,
        |              CAST(sum(w.w) AS BIGINT) + w.prior AS score
        |       FROM ti JOIN w ON ti.tok = w.tok AND ti.dsrc <> w.hsrc
        |       GROUP BY 1, 2, 3, 4)
        |SELECT hsrc AS held_out, CAST(y AS BIGINT) AS y,
        |       CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM sc GROUP BY 1, 2, 3""".stripMargin,

    // one aggregation + corpus-wide share, groups spanning < 3 sources
    "q255_ldiversity" ->
      """WITH g AS (SELECT lang, n_chars // 25 AS len_bucket,
        |                  CAST(count(*) AS BIGINT) AS n_docs,
        |                  CAST(count(DISTINCT source) AS BIGINT) AS n_sensitive
        |           FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST((1000000 * sum(CASE WHEN n_sensitive < 3 THEN n_docs ELSE 0 END))
        |                    // sum(n_docs) AS BIGINT) AS risk_ppm FROM g)
        |SELECT g.lang, g.len_bucket, g.n_docs, g.n_sensitive, tot.risk_ppm
        |FROM g CROSS JOIN tot WHERE g.n_sensitive < 3""".stripMargin,

    // densified hourly counts, then the fixed-point recurrence
    // e' = (3e + 1e6 n) // 4 replayed one hour per recursion step;
    // first hour seeds e = 1e6 n with the -1 sentinel and never flags
    "q256_ewma_anomaly" ->
      """WITH RECURSIVE cnt AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(h) AS h0, max(h) AS h1
        |         FROM cnt GROUP BY 1),
        |dense AS (SELECT s.event_type,
        |                 unnest(generate_series(s.h0, s.h1)) AS h
        |          FROM span s),
        |dn AS (SELECT d.event_type, d.h, coalesce(c.n, 0) AS n
        |       FROM dense d LEFT JOIN cnt c
        |         ON d.event_type = c.event_type AND d.h = c.h),
        |idx AS MATERIALIZED (
        |  SELECT event_type, h, n,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM dn),
        |st(event_type, rn, e) AS (
        |  SELECT event_type, CAST(1 AS BIGINT), n * 1000000
        |  FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT i.event_type, i.rn, (3 * s.e + 1000000 * i.n) // 4
        |  FROM st s JOIN idx i
        |    ON i.event_type = s.event_type AND i.rn = s.rn + 1
        |)
        |SELECT i.event_type, i.h, i.n,
        |       coalesce(p.e, -1) AS ewma_prev_micro,
        |       CAST(CASE WHEN p.e IS NOT NULL AND i.n * 1000000 > 3 * p.e
        |            THEN 1 ELSE 0 END AS BIGINT) AS spike
        |FROM idx i LEFT JOIN st p
        |  ON p.event_type = i.event_type AND p.rn = i.rn - 1""".stripMargin,

    // sampled-exact neighborhood function + 90%-rule effective diameter:
    // the q118 reach CTE from the 2% sha seed set, min-dist closure,
    // per-hop pair counts, cumulative window over <= 7 hop rows
    "q257_eff_diameter" ->
      s"""WITH RECURSIVE $CTE,
         |seeds AS (SELECT vid FROM deg
         |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 20),
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
         |FROM cum CROSS JOIN eff""".stripMargin
  )
}
