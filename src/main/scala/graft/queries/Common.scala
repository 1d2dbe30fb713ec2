package graft.queries

import graft.graph.Edges
import graft.kernels.PageRank
import graft.sim.Ann
import graft.text.{Dedup, TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers and shared DuckDB SQL fragments of the query families. It
  * never refers to the families or to `SparkEntry`, so reading one of its
  * vals while a family object is initialising can never see a `null`. */
object Common {

  private[graft] def T(s: SparkSession, dir: String, name: String): DataFrame =
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
  private[graft] def scratchDir(prefix: String): String = {
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
  private[graft] def cooc(s: SparkSession, dir: String): DataFrame =
    Edges.coOccurrence(T(s, dir, "lineitem"), "l_orderkey", "l_partkey")

  /** thresholded graph (weight >= 2) — sparse, multi-component */
  private[graft] def e2(s: SparkSession, dir: String): DataFrame =
    cooc(s, dir).filter(col("weight") >= 2).select(col("src"), col("dst"))

  /** The sha-60 hash of column `c` modulo `m`: the deterministic slice
    * the bodies sample, split or seed by (the oracles replay it with
    * `sha256(CAST(c AS VARCHAR))`). */
  private[graft] def shaMod(c: String, m: Long): Column =
    pmod(Dedup.shaTokenHash60(col(c).cast("string")), lit(m))

  /** Recall gate for the approximate-operator queries: when set, q29/q40
    * additionally evaluate their exact quadratic baseline to report
    * measured recall (honest evidence, wrong thing to time — VERDICT r2
    * #2). Verify turns it on (`graft.recall=1`); Bench leaves it off so
    * the recorded numbers measure the scale paths. */
  private[graft] def recallGate: Option[Unit] =
    if (sys.props.get("graft.recall").orElse(sys.env.get("SPARK_GRAFT_RECALL"))
        .contains("1")) Some(()) else None

  /** An approximate top-5 ANN result with its measured recall@5 against
    * the exact quadratic baseline behind [[recallGate]] (-1.0 = not
    * measured this run); shared by q29 and q40. */
  private[graft] def withRecall(emb: DataFrame, approx: DataFrame): DataFrame = {
    val recall = recallGate.map { _ =>
      val brute = Ann.bruteTopK(emb, "vec_id", "embedding", 5)
        .select(col("vec_id"), col("nn_id")).persist()
      val nTrue = brute.count()
      val caught = brute.join(approx.select(col("vec_id"), col("nn_id")),
        Seq("vec_id", "nn_id"), "left_semi").count()
      brute.unpersist()
      if (nTrue == 0L) 1.0
      else math.rint(10000.0 * caught / nTrue) / 10000.0
    }.getOrElse(-1.0)
    approx.select(col("vec_id"), col("nn_id"), col("rnk"),
      round(col("cosine"), 4).as("cosine"),
      lit(recall).as("recall_at_k"))
  }

  /** Count of the token "the" in `text`. size - size(array_remove) ==
    * size(filter(= "the")) (split yields no nulls), but stays codegen'd:
    * the filter() higher-order function is CodegenFallback and its
    * per-element interpreted lambda dominated the label projection
    * (guide #4). */
  private[graft] def theCnt: Column = {
    val t = TF.tokens(col("text"))
    (size(t) - size(array_remove(t, "the"))).cast("long")
  }

  /** The NB/stump label: "the" is at least 5% of the tokens. */
  private[graft] def theLabel: Column =
    (theCnt * 20L >= TF.tokenCount(col("text"))).cast("long")

  /** The BDG flood on the checkpointed symmetric `e2` graph from the
    * sha-sampled `permille`/1000 of its vertices, each seed its own color:
    * the graph and every reached vertex's color (`bdgFlood` in SQL). */
  private[graft] def bdgColors(s: SparkSession, d: String, permille: Int,
      maxHop: Int): (DataFrame, DataFrame) = {
    val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
    val seeds = sym.select(col("src").as("vid")).distinct()
      .filter(shaMod("vid", 1000L) < permille)
      .select(col("vid"), col("vid").as("color"))
    (sym, graft.partition.BdgLayout.floodColors(sym, seeds, maxHop)._1)
  }

  /** The whole BDG pipeline — flood, integer parity packer, exact
    * per-worker stats over 8 workers (`bdgCrossSql` in SQL). */
  private[graft] def bdgCross(s: SparkSession, d: String, permille: Int,
      maxHop: Int): DataFrame = {
    val (sym, colors) = bdgColors(s, d, permille, maxHop)
    val assign = graft.partition.BdgLayout.assignBlocksExact(s, sym,
      colors, workers = 8)
    graft.partition.BdgLayout.crossEdgeStatsExact(s, sym, colors, assign,
      workers = 8)
  }

  /** q100/q111's two PageRank phases on the `e2` graph: 6 supersteps from
    * the uniform start, then 4 on the survivors of the q46 deletion
    * predicate, warm-started from the first (`PR_WARM` in SQL). Returns
    * both phases' ranks. */
  private[graft] def prWarmStart(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // materialized once: both PR pre-loops and the deletion filter
    // consume it
    val sym = Edges.symmetrize(e2(s, d)).localCheckpoint(eager = true)
    val r0 = PageRank.run(s, sym, fixedIter = Some(6),
      symmetric = true).ranks
    val ef = sym.filter(pmod(col("src"), lit(7)) =!= 0 &&
      pmod(col("dst"), lit(7)) =!= 0)
    (r0, PageRank.run(s, ef, fixedIter = Some(4), symmetric = true,
      initRanks = Some(r0)).ranks)
  }

  // ---- shared oracle SQL fragments (DuckDB) ----
  // vals initialise top to bottom: a fragment follows every fragment it
  // interpolates
  private[graft] val CTE =
    """li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
      |cooc AS (SELECT a.item AS src, b.item AS dst, count(*) AS weight
      |         FROM li a JOIN li b ON a.g = b.g AND a.item < b.item GROUP BY 1, 2),
      |e AS (SELECT src AS s, dst AS d FROM cooc WHERE weight >= 2),
      |sym AS (SELECT s, d FROM e UNION ALL SELECT d, s FROM e),
      |deg AS (SELECT s AS vid, count(*) AS degree FROM sym GROUP BY 1)""".stripMargin

  private[graft] val FULL =
    """fsym AS (SELECT src AS s, dst AS d FROM cooc UNION ALL SELECT dst, src FROM cooc),
      |fdeg AS (SELECT s AS vid, count(*) AS odeg FROM fsym GROUP BY 1),
      |nv AS (SELECT count(*) AS n FROM fdeg)""".stripMargin

  /** Two synchronous Louvain local-move rounds as a SQL chain ending in
    * the final assignment `a2(vid, comm)` — shared by q187 (the
    * assignment itself) and q196 (the coarsened super-graph over it). */
  private[graft] val LOUV =
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

  /** Integer-quantized embeddings `qv(vec_id, q)`: components × 1000,
    * floored, so every dot product downstream is exact. */
  private[graft] val QV =
    """qv AS (SELECT vec_id,
      |              list_transform(embedding,
      |                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |       FROM embeddings)""".stripMargin

  /** SRP-LSH candidate pairs over the integer-quantized embeddings
    * (`qv`): ±1 planes from sha256 nibble parity, 8 bands × 8 bits, and
    * band-bucket collisions as `cand(vec_id, nn_id)` — the q57 pipeline.
    * Not stripMargin'd: its `||` continuation lines keep their margin
    * until the outer oracle's stripMargin. */
  private[graft] val SRP_CAND =
    s"""planes AS (
      |  SELECT bb.b, jj.j, dd.d,
      |         CASE WHEN CAST(('0x' || substr(sha256(
      |             CAST(bb.b AS VARCHAR) || ':' || CAST(jj.j AS VARCHAR)
      |             || ':' || CAST(dd.d AS VARCHAR)), 1, 1)) AS INT) % 2 = 1
      |              THEN 1 ELSE -1 END AS s
      |  FROM (SELECT unnest(range(8)) AS b) bb,
      |       (SELECT unnest(range(8)) AS j) jj,
      |       (SELECT unnest(range(64)) AS d) dd),
      |$QV,
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
      |           ON a.b = c.b AND a.bucket = c.bucket AND a.vec_id <> c.vec_id)"""

  /** `QV` and each vector's sha256 hash `hh(vec_id, q, h)`: the shared
    * start of the parity IVF/PQ/k-means oracles. */
  private[graft] val QVH =
    s"""$QV,
      |hh AS (SELECT vec_id, q,
      |              CAST(('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |       FROM qv)""".stripMargin

  /** Parity IVF coarse quantizer over `QVH`: the 16 lowest-hash vectors
    * are the centroids `cent(cq, cid)`, and `ds(vec_id, cid, d2)` is every
    * vector's integer squared distance to each (up to the constant |v|²). */
  private[graft] val IVF_CENT =
    """cent AS (SELECT q AS cq,
      |                CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid
      |         FROM hh
      |         QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 16),
      |ds AS (SELECT v.vec_id, c.cid,
      |              CAST(list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
      |                 - 2 * list_dot_product(CAST(v.q AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
      |                   AS BIGINT) AS d2
      |       FROM qv v, cent c)""".stripMargin

  /** Naive Bayes replay trunk: tokens `tk`, the "the" ≥ 5% label `lab`,
    * per-class token totals, floor-log2 token weights via bin(), and each
    * doc's score `sc(doc_id, y, score)` with the prior bits (q211). */
  private[graft] val NB =
    """tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
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
      |       FROM ti JOIN w USING (tok) GROUP BY 1, 2)""".stripMargin

  /** Integer BM25 inputs for the 4-term query: tokens, doc lengths `dl`,
    * corpus size `nn`, term frequencies `tf`, document frequencies `df`
    * and the per-(doc, term) odds-idf and length norm in ppm (`pt`). */
  private[graft] val BM25 =
    """tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      |dl AS MATERIALIZED (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, unnest(t) AS term FROM tok)
      |       WHERE term IN ('spark', 'join', 'stream', 'filter') GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |pt AS (SELECT tf.doc_id, tf.tf,
      |              (2 * (nn.n - df.df) + 1) * 1000000 // (2 * df.df + 1) AS idf_ppm,
      |              (1000000 - 750000) + (750000 * dl.dl * nn.n) // nn.tot AS norm_ppm
      |       FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN nn)""".stripMargin

  /** The triangles `t0(x, y, z)` of `e` and each edge's triangle support
    * `s0(s, d, sup)`. */
  private[graft] val TRUSS0 =
    """t0 AS MATERIALIZED (SELECT a.s AS x, a.d AS y, b.d AS z
      |       FROM e a JOIN e b ON a.d = b.s JOIN e c ON a.s = c.s AND b.d = c.d),
      |s0 AS MATERIALIZED (SELECT s, d, count(*) AS sup FROM (
      |         SELECT x AS s, y AS d FROM t0 UNION ALL
      |         SELECT x, z FROM t0 UNION ALL SELECT y, z FROM t0) u0
      |       GROUP BY 1, 2)""".stripMargin

  /** Two k-truss (k = 3) peel rounds over `e` from `TRUSS0`: triangles
    * `t_i`, per-edge support `s_i`, surviving edges `p_i`; ends with the
    * support `s2` of the round-2 survivors `p2`. */
  private[graft] val TRUSS =
    s"""$TRUSS0,
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
      |       GROUP BY 1, 2)""".stripMargin

  /** Three rounds of sha-priority greedy matching over `e`: an edge joins
    * the matching `m_i` when it is the min-priority edge at both ends, and
    * matched vertices' edges leave the pool `l_i`. */
  private[graft] val MATCH =
    """l0 AS MATERIALIZED (SELECT s, d,
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
      |       JOIN v3 b ON l.d = b.v AND l.p = b.mp)""".stripMargin

  /** Connected components fixpoint: `reach(vid, lbl)` holds every vertex
    * label that reaches `vid` over `sym`; a component is min(lbl). */
  private[graft] val CC_REACH =
    """reach(vid, lbl) AS (
      |  SELECT vid, vid FROM deg
      |  UNION
      |  SELECT s.d, r.lbl FROM reach r JOIN sym s ON r.vid = s.s
      |)""".stripMargin

  /** Two-phase PageRank replay: `pr1` = 6 uniform-start supersteps on the
    * thresholded sym graph; `fe` = the q46 deletion predicate applied
    * symmetrically; `pr2` = 4 supersteps on the survivors seeded from
    * pr1@6 (warm start). The arithmetic mirrors the q10 oracle. */
  private[graft] val PR_WARM =
    """ne2 AS (SELECT count(*) AS n FROM deg),
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
      |)""".stripMargin

  /** Five synchronous label-propagation supersteps over `sym`: mode label
    * with the min-label tie-break, as `lp(iter, vid, lbl)`. */
  private[graft] val LP =
    """lp(iter, vid, lbl) AS (
      |  SELECT 0, vid, vid FROM deg
      |  UNION ALL
      |  SELECT iter + 1, vid, arg_min(nlbl, cnt * (-1000000000) + nlbl) FROM (
      |    SELECT l.iter AS iter, s.d AS vid, l.lbl AS nlbl, count(*) AS cnt
      |    FROM lp l JOIN sym s ON l.vid = s.s
      |    WHERE l.iter < 5
      |    GROUP BY 1, 2, 3
      |  ) GROUP BY 1, 2
      |)""".stripMargin

  /** MinHash LSH banding over the 16 min-hashes `hx(doc_id, j, m)`: 4
    * bands of 4 (`bnd`) and band-collision candidate pairs `cand(d1, d2)`. */
  private[graft] val MH_BANDS =
    """bnd AS (SELECT doc_id, CAST(j // 4 AS INT) AS band, list(m ORDER BY j) AS key
      |        FROM hx GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |         FROM bnd a JOIN bnd b
      |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  /** `seeds(vid)`: the sha-sampled `permille`/1000 of the `deg` vertices. */
  private[graft] def shaSeeds(permille: Int): String =
    s"""seeds AS (SELECT vid FROM deg
       |          WHERE CAST(('0x' || substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < $permille)""".stripMargin

  /** Bounded BFS replay of the frozen min-adoption BDG flood from
    * `shaSeeds(permille)`: `reach` holds every (vertex, seed color, path
    * length <= hops) triple and `md` each vertex's minimum seed distance.
    * A vertex's flood color is the min color at that distance (the closed
    * form of synchronous adopt-and-freeze — seeds at distance d are
    * unreachable adopters once the vertex froze at d_min < d). */
  private[graft] def bdgFlood(permille: Int, hops: Int): String =
    s"""${shaSeeds(permille)},
       |reach(vid, color, h) AS (
       |  SELECT vid, vid, 0 FROM seeds
       |  UNION
       |  SELECT s.d, r.color, r.h + 1 FROM reach r JOIN sym s ON r.vid = s.s
       |  WHERE r.h < $hops
       |),
       |md AS (SELECT vid, min(h) AS mh FROM reach GROUP BY 1)""".stripMargin

  /** B5 greedy packer replay over a BDG flood (`bdgFlood`): each color's
    * size and neighbor-color list, ranked size-desc/color-asc, then a
    * recursive CTE `st(i, hist, loads)` places ONE block per iteration over
    * 8 workers — priority s*(cap-load) encoded *8+(7-j) so max-p/min-j
    * ties break exactly like the Scala loop; fallback min-load/min-j.
    * MATERIALIZED hints keep DuckDB 1.0 from re-inlining the flood into
    * every recursion step. All-integer, so the replay is bit-exact (see
    * BdgLayout.assignBlocksExact). */
  private[graft] val BDG_PACK =
    """colors AS MATERIALIZED (
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
      |)""".stripMargin

  /** B7 replay of the whole BDG pipeline: flood, packer, the assignment
    * joined back onto the colors, and per-worker blocks/vertices/cross
    * edges over colored-colored sym edges, with the sha-hash baseline on
    * the SAME subset over the full 0..7 worker universe. */
  private[graft] def bdgCrossSql(permille: Int, hops: Int): String =
    s"""WITH RECURSIVE $CTE,
       |${bdgFlood(permille, hops)},
       |$BDG_PACK,
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
       |LEFT JOIN hcross h ON u.worker = h.worker""".stripMargin

  /** BPE merge round `r` over the symbol sequences `s{r-1}(seq, freq)`
    * ('|'-delimited symbols): the adjacent symbol pairs `p{r}(l, r, cnt)`
    * weighted by word frequency. */
  private[graft] def bpePairs(r: Int): String =
    s"""x$r AS (SELECT string_split(trim(seq, '|'), '||') AS syms, freq FROM s${r - 1}),
       |e$r AS (SELECT unnest(generate_series(1, len(syms) - 1)) AS i,
       |              syms, freq
       |       FROM x$r WHERE len(syms) >= 2),
       |p$r AS (SELECT syms[i] AS l, syms[i + 1] AS r,
       |              CAST(sum(freq) AS BIGINT) AS cnt
       |       FROM e$r GROUP BY 1, 2)""".stripMargin
}
