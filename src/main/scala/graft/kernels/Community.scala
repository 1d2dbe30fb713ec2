package graft.kernels

import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Attribute-based community detection — the reference's CD application
  * (`apps/community.cpp`) re-expressed Spark-first.
  *
  * Reference semantics: a community is a clique whose members all share at
  * least one common attribute (the task carries a `com_attr_set` that is
  * intersected with each new member's attrs and must stay nonempty —
  * `apps/community.cpp:173-201`); a task is seeded per vertex whose
  * HIGHER-id candidate set has ≥ K-1 members and whose attr list is
  * nonempty (`:481`); each seed reports its best community of size ≥ K
  * (`K_THRESHOLD = 3`, `:18`), and the global aggregate is the SET-UNION
  * of reported communities plus the max size (CountAgg, `:106-149`).
  *
  * The reference's recursive search (`community()`, `:269-332`) is a
  * greedy B&B whose bookkeeping makes it heuristic (e.g. the bare
  * `++max_size` at `:322`); this engine implements the clean form of the
  * same definition — per seed, the MAXIMUM attribute-sharing clique
  * containing the seed as its minimum-id member, ties broken to the
  * lexicographically smallest member list — which is deterministic and
  * oracle-checkable by exhaustive enumeration.
  *
  * Dataflow (same shape as [[MaxClique]], J4 per-seed local search):
  * id-oriented edges with the neighbor attrs joined in are the members
  * of each seed's task, [[Edges.taskSubgraphs]] pulls the edges they
  * induce, and a typed map runs the exact local search; all joins
  * shuffle on the vertex key.
  *
  * Skew note: the reference-mandated id-orientation (candidates = ids
  * above the seed, `apps/community.cpp:476-480`) does NOT bound
  * out-degree the way MaxClique's degree-orientation does — the
  * lowest-id member of a hub neighborhood receives that whole
  * neighborhood as its candidate set. The attr-sharing filter prunes it
  * first (only neighbors sharing a seed attribute survive), and
  * `maxCandidates` is the explicit guard for adversarial hubs:
  * candidates beyond it are dropped ascending-id-deterministically,
  * making the seed's answer a documented lower bound (the reference's
  * own B&B is heuristic at `:322`). The default is the finite
  * [[DefaultMaxCandidates]] — exact on every non-adversarial graph,
  * bounded on all of them; pass `Int.MaxValue` to force exactness.
  */
object Community {

  /** Default per-seed candidate cap. The reference-mandated id-orientation
    * does NOT bound out-degree (see the skew note above), so an unguarded
    * default hands an adversarial hub seed an exponential local search.
    * 2048 is far above any attr-filtered candidate set the driver corpora
    * produce (q36 answers are identical with or without the cap at sf0.1)
    * while bounding worst-case per-seed work; beyond the cap the seed's
    * answer is a documented lower bound, truncated ascending-id-
    * deterministically. Pass `Int.MaxValue` for the exact-search path
    * (the spec oracles run that way where they plant hubs above the cap).
    */
  val DefaultMaxCandidates: Int = 2048

  /** Exact max attribute-sharing clique containing the seed.
    * @param seedAttrs  seed's attribute set (sorted/deduped upstream)
    * @param nbrs       higher-id neighbors with their attrs
    * @param induced    edges among nbrs (oriented u < w)
    * @param k          minimum community size (including seed)
    * @return sorted member ids (seed included) of the best community of
    *         size ≥ k, or None */
  private[kernels] def localSearch(
      seed: Long,
      seedAttrs: Array[String],
      nbrs: Array[(Long, Array[String])],
      induced: Array[(Long, Long)],
      k: Int,
      maxCandidates: Int = Int.MaxValue): Option[Array[Long]] = {
    if (seedAttrs.isEmpty || nbrs.length < k - 1) return None
    // keep only neighbors sharing an attr with the seed (anything else can
    // never survive the common-set intersection); the hub guard truncates
    // deterministically (ascending id) AFTER that filter
    val seedSet = seedAttrs.toSet
    val cand0 = nbrs.filter(_._2.exists(seedSet)).sortBy(_._1)
      .take(maxCandidates)
    if (cand0.length < k - 1) return None
    val ids = cand0.map(_._1)
    val attrs = cand0.map(_._2.toSet)
    val adj = MaxClique.bitAdjacency(ids, induced)
    var best: List[Int] = Nil
    var bestSize = k - 1 // accept only size >= k (incl. seed)
    // ascending-id DFS enumerates member lists in lexicographic order, so
    // the first clique found at each size is the lex-min one; strictly-
    // greater updates + a <=-bound prune keep exactly that witness
    def search(r: List[Int], common: Set[String], cand: List[Int]): Unit = {
      val size = r.length + 1 // + seed
      if (size > bestSize) { bestSize = size; best = r }
      var cs = cand
      while (cs.nonEmpty) {
        val v = cs.head
        cs = cs.tail
        if (size + cs.length + 1 > bestSize) {
          val c2 = common.intersect(attrs(v))
          if (c2.nonEmpty) search(v :: r, c2, cs.filter(adj(v)))
        }
      }
    }
    search(Nil, seedSet, ids.indices.toList)
    if (bestSize < k) None
    else Some((seed +: best.map(ids(_))).sorted.toArray)
  }

  /** Global CD result — the reference CountAgg shape (A4 set-union + max):
    * one row per distinct community, (community csv, size), from each
    * seed's best community of size ≥ k. Eager, so the cached oriented
    * edges and task members are released before return. The distinct
    * community set is unbounded, so materialization is a distributed
    * localCheckpoint — never a driver collect (a hub-rich graph at scale
    * would funnel every community row through driver memory).
    * @param verts (vid, attrs array<string>) — attr-format vertices
    * @param edges canonical undirected edge table (src < dst) */
  def run(spark: SparkSession, verts: DataFrame, edges: DataFrame,
          k: Int = 3, maxCandidates: Int = DefaultMaxCandidates): DataFrame = {
    import spark.implicits._
    // id orientation — the reference's candidate rule keeps neighbors with
    // id > vid (`apps/community.cpp:476-480`), so canonical src<dst IS the
    // candidate relation
    val e = edges.select(col("src"), col("dst")).persist()
    val va = verts.select(col("vid"), col("attrs"))
    // read by both sides of the task pull and the members aggregate:
    // cached, the attrs join runs once (uncached, q36 ran 2 more jobs)
    val members = e.join(va.withColumnRenamed("vid", "dst"), "dst")
      .select(col("src").as("seed"), col("dst").as("v"), col("attrs"))
      .persist()
    val result = Edges.taskSubgraphs(members, e)
      // seed rule P1: candidates >= k-1 and nonempty seed attrs
      .filter(size(col("members")) >= k - 1)
      .join(va.withColumnRenamed("vid", "seed")
        .withColumnRenamed("attrs", "seed_attrs"), "seed")
      .filter(size(col("seed_attrs")) > 0)
      .select(col("seed"), col("seed_attrs"), col("members"), col("edges"))
      .as[(Long, Array[String], Array[(Long, Array[String])],
           Array[(Long, Long)])]
      .flatMap { case (seed, sa, ns, es) =>
        localSearch(seed, sa, ns, es, k, maxCandidates)
      }
      .select(array_join(col("value").cast("array<string>"), ",")
          .as("community"),
        size(col("value")).as("size"))
      .distinct()
      .localCheckpoint(eager = true)
    e.unpersist(); members.unpersist()
    result
  }
}
