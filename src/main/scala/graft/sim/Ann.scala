package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * `bruteTopK` is the exact O(n²) baseline (all-pairs join + window);
  * `lshTopK` is the scale path: sign-random-projection bucketing so the
  * pair join only touches vectors sharing a hyperplane-sign band, then
  * exact re-ranking of candidates. Dot products are the fused
  * [[graft.functions.DotProduct]] codegen expression — one loop, zero
  * per-pair allocation, sequential double accumulation: deterministic,
  * no UDFs, bit-identical to the `aggregate`-over-`zip_with` fold it
  * replaced.
  */
object Ann {

  /** Double-precision dot product of two array columns — the fused
    * [[graft.functions.DotProduct]] codegen expression: one loop, zero
    * per-row allocation, sequential left-to-right accumulation in double.
    * Bit-identical to the composed `aggregate(zip_with(a, b, _*_), 0d,
    * _+_)` form it replaced (same element order, same float→double
    * widening), but without `zip_with` materializing the element-wise
    * product array per candidate pair inside the quadratic loops.
    * Resolved through the session function registry — every Ann entry
    * point calls `GraftFunctions.ensureRegistered` first; callers using
    * [[dot]]/[[cosine]] directly on their own session must too. */
  def dot(a: Column, b: Column): Column =
    call_function(graft.functions.GraftFunctions.DotName, a, b)

  /** L2 norm of an array column. */
  def l2(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity of two array columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2(a) * l2(b))

  /** Unit-normalized double vector (per-row, computed once — cosine of two
    * normalized vectors is a bare dot product, 3x less arithmetic in the
    * quadratic pair loops than cosine-with-norms per pair). */
  def normalized(v: Column): Column = {
    val n = l2(v)
    transform(v, x => x.cast("double") / n)
  }

  /** Exact top-k neighbors per vector by cosine, ties broken by neighbor
    * id: (vec_id, nn_id, rnk, cosine). Quadratic — the correctness
    * baseline and the per-bucket kernel of [[lshTopK]]. */
  def bruteTopK(vecs: DataFrame, idCol: String, vecCol: String,
                k: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(vecs.sparkSession)
    val a = vecs.select(col(idCol).as("vec_id"),
      normalized(col(vecCol)).as("va"))
    val b = vecs.select(col(idCol).as("nn_id"),
      normalized(col(vecCol)).as("vb"))
    val pairs = a.join(b, col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"),
        dot(col("va"), col("vb")).as("cosine"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("nn_id"))
    pairs.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("nn_id"), col("rnk"), col("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs: (d1, d2, cosine) with
    * d1 < d2 and cosine >= threshold. Brute all-pairs — the exactness
    * baseline; at scale, feed LSH-bucket candidates ([[lshTopK]]'s keyed
    * join) through the same cosine filter instead. */
  def nearDuplicates(vecs: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(vecs.sparkSession)
    val a = vecs.select(col(idCol).as("d1"), normalized(col(vecCol)).as("va"))
    val b = vecs.select(col(idCol).as("d2"), normalized(col(vecCol)).as("vb"))
    a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"), dot(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Deterministic random hyperplanes (seeded driver-side; tiny, shipped
    * as literals into the plan — the reference's broadcast-small-map
    * pattern, `partition/BDGPartitioner.tpp:131-135`). */
  private def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Deterministic k-means-lite centroids for [[ivfTopK]]: initial
    * centroids are hash-sampled rows, refined by `iters` Lloyd steps —
    * assignment is a per-row argmin over broadcast centroid literals
    * (codegen'd, no UDF), the mean recompute is one explode + groupBy per
    * step, and the k×dim centroid table collects to the driver (tiny).
    * Deterministic: seeded sampling, fixed iteration count, sum-based
    * means over an id-sorted explode. */
  private[sim] def kmeansCentroids(vecs: DataFrame, idCol: String,
                                   vecCol: String, k: Int,
                                   iters: Int): Array[Array[Double]] = {
    val unit = vecs.select(col(idCol).as("vid"),
      normalized(col(vecCol)).as("v"))
    var centroids: Array[Array[Double]] = unit
      .orderBy(xxhash64(col("vid")), col("vid")).limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    for (_ <- 1 to iters) {
      val assigned = nearestByJoin(unit, centroids, 1)
        .select(col("cids").getItem(0).as("cluster"), col("v"))
      val means = assigned
        .select(col("cluster"), posexplode(col("v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect().groupBy(_.getLong(0))
      centroids = centroids.indices.map { c =>
        means.get(c.toLong) match {
          case Some(rows) =>
            val dim = rows.map(_.getInt(1)).max + 1
            val m = new Array[Double](dim)
            rows.foreach(r => m(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
            m
          case None => centroids(c) // empty cluster keeps its centroid
        }
      }.toArray
    }
    centroids
  }

  /** (vid, v, cids: array of the `nprobe` nearest centroid ids) per
    * vector — argmin by squared distance, ties to the lower centroid id
    * (struct sort on (dist, cid); identical ordering and IEEE distance
    * values to the former per-centroid literal expression). Shaped as a
    * BROADCAST join against the |k|-row centroid table rather than a
    * k-literal expression tree: the Lloyd loop re-plans this once per
    * iteration with NEW centroid values, and literal-bearing plans
    * forced a fresh whole-stage-codegen compile per iteration (the
    * dominant cost at small scale) — the join plan's generated code is
    * value-independent, so the codegen cache hits across iterations and
    * entry points. Precondition: `vid` is unique in `unit` — the result
    * is grouped by vid, so duplicate ids would collapse into one row
    * with their centroid candidates mixed. */
  private def nearestByJoin(unit: DataFrame,
                            centroids: Array[Array[Double]],
                            nprobe: Int): DataFrame = {
    val spark = unit.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val ctab = broadcast(centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toSeq) }.toDF("cid", "cv"))
    val sc = struct(
      call_function(graft.functions.GraftFunctions.SqDistName,
        col("v"), col("cv")).as("dist"),
      col("cid"))
    unit.crossJoin(ctab)
      .select(col("vid"), col("v"), sc.as("sc"))
      .groupBy(col("vid"))
      .agg(first(col("v")).as("v"),
        transform(slice(array_sort(collect_list(col("sc"))), 1, nprobe),
          s => s.getField("cid")).as("cids"))
  }

  /** Approximate top-k via an IVF (inverted-file) index: k-means-lite
    * coarse quantizer; every vector lives in its nearest centroid's
    * partition (the inverted file — a data-dependent repartition);
    * queries probe their `nprobe` nearest centroids and re-rank
    * candidates exactly. The candidate join is keyed by cluster id, so
    * cost is ~nprobe/nlist of the corpus per query instead of n² — the
    * same bucketed shape as [[lshTopK]] with learned buckets. Measured
    * recall@5 on the 500×64 test table: 0.84 at 16/8 (TextSimSpec
    * asserts ≥ 0.7 at that default), 0.76 at 8/4, 0.59 at 16/4 — these embeddings' tail neighbors span
    * clusters, so IVF needs a fat probe fraction here where 32×4 SRP-LSH
    * reaches 0.99; on genuinely clustered corpora the trade flips.
    * At corpus scale set nlist ≈ √n and tune nprobe to the recall bar. */
  def ivfTopK(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 8,
              lloydIters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(vecs.sparkSession)
    val centroids = kmeansCentroids(vecs, idCol, vecCol, nlist, lloydIters)
    val unit = vecs.select(col(idCol).as("vid"),
      normalized(col(vecCol)).as("v"))
    // inverted file: vector -> home cluster (1 row per vector)
    val file = nearestByJoin(unit, centroids, 1)
      .select(col("cids").getItem(0).as("cluster"),
        col("vid").as("nn_id"), col("v").as("vb"))
      .repartition(col("cluster"))
    // queries fan out to nprobe clusters (nprobe rows per vector)
    val probes = nearestByJoin(unit, centroids, nprobe)
      .select(col("vid").as("vec_id"), col("v").as("va"),
        explode(col("cids")).as("cluster"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("nn_id"))
    probes.join(file, "cluster")
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cosine", dot(col("va"), col("vb")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("nn_id"), col("rnk"), col("cosine"))
  }

  /** Integer dot product of two `array<long>` columns (sequential fold —
    * exact, so any engine computing the same quantized vectors agrees
    * bit-for-bit; components ≤ scale·|x|max keep the sum far below 2^63). */
  def idot(a: Column, b: Column): Column =
    call_function(graft.functions.GraftFunctions.IDotName, a, b)

  /** Deterministic integer quantization of a float/double vector column:
    * floor(x · scale) per component. floor (not round) because it has no
    * tie-break rule to disagree on across engines. */
  def quantize(v: Column, scale: Int = 1000): Column =
    transform(v, x => floor(x.cast("double") * scale).cast("long"))

  /** Calibrated int8 embedding compression — the 4× storage cut a 100 TB
    * vector store takes before indexing. Per-DIMENSION min/max calibration
    * (one tiny stats aggregate, broadcast back), then each component maps
    * affinely onto [-127, 127]:
    *
    *   q = floor((x - min_d) / (max_d - min_d) * 254) - 127   (constant
    *   dimensions map to 0), reconstruction x̂ = min_d + (q+127)·range/254.
    *
    * Returns (id, q int8-range array ordered by dimension, max_abs_err).
    * All arithmetic is double on float-derived values with a fixed
    * operation order, and the error statistic is a MAX (order-independent)
    * — never a float SUM — so results hash-match a SQL oracle exactly.
    * Scale shape: posexplode → per-dim stats (|dims| rows, broadcast) →
    * one per-doc reassembly shuffle. */
  def calibratedInt8(vecs: DataFrame, idCol: String,
                     vecCol: String): DataFrame = {
    val dims = vecs.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast("double"))
    val stats = dims.groupBy(col("pos"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val q = dims.join(broadcast(stats), Seq("pos"))
      .withColumn("q",
        when(col("hi") > col("lo"),
          floor((col("x") - col("lo")) / (col("hi") - col("lo")) * 254.0)
            .cast("long") - 127L)
          .otherwise(0L))
      .withColumn("recon",
        when(col("hi") > col("lo"),
          col("lo") + (col("q") + 127L).cast("double") *
            (col("hi") - col("lo")) / 254.0)
          .otherwise(col("lo")))
    q.groupBy(col("id"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("q")))),
          s => s("q")).as("qvec"),
        round(max(abs(col("x") - col("recon"))), 8).as("max_abs_err"))
  }

  /** ±1 Rademacher hyperplane component from sha256 — the oracle-parity
    * plane family: component (band, bit, dim) is +1 iff the first hex
    * nibble of sha256("band:bit:dim") is odd, which any engine with sha256
    * reproduces exactly (the same trick as Dedup.shaSeededHash60). */
  private[graft] def shaSign(b: Int, j: Int, d: Int): Int = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$b:$j:$d".getBytes("UTF-8"))
    if (((h(0) >> 4) & 1) == 1) 1 else -1
  }

  /** Oracle-parity sign-random-projection LSH over integer-quantized
    * vectors — the hash-matchable twin of [[lshTopK]] (which stays the
    * fast path: Gaussian planes, float cosine). Semantics here are
    * maximum-inner-product search (MIPS): candidates from band-bucket
    * collisions, exact integer-dot re-rank, top-k by (dot desc, id).
    * Everything is integer or sha-derived, so an independent engine
    * replays it bit-for-bit:
    *
    *  - vectors quantized via [[quantize]] (floor, no tie rule);
    *  - planes are ±1 entries from [[shaSign]];
    *  - band keys are built set-at-a-time: explode components, broadcast
    *    the (band, bit, dim, sign) table, two aggregations — the plane
    *    table is bands·bits·dim rows regardless of corpus size, and the
    *    per-vector cost is one row per (component × plane) in the
    *    map-side-combined first agg;
    *  - the bucket join moves only (band, bucket, id) rows, exactly like
    *    [[lshTopK]]'s candidate path.
    */
  def lshTopKParity(vecs: DataFrame, idCol: String, vecCol: String,
                    k: Int, dim: Int, bands: Int = 8, bitsPerBand: Int = 8,
                    scale: Int = 1000): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(vecs.sparkSession)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dot").desc, col("nn_id"))
    parityCandidateDots(vecs, idCol, vecCol, dim, bands, bitsPerBand, scale)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("nn_id"), col("rnk"), col("dot"))
  }

  /** The parity-LSH candidate pipeline shared by [[lshTopKParity]] and
    * [[hardNegatives]]: band-bucket collision pairs with their exact
    * integer dot, (vec_id, nn_id, dot), no ranking applied yet. */
  private def parityCandidateDots(vecs: DataFrame, idCol: String,
                                  vecCol: String, dim: Int, bands: Int,
                                  bitsPerBand: Int,
                                  scale: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val planes = (for {
      b <- 0 until bands; j <- 0 until bitsPerBand; d <- 0 until dim
    } yield (b, j, d, shaSign(b, j, d).toLong)).toDF("b", "j", "d", "s")
    val qv = vecs.select(col(idCol).as("vid"),
      quantize(col(vecCol), scale).as("q"))
    val comp = qv.select(col("vid"), posexplode(col("q")))
      .withColumnRenamed("pos", "d").withColumnRenamed("col", "x")
    val dots = comp.join(broadcast(planes), "d")
      .groupBy(col("vid"), col("b"), col("j"))
      .agg(sum(col("x") * col("s")).as("dot"))
    val sig = dots.groupBy(col("vid"), col("b"))
      .agg(sum(when(col("dot") > 0,
        expr("shiftleft(1L, j)")).otherwise(0L)).as("bucket"))
    val cands = sig.as("a")
      .join(sig.as("b"),
        col("a.b") === col("b.b") && col("a.bucket") === col("b.bucket")
          && col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("vec_id"), col("b.vid").as("nn_id"))
      .dropDuplicates("vec_id", "nn_id")
    cands
      .join(qv.select(col("vid").as("vec_id"), col("q").as("qa")), "vec_id")
      .join(qv.select(col("vid").as("nn_id"), col("q").as("qb")), "nn_id")
      .withColumn("dot", idot(col("qa"), col("qb")))
      .select(col("vec_id"), col("nn_id"), col("dot"))
  }

  /** Hard-negative mining for contrastive/metric training: for every
    * labeled vector, the most-similar candidate with a DIFFERENT label
    * (the hard negative a triplet/InfoNCE batch wants) and, for contrast,
    * the most-similar same-label candidate (the hard positive), plus
    * their margin. A negative that outscores the best positive
    * (margin < 0) marks the boundary examples worth oversampling.
    * Candidates come from the [[lshTopKParity]] band-bucket pipeline —
    * never all pairs — re-ranked by exact integer dot, ties to the lower
    * id; vectors whose buckets contain no other-label candidate produce
    * no row (the LSH recall story is q57's; TextSimSpec asserts
    * [[lshTopK]]'s recall).
    * Missing hard positives are encoded (-1, 0) so the schema stays
    * integral end to end. */
  def hardNegatives(vecs: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, dim: Int, bands: Int = 8,
                    bitsPerBand: Int = 8, scale: Int = 1000): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(vecs.sparkSession)
    val lab = vecs.select(col(idCol).as("vec_id"),
      col(labelCol).cast("long").as("label"))
    val pd = parityCandidateDots(vecs, idCol, vecCol, dim, bands,
        bitsPerBand, scale)
      .join(lab, "vec_id")
      .join(lab.select(col("vec_id").as("nn_id"),
        col("label").as("nn_label")), "nn_id")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dot").desc, col("nn_id"))
    val neg = pd.filter(col("label") =!= col("nn_label"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("label"),
        col("nn_id").as("hard_neg_id"), col("dot").as("neg_dot"))
    val pos = pd.filter(col("label") === col("nn_label"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("nn_id").as("hard_pos_id"),
        col("dot").as("pos_dot"))
    neg.join(pos, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("hard_neg_id"),
        col("neg_dot"),
        coalesce(col("hard_pos_id"), lit(-1L)).as("hard_pos_id"),
        coalesce(col("pos_dot"), lit(0L)).as("pos_dot"),
        (coalesce(col("pos_dot"), lit(0L)) - col("neg_dot")).as("margin"))
  }

  /** sha-sampled coarse centroids over quantized vectors — the
    * deterministic IVF-flat codebook shared by [[ivfTopKParity]] and
    * [[semDedup]]: the `nlist` vectors ranked first by sha60(id), ties
    * to the lower id. nlist×dim longs collected once (tiny). */
  private def shaCentroids(qv: DataFrame, nlist: Int): Array[Array[Long]] =
    qv.withColumn("h",
        graft.text.Dedup.shaTokenHash60(col("vid").cast("string")))
      .orderBy(col("h"), col("vid")).limit(nlist)
      .select(col("q")).collect().map(_.getSeq[Long](0).toArray)

  /** The `nprobe` nearest centroid ids of `v` by exact integer distance
    * rank ‖c‖² − 2·v·c (the ‖v‖² term is row-constant and dropped), ties
    * to the lower centroid id — a codegen'd expression over centroid
    * literals, no shuffle. */
  private def nearestIntExpr(centroids: Array[Array[Long]], v: Column,
                             nprobe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cl = typedlit(c.toSeq)
      val d2 = lit(c.map(x => x * x).sum) - lit(2L) * idot(v, cl)
      struct(d2.as("dist"), lit(i.toLong).as("cid"))
    }
    transform(slice(array_sort(array(scored: _*)), 1, nprobe),
      s => s.getField("cid"))
  }

  /** Oracle-parity IVF top-k — the hash-matchable twin of [[ivfTopK]]:
    * same inverted-file shape (assign each vector to its nearest coarse
    * centroid; queries probe `nprobe` lists; exact re-rank inside probed
    * lists) with every float source of divergence removed:
    *
    *  - centroids are the `nlist` vectors ranked first by a sha-derived
    *    hash of their id (deterministic sample, no Lloyd refinement —
    *    IVF-flat with sampled centroids);
    *  - distances are exact integers on quantized vectors; the argmin
    *    ranks by ‖c‖² − 2a·c (the ‖a‖² term is constant per row and
    *    dropped), ties to the lower centroid id;
    *  - re-rank is integer MIPS dot, top-k by (dot desc, id).
    *
    * The centroid table is nlist×dim longs collected once (tiny); the
    * assignment and probe argmins are codegen'd expressions over centroid
    * literals, so the per-row cost is O(nlist·dim) with NO shuffle until
    * the cluster-keyed candidate join — the same 100 TB shape as
    * [[ivfTopK]]. */
  def ivfTopKParity(vecs: DataFrame, idCol: String, vecCol: String,
                    k: Int, nlist: Int = 16, nprobe: Int = 4,
                    scale: Int = 1000): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(vecs.sparkSession)
    val qv = vecs.select(col(idCol).as("vid"),
      quantize(col(vecCol), scale).as("q"))
    val centroids = shaCentroids(qv, nlist)
    def nearestInt(v: Column, nprobe: Int): Column =
      nearestIntExpr(centroids, v, nprobe)
    val file = qv.select(col("vid").as("nn_id"), col("q").as("qb"),
        nearestInt(col("q"), 1).getItem(0).as("cluster"))
      .repartition(col("cluster"))
    val probes = qv.select(col("vid").as("vec_id"), col("q").as("qa"),
      explode(nearestInt(col("q"), nprobe)).as("cluster"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dot").desc, col("nn_id"))
    probes.join(file, "cluster")
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("dot", idot(col("qa"), col("qb")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("nn_id"), col("rnk"), col("dot"))
  }

  /** Oracle-parity product quantization (PQ) ANN — the codes-in-memory
    * quantization family member next to scalar int8 ([[quantizeInt8]]'s
    * q91 caller) and coarse IVF ([[ivfTopKParity]]): the vector is split
    * into `m` subspaces of dim/m components, each subspace gets a ksub-
    * codeword codebook, and a vector is stored as m small codes. Queries
    * rank the corpus by asymmetric distance (ADC): the EXACT query-to-
    * codeword distance per subspace, summed over the stored codes — the
    * IVF-PQ design point (Jégou et al., TPAMI'11), where the scan touches
    * m bytes per vector instead of dim floats.
    *
    * Every decision is integer/sha-deterministic, so an oracle replays it
    * bit-for-bit (the same discipline as [[lshTopKParity]]):
    *  - vectors quantized via [[quantize]];
    *  - codebook (s, cid) = subvector s of the `ksub` sha-ranked sample
    *    vectors ([[shaCentroids]] sample — no Lloyd refinement);
    *  - encoding argmin by exact integer ‖v_sub − c‖², ties to lower cid;
    *  - ADC = Σ_s ‖q_sub − c_code(v,s)‖² (integers), top-k by (adc, id).
    *
    * Scale shape: the codebook is m·ksub·subDim rows BROADCAST; encoding
    * is one explode + map-side-combined aggregation (no corpus shuffle);
    * the ADC scan joins the (query, s, cid) distance table — m·ksub rows
    * per query — against the m-rows-per-vector code table on (s, cid),
    * i.e. the linear-scan-over-codes PQ is designed for. Queries are a
    * sha-sampled `queryPpt`/1000 slice so the scan is a fraction of n²
    * at any corpus size; at 100 TB the q58 IVF routing composes in front
    * (probe lists first, ADC inside probed lists). */
  def pqTopKParity(vecs: DataFrame, idCol: String, vecCol: String,
                   k: Int, dim: Int, m: Int = 8, ksub: Int = 16,
                   scale: Int = 1000, queryPpt: Int = 40): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val subDim = dim / m
    val spark = vecs.sparkSession
    import spark.implicits._
    val qv = vecs.select(col(idCol).as("vid"),
      quantize(col(vecCol), scale).as("q"))
    val samp = shaCentroids(qv, ksub)
    val cb = (for {
      cid <- samp.indices; pos <- 0 until dim
    } yield (pos / subDim, cid.toLong, pos % subDim, samp(cid)(pos)))
      .toDF("s", "cid", "dpos", "c")
    val comp = qv.select(col("vid"), posexplode(col("q")))
      .select(col("vid"), expr(s"pos div $subDim").as("s"),
        expr(s"pos % $subDim").as("dpos"), col("col").as("x"))
    // exact integer distance of every vector's every subvector to every
    // codeword of that subspace: m·ksub rows per vector, map-side combined
    val d2 = comp.join(broadcast(cb), Seq("s", "dpos"))
      .groupBy(col("vid"), col("s"), col("cid"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d2"))
    // the PQ code: argmin codeword per (vector, subspace), ties low cid
    val code = d2.groupBy(col("vid"), col("s"))
      .agg(min(struct(col("d2"), col("cid"))).as("mn"))
      .select(col("vid").as("nn_id"), col("s"),
        col("mn").getField("cid").as("cid"))
    val qd = d2.filter(pmod(graft.text.Dedup.shaTokenHash60(
        col("vid").cast("string")), lit(1000L)) < queryPpt)
      .select(col("vid").as("vec_id"), col("s"), col("cid"), col("d2"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("adc"), col("nn_id"))
    qd.join(code, Seq("s", "cid"))
      .filter(col("vec_id") =!= col("nn_id"))
      .groupBy(col("vec_id"), col("nn_id"))
      .agg(sum(col("d2")).as("adc"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("nn_id"), col("rnk"), col("adc"))
  }

  /** kNN label-consistency check (the Wilson-editing family of label-
    * noise detectors): per labeled vector, the ppm fraction of its
    * ≤k nearest neighbors (exact integer MIPS over [[lshTopKParity]]
    * candidates) that share its label; a vector whose neighborhood
    * disagrees (`same_ppm < minSamePpm`) is flagged as suspected label
    * noise — the curation pass labeled finetuning/eval data gets before
    * training. Every decision is a sha/integer pure function, so an
    * oracle replays the flags bit-for-bit. Scale shape: the q57 bucket
    * join plus two |V|-keyed label joins and one aggregation. */
  def labelNoise(vecs: DataFrame, idCol: String, vecCol: String,
                 labelCol: String, k: Int, dim: Int, bands: Int = 8,
                 bitsPerBand: Int = 8,
                 minSamePpm: Long = 500000L): DataFrame = {
    val nn = lshTopKParity(vecs, idCol, vecCol, k, dim, bands, bitsPerBand)
    val lab = vecs.select(col(idCol).as("vec_id"),
      col(labelCol).cast("long").as("label"))
    nn.join(lab, "vec_id")
      .join(lab.select(col("vec_id").as("nn_id"),
        col("label").as("nn_label")), "nn_id")
      .groupBy(col("vec_id"), col("label"))
      .agg(count(lit(1)).as("n_nbrs"),
        sum(when(col("label") === col("nn_label"), 1L).otherwise(0L))
          .as("n_same"))
      .withColumn("same_ppm",
        expr("(n_same * 1000000) div n_nbrs"))
      .withColumn("suspect",
        (col("same_ppm") < minSamePpm).cast("long"))
  }

  /** SemDeDup-style embedding-space deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster vectors with the [[ivfTopKParity]]
    * sha-sampled-centroid assignment, then WITHIN each cluster drop
    * every vector that has a strictly-smaller-id cluster-mate with
    * cosine ≥ threshold. The keep rule is pairwise (the paper's
    * cluster-local greedy), NOT transitive closure —
    * [[graft.text.Dedup.canonicalize]] is the transitive variant over
    * LSH pairs; here a drop's `kept_for` witness may itself be dropped.
    *
    * Exactness: quantized integer vectors, and cos(a,b) ≥ t replayed as
    * the integer predicate  a·b > 0  ∧  (a·b)²·10¹² ≥ t_ppm²·‖a‖²·‖b‖²
    * evaluated in DECIMAL(38,0) — no float anywhere, so an independent
    * engine (DuckDB HUGEINT) agrees bit-for-bit.
    *
    * Scale shape: the codebook is nlist·dim longs (literal expression,
    * no shuffle to assign); the quadratic similarity join is
    * cluster-keyed — the inverted file bounds every bucket, which is the
    * whole point of SemDeDup vs all-pairs. Returns every vector with
    * (vec_id, cluster, keep, kept_for witness or null). */
  def semDedup(vecs: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, thresholdPpm: Long = 380000L,
               scale: Int = 1000): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(vecs.sparkSession)
    val qv = vecs.select(col(idCol).as("vid"),
      quantize(col(vecCol), scale).as("q"))
    val centroids = shaCentroids(qv, nlist)
    if (centroids.isEmpty) // empty vector table: nothing to cluster
      return qv.select(col("vid").as("vec_id"), lit(0L).as("cluster"),
        lit(true).as("keep"), lit(null).cast("long").as("kept_for"))
    val assigned = qv
      .withColumn("cluster",
        nearestIntExpr(centroids, col("q"), 1).getItem(0))
      .withColumn("n2", idot(col("q"), col("q")))
    val dec = "decimal(38,0)"
    val keepSide = assigned.select(col("cluster"),
      col("vid").as("keep_id"), col("q").as("qa"), col("n2").as("na"))
    val dropSide = assigned.select(col("cluster"),
      col("vid").as("drop_id"), col("q").as("qb"), col("n2").as("nb"))
    val dropped = keepSide.join(dropSide, "cluster")
      .filter(col("keep_id") < col("drop_id"))
      .withColumn("dot", idot(col("qa"), col("qb")))
      .filter(col("dot") > 0L &&
        col("dot").cast(dec) * col("dot").cast(dec) *
          lit(1000000000000L).cast(dec) >=
        lit(thresholdPpm).cast(dec) * lit(thresholdPpm).cast(dec) *
          col("na").cast(dec) * col("nb").cast(dec))
      .groupBy(col("drop_id")).agg(min(col("keep_id")).as("kept_for"))
    assigned.select(col("vid").as("vec_id"), col("cluster"))
      .join(dropped.withColumnRenamed("drop_id", "vec_id"),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("kept_for").isNull.as("keep"), col("kept_for"))
  }

  /** Oracle-parity k-means (Lloyd) over quantized integer vectors — the
    * hash-matchable twin of [[kmeansCentroids]] (which keeps float
    * centroids and feeds [[ivfTopK]]'s production path). Clustering is
    * the substrate under SemDeDup / IVF / mixture design; this variant
    * pins every source of cross-engine divergence:
    *
    *  - init: the [[ivfTopKParity]] sha-sampled codebook;
    *  - assignment: exact integer rank ‖c‖² − 2v·c, ties to lower cid;
    *  - update: per-dimension floor(Σx / count) — floor division on an
    *    exactly-representable double ratio, identical in any engine;
    *    clusters that lose all members KEEP their previous centroid;
    *  - `iters` fixed Lloyd rounds, then a final assignment.
    *
    * Scale shape per round: one codegen'd assignment expression (no
    * shuffle), one (k·dim)-row map-side-combined aggregation collected to
    * the driver and re-issued as literals — the centroid state never
    * lives in a join. Returns (vec_id, cluster, d2) with d2 the exact
    * integer squared distance ‖v − c‖². */
  def kmeansParity(vecs: DataFrame, idCol: String, vecCol: String,
                   k: Int = 8, iters: Int = 2,
                   scale: Int = 1000): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(vecs.sparkSession)
    val qv = vecs.select(col(idCol).as("vid"),
      quantize(col(vecCol), scale).as("q"))
    var cent = shaCentroids(qv, k)
    if (cent.isEmpty) // empty vector table: nothing to cluster
      return qv.select(col("vid").as("vec_id"), lit(0L).as("cluster"),
        lit(0L).as("d2"))
    for (_ <- 1 to iters) {
      val assigned = qv.withColumn("cluster",
        nearestIntExpr(cent, col("q"), 1).getItem(0))
      val upd = assigned
        .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(floor(sum(col("x")).cast("double") / count(lit(1)))
          .cast("long").as("c"))
        .collect()
      val next = cent.map(_.clone)
      upd.foreach(r => next(r.getLong(0).toInt)(r.getInt(1)) = r.getLong(2))
      cent = next
    }
    val dists = cent.zipWithIndex.map { case (c, i) =>
      val cl = typedlit(c.toSeq)
      (lit(c.map(x => x * x).sum) - lit(2L) * idot(col("q"), cl))
        .as(s"d$i")
    }
    qv.withColumn("cluster", nearestIntExpr(cent, col("q"), 1).getItem(0))
      .withColumn("d2",
        idot(col("q"), col("q")) +
          element_at(array(dists: _*), (col("cluster") + 1L).cast("int")))
      .select(col("vid").as("vec_id"), col("cluster"), col("d2"))
  }

  /** Approximate top-k via sign-random-projection LSH: `bands` bucket keys
    * of `bitsPerBand` hyperplane signs each; vectors sharing any band
    * bucket become candidates, re-ranked exactly. Recall rises with bands
    * and falls with bitsPerBand; bucket selectivity (≈ n/2^bits per band)
    * goes the other way.
    *
    * `bitsPerBand <= 0` (the default) derives it from the corpus size:
    * ceil(log2(n / 16)) clamped to [4, 24], i.e. ~16 vectors per bucket
    * per band, so the per-band candidate join costs O(bands · n · 16)
    * pairs REGARDLESS of n — a fixed 32×4 would collapse to 16 buckets
    * per band and go quadratic on any large corpus. Measured on the
    * 500×64-dim sf0.01 table: recall@5 = 0.99 at 32×4 (= the auto
    * choice's neighborhood; 24×5 = 0.88, 32×6 = 0.81) vs 0.15 at the old
    * 8×8; TextSimSpec "LSH defaults" asserts the default against 8×8 on
    * sf0.001 (0.94 vs 0.14). Hold recall at higher bits by raising
    * bands. */
  def lshTopK(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
              dim: Int, bands: Int = 32, bitsPerBand: Int = -1,
              seed: Long = 42L): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(vecs.sparkSession)
    val bpb =
      if (bitsPerBand > 0) bitsPerBand
      else {
        val n = math.max(1L, vecs.count())
        math.min(24, math.max(4,
          math.ceil(math.log(n / 16.0) / math.log(2.0)).toInt))
      }
    val planes = hyperplanes(dim, bands * bpb, seed)
    def bandKey(b: Int): Column =
      (0 until bpb).map { j =>
        val p = typedlit(planes(b * bpb + j))
        when(dot(col(vecCol), p) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    // the bucket join and candidate dedup move ONLY (band, bucket, id)
    // rows — vectors would multiply shuffle bytes by ~2x·dim if they rode
    // through the pair join (round-1 defect); they are re-joined by id
    // for exact re-ranking only after the (vec_id, nn_id) pairs are unique
    val keyed = vecs.select(col(idCol).as("vid"),
      posexplode(array((0 until bands).map(bandKey): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val cands = keyed.as("a")
      .join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("vec_id"), col("b.vid").as("nn_id"))
      .dropDuplicates("vec_id", "nn_id")
    val unit = vecs.select(col(idCol).as("vid"),
      normalized(col(vecCol)).as("unit"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("nn_id"))
    cands
      .join(unit.select(col("vid").as("vec_id"), col("unit").as("va")),
        "vec_id")
      .join(unit.select(col("vid").as("nn_id"), col("unit").as("vb")),
        "nn_id")
      .withColumn("cosine", dot(col("va"), col("vb")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("nn_id"), col("rnk"), col("cosine"))
  }

  private[graft] def shaJlSign(j: Int, d: Int): Long = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"jl:$j:$d".getBytes("UTF-8"))
    if (((h(0) >> 4) & 1) == 1) 1L else -1L
  }

  /** Johnson–Lindenstrauss sign random projection (Achlioptas '01
    * database-friendly variant, entries ±1), integer-exact: vectors
    * quantized via [[quantize]], projected dim·outDim sha-derived signs,
    * y_j = Σ_d s_jd·q_d. For E[‖y_a−y_b‖²] = outDim·‖q_a−q_b‖², so the
    * per-pair distortion in ppm is d2proj·10⁶ div (outDim·d2orig). The
    * report evaluates the `sampleN` sha-smallest vectors pairwise — the
    * dimensionality-reduction calibration a 100 TB vector store runs
    * before swapping 64 floats for `outDim` ints in its coarse index.
    *
    * Scale shape: the sign table (outDim·dim rows, data-independent) is
    * broadcast; projection is one explode + two map-side-combined
    * aggregations per vector, exactly [[parityCandidateDots]]'s plan;
    * only the sha-sampled pair set (bounded by sampleN²) is quadratic. */
  def jlDistortion(vecs: DataFrame, idCol: String, vecCol: String,
                   dim: Int, outDim: Int = 16, sampleN: Int = 40,
                   scale: Int = 1000): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val signs = (for { j <- 0 until outDim; d <- 0 until dim }
      yield (j, d, shaJlSign(j, d))).toDF("j", "d", "s")
    val sample = vecs.select(col(idCol).as("vid"),
        quantize(col(vecCol), scale).as("q"))
      .withColumn("hh", graft.text.Dedup.shaTokenHash60(
        concat(lit("jlp:"), col("vid").cast("string"))))
      .orderBy(col("hh"), col("vid")).limit(sampleN)
      .select(col("vid"), col("q"))
    val proj = sample.select(col("vid"), posexplode(col("q")))
      .withColumnRenamed("pos", "d").withColumnRenamed("col", "x")
      .join(broadcast(signs), "d")
      .groupBy(col("vid"), col("j"))
      .agg(sum(col("x") * col("s")).as("yj"))
      .groupBy(col("vid"))
      .agg(array_sort(collect_list(struct(col("j"), col("yj")))).as("ys"))
      .select(col("vid"), transform(col("ys"), e => e("yj")).as("y"))
    val both = sample.join(proj, "vid")
    both.as("a").join(both.as("b"), col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        aggregate(zip_with(col("a.q"), col("b.q"),
            (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v).as("d2_orig"),
        aggregate(zip_with(col("a.y"), col("b.y"),
            (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v).as("d2_proj"))
      .withColumn("distortion_ppm",
        expr(s"CASE WHEN d2_orig = 0 THEN 1000000 " +
          s"ELSE (d2_proj * 1000000) div ($outDim * d2_orig) END"))
  }

  /** Per-label centroid separability matrix — are the classes separable
    * in embedding space? Centroids as integer means of the quantized
    * components (Σq div n — quantize-scale units, so every squared term
    * stays in int64), pairwise signed squared cosine in ppm:
    * cos²·sign(dot), computed as ((dot·dot) div ‖a‖²)·10⁶ div ‖b‖² — no
    * sqrt, bit-replayable; 0 when either centroid is all-zero. The
    * label-noise (q133) and hard-negative (q209) signals aggregate to
    * exactly this matrix at corpus level.
    *
    * Scale shape: one map-side-combined per-(label, dim) sum over the
    * exploded components; everything after is label-count-sized. */
  def labelCentroidSep(vecs: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, scale: Int = 1000): DataFrame = {
    val cents = vecs.select(col(labelCol).cast("long").as("lbl"),
        posexplode(quantize(col(vecCol), scale)))
      .groupBy(col("lbl"), col("pos"))
      .agg(sum(col("col")).as("sx"), count(lit(1)).as("n"))
      .select(col("lbl"), col("pos"), expr("sx div n").as("c"))
    val pair = cents.as("a").join(cents.as("b"),
        col("a.pos") === col("b.pos") && col("a.lbl") <= col("b.lbl"))
      .groupBy(col("a.lbl").as("label_a"), col("b.lbl").as("label_b"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    val norms = pair.filter(col("label_a") === col("label_b"))
      .select(col("label_a").as("lbl"), col("dot").as("n2"))
    pair.join(norms.select(col("lbl").as("label_a"), col("n2").as("na2")),
        "label_a")
      .join(norms.select(col("lbl").as("label_b"), col("n2").as("nb2")),
        "label_b")
      .select(col("label_a"), col("label_b"),
        expr("CASE WHEN na2 = 0 OR nb2 = 0 THEN 0 " +
          "ELSE CASE WHEN dot >= 0 THEN 1 ELSE -1 END * " +
          "(((dot * dot) div na2) * 1000000 div nb2) END").as("cos2_ppm"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * SIGIR'98) — the diversified top-k a retrieval-augmented pipeline
    * runs AFTER ANN recall so the context window isn't k copies of the
    * same passage: greedily pick argmax of
    * λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s), rel and sim both integer dots
    * of [[quantize]]d vectors, λ in ppm, ties to the smaller id. The
    * query is the sha-min vector ("q:" salt); candidates are its
    * `poolK` highest-dot vectors (ties to id) — the exact re-rank pool
    * an LSH/IVF stage would hand over.
    *
    * Scale shape: rel is one broadcast-query dot pass; the greedy loop
    * runs k rounds over a POOL-sized table (poolK rows — metadata
    * scale), each round one join against the ≤k selected rows and one
    * distributed argmax. The corpus is touched once.
    *
    * @return (rk, vec_id, mmr_score) — selection order 1..k */
  def mmrSelect(vecs: DataFrame, idCol: String, vecCol: String,
                k: Int = 8, poolK: Int = 32, lambdaPpm: Long = 700000L,
                scale: Int = 1000): DataFrame = {
    val spark = vecs.sparkSession
    val qv = vecs.select(col(idCol).as("vid"),
        quantize(col(vecCol), scale).as("q"))
      .localCheckpoint(eager = true)
    val query = qv.withColumn("hh", graft.text.Dedup.shaTokenHash60(
        concat(lit("q:"), col("vid").cast("string"))))
      .orderBy(col("hh"), col("vid")).limit(1)
      .select(col("vid").as("qid"), col("q").as("qq"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (s, v) => s + v)
    val pool = qv.crossJoin(broadcast(query))
      .filter(col("vid") =!= col("qid"))
      .select(col("vid"), col("q"), dot(col("q"), col("qq")).as("rel"))
      .orderBy(col("rel").desc, col("vid")).limit(poolK)
      .localCheckpoint(eager = true)

    var selected = spark.emptyDataFrame
    var out: DataFrame = null
    for (rk <- 1 to k) {
      val scored =
        if (rk == 1)
          pool.select(col("vid"), col("q"),
            expr(s"$lambdaPpm * rel").as("mmr"))
        else pool.join(selected.select(col("vid").as("svid"),
              col("q").as("sq")), col("vid") =!= col("svid"))
          .select(col("vid"), col("q"), col("rel"),
            dot(col("q"), col("sq")).as("sim"))
          .groupBy(col("vid"), col("q"), col("rel"))
          .agg(max(col("sim")).as("maxsim"))
          .select(col("vid"), col("q"),
            expr(s"$lambdaPpm * rel - ${1000000L - lambdaPpm} * maxsim")
              .as("mmr"))
      val picked = (if (rk == 1) scored
        else scored.join(selected.select(col("vid")), Seq("vid"),
          "left_anti"))
        .orderBy(col("mmr").desc, col("vid")).limit(1)
        .select(lit(rk.toLong).as("rk"), col("vid"), col("q"),
          col("mmr").as("mmr_score"))
        .localCheckpoint(eager = true)
      selected = if (rk == 1) picked else selected.unionAll(picked)
      out = selected
    }
    out.select(col("rk"), col("vid").as("vec_id"), col("mmr_score"))
  }
}
