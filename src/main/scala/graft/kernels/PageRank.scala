package graft.kernels

import graft.engine.{Blocks, Checkpointer, IterationMetric, Superstep}
import java.util.Arrays
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** PageRank as SpMV-style gather-scatter on the reference's BSP substrate
  * (SURVEY §2.8: B1 superstep loop + B2 message passing with combiner;
  * PageRank itself is not in the reference — README.md:5 cites it as the
  * canonical Pregel workload; standard public semantics used here):
  *
  *   rank'(v) = teleport/N + damping * ( Σ_{u→v} rank(u)/outdeg(u)
  *                                       + danglingMass/N )
  *
  * with teleport 0.15 and damping 0.85.
  *
  * The graph runs on [[Blocks]]: each edge carries its share w / Σ_out w,
  * and each superstep is one job. A source block sums rank · share over
  * its slots, and ships one array per target block with its dangling
  * vertices' rank; a target adds the arrays and the dangling partials in
  * source-block order, so every target sees the same dangling mass (the
  * reference's two-phase `Aggregator`, `util/aggregator.hpp:12-30`) and a
  * run is reproducible bit for bit. State is checkpointed per superstep
  * as (vid, rank, diff), where diff = |rank − previous rank|; convergence
  * is max(diff) ≤ tol, observed by [[Superstep]] on the job that
  * materializes the state (a max is exact in any merge order). The result
  * is (vid, rank).
  */
object PageRank {

  private val Teleport = 0.15
  private val Damping = 0.85
  private val Schema = StructType(Seq(StructField("vid", LongType, false),
    StructField("rank", DoubleType, false), StructField("diff", DoubleType, false)))

  /** A source block's message to one target: its dangling vertices' rank
    * and the contributions summed over its slots for that target. */
  private final class Msg(val dangling: Double, val sums: Array[Double])
    extends Serializable

  final case class Result(ranks: DataFrame,
                          metrics: Seq[IterationMetric],
                          iterations: Int,
                          converged: Boolean)

  /** @param edgesDirected directed edge table (src, dst); symmetrize
    *                      upstream for undirected graphs
    * @param fixedIter     if set, run exactly this many supersteps (no
    *                      convergence test) — used by the DuckDB-oracle
    *                      parity queries
    * @param weightCol     if set, contribution = rank · w / Σ_out w
    *                      (the reference's multi_attr format, SURVEY §1.2)
    * @param symmetric     every vertex has an out-edge: the sources are the
    *                      vertex set and nothing dangles
    * @param personalized  if set, a (vid) seed table: the teleport (and
    *                      dangling) mass is distributed uniformly over the
    *                      seeds instead of all vertices — personalized
    *                      PageRank. The seed set is collected and shipped
    *                      with the superstep (it is small by definition of
    *                      personalization).
    * @param initRanks     warm start: a prior run's (vid, rank); vertices
    *                      absent from it start at their teleport share
    */
  def run(spark: SparkSession, edgesDirected: DataFrame,
          tol: Double = 1e-6,
          maxIter: Int = 100,
          fixedIter: Option[Int] = None,
          weightCol: Option[String] = None,
          symmetric: Boolean = false,
          ckpt: Option[Checkpointer] = None,
          resume: Boolean = false,
          personalized: Option[DataFrame] = None,
          initRanks: Option[DataFrame] = None): Result = {

    val blocks = Blocks.build(edgesDirected,
      weightCol.map(c => col(c).cast("double")), dstVertices = !symmetric,
      share = true)
    val n = blocks.vertices
    // per-vertex teleport distribution: uniform 1/n (standard), or 1/|S|
    // on the seed set and 0 elsewhere (personalized)
    val seedRows = personalized.map(_.select(col("vid")).distinct().collect())
    val nS = seedRows.map(_.length.toLong).getOrElse(n)
    val seeds = seedRows.map { rs =>
      val s = rs.filterNot(_.isNullAt(0)).map(_.getLong(0))
      Arrays.sort(s)
      s
    }
    val tele: Long => Double = seeds match {
      case None => _ => 1.0 / n
      case Some(s) => v => if (Arrays.binarySearch(s, v) >= 0) 1.0 / nS else 0.0
    }

    // warm start (incremental recompute): seed from a prior run's ranks
    // where available — e.g. re-running after a catalog drill-down
    // deletion resumes from the pre-deletion fixpoint instead of uniform,
    // cutting supersteps-to-convergence on mostly-unchanged graphs.
    // Vertices absent from the seed (newly added) fall back to tele.
    def init: DataFrame = {
      val cold = blocks.vertexRows(Schema) { (b, i) =>
        Row(b.vids(i), tele(b.vids(i)), 0.0)
      }
      initRanks match {
        case None => cold
        case Some(r0) =>
          cold.join(r0.select(col("vid"), col("rank").as("r0")), Seq("vid"),
              "left")
            .select(col("vid"), coalesce(col("r0"), col("rank")).as("rank"),
              lit(0.0).as("diff"))
      }
    }

    def step(ranks: DataFrame): DataFrame =
      blocks.superstep[Msg](ranks, "rank", None, Schema) { (b, st) =>
        val acc = new Array[Double](b.slots)
        var dangling = 0.0
        for (i <- b.vids.indices) {
          val r = st.double(i)
          if (b.offsets(i) == b.offsets(i + 1)) dangling += r
          var e = b.offsets(i)
          while (e < b.offsets(i + 1)) {
            acc(b.slot(e)) += r * b.weight(e)
            e += 1
          }
        }
        Array.tabulate(b.slotStart.length - 1)(t => new Msg(dangling,
          Arrays.copyOfRange(acc, b.slotStart(t), b.slotStart(t + 1))))
      } { (b, st, in) =>
        var dm = 0.0
        val s = new Array[Double](b.vids.length)
        in.foreach { case (src, m) =>
          dm += m.dangling
          val route = b.route(src)
          for (j <- route.indices) if (route(j) >= 0) s(route(j)) += m.sums(j)
        }
        // the uniform case keeps the SCALAR form teleport/n +
        // damping·dm/n — the exact IEEE evaluation order the
        // recursive-CTE oracles replay; the algebraically equal
        // (teleport + damping·dm)·(1/n) can differ by 1 ulp and flake a
        // round(…,8) hash boundary
        val uniform = Teleport / n + Damping * dm / n
        Iterator.tabulate(b.vids.length) { p =>
          val add =
            if (seeds.isEmpty) uniform
            else (Teleport + Damping * dm) * tele(b.vids(p))
          val next = add + Damping * s(p)
          Row(b.vids(p), next, math.abs(next - st.double(p)))
        }
      }

    val (state, metrics, it, done) = Superstep.run(
      spark, "pagerank", init, step, max(col("diff")),
      (_, d, _) => fixedIter.isEmpty && d <= tol, fixedIter.getOrElse(maxIter),
      ckpt, resume)
    blocks.unpersist()
    Result(state.select(col("vid"), col("rank")), metrics, it,
      done || fixedIter.isDefined)
  }
}
