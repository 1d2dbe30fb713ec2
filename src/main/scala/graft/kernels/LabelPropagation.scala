package graft.kernels

import graft.engine.{Blocks, Checkpointer, IterationMetric, Superstep}
import java.util.Arrays
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** Synchronous label propagation: every vertex starts with its own id as
  * label; each superstep it adopts the MODE of its neighbors' labels, ties
  * broken by the smallest label. Deterministic by construction (SURVEY
  * §7.4.3) — the reference's hash-min pass (`partition/BPartitioner.tpp:
  * 90-165`) is the min-label special case of this kernel.
  *
  * The graph runs on [[Blocks]], and each superstep is one job: a source
  * block counts, per slot, the labels its vertices send it (the map-side
  * combine), and ships per target block each slot's (label, count) list;
  * a target adds the lists in source-block order and takes per vertex the
  * greatest count, then the smallest label — the order of
  * max(struct(count, −label)).
  *
  * The state is (vid, label, changed); the changed-label count is
  * sum(changed), observed by [[Superstep]] on the job that materializes
  * the state (a sum of longs is exact in any merge order), and the run
  * stops early when it is 0. The result is (vid, label).
  */
object LabelPropagation {

  private val Schema = StructType(Seq(StructField("vid", LongType, false),
    StructField("label", LongType, false),
    StructField("changed", BooleanType, false)))

  /** A source block's message to one target: slot j's labels and their
    * counts are label(start(j)) until label(start(j + 1)), labels
    * ascending. */
  private final class Votes(val start: Array[Int], val label: Array[Long],
                            val count: Array[Double]) extends Serializable

  final case class Result(labels: DataFrame,
                          metrics: Seq[IterationMetric],
                          iterations: Int,
                          converged: Boolean)

  /** Sorts a(0 until len) and returns its distinct count, packed first. */
  private def distinctPrefix(a: Array[Long], len: Int): Int = {
    Arrays.sort(a, 0, len)
    var u = 0
    for (k <- 0 until len) if (u == 0 || a(k) != a(u - 1)) { a(u) = a(k); u += 1 }
    u
  }

  /** @param sym symmetric edge table (src, dst); its sources are the
    *        vertex set, and a vertex that receives no label keeps its own
    * @param iterations fixed superstep count (synchronous LP need not
    *        converge — fixed budget keeps results well-defined); stops
    *        early at a fixpoint
    * @param weightCol if set, the adopted label maximizes the SUM of this
    *        per-edge weight instead of the neighbor count — communities
    *        follow co-occurrence STRENGTH, not just adjacency (the
    *        multi_attr-format analog, SURVEY §1.2). Sums are doubles, so
    *        integer weights (below 2^53 in total) keep every aggregate
    *        exact and fixed-round runs hash-match a SQL replay; count ≡
    *        Σ weight 1. */
  def run(spark: SparkSession, sym: DataFrame,
          iterations: Int,
          ckpt: Option[Checkpointer] = None,
          resume: Boolean = false,
          weightCol: Option[String] = None): Result = {
    val blocks = Blocks.build(sym, weightCol.map(col), dstVertices = false,
      share = false)

    def init: DataFrame = blocks.vertexRows(Schema)((b, i) =>
      Row(b.vids(i), b.vids(i), true))

    def step(labels: DataFrame): DataFrame =
      blocks.superstep[Votes](labels, "label", None, Schema) { (b, st) =>
        val inv = b.inverse
        val maxIn = (0 until b.slots).foldLeft(0)((a, j) =>
          math.max(a, inv.start(j + 1) - inv.start(j)))
        val tmp = new Array[Long](maxIn)
        Array.tabulate(b.slotStart.length - 1) { t =>
          val (lo, hi) = (b.slotStart(t), b.slotStart(t + 1))
          if (lo == hi) null
          else {
            val start = new Array[Int](hi - lo + 1)
            val cap = inv.start(hi) - inv.start(lo)
            val label = new Array[Long](cap)
            val count = new Array[Double](cap)
            var at = 0
            for (j <- lo until hi) {
              val (a, z) = (inv.start(j), inv.start(j + 1))
              for (k <- a until z) tmp(k - a) = st.value(inv.src(k))
              val u = distinctPrefix(tmp, z - a)
              System.arraycopy(tmp, 0, label, at, u)
              for (k <- a until z)
                count(at + Arrays.binarySearch(tmp, 0, u, st.value(inv.src(k)))) +=
                  b.weightOf(inv.edge(k))
              at += u
              start(j - lo + 1) = at
            }
            new Votes(start, Arrays.copyOf(label, at), Arrays.copyOf(count, at))
          }
        }
      } { (b, st, in) =>
        // every vertex's (label, count) entries, in source-block order
        val start = new Array[Int](b.vids.length + 1)
        for ((src, v) <- in; j <- b.route(src).indices if b.route(src)(j) >= 0)
          start(b.route(src)(j) + 1) += v.start(j + 1) - v.start(j)
        for (p <- b.vids.indices) start(p + 1) += start(p)
        val next = start.clone()
        val label = new Array[Long](start(b.vids.length))
        val count = new Array[Double](label.length)
        for ((src, v) <- in; j <- b.route(src).indices if b.route(src)(j) >= 0) {
          val p = b.route(src)(j)
          for (k <- v.start(j) until v.start(j + 1)) {
            label(next(p)) = v.label(k)
            count(next(p)) = v.count(k)
            next(p) += 1
          }
        }
        val maxIn = b.vids.indices.foldLeft(0)((a, p) =>
          math.max(a, start(p + 1) - start(p)))
        val tmp = new Array[Long](maxIn)
        val sum = new Array[Double](maxIn)
        Iterator.tabulate(b.vids.length) { p =>
          val (a, z) = (start(p), start(p + 1))
          val old = st.value(p)
          if (a == z) Row(b.vids(p), old, false)
          else {
            System.arraycopy(label, a, tmp, 0, z - a)
            val u = distinctPrefix(tmp, z - a)
            Arrays.fill(sum, 0, u, 0.0)
            for (k <- a until z)
              sum(Arrays.binarySearch(tmp, 0, u, label(k))) += count(k)
            // labels ascend, so a later label wins only on a greater count
            var best = 0
            for (q <- 1 until u) if (sum(q) > sum(best)) best = q
            Row(b.vids(p), tmp(best), tmp(best) != old)
          }
        }
      }

    val (state, metrics, iters, done) = Superstep.run(
      spark, "lp", init, step, sum(col("changed").cast("long")),
      (_, d, _) => d == 0.0, iterations, ckpt, resume)
    blocks.unpersist()
    Result(state.select(col("vid"), col("label")), metrics, iters, done)
  }
}
