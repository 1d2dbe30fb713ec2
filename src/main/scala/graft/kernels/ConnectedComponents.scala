package graft.kernels

import graft.engine.{Blocks, Checkpointer, IterationMetric, Superstep}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** Connected components by hash-min label propagation — the exact semantics
  * of the reference's `subG_hashmin` (`partition/BPartitioner.tpp:90-165`
  * with min-combiner `partition/BDGPartitioner.tpp:259-263`): every vertex
  * starts labeled with its own id, broadcasts its label to neighbors, keeps
  * the minimum it has seen, iterates to fixpoint. Final label = min vertex
  * id of the component.
  *
  * The graph runs on [[Blocks]], and each superstep is one job: a source
  * block takes the min over its slots of the labels its frontier vertices
  * send (the reference's combiner), and ships per target block only the
  * slots that received one; a target keeps each vertex's min. Converges in
  * O(diameter) supersteps — fine for co-occurrence graphs (small
  * diameter); the state is checkpointed per superstep so lineage stays
  * O(1).
  */
object ConnectedComponents {

  private val Schema = StructType(Seq(StructField("vid", LongType, false),
    StructField("component", LongType, false),
    StructField("changed", BooleanType, false)))

  /** A source block's message to one target: the slots its frontier
    * reached, each with the min label sent to it. */
  private final class Mins(val slot: Array[Int], val min: Array[Long])
    extends Serializable

  final case class Result(state: DataFrame,
                          metrics: Seq[IterationMetric],
                          iterations: Int,
                          converged: Boolean) {
    /** (vid, component) — the public result shape. */
    def components: DataFrame = state.select(col("vid"), col("component"))
  }

  /** @param sym symmetric edge table (src, dst) — both directions present
    * @param initState optional warm-start labels (vid, component) from a
    *   previous run on a SUBGRAPH of `sym` (e.g. before an edge insert /
    *   threshold relaxation): vertices seed from their old component
    *   label instead of their own id, so already-collapsed regions skip
    *   straight to their old minimum and only the newly-connected
    *   frontier iterates. SAFE precondition (callers must hold it): each
    *   label is the id of a vertex inside the same NEW component — true
    *   whenever labels come from hash-min CC on a subgraph, since the
    *   old min-vid is itself a member. The fixpoint is then identical to
    *   the cold run (min vid per component); vertices absent from
    *   `initState` seed with their own id. */
  def run(spark: SparkSession, sym: DataFrame,
          maxIter: Int = 200,
          ckpt: Option[Checkpointer] = None,
          resume: Boolean = false,
          initState: Option[DataFrame] = None): Result = {
    // the vertex set is the sources: a message to any other destination
    // is dropped (Scc hands in a directed edge table)
    val blocks = Blocks.build(sym, None, dstVertices = false, share = false)

    // state carries a per-vertex `changed` flag (also the frontier), so
    // the changed count is an aggregate over the state's own rows
    def init: DataFrame = {
      val ids = blocks.vertexRows(Schema)((b, i) =>
        Row(b.vids(i), b.vids(i), true))
      initState match {
        case None => ids
        case Some(st) =>
          ids.join(st.select(col("vid"), col("component").as("c0")),
              Seq("vid"), "left")
            .select(col("vid"),
              least(col("vid"), coalesce(col("c0"), col("vid")))
                .as("component"),
              lit(true).as("changed"))
      }
    }

    // FRONTIER messaging: only vertices whose label CHANGED last superstep
    // send. Sound for hash-min because labels are monotone non-increasing
    // and every label a vertex ever held has already been delivered to its
    // neighbors the superstep after it was acquired — so min over frontier
    // messages equals min over all messages, every superstep's state (and
    // the iteration count) is bit-identical to all-vertices messaging, and
    // a superstep's messages shrink to the frontier's slots (hash-min
    // fronts collapse after the first 2-3 supersteps).
    def step(labels: DataFrame): DataFrame =
      blocks.superstep[Mins](labels, "component", Some("changed"), Schema) {
        (b, st) =>
          val acc = Array.fill(b.slots)(Long.MaxValue)
          for (i <- b.vids.indices if st.flag(i)) {
            val c = st.value(i)
            var e = b.offsets(i)
            while (e < b.offsets(i + 1)) {
              if (c < acc(b.slot(e))) acc(b.slot(e)) = c
              e += 1
            }
          }
          Array.tabulate(b.slotStart.length - 1) { t =>
            val got = (b.slotStart(t) until b.slotStart(t + 1))
              .filter(acc(_) != Long.MaxValue).toArray
            if (got.isEmpty) null
            else new Mins(got.map(_ - b.slotStart(t)), got.map(acc))
          }
      } { (b, st, in) =>
        val m = Array.fill(b.vids.length)(Long.MaxValue)
        in.foreach { case (src, msg) =>
          val route = b.route(src)
          for (k <- msg.slot.indices) {
            val p = route(msg.slot(k))
            if (p >= 0 && msg.min(k) < m(p)) m(p) = msg.min(k)
          }
        }
        Iterator.tabulate(b.vids.length) { p =>
          if (m(p) < st.value(p)) Row(b.vids(p), m(p), true)
          else Row(b.vids(p), st.value(p), false)
        }
      }

    // changed count = sum(changed), observed on the job that materializes
    // the state (a sum of longs is exact in any merge order)
    val (state, metrics, iters, done) = Superstep.run(
      spark, "cc", init, step, sum(col("changed").cast("long")),
      (_, d, _) => d == 0.0, maxIter, ckpt, resume)
    blocks.unpersist()
    Result(state, metrics, iters, done)
  }
}
