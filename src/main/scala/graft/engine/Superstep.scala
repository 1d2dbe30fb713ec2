package graft.engine

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{coalesce, count, lit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** One iteration's observability record — the Spark analog of the
  * reference's 5-queue telemetry gathered each `sys_sync`
  * (`util/type.hpp:56-96`, `core/master.tpp:126-178`). */
final case class IterationMetric(
    algo: String,
    runId: String,
    iter: Int,
    rows: Long,
    delta: Double,
    wallMs: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long)

/** Accumulates executor shuffle traffic via a SparkListener so each
  * superstep can report the bytes it actually moved. */
final class ShuffleMeter(spark: SparkSession) extends SparkListener {
  private val read = new AtomicLong(0L)
  private val write = new AtomicLong(0L)
  spark.sparkContext.addSparkListener(this)
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  def snapshot: (Long, Long) = (read.get, write.get)
  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

/** Superstep loop driver: materialize-per-iteration (localCheckpoint for
  * ephemeral runs, [[Checkpointer]] for durable/resumable ones), converge
  * test, metrics. The reference's equivalent is the BSP loop + halt bitmap
  * (`partition/BPartitioner.tpp:361-424`).
  *
  * Convergence statistics ride along with the work, as the reference's
  * workers fold partials into the `Aggregator` while tasks finish
  * (`util/aggregator.hpp:12-30`, merged at `sys_sync`): each state's plan
  * carries `Dataset.observe(Observation(), count, delta)`, so the job that
  * materializes it also computes its (rows, delta) and no job re-scans a
  * state. The observed values are exact only because every kernel's delta
  * aggregate is one whose result does not depend on the order in which
  * tasks merge (a count, a sum of longs, a max); a floating-point sum
  * would not be.
  *
  * The anchor kernels (PageRank, CC, LP) take each step on [[Blocks]]:
  * the step routes the state's |V| rows to the cached block CSR and
  * returns the next state as a DataFrame of the kernel's columns, so one
  * job computes, observes and commits it like any other state, and no
  * step joins the |E|-row edge table.
  *
  * Every kernel whose state is one DataFrame rewritten each round runs
  * here; a fixed-round kernel passes `delta = lit(0)`, never converges,
  * and carries any per-round value it needs (a walk step, Katz's 4^i) as
  * a state column. The round loops that stay outside it, and why:
  *  - they emit every round's state, not only the last:
  *    `RandomWalk.walks`/`node2vecWalks`, `GraphStats.khopFeatures` and
  *    the `Betweenness.dependencies` backward sweep;
  *  - their state is a collected local value: `Ann.kmeansCentroids`/
  *    `kmeansParity`/`mmrSelect`, `Influence.degreeDiscount`, `BpeTrain`
  *    and the `BdgLayout.voronoiColors` re-seed ladder.
  * Shrinking-set loops run on [[Peel]], hop-by-hop walks on [[Frontier]],
  * and folds over an ordered DAG on [[DagFold]], which runs its block
  * supersteps here.
  */
object Superstep {

  /** Materialize an iteration's state, truncating lineage.
    * With a checkpointer: durable parquet commit + re-read.
    * Without: eager localCheckpoint (MEMORY_AND_DISK blocks). */
  def materialize(spark: SparkSession, df: DataFrame, iter: Int,
                  ckpt: Option[Checkpointer]): DataFrame =
    ckpt match {
      case Some(c) => c.commit(spark, df, iter)
      case None    => df.localCheckpoint(eager = true)
    }

  /** Materialize `df` and return it with its (rows, delta), observed on
    * the materializing job itself. The unnamed Observation is unique per
    * call, so concurrent runs never read each other's metrics. */
  private[engine] def observed(spark: SparkSession, df: DataFrame,
                               delta: Column, iter: Int,
                               ckpt: Option[Checkpointer])
      : (DataFrame, Long, Double) = {
    val obs = Observation()
    val mat = materialize(spark, df.observe(obs, count(lit(1)).as("rows"),
      coalesce(delta.cast("double"), lit(0.0)).as("delta")), iter, ckpt)
    val m = obs.get
    (mat, m("rows").asInstanceOf[Long], m("delta").asInstanceOf[Double])
  }

  /** Generic fixpoint loop.
    *
    * @param init       initial state (will be materialized as iter 0)
    * @param step       prevState => nextState (lazy plan; materialized here)
    * @param delta      the convergence measure: one aggregate over the next
    *                   state's own rows whose value does not depend on task
    *                   merge order (e.g. `sum` of a carried 0/1 `changed`
    *                   flag, `max` of a carried |rank diff|); empty → 0
    * @param converged  (rows, delta, previous state's rows) => done?
    *                   (previous rows are -1 right after a resume)
    * @param resume     continue from the checkpointer's latest state
    * @return (final state, metrics, iterations run, converged?)
    */
  def run(
      spark: SparkSession,
      algo: String,
      init: => DataFrame,
      step: DataFrame => DataFrame,
      delta: Column,
      converged: (Long, Double, Long) => Boolean,
      maxIter: Int,
      ckpt: Option[Checkpointer] = None,
      resume: Boolean = false)
      : (DataFrame, Seq[IterationMetric], Int, Boolean) = {

    val meter = new ShuffleMeter(spark)
    val metrics = ArrayBuffer.empty[IterationMetric]
    val runId = ckpt.map(_.runId).getOrElse("ephemeral")

    val resumed = if (resume) ckpt.flatMap(_.latest(spark)) else None
    val startIter = resumed.map(_._1).getOrElse(0)
    var (state, prevRows) = resumed match {
      case Some((_, df)) => (df, -1L)
      case None =>
        val (df, rows, _) = observed(spark, init, delta, 0, ckpt)
        (df, rows)
    }

    var iter = startIter
    var done = false
    while (!done && iter < maxIter) {
      iter += 1
      val t0 = System.nanoTime()
      val (r0, w0) = meter.snapshot
      val (mat, rows, d) = observed(spark, step(state), delta, iter, ckpt)
      val (r1, w1) = meter.snapshot
      val m = IterationMetric(algo, runId, iter, rows, d,
        (System.nanoTime() - t0) / 1000000L, r1 - r0, w1 - w0)
      metrics += m
      ckpt.foreach(_.recordMetric(m)) // durable, next to the checkpoint
      done = converged(rows, d, prevRows)
      state = mat
      prevRows = rows
    }
    meter.close()
    (state, metrics.toSeq, iter, done)
  }
}
