package graft.engine

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * (`partition/BPartitioner.tpp:361-424`); here convergence is an explicit
  * aggregate over the state delta and each superstep is one Catalyst job.
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

  /** Generic fixpoint loop.
    *
    * @param init       initial state (will be materialized as iter 0)
    * @param step       prevState => nextState (lazy plan; materialized here)
    * @param delta      (prevState, materializedNext) => convergence metric
    *                   (e.g. #changed labels, max |rank diff|); computed on
    *                   the cheap, already-materialized states
    * @param converged  delta => done?
    * @param resume     continue from the checkpointer's latest state
    * @param stats      optional fused (rows, delta) extractor over the
    *                   materialized next state — kernels whose delta is a
    *                   function of the next state alone (e.g. a carried
    *                   `changed` flag) compute both in ONE job instead of
    *                   a count job plus a delta job per superstep; values
    *                   must equal what countRows + delta would report
    * @return (final state, metrics, iterations run, converged?)
    */
  def run(
      spark: SparkSession,
      algo: String,
      init: => DataFrame,
      step: DataFrame => DataFrame,
      delta: (DataFrame, DataFrame) => Double,
      converged: Double => Boolean,
      maxIter: Int,
      ckpt: Option[Checkpointer] = None,
      resume: Boolean = false,
      countRows: Boolean = true,
      stats: Option[DataFrame => (Long, Double)] = None)
      : (DataFrame, Seq[IterationMetric], Int, Boolean) = {

    val meter = new ShuffleMeter(spark)
    val metrics = ArrayBuffer.empty[IterationMetric]
    val runId = ckpt.map(_.runId).getOrElse("ephemeral")

    val resumed = if (resume) ckpt.flatMap(_.latest(spark)) else None
    val startIter = resumed.map(_._1).getOrElse(0)
    var state = resumed.map(_._2)
      .getOrElse(materialize(spark, init, 0, ckpt))

    var iter = startIter
    var done = false
    while (!done && iter < maxIter) {
      iter += 1
      val t0 = System.nanoTime()
      val (r0, w0) = meter.snapshot
      val mat = materialize(spark, step(state), iter, ckpt)
      // rows metric costs one (cheap) extra job per superstep; callers on a
      // pure-throughput path (fixed-iteration bench) can skip it, and
      // kernels with a next-state-only delta fuse both into one job
      val (rows, d) = stats match {
        case Some(f) => f(mat)
        case None    =>
          val r = if (countRows) mat.count() else -1L
          (r, delta(state, mat))
      }
      val (r1, w1) = meter.snapshot
      val m = IterationMetric(algo, runId, iter, rows, d,
        (System.nanoTime() - t0) / 1000000L, r1 - r0, w1 - w0)
      metrics += m
      ckpt.foreach(_.recordMetric(m)) // durable, next to the checkpoint
      state = mat
      done = converged(d)
    }
    meter.close()
    (state, metrics.toSeq, iter, done)
  }
}
