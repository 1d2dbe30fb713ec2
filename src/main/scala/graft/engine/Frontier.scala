package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Monotone multi-source frontier expansion — the one traversal shape of
  * the reference's BSP layer: the BDG Voronoi flood
  * (`partition/BDGPartitioner.tpp:279-307`) and the hash-min pass
  * (`partition/BPartitioner.tpp:90-165`) both grow a reached set from
  * seeds over the edge table until a hop adds nothing.
  *
  * A caller supplies only the hop: `step(edges, frontier, hop)` turns the
  * last level into candidate rows with the seeds' columns, unique on
  * `keys`. `run` owns the rest:
  *  - Pinning. `edges` is persisted unless the caller already did, and
  *    released after the last probe (every level is checkpointed by then,
  *    so nothing re-reads it). A lazy derived graph (e.g. the
  *    co-occurrence self-join) would otherwise be re-derived every hop.
  *  - Revisits. Candidates are left-anti joined against the reached set
  *    on `keys`, so each key lands in exactly one level: its first hop.
  *  - Probe cadence. Each level is a lazy `localCheckpoint`; every
  *    [[ProbeEvery]] hops, and at `maxHop`, ONE count over the levels
  *    since the last probe materializes them and doubles as the
  *    convergence probe — one result job per two hops, the cadence the
  *    BDG flood measured on q38 (AQE still runs each hop's shuffle stages
  *    as the level is planned). The seeds ride the first probe, and
  *    the probe counts are summed into `rows`, the exact reached total.
  *    The check can lag: a probe that still sees rows costs at most two
  *    more hops, whose empty levels are dropped, never a wrong row.
  *  - Folding. Each hop's anti-join scans the reached set, so from
  *    [[FoldAt]] pieces on a probe folds them into one lazy checkpoint,
  *    which the next probe materializes. Shallow fan-out walks never fold.
  *  - Metrics. Levels and folds are [[LazyPieces]], so no task reports a
  *    SQL metric the driver has already dropped.
  *
  * Why expanding from the last level alone is exact: a key still unreached
  * after hop h−1 has no neighbour reached at hop ≤ h−2, because that
  * neighbour's expansion would have reached it by hop h−1. So every
  * reached neighbour of a hop-h candidate is in the last level, and a
  * step that aggregates over reached neighbours (min colour, σ-sum, label
  * votes) sees the same inputs it would over the whole reached set.
  */
object Frontier {

  /** @param levels    level h = the keys first reached at hop h (level 0 =
    *                  the seeds); trailing empty levels are dropped once a
    *                  probe sees them, the seed level is always kept
    * @param reached   every reached row (the union of the levels)
    * @param hops      hops run
    * @param rows      reached row count, summed from the probes
    * @param converged a hop added nothing before `maxHop` cut the walk */
  final case class Result(levels: Vector[DataFrame], reached: DataFrame,
                          hops: Int, rows: Long, converged: Boolean)

  private val ProbeEvery = 2
  private val FoldAt = 8

  /** Persist `df` unless the caller already did, returning the handle and
    * whether the persist is ours (and so ours to release). */
  private[graft] def pinned(df: DataFrame): (DataFrame, Boolean) =
    if (df.storageLevel.useMemory || df.storageLevel.useDisk) (df, false)
    else (df.persist(), true)

  /** The union of a walk's or a peel's pieces. */
  private[engine] def union(pieces: List[DataFrame]): DataFrame =
    pieces.reduce(_ union _)

  /** Lazy `localCheckpoint`s that keep their source plans reachable until
    * a job has checkpointed them. A lazy piece is computed inside later
    * jobs, and the first job to finish whose lineage reaches it (a probe,
    * or a broadcast that AQE plans meanwhile) checkpoints it and cuts its
    * lineage, the last link from the driver to the SQL metrics of its
    * source plan. A task of a job still running carries those metrics;
    * were the plan gone, the driver would have dropped them by the time
    * the task reports ("attempted to access non-existent accumulator"). */
  private[engine] final class LazyPieces {
    private var held = List.empty[(DataFrame, RDD[_])]

    def apply(df: DataFrame): DataFrame = {
      val piece = df.localCheckpoint(eager = false)
      held ::= df -> (piece.queryExecution.logical match {
        case r: LogicalRDD => r.rdd
      })
      piece
    }

    /** Drops the plans of the pieces already checkpointed. Call it between
      * jobs: a task started after the cut no longer carries the plan. */
    def release(): Unit = held = held.filterNot(_._2.isCheckpointed)
  }

  def run(edges: DataFrame, seeds: DataFrame, keys: Seq[String],
          maxHop: Int)(step: (DataFrame, DataFrame, Int) => DataFrame)
      : Result = {
    val (e, ownEdges) = pinned(edges)
    // fresh aliases for every level: a level keeps its plan's attribute
    // ids through the checkpoint, and a step that passes an edge column
    // through would otherwise self-join on it the hop after
    val cols = seeds.columns.toSeq.map(c => col(c).as(c))
    val lazyPiece = new LazyPieces
    var levels = Vector(lazyPiece(seeds.select(cols: _*)))
    var pieces = levels.toList // the reached set, newest piece first
    def reached: DataFrame = union(pieces)
    var counted = 0 // levels already summed by a probe
    var rows = 0L
    var hop = 0
    var converged = false

    def probe(): Unit = {
      // ONE job: counting the union materializes every pending level
      // transitively and yields their combined row count
      val grew = levels.drop(counted).reduce(_ union _).count()
      lazyPiece.release()
      rows += grew
      if (grew == 0L) {
        converged = true
        val empty = levels.size - math.max(counted, 1)
        levels = levels.dropRight(empty)
        pieces = pieces.drop(empty)
      } else if (pieces.size >= FoldAt) pieces = List(lazyPiece(reached))
      counted = levels.size
    }

    while (!converged && hop < maxHop) {
      hop += 1
      val next = lazyPiece(step(e, levels.last, hop) // the probe computes it
        .join(reached, keys, "left_anti").select(cols: _*))
      levels :+= next
      pieces ::= next
      if (hop % ProbeEvery == 0 || hop == maxHop) probe()
    }
    if (counted < levels.size) probe() // maxHop <= 0: count the seeds
    if (ownEdges) e.unpersist()
    Result(levels, reached, hop, rows, converged)
  }
}
