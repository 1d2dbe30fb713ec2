package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** Shrinking-set rounds — the shrinking twin of [[Frontier]]. The
  * reference's BSP loop (`partition/BPartitioner.tpp:361-424`) runs
  * `while(true)` over an active set and halts when nothing is active; a
  * peel keeps live tables, takes each round's winners out of them, emits
  * the winners as a piece of the output and unions the pieces at the end.
  *
  * A caller supplies the round in two halves: `pick(state)` is the rows
  * round i emits, and `drop(state, emitted)` the live tables without them.
  * `run` owns the rest:
  *  - Materialization. The emitted rows are a lazy `localCheckpoint`
  *    ([[Frontier.LazyPieces]]) handed to `drop`, so they are computed
  *    once, by the job that materializes the first live table reading
  *    them. Every live table is then materialized once per round with its
  *    row count observed on that same job ([[Superstep.observed]]): no
  *    probe job re-scans a table. The counts are exact: a count does not
  *    depend on the order in which tasks merge.
  *  - Pieces. The driver keeps them and hands their union to the caller.
  *  - Stop rule. The loop stops when `live(0)` has no rows, when its row
  *    count did not change in a round (a peel that removes nothing from
  *    its primary table reaches the same state again), or after
  *    `maxRounds` rounds. `converged` tells the first two from the third.
  *
  * `maxRounds` is what the caller makes of it. As a replayable prefix (MIS,
  * matching, truss, s-core, onion and densest census replay a fixed
  * number of rounds in SQL) a cut loop is a result; as a safety bound
  * (MST, SCC) the caller requires `converged` and an empty `live(0)`, so
  * a loop cut short or stalled throws.
  */
object Peel {

  /** Round `round` (from 1) sees the live tables the last round left and
    * their observed row counts. */
  final case class State(live: Vector[DataFrame], rows: Vector[Long],
                         round: Int)

  /** @param live      the live tables after the last round run
    * @param emitted   the union of every emitted piece, or `none`
    * @param rounds    rounds run
    * @param converged `live(0)` emptied or stopped shrinking before
    *                  `maxRounds` cut the loop
    * @param rows      rows(i) = the live tables' row counts after round i
    *                  (rows(0): the input's) */
  final case class Result(live: Vector[DataFrame], emitted: DataFrame,
                          rounds: Int, converged: Boolean,
                          rows: Vector[Vector[Long]])

  /** @param none the emitted schema with no rows */
  def run(live: Vector[DataFrame], none: DataFrame, maxRounds: Int)(
      pick: State => DataFrame)(
      drop: (State, DataFrame) => Vector[DataFrame]): Result = {
    val (mat, rows) = materialize(live, 0)
    run(mat, rows, none, maxRounds)(pick)(drop)
  }

  /** [[run]] from live tables already materialized with `rows` rows: a
    * peel nested in another's round starts from that round's state. */
  def run(live: Vector[DataFrame], rows: Vector[Long], none: DataFrame,
          maxRounds: Int)(pick: State => DataFrame)(
      drop: (State, DataFrame) => Vector[DataFrame]): Result =
    loop(live, rows, none, maxRounds, Some(pick), drop)

  /** A peel that emits nothing: each round only shrinks the live tables. */
  def shrink(live: Vector[DataFrame], maxRounds: Int)(
      next: State => Vector[DataFrame]): Result = {
    val (mat, rows) = materialize(live, 0)
    loop(mat, rows, live.head.limit(0), maxRounds, None, (st, _) => next(st))
  }

  private def materialize(tables: Vector[DataFrame], i: Int) =
    tables.map { t =>
      val (mat, n, _) =
        Superstep.observed(t.sparkSession, t, lit(0), i, None)
      (mat, n)
    }.unzip

  private def loop(live0: Vector[DataFrame], rows0: Vector[Long],
                   none: DataFrame, maxRounds: Int,
                   pick: Option[State => DataFrame],
                   drop: (State, DataFrame) => Vector[DataFrame]): Result = {
    var (live, rows) = (live0, rows0)
    var history = Vector(rows)
    var pieces = List.empty[DataFrame] // newest first
    val lazyPiece = new Frontier.LazyPieces
    var round = 0
    var converged = rows.head == 0L
    while (!converged && round < maxRounds) {
      round += 1
      val st = State(live, rows, round)
      val out = pick.map(p => lazyPiece(p(st)))
      pieces = out.toList ::: pieces
      val (next, n) = materialize(drop(st, out.orNull), round)
      lazyPiece.release()
      converged = n.head == 0L || n.head == rows.head
      live = next
      rows = n
      history :+= n
    }
    Result(live, if (pieces.isEmpty) none else Frontier.union(pieces), round,
      converged, history)
  }
}
