package graft.engine

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.LongMap

/** Block-centric fold over a DAG whose edges all run forward in a total
  * order: value(v) = fold(the final values of v's in-neighbours). Longest
  * path (`max + 1`) and first-fit colouring (`mex`) are both this fold.
  *
  * As in Blogel (Yan et al., VLDB'14), a block is a contiguous range of
  * the order, solved by one task; only cross-block edges carry values, as
  * G-Miner's tasks pull only remote values. The blocks are one range
  * repartition of the vertices by (key, vid) with no partition count, so
  * AQE coalescing sizes them; the block id is `spark_partition_id()`,
  * materialized once (a recomputed range sample may draw other bounds).
  *
  * Each superstep on [[Superstep.run]] solves every block whose cross
  * in-edges all carry a final value: its task visits the vertices in
  * order, and every internal in-neighbour comes earlier, so it is final
  * by then. The lowest unsolved block is always ready, so a block takes
  * one superstep and the fold at most `blocks`; one when AQE coalesces
  * the graph into a single block.
  *
  * An edge that runs backward fails loudly: a cross one from a count
  * observed on the job that materializes the block-tagged edges, an
  * internal one in its block's pass.
  */
object DagFold {

  /** A vertex of the fold's state: its value once its block is solved. */
  final case class Vertex(vid: Long, key: Long, b: Int, value: Option[Long])

  /** A row of block `b`'s inbox: an internal edge (`value` None), or a
    * cross edge into the block with its sender's value, None until the
    * sender's block is solved. */
  final case class In(b: Int, src: Long, dst: Long, value: Option[Long])

  /** (vid, value) per vertex, the number of blocks and the supersteps run. */
  final case class Result(values: DataFrame, blocks: Int, rounds: Int)

  /** @param vertices (vid, key, adj): the order is (key, vid), and `adj`
    *                 holds the vertex's out-neighbours, each later in it.
    *                 A vertex row carries its edges, so the block tags
    *                 cost one join and a caller derives its edges once.
    * @param fold     the in-neighbours' values (in no set order) to the
    *                 vertex's value */
  def run(spark: SparkSession, algo: String, vertices: DataFrame)(
      fold: Array[Long] => Long): Result = {
    import spark.implicits._
    val last = Observation()
    val vb = vertices.repartitionByRange(col("key"), col("vid"))
      .select(col("vid"), col("key"), spark_partition_id().as("b"),
        col("adj"))
      .observe(last, coalesce(max(col("b")), lit(-1)).as("b"))
      .localCheckpoint(eager = true)
    val blocks = last.get("b").asInstanceOf[Int] + 1
    val backward = Observation()
    val eb = vb.select(col("vid").as("src"), col("b").as("sb"),
        explode(col("adj")).as("dst"))
      .join(vb.select(col("vid").as("dst"), col("b").as("db")), "dst")
      .observe(backward, count(when(col("sb") > col("db"), 1)).as("n"))
      .localCheckpoint(eager = true)
    val back = backward.get("n").asInstanceOf[Long]
    require(back == 0L, s"$algo: $back cross-block edges run backward")
    val internal = eb.filter(col("sb") === col("db")).select(
      col("sb").as("b"), col("src"), col("dst"),
      lit(null).cast("long").as("value"))
    val cross = eb.filter(col("sb") =!= col("db"))

    def step(state: DataFrame): DataFrame = {
      val msgs = cross
        .join(state.select(col("vid").as("src"), col("value"))
          .hint("SHUFFLE_HASH"), "src")
        .select(col("db").as("b"), col("src"), col("dst"), col("value"))
      state.as[Vertex].groupByKey(_.b)
        .cogroup(internal.unionAll(msgs).as[In].groupByKey(_.b))(
          (b, vs, in) => solve(algo, fold, b, vs, in))
        .toDF()
    }

    val init = vb.select(col("vid"), col("key"), col("b"),
      lit(null).cast("long").as("value"))
    val (state, _, rounds, _) = Superstep.run(spark, algo, init, step,
      count(when(col("value").isNull, 1)), (_, open, _) => open == 0.0,
      maxIter = blocks)
    Result(state.select(col("vid"), col("value")), blocks, rounds)
  }

  /** Block `b`'s pass: a block already solved, or with a cross edge whose
    * sender is not, passes through; otherwise each vertex in (key, vid)
    * order takes the fold of its in-neighbours' values. */
  private def solve(algo: String, fold: Array[Long] => Long, b: Int,
                    vs: Iterator[Vertex],
                    in: Iterator[In]): Iterator[Vertex] = {
    val st = vs.toArray.sortBy(v => (v.key, v.vid))
    val at = new LongMap[Int](st.length)
    st.indices.foreach(i => at(st(i).vid) = i)
    val rows = in.toArray
    if (st(0).value.isDefined ||
        rows.exists(r => r.value.isEmpty && !at.contains(r.src)))
      st.iterator
    else {
      // in-edges grouped by target: `from` is the internal in-neighbour's
      // position (-1 for a cross edge, whose value is in `msg`)
      val n = st.length
      val start = new Array[Int](n + 1)
      rows.foreach(r => start(at(r.dst) + 1) += 1)
      for (i <- 0 until n) start(i + 1) += start(i)
      val next = start.clone()
      val from = new Array[Int](rows.length)
      val msg = new Array[Long](rows.length)
      rows.foreach { r =>
        val (d, s) = (at(r.dst), at.getOrElse(r.src, -1))
        require(s < d, s"$algo: edge ${r.src} -> ${r.dst} runs backward " +
          s"inside block $b")
        from(next(d)) = s
        if (s < 0) msg(next(d)) = r.value.get
        next(d) += 1
      }
      val value = new Array[Long](n)
      for (v <- 0 until n)
        value(v) = fold(Array.tabulate(start(v + 1) - start(v)) { j =>
          val k = start(v) + j
          if (from(k) < 0) msg(k) else value(from(k))
        })
      Iterator.tabulate(n)(i => st(i).copy(value = Some(value(i))))
    }
  }
}
