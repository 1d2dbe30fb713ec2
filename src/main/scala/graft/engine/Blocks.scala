package graft.engine

import java.util.Arrays
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DoubleType, StructType}
import org.apache.spark.storage.StorageLevel

/** One block of a [[Blocks]] graph: its vertices, their out-edges as a CSR
  * over primitive arrays, and the routing table that places the messages
  * other blocks send it.
  *
  * @param vids      the block's vertex ids, sorted
  * @param offsets   vertex i's out-edges are offsets(i) until offsets(i + 1)
  * @param slot      per edge, the slot of its destination. The slots are
  *                  the block's distinct destinations, grouped by target
  *                  block and sorted by id within a group
  * @param weight    per edge, its weight or its share of its source's
  *                  total weight; null when the graph is unweighted
  * @param slotStart target t's slots are slotStart(t) until slotStart(t + 1)
  * @param route     per source block s, the positions in `vids` of s's
  *                  slots for this block, in s's slot order; -1 where the
  *                  destination is not a vertex */
final class Block(val id: Int, val vids: Array[Long],
                  val offsets: Array[Int], val slot: Array[Int],
                  val weight: Array[Double], val slotStart: Array[Int],
                  val route: Array[Array[Int]]) extends Serializable {

  def slots: Int = slotStart(slotStart.length - 1)

  def weightOf(e: Int): Double = if (weight == null) 1.0 else weight(e)

  /** The CSR transposed: slot j's in-edges are edge(start(j)) until
    * edge(start(j + 1)), their sources src(…), in `vids` order. */
  @transient lazy val inverse: Block.Inverse = {
    val start = new Array[Int](slots + 1)
    slot.foreach(j => start(j + 1) += 1)
    for (j <- 0 until slots) start(j + 1) += start(j)
    val next = start.clone()
    val edge = new Array[Int](slot.length)
    val src = new Array[Int](slot.length)
    for (i <- vids.indices; e <- offsets(i) until offsets(i + 1)) {
      val k = next(slot(e))
      next(slot(e)) += 1
      edge(k) = e
      src(k) = i
    }
    new Block.Inverse(start, edge, src)
  }
}

object Block {
  final class Inverse(val start: Array[Int], val edge: Array[Int],
                      val src: Array[Int])
}

/** A block's share of a superstep's input state, aligned with its `vids`:
  * the value column as raw long bits (a double's via
  * `doubleToRawLongBits`) and the flag column. */
final class BlockState(val value: Array[Long], val flag: Array[Boolean]) {
  def double(i: Int): Double = java.lang.Double.longBitsToDouble(value(i))
}

/** A graph resident as routed block CSR — G-Miner's per-worker vertex
  * table of sorted adjacency arrays (`core/vertex_table.hpp`, SURVEY
  * §1.1), with GraphX-style routing of replicas to owners.
  *
  * The blocks are `hash(vid)` blocks, one per `spark.sql.shuffle.
  * partitions`; block b is partition b of [[rdd]], built once and cached
  * `MEMORY_ONLY`. A superstep ([[superstep]]) is one job of three stages:
  * the state's |V| rows are routed to their blocks; each source block
  * folds its vertices' messages over its slots and ships one message per
  * target block; each target applies them in source-block order. A hub
  * receives at most one message per block, so no aggregate needs salting,
  * and the fixed order of the folds makes a run reproducible: a resumed
  * run equals a straight one bit for bit.
  */
final class Blocks private (spark: SparkSession, val rdd: RDD[Block],
                            val count: Int, val vertices: Long) {

  /** One row per vertex, e.g. an initial state. */
  def vertexRows(schema: StructType)(row: (Block, Int) => Row): DataFrame =
    spark.createDataFrame(
      rdd.flatMap(b => Iterator.tabulate(b.vids.length)(row(b, _))), schema)

  /** The state's `value` column (and boolean `flag` column) routed to the
    * blocks, one [[BlockState]] per block. Every vertex must have a row. */
  private def aligned(state: DataFrame, value: String,
                      flag: Option[String]): RDD[BlockState] = {
    val n = count
    val isDouble = state.schema(value).dataType == DoubleType
    val rows = state.select(col("vid"), col(value),
      flag.map(col).getOrElse(lit(false))).queryExecution.toRdd
    val routed = rows.mapPartitions { it =>
      // a (vid, value, flag) row in the buffer's three columns
      val bufs = Array.fill(n)(new Blocks.Buf)
      it.foreach { r =>
        val v = r.getLong(0)
        bufs(Blocks.blockOf(v, n)).add(v,
          if (isDouble) java.lang.Double.doubleToRawLongBits(r.getDouble(1))
          else r.getLong(1), if (r.getBoolean(2)) 1.0 else 0.0)
      }
      bufs.indices.iterator.filter(bufs(_).size > 0).map(b => b -> bufs(b).chunk)
    }.partitionBy(new HashPartitioner(n))
    rdd.zipPartitions(routed) { (bs, cs) =>
      val b = bs.next()
      val value = new Array[Long](b.vids.length)
      val flag = new Array[Boolean](b.vids.length)
      val seen = new Array[Boolean](b.vids.length)
      cs.foreach { case (_, c) =>
        for (k <- c.src.indices) {
          val p = Arrays.binarySearch(b.vids, c.src(k))
          if (p >= 0) {
            value(p) = c.dst(k)
            flag(p) = c.w(k) != 0.0
            seen(p) = true
          }
        }
      }
      val missing = seen.count(!_)
      require(missing == 0, s"block ${b.id}: $missing vertices have no state row")
      Iterator(new BlockState(value, flag))
    }
  }

  /** One superstep: `send` turns a source block's state into its messages,
    * indexed by target block (null: none); `apply` folds a target's
    * messages, sorted by source block, into its vertices' next state rows.
    * The result is a DataFrame of `schema`, one job to materialize. */
  def superstep[M <: AnyRef](state: DataFrame, value: String,
                             flag: Option[String], schema: StructType)(
      send: (Block, BlockState) => Array[M])(
      apply: (Block, BlockState, Array[(Int, M)]) => Iterator[Row])
      : DataFrame = {
    val st = aligned(state, value, flag)
    val msgs = rdd.zipPartitions(st) { (bs, ss) =>
      val b = bs.next()
      val out = send(b, ss.next())
      out.indices.iterator.filter(out(_) != null).map(t => t -> (b.id -> out(t)))
    }.partitionBy(new HashPartitioner(count))
    val next = rdd.zipPartitions(msgs, st) { (bs, ms, ss) =>
      val b = bs.next()
      apply(b, ss.next(), ms.map(_._2).toArray.sortBy(_._1))
    }
    spark.createDataFrame(next, schema)
  }

  def unpersist(): Unit = rdd.unpersist(blocking = false)
}

object Blocks {

  /** The block of vertex `vid` among `n` (a splitmix64 finalizer, so
    * consecutive ids spread evenly). */
  def blockOf(vid: Long, n: Int): Int = {
    var z = vid + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    java.lang.Math.floorMod(z ^ (z >>> 31), n.toLong).toInt
  }

  /** A growable run of (src, dst, w) triples. */
  private final class Buf extends Serializable {
    var src = new Array[Long](16)
    var dst = new Array[Long](16)
    var w = new Array[Double](16)
    var size = 0
    def add(s: Long, d: Long, x: Double): Unit = {
      if (size == src.length) {
        src = Arrays.copyOf(src, size * 2)
        dst = Arrays.copyOf(dst, size * 2)
        w = Arrays.copyOf(w, size * 2)
      }
      src(size) = s; dst(size) = d; w(size) = x
      size += 1
    }
    def chunk: Chunk = Chunk(Arrays.copyOf(src, size),
      Arrays.copyOf(dst, size), Arrays.copyOf(w, size))
  }

  private final case class Chunk(src: Array[Long], dst: Array[Long],
                                 w: Array[Double])

  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    val s = a.clone()
    Arrays.sort(s)
    var u = 0
    for (k <- s.indices) if (k == 0 || s(k) != s(u - 1)) { s(u) = s(k); u += 1 }
    Arrays.copyOf(s, u)
  }

  /** Block b's source side: its sources' CSR over the slots. */
  private final class Csr(val id: Int, val srcs: Array[Long],
                          val offsets: Array[Int], val slot: Array[Int],
                          val weight: Array[Double], val slotIds: Array[Long],
                          val slotStart: Array[Int]) {

    /** The block, given every source block's slot ids for it. */
    def block(incoming: Array[(Int, Array[Long])], n: Int,
              dstVertices: Boolean): Block = {
      val vids =
        if (!dstVertices) srcs
        else sortedDistinct(srcs ++ incoming.flatMap(_._2))
      val offs =
        if (vids eq srcs) offsets
        else {
          // sources keep their edges; destination-only vertices have none
          val o = new Array[Int](vids.length + 1)
          var i = 0
          for (k <- vids.indices) {
            val deg =
              if (i < srcs.length && srcs(i) == vids(k)) {
                i += 1
                offsets(i) - offsets(i - 1)
              } else 0
            o(k + 1) = o(k) + deg
          }
          o
        }
      val route = Array.fill(n)(Array.emptyIntArray)
      incoming.foreach { case (s, ids) =>
        route(s) = ids.map(v => math.max(Arrays.binarySearch(vids, v), -1))
      }
      new Block(id, vids, offs, slot, weight, slotStart, route)
    }
  }

  /** Block `id`'s CSR from its edges, in any order. */
  private def csr(id: Int, n: Int, chunks: Seq[Chunk], weighted: Boolean,
                  share: Boolean): Csr = {
    val m = chunks.map(_.src.length).sum
    val (src, dst, w) = (new Array[Long](m), new Array[Long](m),
      new Array[Double](m))
    chunks.foldLeft(0) { (at, c) =>
      System.arraycopy(c.src, 0, src, at, c.src.length)
      System.arraycopy(c.dst, 0, dst, at, c.dst.length)
      System.arraycopy(c.w, 0, w, at, c.w.length)
      at + c.src.length
    }
    val srcs = sortedDistinct(src)
    val dsts = sortedDistinct(dst)
    // slots: the distinct destinations grouped by target block
    val target = dsts.map(blockOf(_, n))
    val slotStart = new Array[Int](n + 1)
    target.foreach(t => slotStart(t + 1) += 1)
    for (t <- 0 until n) slotStart(t + 1) += slotStart(t)
    val nextSlot = slotStart.clone()
    val slotOf = new Array[Int](dsts.length)
    val slotIds = new Array[Long](dsts.length)
    for (u <- dsts.indices) {
      val s = nextSlot(target(u))
      nextSlot(target(u)) += 1
      slotOf(u) = s
      slotIds(s) = dsts(u)
    }
    // edges grouped by source (a counting sort)
    val at = src.map(Arrays.binarySearch(srcs, _))
    val offsets = new Array[Int](srcs.length + 1)
    at.foreach(i => offsets(i + 1) += 1)
    for (i <- srcs.indices) offsets(i + 1) += offsets(i)
    val next = offsets.clone()
    val slot = new Array[Int](m)
    val weight = if (weighted || share) new Array[Double](m) else null
    for (e <- 0 until m) {
      val k = next(at(e))
      next(at(e)) += 1
      slot(k) = slotOf(Arrays.binarySearch(dsts, dst(e)))
      if (weight != null) weight(k) = if (weighted) w(e) else 1.0
    }
    // a source's edges by (slot, weight): the order its messages fold in
    // must not follow the order its edges arrived in (the order of a
    // shuffle's fetches)
    val maxDeg = (0 until srcs.length).foldLeft(0)((a, i) =>
      math.max(a, offsets(i + 1) - offsets(i)))
    val key = new Array[Long](maxDeg)
    val tmp = new Array[Double](maxDeg)
    for (i <- srcs.indices) {
      val (a, z) = (offsets(i), offsets(i + 1))
      for (k <- a until z) key(k - a) = (slot(k).toLong << 32) | (k - a)
      Arrays.sort(key, 0, z - a)
      if (weight != null) for (k <- a until z) tmp(k - a) = weight(k)
      for (k <- a until z) {
        slot(k) = (key(k - a) >>> 32).toInt
        if (weight != null) weight(k) = tmp((key(k - a) & 0xffffffffL).toInt)
      }
      if (weight != null) {
        var r = a
        while (r < z) {
          var q = r + 1
          while (q < z && slot(q) == slot(r)) q += 1
          if (q - r > 1) Arrays.sort(weight, r, q)
          r = q
        }
      }
      if (share) {
        var total = 0.0
        for (k <- a until z) total += weight(k)
        // Spark SQL's w / 0 is null: such an edge carries nothing
        for (k <- a until z) weight(k) = if (total == 0.0) 0.0 else weight(k) / total
      }
    }
    new Csr(id, srcs, offsets, slot, weight, slotIds, slotStart)
  }

  /** Build the blocks of `edges` (src, dst): one shuffle of the edges to
    * their source's block, one of each block's slot ids to their target's.
    *
    * @param weight      a per-edge weight column; None when unweighted
    * @param dstVertices every destination is a vertex; otherwise the
    *                    vertices are the sources, and a message to any
    *                    other destination is dropped
    * @param share       each edge's weight becomes its share of its
    *                    source's total weight (1 / out-degree unweighted) */
  def build(edges: DataFrame, weight: Option[Column], dstVertices: Boolean,
            share: Boolean): Blocks = {
    val spark = edges.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val part = new HashPartitioner(n)
    val weighted = weight.isDefined
    val rows = edges.select(col("src"), col("dst"),
      weight.getOrElse(lit(0.0)).cast("double")).queryExecution.toRdd
    val bySrc = rows.mapPartitions { it =>
      val bufs = Array.fill(n)(new Buf)
      it.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val s = r.getLong(0)
          bufs(blockOf(s, n)).add(s, r.getLong(1),
            if (r.isNullAt(2)) 0.0 else r.getDouble(2))
        }
      }
      bufs.indices.iterator.filter(bufs(_).size > 0).map(b => b -> bufs(b).chunk)
    }.partitionBy(part)
    val sources = bySrc.mapPartitionsWithIndex { (b, it) =>
      Iterator(csr(b, n, it.map(_._2).toSeq, weighted, share))
    }.persist(StorageLevel.MEMORY_ONLY)
    val slotIds = sources.flatMap { c =>
      (0 until n).iterator.filter(t => c.slotStart(t + 1) > c.slotStart(t))
        .map(t => t -> (c.id ->
          Arrays.copyOfRange(c.slotIds, c.slotStart(t), c.slotStart(t + 1))))
    }.partitionBy(part)
    val blocks = sources.zipPartitions(slotIds) { (cs, in) =>
      Iterator(cs.next().block(in.map(_._2).toArray, n, dstVertices))
    }.persist(StorageLevel.MEMORY_ONLY)
    val vertices = blocks.map(_.vids.length.toLong).fold(0L)(_ + _)
    sources.unpersist(blocking = false)
    new Blocks(spark, blocks, n, vertices)
  }
}
