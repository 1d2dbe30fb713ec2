package graft.partition

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) curve layout — the multi-dimensional locality
  * primitive behind Iceberg/Delta `OPTIMIZE ZORDER BY`: interleaving the
  * bits of two key columns makes rows close in BOTH dimensions land in
  * the same file/range, so a scan with predicates on either (or both)
  * keys prunes to O(√files) instead of all of them. For an edge table
  * z-ordered on (src, dst), per-vertex slices in EITHER role stay
  * clustered — the layout complement of [[BdgLayout]]'s semantic
  * (community) blocking: BDG minimizes cross-partition EDGES, Z-order
  * minimizes scan footprint for key-range predicates.
  *
  * The curve key is a pure integer expression (shift/mask/or only), so
  * it costs nothing at write time, survives codegen, and any engine
  * replays it bit-for-bit.
  */
object ZOrder {

  /** Morton interleave of the low `bits` bits of two non-negative
    * integer columns: x occupies even bit positions, y odd. Keys wider
    * than `bits` bits alias (caller masks or buckets first — at 2^31
    * vertices use bits=31 for a 62-bit key). */
  def zValue(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      val xb = shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
      val yb = shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
      xb.bitwiseOR(yb)
    }.reduce(_ bitwiseOR _)

  /** Curve-bucket census: per top-level Z bucket (the key's high bits —
    * i.e. the square tiles of the (src, dst) plane), edge count and the
    * distinct-vertex spread in each role. The locality evidence: compact
    * tiles mean a (src-range × dst-range) predicate touches few buckets.
    * All integer, oracle-replayable. */
  def bucketCensus(edges: DataFrame, bits: Int = 16,
                   bucketBits: Int = 6): DataFrame = {
    val z = zValue(pmod(col("src"), lit(1L << bits)),
      pmod(col("dst"), lit(1L << bits)), bits)
    edges
      .withColumn("bucket", shiftright(z, 2 * bits - bucketBits))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(col("src")).as("n_src"),
        countDistinct(col("dst")).as("n_dst"))
  }
}
