package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-memory frequency / cardinality sketches — the operators that
  * replace exact `groupBy`/`countDistinct` when the key space itself no
  * longer fits anywhere (100 TB of tokens has billions of distinct
  * grams; the sketches below are O(depth·width) and O(groups·m) rows
  * regardless of input size, and both build in ONE pass with full
  * map-side combine).
  *
  * Every hash is sha256-derived ([[Dedup.shaTokenHash60]]) so a DuckDB
  * oracle replays the sketch bit-for-bit — same discipline as the q57/
  * q58 parity ANN twins. Production callers may swap `xxhash64` in via
  * the `tokenHash` parameter; the math is hash-agnostic.
  */
object Sketches {

  /** Count-min sketch (Cormode–Muthukrishnan 2005) over a weighted item
    * table `items(item, cnt)`: `depth` independent rows of `width`
    * counters; row i hashes `item#i`. Returns (row, bucket, c) —
    * depth·width rows max, built with one shuffle whose key space is the
    * SKETCH, not the items (map-side combine collapses each partition to
    * ≤ depth·width partials before the exchange).
    */
  def countMin(items: DataFrame, itemCol: String, cntCol: String,
               depth: Int = 4, width: Int = 256): DataFrame = {
    require(depth > 0 && width > 0, "depth and width must be positive")
    val rows = (0 until depth).map { i =>
      struct(lit(i.toLong).as("row"),
        pmod(Dedup.shaTokenHash60(
          concat(col(itemCol).cast("string"), lit(s"#$i"))),
          lit(width.toLong)).as("bucket"))
    }
    items.select(explode(array(rows: _*)).as("rb"), col(cntCol).as("cnt"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(sum(col("cnt")).as("c"))
  }

  /** Join-cardinality estimate from two count-min sketches over the
    * join key (the AMS/CM inner-product estimator, Cormode–
    * Muthukrishnan §4.2): |A ⋈ B| ≈ min over rows of Σ_bucket
    * cmsA·cmsB — the statistic a cost-based optimizer consults before
    * picking a join strategy, never an underestimate. Cost: one
    * (row,bucket) join over two ≤ depth·width tables — metadata-scale,
    * independent of |A|, |B|. */
  def cmJoinSize(sketchA: DataFrame, sketchB: DataFrame): DataFrame =
    sketchA
      .join(sketchB.withColumnRenamed("c", "cb"), Seq("row", "bucket"))
      .groupBy(col("row")).agg(sum(col("c") * col("cb")).as("dot"))
      .agg(min(col("dot")).as("join_size_est"))

  /** Point estimates from a count-min sketch for the items in `probe`
    * (an `item` column): est = min over rows of the item's counter —
    * never an underestimate, over by at most ε·N w.h.p. The sketch is
    * broadcast (≤ depth·width rows by construction), so probing costs
    * the probe table one narrow map — no shuffle. */
  def cmEstimate(sketch: DataFrame, probe: DataFrame, itemCol: String,
                 depth: Int = 4, width: Int = 256): DataFrame = {
    val rows = (0 until depth).map { i =>
      struct(lit(i.toLong).as("row"),
        pmod(Dedup.shaTokenHash60(
          concat(col(itemCol).cast("string"), lit(s"#$i"))),
          lit(width.toLong)).as("bucket"))
    }
    probe.select(col(itemCol), explode(array(rows: _*)).as("rb"))
      .select(col(itemCol), col("rb.row").as("row"),
        col("rb.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy(col(itemCol)).agg(min(col("c")).as("cms_est"))
  }

  /** HyperLogLog register table (Flajolet et al. 2007) for
    * distinct-`itemCol` per `groupCol`: m = 2^`regBits` registers per
    * group, register value = max over items of (leading zeros of the
    * item hash's remaining bits + 1). Output (group, reg, max_rank) is
    * ≤ groups·m rows whatever the input cardinality, and `max` combines
    * map-side — the scale path for distinct counting where exact
    * `countDistinct` would shuffle every distinct key.
    *
    * The rank is computed portably — position of the first '1' in the
    * zero-padded binary expansion (`instr(lpad(bin(h'), …), '1')`) —
    * so the DuckDB oracle replays it exactly; an all-zero remainder
    * saturates to restBits+1 per the HLL convention. */
  def hllRegisters(df: DataFrame, groupCol: String, itemCol: String,
                   regBits: Int = 6): DataFrame = {
    require(regBits > 0 && regBits < 20, "regBits out of range")
    val m = 1L << regBits
    val restBits = 60 - regBits
    val h = Dedup.shaTokenHash60(col(itemCol).cast("string"))
    // integer division (h is a non-negative 60-bit value, so a right
    // shift IS h div m; `/` on longs would round-trip through double and
    // lose bits above 2^53)
    val rest = shiftright(h, regBits)
    val rank = when(rest === 0L, lit(restBits + 1).cast("long"))
      .otherwise(instr(lpad(bin(rest), restBits, "0"), "1").cast("long"))
    df.select(col(groupCol).as("grp"), pmod(h, lit(m)).as("reg"),
        rank.as("rank"))
      .groupBy(col("grp"), col("reg")).agg(max(col("rank")).as("max_rank"))
  }

  /** The composed heavy-hitter report: exact top-k items (distributed
    * TakeOrdered, mirroring [[TrainPrep.topNgrams]]) joined with their
    * count-min estimates — the driver-verifiable witness that the
    * sketch's point queries bound the exact counts. */
  def cmTopK(items: DataFrame, itemCol: String, cntCol: String, k: Int,
             depth: Int = 4, width: Int = 256): DataFrame = {
    val sketch = countMin(items, itemCol, cntCol, depth, width)
    val top = items.orderBy(col(cntCol).desc, col(itemCol)).limit(k)
    val w = Window.orderBy(col(cntCol).desc, col(itemCol))
    top.withColumn("rnk", row_number().over(w).cast("long"))
      .join(cmEstimate(sketch, top.select(col(itemCol)), itemCol,
        depth, width), itemCol)
  }

  /** Fixed-memory quantile sketch: an equi-width integer histogram of at
    * most `buckets` counters, two passes (one tiny min/max/count agg, one
    * map-side-combined bucket count), and the percentile estimate is the
    * LOWER EDGE of the bucket where the cumulative count first reaches
    * ⌈q·n/100⌉ — deterministic, integer-exact, error bounded by one
    * bucket width. The scale twin of an exact order statistic
    * (q104-style), which needs a full sort or a degree-bounded window:
    * here the shuffled key space is ≤ `buckets` rows REGARDLESS of input
    * size, the same counter-table discipline as [[countMin]]. The cumsum
    * window runs over that counter table only (single tiny task by
    * construction, never over data rows). Returns (pct, bucket, est). */
  def histQuantiles(df: DataFrame, valueCol: org.apache.spark.sql.Column,
                    buckets: Int, qsPct: Seq[Int]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(valueCol.cast("long").as("v"))
    val st = v.agg(min(col("v")), max(col("v")), count(lit(1))).head()
    // empty input: min/max aggregate to null — return the empty frame
    if (st.isNullAt(0))
      return qsPct.map(_.toLong).toDF("pct")
        .select(col("pct"), lit(0L).as("bucket"), lit(0L).as("est"))
        .filter(lit(false))
    val (mn, mx, n) = (st.getLong(0), st.getLong(1), st.getLong(2))
    val width = (mx - mn) / buckets + 1L // driver longs: exact integer div
    val hist = v.groupBy(expr(s"(v - ${mn}L) div ${width}L").as("b"))
      .agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val qs = qsPct.map(_.toLong).toDF("pct")
      .withColumn("target", expr(s"(pct * ${n}L + 99) div 100"))
    qs.join(cum, col("cum") >= col("target"))
      .groupBy(col("pct")).agg(min(col("b")).as("bucket"))
      .withColumn("est", lit(mn) + col("bucket") * lit(width))
  }
}
