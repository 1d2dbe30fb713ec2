package graft

import graft.text.Sketches
import org.apache.spark.sql.functions._

/** Count-min and HyperLogLog sketches: exactness when collision-free,
  * never-underestimate under collisions, register replay vs a local
  * Scala re-derivation, estimate accuracy at sketch-appropriate
  * cardinality. */
class SketchSpec extends SparkSpec {

  import spark.implicits._

  test("countMin: wide sketch is exact; point estimates never underestimate") {
    val items = Seq(("a", 10L), ("b", 7L), ("c", 3L), ("d", 1L))
      .toDF("item", "cnt")
    // width 4096 over 4 items: collisions vanishingly unlikely -> exact
    val est = Sketches.cmEstimate(
        Sketches.countMin(items, "item", "cnt", depth = 4, width = 4096),
        items.select(col("item")), "item", depth = 4, width = 4096)
      .orderBy("item").collect()
    assert(est.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 10L), ("b", 7L), ("c", 3L), ("d", 1L)))

    // width 2 over 200 items: collisions certain -> every estimate is an
    // OVER-estimate (cms >= exact), and the counter mass per row is
    // exactly the total mass
    val many = (1 to 200).map(i => (s"t$i", (i % 7 + 1).toLong))
      .toDF("item", "cnt")
    val sk = Sketches.countMin(many, "item", "cnt", depth = 3, width = 2)
    val total = many.agg(sum("cnt")).head.getLong(0)
    val perRow = sk.groupBy("row").agg(sum("c").as("m")).collect()
    assert(perRow.length == 3 && perRow.forall(_.getLong(1) == total))
    val under = Sketches.cmEstimate(sk, many.select(col("item")), "item",
        depth = 3, width = 2)
      .join(many, "item")
      .filter(col("cms_est") < col("cnt")).count()
    assert(under == 0L)
  }

  test("hllRegisters: replayed locally bit-for-bit") {
    val df = (1 to 50).map(i => ("g", i.toLong)).toDF("grp", "id")
    val got = Sketches.hllRegisters(df, "grp", "id", regBits = 6)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    // local re-derivation: same sha-60 hash, reg = h % 64,
    // rank = leading zeros of (h >> 6) within 54 bits, + 1
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val want = (1 to 50).map { i =>
      val hex = md.digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      val rest = h >> 6
      val rank =
        if (rest == 0L) 55L else 54L - (63 - java.lang.Long.numberOfLeadingZeros(rest))
      (h % 64, rank)
    }.groupBy(_._1).map { case (reg, rs) => (reg, rs.map(_._2).max) }
    assert(got == want)
  }

  test("hllEstimate: within 20% of exact at sketch-appropriate cardinality") {
    val n = 20000
    val df = (1 to n).map(i => ("g", s"user$i")).toDF("grp", "id")
    val est = Oracles.hllEstimate(
      Sketches.hllRegisters(df, "grp", "id", regBits = 6)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap,
      regBits = 6)
    // m=64 -> standard error ~ 1.04/sqrt(64) = 13%; assert a loose 20%
    assert(math.abs(est - n) / n < 0.20, s"est $est vs exact $n")
  }

  test("hllRegisters: map-side-combinable (union of halves == whole)") {
    val a = (1 to 500).map(i => ("g", i.toLong)).toDF("grp", "id")
    val b = (400 to 900).map(i => ("g", i.toLong)).toDF("grp", "id")
    val whole = Sketches.hllRegisters(a.union(b), "grp", "id")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    val merged = Sketches.hllRegisters(a, "grp", "id")
      .union(Sketches.hllRegisters(b, "grp", "id"))
      .groupBy("grp", "reg").agg(max("max_rank").as("max_rank"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(whole == merged)
  }

  test("histQuantiles: estimate = lower edge of the crossing bucket") {
    import spark.implicits._
    // values 1..100, buckets=10 -> width = 99//10 + 1 = 10; buckets hold
    // [1,10], [11,20], ... p50 target 50 -> cum reaches 50 in bucket 4
    // ([41,50]) -> est = 1 + 4*10 = 41; p99 target 99 -> bucket 9 -> 91
    val df = (1L to 100L).toDF("x")
    val got = Sketches.histQuantiles(df, col("x"), buckets = 10,
        qsPct = Seq(50, 99))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(50L -> ((4L, 41L)), 99L -> ((9L, 91L))))
  }

  test("histQuantiles and semDedup/kmeansParity/pps: empty inputs yield empty frames") {
    import spark.implicits._
    val noVals = Seq.empty[Long].toDF("x")
    assert(Sketches.histQuantiles(noVals, col("x"), 8, Seq(50)).count() === 0)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.sim.Ann.semDedup(noVecs, "vec_id", "embedding").count() === 0)
    assert(graft.sim.Ann.kmeansParity(noVecs, "vec_id", "embedding")
      .count() === 0)
    val noDocs = Seq.empty[(Long, Long)].toDF("doc_id", "w")
    assert(graft.text.TrainPrep.systematicPpsSample(spark, noDocs,
      "doc_id", col("w"), 5).count() === 0)
    // all-zero weights: no pick positions exist anywhere
    val zeroW = Seq((1L, 0L), (2L, 0L)).toDF("doc_id", "w")
    assert(graft.text.TrainPrep.systematicPpsSample(spark, zeroW,
      "doc_id", col("w"), 5).count() === 0)
  }

  test("histQuantiles: error bounded by one bucket width vs exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vals = Seq.fill(500)(rnd.nextInt(10000).toLong)
    val df = vals.toDF("x")
    val buckets = 64
    val width = (vals.max - vals.min) / buckets + 1
    val got = Sketches.histQuantiles(df, col("x"), buckets,
        qsPct = Seq(50, 90, 99))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val sorted = vals.sorted
    Seq(50, 90, 99).foreach { q =>
      val exact = sorted((math.ceil(q * vals.size / 100.0) - 1).toInt)
      assert(math.abs(got(q.toLong) - exact) <= width,
        s"q$q est ${got(q.toLong)} vs exact $exact width $width")
    }
  }

  test("cm join-size estimate: exact on collision-free keys, never under") {
    val a = Seq(("x", 3L), ("y", 2L), ("z", 5L)).toDF("k", "cnt")
    val b = Seq(("x", 4L), ("z", 1L), ("w", 7L)).toDF("k", "cnt")
    // wide sketch -> no collisions -> est == exact inner product
    val skA = Sketches.countMin(a, "k", "cnt", depth = 4, width = 4096)
    val skB = Sketches.countMin(b, "k", "cnt", depth = 4, width = 4096)
    val est = Sketches.cmJoinSize(skA, skB).collect().head.getLong(0)
    assert(est === 3L * 4L + 5L * 1L) // x:12 + z:5 = 17
    // narrow sketch: collisions only ever ADD mass
    val nA = Sketches.countMin(a, "k", "cnt", depth = 2, width = 2)
    val nB = Sketches.countMin(b, "k", "cnt", depth = 2, width = 2)
    val estN = Sketches.cmJoinSize(nA, nB).collect().head.getLong(0)
    assert(estN >= 17L)
  }
}
