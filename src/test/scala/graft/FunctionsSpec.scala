package graft

import graft.functions.{GraftFunctions, SimHashAgg, SortedIntersectCount, WordNgrams}
import graft.text.{Dedup, TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Native Catalyst expressions: sorted_intersect_count — parity with the
  * builtin size(array_intersect(...)) on random sorted inputs, null
  * handling, SQL registration, and codegen execution; graft_dot and its
  * folds; and the two text kernels against the builtin forms they
  * replaced (`Oracles`).
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("matches size(array_intersect) on random sorted arrays") {
    GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map { i =>
      def arr() = (0 until rnd.nextInt(40))
        .map(_ => rnd.nextInt(60).toLong).distinct.sorted.toArray
      (i.toLong, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
    val bad = df.select(col("id"),
        call_function("sorted_intersect_count", col("a"), col("b")).as("got"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("want"))
      .filter(col("got") =!= col("want"))
    assert(bad.count() === 0)
  }

  test("null in, null out; empty arrays count 0; SQL-callable") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      """SELECT sorted_intersect_count(array(1L,2L,3L), array(2L,3L,9L)) a,
        |       sorted_intersect_count(array(1L,2L), CAST(array() AS ARRAY<LONG>)) b,
        |       sorted_intersect_count(CAST(NULL AS ARRAY<LONG>), array(1L)) c
        |""".stripMargin).head()
    assert(r.getLong(0) === 2L)
    assert(r.getLong(1) === 0L)
    assert(r.isNullAt(2))
  }

  test("registering twice replaces no function") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val replaced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    val capture = new AbstractAppender("replaced-functions", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        Option(e.getMessage).map(_.getFormattedMessage)
          .filter(_.contains("replaced a previously registered function"))
          .foreach(replaced.add)
    }
    GraftFunctions.ensureRegistered(spark)
    capture.start()
    root.addAppender(capture)
    try GraftFunctions.ensureRegistered(spark)
    finally { root.removeAppender(capture); capture.stop() }
    assert(replaced.isEmpty)
  }

  test("interpreted eval agrees with codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val a = Literal.create(new GenericArrayData(Array(1L, 3L, 5L, 7L)),
      ArrayType(LongType))
    val b = Literal.create(new GenericArrayData(Array(3L, 4L, 5L, 6L, 7L)),
      ArrayType(LongType))
    assert(SortedIntersectCount(a, b).eval(null) === 3L)
  }

  test("graft_dot is bit-identical to the composed zip_with fold") {
    GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(11)
    val rows = (1 to 300).map { i =>
      val d = 64
      (i.toLong, Array.fill(d)(rnd.nextFloat() * 2f - 1f),
        Array.fill(d)(rnd.nextFloat() * 2f - 1f))
    }
    val df = rows.toDF("id", "a", "b")
    // bitwise comparison: raw IEEE bits, not an epsilon
    val both = df.select(
        call_function("graft_dot", col("a"), col("b")).as("got"),
        aggregate(zip_with(col("a"), col("b"),
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("want"))
      .collect()
    assert(both.length === 300)
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("graft_dot handles mixed float/double sides, nulls, SQL surface") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(1.0F, 2.0F, 3.0F),
        |                 array(2.0D, 0.5D, 1.0D)) a,
        |       graft_dot(CAST(NULL AS ARRAY<FLOAT>), array(1.0F)) b,
        |       graft_dot(CAST(array() AS ARRAY<DOUBLE>),
        |                 CAST(array() AS ARRAY<DOUBLE>)) c
        |""".stripMargin).head()
    assert(r.getDouble(0) === 6.0)
    assert(r.isNullAt(1))
    assert(r.getDouble(2) === 0.0)
  }

  test("graft_dot returns NULL on mismatched array lengths (both paths)") {
    GraftFunctions.ensureRegistered(spark)
    // codegen path via SQL
    val viaSql = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(1.0D, 2.0D, 3.0D)) x")
      .head()
    assert(viaSql.isNullAt(0),
      "dimension mismatch must surface as NULL (the zip_with fold's " +
        "observable behavior), never a truncated partial dot")
    // interpreted path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val a = Literal.create(new GenericArrayData(Array(1.0, 2.0)),
      ArrayType(DoubleType))
    val b = Literal.create(new GenericArrayData(Array(1.0, 2.0, 3.0)),
      ArrayType(DoubleType))
    assert(graft.functions.DotProduct(a, b).eval(null) == null)
  }

  test("graft_dot interpreted eval matches codegen result") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val a = Literal.create(new GenericArrayData(Array(1.5f, -2.0f, 0.25f)),
      ArrayType(FloatType))
    val b = Literal.create(new GenericArrayData(Array(2.0, 3.0, 4.0)),
      ArrayType(DoubleType))
    val interp = graft.functions.DotProduct(a, b).eval(null)
      .asInstanceOf[Double]
    val viaDf = Seq((Array(1.5f, -2.0f, 0.25f), Array(2.0, 3.0, 4.0)))
      .toDF("a", "b")
      .select(call_function("graft_dot", col("a"), col("b")))
      .head().getDouble(0)
    assert(interp === viaDf)
    assert(interp === 1.5 * 2.0 + -2.0 * 3.0 + 0.25 * 4.0)
  }

  test("Ann.dot routes through the fused expression unchanged in value") {
    val rows = Seq(
      (1L, Array(0.5f, 0.5f, 0.5f), Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-1.0f, 0.0f, 2.0f), Array(0.25f, -4.0f, 0.125f)))
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
        graft.sim.Ann.dot(col("a"), col("b")).as("d"))
      .orderBy("id").collect().map(_.getDouble(1))
    assert(got(0) === 0.5 * 1.0 + 0.5 * 2.0 + 0.5 * 3.0)
    assert(got(1) === -1.0 * 0.25 + 0.0 * -4.0 + 2.0 * 0.125)
  }

  test("graft_simhash aggregate equals the per-bit-sum reference") {
    val rnd = new scala.util.Random(23)
    val words = Vector("alpha", "beta", "gamma", "delta", "épée", "数据", "x")
    def text(): String = rnd.nextInt(10) match {
      case 0 => null
      case 1 => ""
      case 2 => Seq(" ", "  \t", "\n ", "   ")(rnd.nextInt(4))
      case _ => Seq.fill(rnd.nextInt(30))(words(rnd.nextInt(words.size)))
        .mkString(Seq(" ", "  ", "\t")(rnd.nextInt(3)))
    }
    // ids repeat, and id 999's twelve documents are dealt round-robin over
    // four partitions, so its partial buffers are serialized and merged
    val rows = Seq.fill(300)((rnd.nextInt(150).toLong, text())) ++
      Seq.fill(12)((999L, text() + " alpha beta"))
    val df = rows.toDF("id", "text").repartition(4)
    assert(df.filter(col("id") === 999L)
      .select(spark_partition_id()).distinct().count() > 1,
      "test premise: one id spans several partitions")
    for ((bits, hash) <- Seq[(Int, Column => Column)](
        (60, Dedup.shaTokenHash60), (64, xxhash64(_)))) {
      def fps(d: DataFrame) =
        d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = fps(Dedup.simHash(df, "id", "text", bits, hash))
      val want = fps(Oracles.simHashPerBitSum(df, "id", "text", bits, hash))
      assert(got === want, s"bits = $bits")
      assert(got.contains(999L) && got.size > 100)
    }
    val agg = SimHashAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(0L), 64)
    val buf = Array.tabulate(64)(j => (j - 32).toLong * 1000003L)
    assert(agg.deserialize(agg.serialize(buf)).toSeq === buf.toSeq)
  }

  test("graft_word_ngrams equals the transform reference, codegen and interpreted") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(29)
    val pieces = Vector("a", "bb", "ünï", "日本語", "🙂x", "z-z", "Ω")
    val seps = Vector(" ", "   ", "\t", "\n", " \t ", "\r\n", "\u00a0")
    def sep() = seps(rnd.nextInt(seps.size))
    val texts = Seq(null, "", " ", "   ", "\t", "one", "two words") ++
      Seq.fill(200) {
        val body = Seq.fill(rnd.nextInt(20))(pieces(rnd.nextInt(pieces.size)))
          .foldLeft("")((acc, w) => if (acc.isEmpty) w else acc + sep() + w)
        (if (rnd.nextBoolean()) sep() else "") + body +
          (if (rnd.nextBoolean()) sep() else "")
      }
    val df = spark.sparkContext.parallelize(texts.zipWithIndex, 2)
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(1, 2, 5, 13)) {
      // the reference runs in its own query: its interpreted `transform`
      // would take the whole projection out of whole-stage codegen
      val q = df.select(col("id"), TF.wordNgrams(col("text"), n).as("got"),
        TF.tokens(col("text")).as("t"))
      assert(q.queryExecution.executedPlan.collectFirst {
        case w: WholeStageCodegenExec
          if w.toString.contains(GraftFunctions.WordNgramsName) => w
      }.nonEmpty, "the expression runs inside whole-stage codegen")
      val want = df.select(col("id"),
          Oracles.wordNgramsTransform(col("text"), n))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val rows = q.collect()
      assert(rows.length === texts.size)
      assert(want.values.exists(_.nonEmpty),
        s"test premise: some document has $n tokens")
      rows.foreach { r =>
        assert(r.getSeq[String](1) === want(r.getLong(0)))
        val tokens = if (r.isNullAt(2)) null else new GenericArrayData(
          r.getSeq[String](2).map(UTF8String.fromString).toArray[Any])
        val interp = WordNgrams(Literal(tokens, ArrayType(StringType)), n)
          .eval(null).asInstanceOf[ArrayData]
        assert(interp.toArray[UTF8String](StringType).map(_.toString).toSeq
          === want(r.getLong(0)))
      }
    }
  }
}
