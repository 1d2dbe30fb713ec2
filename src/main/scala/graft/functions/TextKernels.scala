package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SimHash of a group's token hashes — `graft_simhash(h, bits)`: bit j is
  * set when more of the group's non-null hashes have bit j set than
  * clear. One aggregate over one `long[bits]` buffer of per-bit ±1
  * counts, so a plan holds one buffer per group and one operator to
  * compile, not `bits` aggregate columns (the many-aggregates-one-pass
  * idea of LMFAO, SIGMOD 2019). The partial aggregate runs map-side and
  * shuffles `bits` longs per group. A group with no non-null hash has
  * fingerprint 0. */
case class SimHashAgg(child: Expression, bits: Int,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint hash, got ${child.dataType.simpleString}")
    else if (bits < 1 || bits > 64) TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes 1 to 64 bits, got $bits")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bits)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var j = 0
      while (j < bits) { buf(j) += ((h >>> j) & 1L) * 2 - 1; j += 1 }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var j = 0
    while (j < bits) { buf(j) += other(j); j += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    var s = 0L; var j = 0
    while (j < bits) { if (buf(j) > 0) s |= 1L << j; j += 1 }
    s
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bytes = ByteBuffer.allocate(8 * bits)
    bytes.asLongBuffer().put(buf)
    bytes.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](bits)
    ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): SimHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): SimHashAgg =
    copy(child = c)
}

/** Word n-grams of a token array — `graft_word_ngrams(tokens, n)`: the
  * `n`-token windows in order, each joined by one space (null tokens
  * skipped, as `concat_ws` does), and an empty array for a null array or
  * one shorter than `n`. One generated loop per row, so the projection
  * that holds it stays inside whole-stage codegen. */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if n >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<string> and n >= 1, got " +
          s"${child.dataType.simpleString} and $n")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_word_ngrams"

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input).asInstanceOf[ArrayData]
    val k = if (t == null) 0 else math.max(t.numElements() - n + 1, 0)
    val parts = new Array[UTF8String](n)
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      var j = 0
      while (j < n) {
        parts(j) = if (t.isNullAt(i + j)) null else t.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(WordNgrams.Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val (k, i, j, parts, out, sp) = (ctx.freshName("k"), ctx.freshName("i"),
      ctx.freshName("j"), ctx.freshName("parts"), ctx.freshName("out"),
      ctx.freshName("sp"))
    val utf8 = classOf[UTF8String].getName
    ev.copy(code = code"""
      |${t.code}
      |int $k = ${t.isNull} ? 0 : java.lang.Math.max(${t.value}.numElements() - $n + 1, 0);
      |$utf8[] $parts = new $utf8[$n];
      |$utf8 $sp = $utf8.fromString(" ");
      |Object[] $out = new Object[$k];
      |for (int $i = 0; $i < $k; $i++) {
      |  for (int $j = 0; $j < $n; $j++) {
      |    $parts[$j] = ${t.value}.isNullAt($i + $j) ? null : ${t.value}.getUTF8String($i + $j);
      |  }
      |  $out[$i] = $utf8.concatWs($sp, $parts);
      |}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  new ${classOf[GenericArrayData].getName}($out);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): WordNgrams =
    copy(child = c)
}

object WordNgrams {
  private val Space = UTF8String.fromString(" ")
}
