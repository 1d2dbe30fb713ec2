package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** |a ∩ b| for two SORTED long arrays — a native Catalyst expression with
  * whole-stage codegen (SURVEY §7.3's flagged candidate).
  *
  * The builtin `size(array_intersect(a, b))` materializes the intersection
  * array through a hash set per row; triangle counting only needs the
  * COUNT, and the adjacency arrays are already sorted (the reference
  * relies on exactly this: sorted adjlists + merge-scan intersection,
  * `apps/trianglecount.cpp:127-163`, sort at `:360`). This expression is
  * the reference's merge loop as generated Java inside the codegen stage:
  * two pointers, zero allocation.
  *
  * Inputs must be sorted ascending and duplicate-free (as produced by
  * `Edges.adjacency` / `sort_array(collect_list(...))`); behavior on
  * unsorted input is undefined, matching the reference's contract.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val u = x.getLong(i); val v = y.getLong(j)
      if (u < v) i += 1
      else if (u > v) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val u = ctx.freshName("u"); val v = ctx.freshName("v")
      s"""
         |int $i = 0; int $j = 0;
         |${ev.value} = 0L;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $u = $a.getLong($i); long $v = $b.getLong($j);
         |  if ($u < $v) $i++;
         |  else if ($u > $v) $j++;
         |  else { ${ev.value}++; $i++; $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Per-session registration of every graft function ([[ensureRegistered]]),
  * called by name with `call_function`. */
object GraftFunctions {
  val Name = "sorted_intersect_count"
  val DotName = "graft_dot"
  val IDotName = "graft_idot"
  val SqDistName = "graft_sqdist"
  val SimHashName = "graft_simhash"
  val WordNgramsName = "graft_word_ngrams"

  private def two(name: String, mk: (Expression, Expression) => Expression)(
      exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2, s"$name takes exactly 2 arguments")
    mk(exprs.head, exprs(1))
  }

  /** A builder whose second argument is a constant int (a bit count, n). */
  private def withInt(name: String, mk: (Expression, Int) => Expression)(
      exprs: Seq[Expression]): Expression =
    two(name, (e, k) => {
      require(k.foldable && k.dataType == IntegerType,
        s"$name takes a constant int as its second argument")
      mk(e, k.eval().asInstanceOf[Int])
    })(exprs)

  private val all: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(
      (Name, classOf[SortedIntersectCount],
        two(Name, SortedIntersectCount.apply) _),
      (DotName, classOf[DotProduct], two(DotName, DotProduct.apply) _),
      (IDotName, classOf[LongDotProduct],
        two(IDotName, LongDotProduct.apply) _),
      (SqDistName, classOf[SquaredL2Distance],
        two(SqDistName, SquaredL2Distance.apply) _),
      (SimHashName, classOf[SimHashAgg],
        withInt(SimHashName, SimHashAgg(_, _)) _),
      (WordNgramsName, classOf[WordNgrams],
        withInt(WordNgramsName, WordNgrams.apply) _))

  /** Idempotent per-session registration: a function already in the
    * session's registry is left as it is. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, new ExpressionInfo(cls.getName, name),
          builder)
    }
  }
}
