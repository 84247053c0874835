package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression: Σ aᵢ·bᵢ over two array<double> columns.
  *
  * The vector-similarity hot path (SURVEY §2.4 extension operators)
  * evaluates a dot product per candidate pair. The higher-order-function
  * formulation (`aggregate(zip_with(...))`) runs interpreted — one
  * closure dispatch per element. This expression whole-stage-codegens to
  * a tight primitive loop instead (preference order (b) of the build
  * brief: custom Expression with doGenCode before any UDF).
  *
  * Semantics match the HOF version bit-for-bit on well-formed input:
  * left-to-right multiply-accumulate in double; any null element yields
  * null (as null poisons `aggregate`); length mismatch uses the shorter
  * prefix.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires two array<double> arguments, got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.of(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The expression's value outside a plan: null when either side is
    * null, else the sum above (null at a null element). */
  def of(x: ArrayData, y: ArrayData): Any =
    if (x == null || y == null) null
    else {
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      s
    }
}

/** Column-API surface for the native expressions. */
object GraftFunctions {
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Cosine similarity composed from native dots: dot(a,b) /
    * (√dot(a,a)·√dot(b,b)), zero vectors ⇒ 0 (guarded — ANSI mode
    * throws on divide-by-zero). Entirely codegen'd. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{lit, sqrt, when}
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom === 0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Unicode normalization (codegen'd; see [[NfcNormalize]]). */
  def nfc(c: Column, form: String = "NFC"): Column = NfcNormalize(c, form)

  /** Count of array elements equal to `v` (codegen'd; see
    * [[CountEqualInArray]]) — use instead of
    * `size(filter(arr, x => x === v))` on hot paths. */
  def countEqual(arr: Column, v: Column): Column =
    Bridge.column(CountEqualInArray(Bridge.expression(arr), Bridge.expression(v)))
}

/** SparkSessionExtensions hook: makes the native functions addressable
  * from SQL (`SELECT graft_dot(a, b)`) via
  * `spark.sql.extensions=graft.functions.GraftExtensions`, or
  * programmatically with `GraftExtensions.register(spark)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RewriteSizeOfEqualityFilter)
  }
}

object GraftExtensions {
  private val descriptors = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1)): Expression),
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{Divide, EqualTo, If, Literal, Multiply, Sqrt}
        val (a, b) = (children.head, children(1))
        val denom = Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b)))
        If(EqualTo(denom, Literal(0.0)), Literal(0.0),
          Divide(DotProduct(a, b), denom)): Expression
      }),
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => {
        // optional 2nd arg: the form, as a string literal
        val form = children.lift(1).map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => String.valueOf(v)
          case other => throw new IllegalArgumentException(
            s"graft_nfc form must be a string literal, got $other")
        }.getOrElse("NFC")
        NfcNormalize(children.head, form): Expression
      }),
    (FunctionIdentifier("graft_count_eq"),
      new ExpressionInfo(classOf[CountEqualInArray].getName, "graft_count_eq"),
      (children: Seq[Expression]) =>
        CountEqualInArray(children.head, children(1)): Expression))

  /** Idempotent runtime registration for an existing session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    // optimizer rules can't be injected into a LIVE session through
    // SparkSessionExtensions; experimental.extraOptimizations is the
    // supported runtime seam (idempotent append)
    if (!spark.experimental.extraOptimizations.contains(RewriteSizeOfEqualityFilter))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteSizeOfEqualityFilter
  }
}
