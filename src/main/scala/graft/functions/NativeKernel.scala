package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** A row's inputs in, one call into a constants object out: the one
  * shape of every native kernel in this package. The generated code
  * calls the same method as `eval`, so both paths agree bit for bit: a
  * child of primitive type passes as `(isNull, value)`, any other as
  * its value or null. A nullable kernel's method returns null for a
  * null result. */
abstract class NativeKernel extends Expression {
  protected def constsClass: Class[_]
  /** The constants' method this kernel calls. */
  protected def method: String
  /** The children's types; an array matches whatever its nullability. */
  protected def inputTypes: Seq[DataType]
  /** `eval`'s call of [[method]] on the children's values. */
  protected def call(args: Seq[Any]): Any
  /** Java code naming the constants object in the generated class. */
  protected def constsRef(ctx: CodegenContext): String

  override def checkInputDataTypes(): TypeCheckResult = {
    def erase(t: DataType): DataType = t match {
      case ArrayType(e, _) => ArrayType(erase(e))
      case other => other
    }
    if (children.map(c => erase(c.dataType)) == inputTypes.map(erase))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (${inputTypes.map(_.sql).mkString(", ")}) arguments, " +
        s"got (${children.map(_.dataType.sql).mkString(", ")})")
  }
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = call(children.map(_.eval(input)))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = constsRef(ctx)
    val ins = children.map(_.genCode(ctx))
    val args = children.zip(ins).map { case (c, in) =>
      if (CodeGenerator.isPrimitiveType(c.dataType)) s"${in.isNull}, ${in.value}"
      else s"${in.isNull} ? null : ${in.value}"
    }
    val result = code"""
      |${ins.map(_.code).reduce(_ + _)}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $k.$method(${args.mkString(", ")});
      """.stripMargin
    if (nullable) ev.copy(code = result + code"boolean ${ev.isNull} = ${ev.value} == null;")
    else ev.copy(code = result, isNull = FalseLiteral)
  }
}

/** A [[NativeKernel]] whose constants are small enough to ride in the
  * plan itself: a constructor parameter, serialized with the task. */
abstract class ConstKernel extends NativeKernel {
  def consts: AnyRef
  override protected def constsClass: Class[_] = consts.getClass
  override protected def constsRef(ctx: CodegenContext): String =
    ctx.addReferenceObj("kernelConsts", consts, constsClass.getName)
}
