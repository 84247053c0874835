package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** The constants of the IVF-PQ kernels ([[EncodeAssign]], [[AdcTable]]):
  * the IVF centroids (ids and vectors, sorted by id) and the PQ
  * codebooks with their ½‖c‖² terms. Either side may be empty — an
  * IVF-only assignment carries no books (`m = 0`), a PQ-only encode or
  * an ADC table no centroids.
  *
  * Every score is a `graft_dot` of the row's vector (or its subspace
  * slice `v[j·ds, (j+1)·ds)`, as `slice` cuts it) with one constant
  * vector, accumulated left to right in double, and null exactly where
  * `graft_dot` is null: a null vector, or a null element of either side
  * inside the shorter length. A centroid vector may be null or hold
  * null elements (a stored centroids table is user data);
  * `centroidNullAt(j)` is the index of the first null element of
  * centroid j (its length when there is none). */
final class IvfPqConsts private (
    centroidIds: Array[Int],
    centroids: Array[Array[Double]],
    centroidNullAt: Array[Int],
    books: Array[Array[Array[Double]]],
    halfNormSq: Array[Array[Double]],
    ds: Int) extends Serializable {

  private val m = books.length

  /** (centroid_id, codes) of one L2-normalized vector: the centroid of
    * highest `v·c`, and per subspace j the code of highest
    * `v[j·ds, (j+1)·ds)·b − ½‖b‖²`.
    *
    * The argmax reproduces `max_by(id, struct(score, −id))` under
    * Spark's ordering: a null score is below every number, NaN above
    * every number, −0.0 equals 0.0, and equal scores go to the lowest
    * id or code (candidates run in ascending order and only a strictly
    * greater score replaces the best). A null vector scores null
    * everywhere, so it gets the lowest centroid id and all-zero codes.
    * No centroids ⇒ null centroid_id; an empty codebook ⇒ null code. */
  def encodeAssign(v: ArrayData): InternalRow = {
    val x = values(v)
    val nullAt = firstNull(v)
    var best = -1
    var bestS = 0.0
    var bestNull = true
    var j = 0
    while (j < centroidIds.length) {
      val cv = centroids(j)
      val n = if (cv == null) 0 else math.min(x.length, cv.length)
      val isNull = v == null || cv == null || nullAt < n || centroidNullAt(j) < n
      var s = 0.0
      var i = 0
      if (!isNull) while (i < n) { s += x(i) * cv(i); i += 1 }
      if (best < 0 || greater(s, isNull, bestS, bestNull)) {
        best = j; bestS = s; bestNull = isNull
      }
      j += 1
    }
    val centroidId: Any = if (best < 0) null else centroidIds(best)

    val codes = new Array[Any](m)
    j = 0
    while (j < m) {
      var bestC = -1
      var c = 0
      while (c < books(j).length) {
        val isNull = subNull(v, nullAt, j, c)
        val s = if (isNull) 0.0 else subDot(x, j, c) - halfNormSq(j)(c)
        if (bestC < 0 || greater(s, isNull, bestS, bestNull)) {
          bestC = c; bestS = s; bestNull = isNull
        }
        c += 1
      }
      codes(j) = if (bestC < 0) null else bestC
      j += 1
    }
    InternalRow(centroidId, new GenericArrayData(codes))
  }

  /** The PQ asymmetric-distance table of one L2-normalized query: m
    * arrays of ksub dots `v[j·ds, (j+1)·ds)·b` (null where `graft_dot`
    * is null) — what a search looks a candidate's codes up in. */
  def adcTable(v: ArrayData): ArrayData = {
    val x = values(v)
    val nullAt = firstNull(v)
    val table = new Array[Any](m)
    var j = 0
    while (j < m) {
      val row = new Array[Any](books(j).length)
      var c = 0
      while (c < row.length) {
        if (!subNull(v, nullAt, j, c)) row(c) = subDot(x, j, c)
        c += 1
      }
      table(j) = new GenericArrayData(row)
      j += 1
    }
    new GenericArrayData(table)
  }

  private def values(v: ArrayData): Array[Double] = {
    val x = new Array[Double](if (v == null) 0 else v.numElements())
    var i = 0
    while (i < x.length) { if (!v.isNullAt(i)) x(i) = v.getDouble(i); i += 1 }
    x
  }

  /** Index of v's first null element, its length when it has none. */
  private def firstNull(v: ArrayData): Int = {
    val n = if (v == null) 0 else v.numElements()
    var i = 0
    while (i < n && !v.isNullAt(i)) i += 1
    i
  }

  /** Length of the dot of subspace j's slice with code c. */
  private def subLen(len: Int, j: Int, c: Int): Int = {
    val start = j * ds
    math.min(if (start >= len) 0 else math.min(ds, len - start), books(j)(c).length)
  }

  private def subNull(v: ArrayData, nullAt: Int, j: Int, c: Int): Boolean =
    v == null || {
      val start = j * ds
      val until = start + subLen(v.numElements(), j, c)
      var i = math.max(start, nullAt)
      while (i < until && !v.isNullAt(i)) i += 1
      i < until
    }

  private def subDot(x: Array[Double], j: Int, c: Int): Double = {
    val b = books(j)(c)
    val start = j * ds
    val n = subLen(x.length, j, c)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(start + i) * b(i); i += 1 }
    s
  }

  /** Spark's `(score) >` on doubles with null below everything. */
  private def greater(s: Double, sNull: Boolean, best: Double,
      bestNull: Boolean): Boolean =
    !sNull && (bestNull || (s != best && java.lang.Double.compare(s, best) > 0))
}

object IvfPqConsts {
  /** `centroids`: (id, vector) pairs in any order; a null vector, or
    * null elements in one, score null like `graft_dot` does. */
  def apply(centroids: Seq[(Int, Array[java.lang.Double])],
      books: Array[Array[Array[Double]]], halfNormSq: Array[Array[Double]],
      ds: Int): IvfPqConsts = {
    val sorted = centroids.sortBy(_._1).toArray
    val vecs = sorted.map { case (_, cv) =>
      if (cv == null) null else cv.map(e => if (e == null) 0.0 else e.doubleValue)
    }
    val nullAt = sorted.map { case (_, cv) =>
      if (cv == null) 0 else { val k = cv.indexWhere(_ == null); if (k < 0) cv.length else k }
    }
    new IvfPqConsts(sorted.map(_._1), vecs, nullAt, books, halfNormSq, ds)
  }
}

/** One `array<double>` in, one call into the broadcast [[IvfPqConsts]]
  * out, per row.
  *
  * The constants ride in ONE Spark [[Broadcast]]: the task binary
  * carries only its handle, and each task fetches the value once, so
  * production-sized centroid matrices and codebooks never enter the
  * plan as literals (nor as m·ksub literal expressions the optimizer
  * and code generator walk on every plan). The generated code calls the
  * same method as `eval`, so both paths agree bit for bit. */
sealed abstract class IvfPqKernel extends UnaryExpression {
  def consts: Broadcast[IvfPqConsts]
  /** The [[IvfPqConsts]] method this kernel calls. */
  protected def method: String
  protected def call(k: IvfPqConsts, v: ArrayData): Any

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<double> argument, got ${t.sql}")
  }
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    call(consts.value, child.eval(input).asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[IvfPqConsts].getName
    val handle = ctx.addReferenceObj("ivfPqConsts", consts)
    // fetched once per generated instance (per task), not per row
    val k = ctx.addMutableState(cls, "ivfPqConsts",
      v => s"$v = ($cls) $handle.value();", forceInline = true)
    val in = child.genCode(ctx)
    ev.copy(code = code"""
      |${in.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $k.$method(${in.isNull} ? null : ${in.value});
      """.stripMargin, isNull = FalseLiteral)
  }
}

/** IVF centroid assignment and PQ encode of one L2-normalized vector in
  * a single pass: `struct<centroid_id: int, codes: array<int>>` (see
  * [[IvfPqConsts.encodeAssign]] for the exact argmax rules).
  *
  * It replaces a fan-out composition: cross-join every row with the
  * C + m·ksub constant rows, score each pair, then fold back with
  * `max_by(id, struct(score, −id))` per row — C + m·ksub rows per input
  * row through a sort-based aggregate, since a struct-valued buffer
  * cannot use the hash aggregate. Here each row is one projection
  * step: no join, no aggregate, no exchange. */
case class EncodeAssign(child: Expression, consts: Broadcast[IvfPqConsts])
    extends IvfPqKernel {
  override def dataType: DataType = EncodeAssign.ResultType
  override def prettyName: String = "graft_encode_assign"
  override protected def method: String = "encodeAssign"
  override protected def call(k: IvfPqConsts, v: ArrayData): Any = k.encodeAssign(v)
  override protected def withNewChildInternal(newChild: Expression): EncodeAssign =
    copy(child = newChild)
}

object EncodeAssign {
  val ResultType: StructType = StructType(Seq(
    StructField("centroid_id", IntegerType, nullable = true),
    StructField("codes", ArrayType(IntegerType, containsNull = true), nullable = false)))

  def column(vec: Column, consts: Broadcast[IvfPqConsts]): Column =
    Bridge.column(EncodeAssign(Bridge.expression(vec), consts))
}

/** The PQ asymmetric-distance table of one L2-normalized query,
  * `array<array<double>>` (see [[IvfPqConsts.adcTable]]): one native
  * call in place of m·ksub `graft_dot`s against literal codewords. */
case class AdcTable(child: Expression, consts: Broadcast[IvfPqConsts])
    extends IvfPqKernel {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = false)
  override def prettyName: String = "graft_adc_table"
  override protected def method: String = "adcTable"
  override protected def call(k: IvfPqConsts, v: ArrayData): Any = k.adcTable(v)
  override protected def withNewChildInternal(newChild: Expression): AdcTable =
    copy(child = newChild)
}

object AdcTable {
  def column(vec: Column, consts: Broadcast[IvfPqConsts]): Column =
    Bridge.column(AdcTable(Bridge.expression(vec), consts))
}
