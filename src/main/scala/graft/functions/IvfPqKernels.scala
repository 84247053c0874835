package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{ElementAt, Expression, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MathUtils}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
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

/** A row's inputs in, one call into a broadcast constants object out:
  * the one shape of every kernel in this file.
  *
  * The constants ride in ONE Spark [[Broadcast]]: the task binary
  * carries only its handle, and each task fetches the value once, so
  * production-sized centroid matrices, codebooks and query batches
  * never enter the plan as literals (nor as m·ksub literal expressions
  * the optimizer and code generator walk on every plan). The generated
  * code calls the same method as `eval`, so both paths agree bit for
  * bit: a child of primitive type passes as `(isNull, value)`, any
  * other as its value or null. */
sealed abstract class BroadcastKernel extends Expression {
  def consts: Broadcast[_ <: AnyRef]
  protected def constsClass: Class[_]
  /** The constants' method this kernel calls. */
  protected def method: String
  /** The children's types; an array matches whatever its nullability. */
  protected def inputTypes: Seq[DataType]
  /** `eval`'s call of [[method]] on the children's values. */
  protected def call(args: Seq[Any]): Any

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
    val cls = constsClass.getName
    val handle = ctx.addReferenceObj("kernelConsts", consts)
    // fetched once per generated instance (per task), not per row
    val k = ctx.addMutableState(cls, "kernelConsts",
      v => s"$v = ($cls) $handle.value();", forceInline = true)
    val ins = children.map(_.genCode(ctx))
    val args = children.zip(ins).map { case (c, in) =>
      if (CodeGenerator.isPrimitiveType(c.dataType)) s"${in.isNull}, ${in.value}"
      else s"${in.isNull} ? null : ${in.value}"
    }
    ev.copy(code = code"""
      |${ins.map(_.code).reduce(_ + _)}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $k.$method(${args.mkString(", ")});
      """.stripMargin, isNull = FalseLiteral)
  }
}

/** A [[BroadcastKernel]] over one L2-normalized `array<double>` and the
  * [[IvfPqConsts]]. */
sealed abstract class IvfPqKernel extends BroadcastKernel {
  def child: Expression
  def consts: Broadcast[IvfPqConsts]
  override def children: Seq[Expression] = Seq(child)
  override protected def constsClass: Class[_] = classOf[IvfPqConsts]
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
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
  override protected def call(args: Seq[Any]): Any =
    consts.value.encodeAssign(args.head.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): EncodeAssign =
    copy(child = c.head)
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
  override protected def call(args: Seq[Any]): Any =
    consts.value.adcTable(args.head.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): AdcTable =
    copy(child = c.head)
}

object AdcTable {
  def column(vec: Column, consts: Broadcast[IvfPqConsts]): Column =
    Bridge.column(AdcTable(Bridge.expression(vec), consts))
}

/** The query side of one IVF-PQ search batch, for [[ProbeAdc]]: for
  * each probed bucket, the batch positions of the queries probing it,
  * and each query's ADC table ([[IvfPqConsts.adcTable]]).
  *
  * `failOnError` is the session's ANSI mode when the search was
  * planned; each code lookup follows `element_at` under it. */
final class ProbeTables(probers: Map[Int, Array[Int]], tables: Array[ArrayData],
    failOnError: Boolean) extends Serializable {

  /** `(query_id, adc)` for every query probing `bucket` (none for a
    * null bucket), `query_id` being the query's batch position. The adc
    * is `element_at(element_at(T, j + 1), element_at(codes, j + 1) + 1)`
    * summed over the subspaces left to right, bit for bit: null once
    * the running sum is null (an addition with a null left side never
    * evaluates its right side, so later lookups cannot fail), and an
    * out-of-range or zero index fails or reads null as `element_at`
    * does (see [[elementAt]] for the one index where it cannot). */
  def adc(bucketNull: Boolean, bucket: Int, codes: ArrayData): ArrayData = {
    val qs = if (bucketNull) Array.emptyIntArray else probers.getOrElse(bucket, Array.emptyIntArray)
    val out = new Array[Any](qs.length)
    var i = 0
    while (i < qs.length) {
      out(i) = InternalRow(qs(i), adcOf(tables(qs(i)), codes))
      i += 1
    }
    new GenericArrayData(out)
  }

  private def adcOf(table: ArrayData, codes: ArrayData): Any = {
    var s = 0.0
    var j = 0
    while (j < table.numElements()) {
      val code = elementAt(codes, j + 1, IntegerType)
      if (code == null) return null
      val c = code.asInstanceOf[Int]
      val e = elementAt(table.getArray(j),
        if (failOnError) MathUtils.addExact(c, 1) else c + 1, DoubleType)
      if (e == null) return null
      // the sum starts at its first term: 0.0 + −0.0 would read 0.0
      s = if (j == 0) e.asInstanceOf[Double] else s + e.asInstanceOf[Double]
      j += 1
    }
    s
  }

  /** `element_at(arr, idx)`. Where it fails (a zero index, or out of
    * range under ANSI) Spark's own expression raises its error; out of
    * range otherwise is null, including `Int.MinValue` (a wrapped
    * `Int.MaxValue + 1`), which `element_at`'s own bounds check misses
    * and reads outside the array with. */
  private def elementAt(arr: ArrayData, idx: Int, t: DataType): Any =
    if (arr == null) null
    else {
      val n = arr.numElements()
      if (idx == 0 || idx > n || idx < -n) {
        if (idx != 0 && !failOnError) null
        else ElementAt(Literal(arr, ArrayType(t)), Literal(idx), None, failOnError).eval()
      } else {
        val i = if (idx > 0) idx - 1 else n + idx
        if (arr.isNullAt(i)) null else arr.get(i, t)
      }
    }
}

object ProbeTables {
  /** `probes(q)`: the buckets query q probes; `tables(q)`: its ADC
    * table. */
  def apply(probes: Seq[Seq[Int]], tables: Seq[ArrayData],
      failOnError: Boolean = SQLConf.get.ansiEnabled): ProbeTables = {
    val probers = probes.zipWithIndex
      .flatMap { case (bs, q) => bs.map(_ -> q) }
      .groupBy(_._1).map { case (b, qs) => b -> qs.map(_._2).toArray }
    new ProbeTables(probers, tables.toArray, failOnError)
  }
}


/** The rerank side of one search batch, for [[RerankCosine]]: for each
  * shortlisted corpus id, the batch positions of the queries that
  * shortlisted it, and each query's id (as a Catalyst value) and
  * L2-normalized vector. */
final class RerankVectors(candidates: Map[Long, Array[Int]], queryIds: Array[Any],
    queryVecs: Array[ArrayData]) extends Serializable {

  /** `(query_id, cosine)` for every query that shortlisted `id` (none
    * for a null id): `graft_dot(cv, qv)`, `cv` being the row's vector
    * as the plan normalized it. */
  def cosines(idNull: Boolean, id: Long, cv: ArrayData): ArrayData = {
    val qs = if (idNull) Array.emptyIntArray else candidates.getOrElse(id, Array.emptyIntArray)
    val out = new Array[Any](qs.length)
    var i = 0
    while (i < qs.length) {
      out(i) = InternalRow(queryIds(qs(i)), DotProduct.of(cv, queryVecs(qs(i))))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** The ADC scores of one encoded row against the batch queries probing
  * its bucket: `array<struct<query_id: int, adc: double>>`, `query_id`
  * being the batch position (see [[ProbeTables.adc]]), read with
  * `inline` — the multi-output operator shape. It replaces a broadcast
  * join of the corpus codes with the (query, probe) rows and an
  * m-lookup `element_at` sum per joined row. */
case class ProbeAdc(bucket: Expression, codes: Expression, consts: Broadcast[ProbeTables])
    extends BroadcastKernel {
  override def children: Seq[Expression] = Seq(bucket, codes)
  override def dataType: DataType = ProbeAdc.ResultType
  override def prettyName: String = "graft_probe_adc"
  override protected def constsClass: Class[_] = classOf[ProbeTables]
  override protected def method: String = "adc"
  override protected def inputTypes: Seq[DataType] = Seq(IntegerType, ArrayType(IntegerType))
  override protected def call(args: Seq[Any]): Any = consts.value.adc(args(0) == null,
    if (args(0) == null) 0 else args(0).asInstanceOf[Int], args(1).asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ProbeAdc =
    copy(bucket = c(0), codes = c(1))
}

object ProbeAdc {
  val ResultType: ArrayType = ArrayType(StructType(Seq(
    StructField("query_id", IntegerType, nullable = false),
    StructField("adc", DoubleType, nullable = true))), containsNull = false)

  /** `bucket`: int centroid id; `codes`: array<int>. */
  def column(bucket: Column, codes: Column, consts: Broadcast[ProbeTables]): Column =
    Bridge.column(ProbeAdc(Bridge.expression(bucket), Bridge.expression(codes), consts))
}

/** The exact cosines of one corpus row against the batch queries that
  * shortlisted it: `array<struct<query_id, cosine: double>>`,
  * `query_id` of the queries' own id type (see
  * [[RerankVectors.cosines]]), read with `inline`. It replaces two
  * broadcast joins (the shortlist onto the corpus, the query vectors
  * onto that) and a `graft_dot` per joined row. */
case class RerankCosine(id: Expression, vec: Expression,
    consts: Broadcast[RerankVectors], queryIdType: DataType) extends BroadcastKernel {
  override def children: Seq[Expression] = Seq(id, vec)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("query_id", queryIdType, nullable = true),
    StructField("cosine", DoubleType, nullable = true))), containsNull = false)
  override def prettyName: String = "graft_rerank_cosine"
  override protected def constsClass: Class[_] = classOf[RerankVectors]
  override protected def method: String = "cosines"
  override protected def inputTypes: Seq[DataType] = Seq(LongType, ArrayType(DoubleType))
  override protected def call(args: Seq[Any]): Any = consts.value.cosines(args(0) == null,
    if (args(0) == null) 0L else args(0).asInstanceOf[Long], args(1).asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): RerankCosine =
    copy(id = c(0), vec = c(1))
}

object RerankCosine {
  /** `id`: bigint corpus id; `vec`: array<double>, already normalized
    * (the rerank passes `Similarity.l2Normalize` of the stored vector). */
  def column(id: Column, vec: Column, consts: Broadcast[RerankVectors],
      queryIdType: DataType): Column =
    Bridge.column(RerankCosine(Bridge.expression(id), Bridge.expression(vec), consts, queryIdType))
}
