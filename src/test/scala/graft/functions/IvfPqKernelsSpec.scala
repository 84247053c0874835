package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The IVF-PQ kernels against the expressions they replaced, row for
  * row. The encode-assign kernel against every row crossed with the
  * C + m·ksub constant rows, scored with the same `graft_dot`
  * expressions and folded back per row with `max_by(id, struct(score,
  * −id))`, on the inputs where an argmax is easy to get wrong: ties, NaN
  * components, zero and null vectors, null elements, and non-contiguous
  * centroid ids. The ADC-table kernel against m·ksub `graft_dot`s with
  * literal codewords. */
class IvfPqKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val ds = 2
  // m = 2 subspaces × ksub = 3 codes; code 2 of subspace 0 duplicates
  // code 0 (a tie the lowest code must win), subspace 1 has a zero code
  private val books = Array(
    Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0)),
    Array(Array(0.0, 0.0), Array(-1.0, 0.5), Array(0.5, 0.5)))
  private val halfNormSq = books.map(_.map(c => 0.5 * c.map(x => x * x).sum))
  // non-contiguous ids, stored out of order; ids 12 and 3 hold the same
  // vector, so a row nearest to it must get 3
  private val centroids: Seq[(Int, Seq[Double])] = Seq(
    (12, Seq(0.0, 1.0, 0.0, 0.0)),
    (7, Seq(1.0, 0.0, 0.0, 0.0)),
    (3, Seq(0.0, 1.0, 0.0, 0.0)),
    (40, Seq(0.0, 0.0, 0.6, 0.8)))

  private val nan = Double.NaN
  private val rows: Seq[(Long, Option[Seq[Option[Double]]])] = Seq(
    1L -> Some(Seq(1.0, 0.0, 0.0, 0.0)),        // hit on 7, code tie 0 vs 2
    2L -> Some(Seq(0.0, 1.0, 0.0, 0.0)),        // tie 3 vs 12
    3L -> Some(Seq(0.6, 0.8, 0.0, 0.0)),        // nearer 3/12 than 7
    4L -> Some(Seq(0.0, 0.0, 0.6, 0.8)),        // hit on 40
    5L -> Some(Seq(0.0, 0.0, 0.0, 0.0)),        // zero vector: all ties
    6L -> Some(Seq(nan, 0.0, 0.0, 1.0)),        // NaN beats every number
    7L -> Some(Seq(0.0, 0.0, nan, nan)),        // NaN in subspace 1 only
    8L -> Some(Seq(-0.5, 0.5, -0.5, 0.5)),
    9L -> Some(Seq(0.5, 0.5, 0.5, 0.5)),
    10L -> Some(Seq(1.0, 0.0)),                 // shorter than dim
    11L -> Some(Seq(0.0, 1.0, 0.0, 0.0, 9.0))   // longer than dim
  ).map { case (i, v) => i -> v.map(_.map(Option(_))) } ++ Seq(
    12L -> None,                                // null vector
    13L -> Some(Seq(Some(1.0), None, Some(0.0), Some(1.0))) // null element
  )

  private lazy val input: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(rows.map { case (i, v) =>
      Row(i, v.map(_.map(_.map(Double.box).orNull)).orNull) }: _*),
    StructType(Seq(StructField("__id", LongType), StructField("__v", ArrayType(DoubleType)))))

  private lazy val centroidFrame = centroids.toDF("centroid_id", "__cv")

  /** The cross-join + `max_by` form the kernel replaced. */
  private def reference(rows: DataFrame, centroids: DataFrame): DataFrame = {
    val dot = GraftFunctions.dot _
    val bookRows = for { j <- books.indices; c <- books(j).indices }
      yield (1, j, c, books(j)(c).toSeq, halfNormSq(j)(c))
    val bf = bookRows.toDF("__kind", "__i1", "__i2", "__vec", "__h")
    val cf = centroids.select(lit(0).as("__kind"),
      col("centroid_id").cast("int").as("__i1"), lit(0).as("__i2"),
      col("__cv").as("__vec"), lit(0.0).as("__h"))
    val s = when(col("__kind") === 0, dot(col("__v"), col("__vec")))
      .otherwise(dot(slice(col("__v"), col("__i1") * ds + 1, lit(ds)),
        col("__vec")) - col("__h"))
    val scored = rows.crossJoin(broadcast(cf.unionByName(bf)))
      .select(col("__id"), col("__kind"), col("__i1"), col("__i2"), s.as("__s"))
    def pick(cond: Column, idc: Column): Column =
      max_by(when(cond, idc), when(cond, struct(col("__s"), -idc)))
    scored.groupBy(col("__id")).agg(
        pick(col("__kind") === 0, col("__i1")).as("centroid_id"),
        array(books.indices.map(j =>
          pick(col("__kind") === 1 && col("__i1") === j, col("__i2"))): _*).as("codes"))
  }

  private def kernel(rows: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val consts = IvfPqConsts(
      cents.map { case (i, v) => (i, v.map(Double.box).toArray) }, books, halfNormSq, ds)
    rows.select(col("__id"),
      EncodeAssign.column(col("__v"), spark.sparkContext.broadcast(consts)).as("__ea"))
      .select(col("__id"), col("__ea.centroid_id").as("centroid_id"),
        col("__ea.codes").as("codes"))
  }

  private def byId(df: DataFrame): Map[Long, (Option[Int], Seq[Option[Int]])] =
    df.collect().map { r =>
      r.getLong(0) -> ((if (r.isNullAt(1)) None else Some(r.getInt(1)),
        r.getSeq[Any](2).map(c => Option(c).map(_.asInstanceOf[Int]))))
    }.toMap

  test("kernel == cross-join + max_by reference, row for row (codegen and interpreted)") {
    val expected = byId(reference(input, centroidFrame))
    assert(expected.size == rows.size)
    val codegen = byId(kernel(input, centroids))
    assert(codegen == expected)
    val interpreted =
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        byId(kernel(input, centroids))
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    assert(interpreted == expected)
    // the cases the rules name, spelled out
    assert(expected(1L) == ((Some(7), Seq(Some(0), Some(0)))), "code tie 0 vs 2 goes to 0")
    assert(expected(2L)._1.contains(3), "centroid tie 3 vs 12 goes to 3")
    assert(expected(12L) == ((Some(3), Seq(Some(0), Some(0)))), "null vector: lowest id, zero codes")
    assert(expected(6L)._1.contains(3), "NaN scores win, lowest id among them")
  }

  test("null centroid vectors and null centroid elements score null like graft_dot") {
    val withNulls = Seq[(Int, Option[Seq[Option[Double]]])](
      (2, Some(Seq(Some(0.0), None, Some(1.0), Some(0.0)))), // null element
      (5, Some(Seq(Some(1.0), Some(0.0), Some(0.0), Some(0.0)))),
      (9, None))                                            // null vector
    val frame = withNulls.toDF("centroid_id", "__cv")
    val expected = byId(reference(input, frame))
    val consts = IvfPqConsts(withNulls.map { case (i, v) =>
      (i, v.map(_.map(_.map(Double.box).orNull).toArray).orNull) }, books, halfNormSq, ds)
    val got = byId(input.select(col("__id"),
      EncodeAssign.column(col("__v"), spark.sparkContext.broadcast(consts)).as("__ea"))
      .select(col("__id"), col("__ea.centroid_id"), col("__ea.codes")))
    assert(got == expected)
  }

  test("ADC table == the literal graft_dot table, element for element (codegen and interpreted)") {
    val dot = GraftFunctions.dot _
    val literal = array(books.indices.map { j =>
      val sub = slice(col("__v"), j * ds + 1, ds)
      array(books(j).indices.map(c => dot(sub, array(books(j)(c).map(lit).toSeq: _*))): _*)
    }: _*)
    val consts = spark.sparkContext.broadcast(IvfPqConsts(Nil, books, halfNormSq, ds))
    def tables(t: Column): Map[Long, Seq[Seq[Option[Double]]]] =
      input.select(col("__id"), t).collect().map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Any]](1).map(_.map(Option(_).map(_.asInstanceOf[Double])).toSeq).toSeq)
        .toMap
    // NaN != NaN: compare the raw bits
    def bits(m: Map[Long, Seq[Seq[Option[Double]]]]) =
      m.map { case (k, t) => k -> t.map(_.map(_.map(java.lang.Double.doubleToRawLongBits))) }
    val expected = bits(tables(literal))
    assert(expected.size == rows.size)
    assert(bits(tables(AdcTable.column(col("__v"), consts))) == expected)
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(bits(tables(AdcTable.column(col("__v"), consts))) == expected)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(expected(12L).flatten.forall(_.isEmpty), "null vector: every entry null")
  }

  test("no centroids ⇒ null centroid_id; no books ⇒ empty codes") {
    val consts = IvfPqConsts(Nil, Array.empty, Array.empty, 0)
    val r = input.filter(col("__id") === 1L)
      .select(EncodeAssign.column(col("__v"), spark.sparkContext.broadcast(consts)).as("e"))
      .head().getStruct(0)
    assert(r.isNullAt(0) && r.getSeq[Int](1).isEmpty)
  }

  test("non-double input is rejected at analysis") {
    val consts = IvfPqConsts(Nil, Array.empty, Array.empty, 0)
    intercept[Exception](Seq(Seq(1, 2)).toDF("v")
      .select(EncodeAssign.column(col("v"), spark.sparkContext.broadcast(consts))).collect())
  }
}
