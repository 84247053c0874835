package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Database
import graft.core.{ColumnSpec, Pred, Query, SortKey, TableStore}
import Gen._

/** `crud`: the reference's `Database` surface on one PK table. A fixed
  * seeded mix of point gets, filtered range gets, raw aggregates,
  * COALESCE upserts, keyed updates and predicate deletes, keys skewed
  * toward recent rows. Every read is checked against [[CrudModel]]. */
final class Crud(spark: SparkSession, tr: Tracer, seed: Long)
    extends Workload(spark, tr, seed) {
  val name = "crud"
  val params = CrudParams()
  val table = "accounts"
  val warmCycles = 2
  val minCycles = 3
  val stepSpans = Set("crud.read", "crud.upsert", "crud.update", "crud.delete")

  private var db: Database = _
  private var store: TableStore = _
  private var model: CrudModel = _
  private var ops: CrudOps = _
  private var readChecks = 0
  private var readOk = 0

  private val schema = StructType(Seq(
    StructField("id", LongType, false), StructField("grp", IntegerType, true),
    StructField("name", StringType, true), StructField("amount", DoubleType, true),
    StructField("qty", LongType, true)))

  private def frame(rows: Seq[Row], s: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)

  def setup(dir: String): Unit = {
    val init = initialRows(seed, params)
    db = new Database(spark, dir)
    store = new TableStore(spark, dir)
    db.createTable(table, Seq(
      ColumnSpec("id", LongType, nullable = false), ColumnSpec("grp", IntegerType),
      ColumnSpec("name", StringType), ColumnSpec("amount", DoubleType),
      ColumnSpec("qty", LongType)), primaryKey = Seq("id"))
    db.upsert(table, frame(init.map(a => Row(a.id, a.grp, a.name.orNull,
      a.amount.map(Double.box).orNull, a.qty)), schema), Seq("id"))
    model = new CrudModel(init)
    ops = new CrudOps(seed, params)
  }

  private def acct(r: Row): Acct = Acct(r.getLong(0), r.getInt(1),
    Option(r.getString(2)), if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getLong(4))

  private val cols = Seq("id", "grp", "name", "amount", "qty")

  private def read(leaf: String)(q: DataFrame => Array[Row]): Array[Row] =
    tr.span("crud.read") {
      val df = tr.span("crud.get_table")(db.getTable(table))
      tr.span(leaf) { val rows = q(df); tr.count("rows", rows.length); rows }
    }

  /** Bytes the caller hands over: the batch's non-null field widths. */
  private def userBytes(rows: Seq[Row]): Long = rows.map { r =>
    (0 until r.length).filterNot(r.isNullAt).map(i => r.get(i) match {
      case s: String => s.getBytes("UTF-8").length.toLong
      case _: java.lang.Integer => 4L
      case _ => 8L
    }).sum
  }.sum

  private def write(leaf: String, user: Long)(body: => Unit): Unit =
    tr.span("crud.write") {
      tr.span(leaf)(body)
      if (tr.tracing) {
        val s = tr.all.last.ensuring(_.name == leaf)
        val (files, bytes, _, _) = store.layoutStats(table)
        s.counters("files") = files
        if (user > 0) s.counters("bytes_per_user_byte") = bytes.toDouble / user
      }
    }

  def cycle(i: Int): Unit = {
    (0 until ops.blockSize).foreach(_ => step())
    countCheck(s"block $i")
  }

  private def step(): Unit =
    ops.next(model) match {
      case PointGet(id) =>
        val rows = read("crud.get_point")(df => Query.get(df, where = Seq(Pred.Eq("id", id))).collect())
        readCheck(s"get_point $id")(rows.map(acct).toSeq == model.get(id).toSeq)
      case RangeGet(lo, hi, minAmount, limit, offset) =>
        val rows = read("crud.get_range")(df => Query.get(df, cols,
          Seq(Pred.Between("id", lo, hi), Pred.Op("amount", ">", minAmount)),
          Seq(SortKey("id", ascending = false)), limit, offset).collect())
        readCheck(s"get_range $lo..$hi")(
          rows.map(acct).toSeq == model.rangeGet(lo, hi, minAmount, limit, offset))
      case RawAgg(g) =>
        val rows = tr.span("crud.read") {
          tr.span("crud.get_table")(db.registerView(table))
          tr.span("crud.raw_agg") {
            val r = db.executeRaw(s"SELECT COUNT(*) AS n, MIN(amount) AS lo, MAX(amount) AS hi " +
              s"FROM $table WHERE grp = $g").collect()
            tr.count("rows", r.length); r
          }
        }
        val (n, lo, hi) = model.agg(g)
        readCheck(s"raw_agg $g")(rows.length == 1 && rows(0).getLong(0) == n &&
          Option(rows(0).get(1)) == lo && Option(rows(0).get(2)) == hi)
      case Upsert(batch) =>
        val rows = batch.map(u => Row(u.id, u.grp.map(Int.box).orNull, u.name.orNull,
          u.amount.map(Double.box).orNull, u.qty.map(Long.box).orNull))
        var keys = Set.empty[Long]
        write("crud.upsert", userBytes(rows)) {
          val touched = db.upsert(table, frame(rows, schema), Seq("id"))
          tr.built() // the commit is done; the returned key frame is lazy
          keys = touched.collect().map(_.getLong(0)).toSet
        }
        model.upsert(batch)
        check("upsert returns the touched keys")(keys == batch.map(_.id).toSet)
      case Update(changes) =>
        val s = StructType(Seq(schema("id"), schema("amount"), schema("qty")))
        val rows = changes.map(c => Row(c.id, c.amount.map(Double.box).orNull, c.qty))
        var n = -1L
        write("crud.update", userBytes(rows)) { n = db.update(table, frame(rows, s), Seq("id")) }
        check("update returns the matched row count")(n == model.update(changes))
      case Delete(lo, hi, maxAmount) =>
        write("crud.delete", 0L)(db.delete(table,
          Seq(Pred.Between("id", lo, hi), Pred.Op("amount", "<", maxAmount))))
        model.delete(lo, hi, maxAmount)
    }

  /** After each block, outside its timed spans: the table holds as many
    * rows as the model. Counts are absolute, so a wrong row count from
    * any write of the block shows here; the final check compares every row. */
  private def countCheck(what: String): Unit = tr.span("crud.check") {
    check(s"$what leaves the model's row count")(db.getTableCount(table) == model.size)
  }

  /** The whole table equals the model once the measured blocks are done. */
  override def finish(): Unit = tr.span("crud.check") {
    check("the final table equals the model")(
      db.getTable(table).select(cols.head, cols.tail: _*).collect().map(acct).sortBy(_.id).toSeq == model.all)
  }

  private def readCheck(what: String)(ok: Boolean): Unit = {
    readChecks += 1; if (ok) readOk += 1
    check(what)(ok)
  }

  override def resetCounts(): Unit = { readChecks = 0; readOk = 0 }

  private val readLeaves = Seq("crud.read")
  private val writeLeaves = Seq("crud.upsert", "crud.update", "crud.delete")

  /** Read walls (table lookup included) by read kind: point, range, aggregate. */
  private def readsByKind(measured: Seq[Span]): Seq[Seq[Double]] = {
    val kindOf = measured.filter(s => Set("crud.get_point", "crud.get_range", "crud.raw_agg")(s.name))
      .map(s => s.parent -> s.name).toMap
    measured.filter(_.name == "crud.read").groupBy(s => kindOf(s.id)).values.map(_.map(_.wallMs)).toSeq
  }

  def generic(measured: Seq[Span]): Map[String, Double] = {
    val blockS = perCycleS(measured, stepSpans)
    Map(
      "throughput_per_s" -> ops.blockSize / blockS,
      "quality_ratio" -> readOk.toDouble / math.max(1, readChecks),
      "cycle_s" -> blockS,
      "commit_ms" -> Stats.meanOfMedians(wallsByName(measured, writeLeaves: _*)),
      "query_ms" -> Stats.meanOfMedians(readsByKind(measured)))
  }

  val aliases = Seq(("ops_per_s", "throughput_per_s", "1/s"))

  def report(measured: Seq[Span]): Seq[Metric] = {
    val r = walls(measured, readLeaves: _*); val w = walls(measured, writeLeaves: _*)
    // the tail rule on this run's sample counts; the unit names the percentile
    def tail(kind: String, xs: Seq[Double]) = Stats.tailPercentile(xs.size) match {
      case Some(pm) => Metric(s"${kind}_tail_ms", Stats.percentile(xs, pm), s"ms@p${pm / 10.0}")
      case None => Metric(s"${kind}_tail_ms", Double.NaN, s"none(${xs.size}-samples)")
    }
    Seq(
      Metric("read_p50_ms", Stats.median(r), "ms"),
      tail("read", r),
      Metric("write_p50_ms", Stats.median(w), "ms"),
      tail("write", w),
      Metric("reads", r.size.toDouble, "count"),
      Metric("writes", w.size.toDouble, "count"),
      Metric("read_share", r.size.toDouble / (r.size + w.size), "ratio"),
      Metric("table_rows", model.size.toDouble, "rows"))
  }
}
