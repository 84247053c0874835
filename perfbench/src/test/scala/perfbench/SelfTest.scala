package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{Mutations, Pred}
import Gen._

/** The benchmark's own checks: `python3 perfbench/build.py --test`.
  * Exits non-zero if any check fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val benchmarkJson = args.lift(1)

    test("the same seed gives the same inputs") {
      eq(corpus(7), corpus(7), "corpus")
      assert(corpus(7).docs != corpus(8).docs, "two seeds gave one corpus")
      val p = CrudParams(rows = 200)
      eq(initialRows(7, p), initialRows(7, p), "crud rows")
      def stream(seed: Long) = {
        val m = new CrudModel(initialRows(seed, p)); val ops = new CrudOps(seed, p)
        (0 until 60).map { _ =>
          val op = ops.next(m)
          op match {
            case Upsert(b) => m.upsert(b)
            case Update(c) => m.update(c)
            case Delete(lo, hi, a) => m.delete(lo, hi, a)
            case _ => ()
          }
          op
        }
      }
      eq(stream(7), stream(7), "crud op stream")
      def flat(d: AnnData) = (d.corpus ++ d.queries ++ d.delta).map { case (i, v) => (i, v.toSeq) } ++
        d.forget.map(i => (i, Seq.empty[Double]))
      eq(flat(ann(7)), flat(ann(7)), "embeddings")
    }

    test("every crud block holds the fixed op mix") {
      val p = CrudParams(rows = 200)
      val m = new CrudModel(initialRows(3, p)); val ops = new CrudOps(3, p)
      val kinds = (0 until p.mix.sum * 3).map(_ => ops.next(m).getClass.getSimpleName)
      kinds.grouped(p.mix.sum).foreach { b =>
        eq(b.groupBy(identity).map { case (k, v) => k -> v.size },
          Map("PointGet" -> 4, "RangeGet" -> 4, "RawAgg" -> 4, "Upsert" -> 2, "Update" -> 2, "Delete" -> 2), "block")
      }
    }

    test("planted corpus truth is consistent") {
      val c = corpus(5)
      val all = c.docs.map(_.id).toSet
      val parts = Seq(c.lowQuality, c.singletons) ++ (c.exactGroups ++ c.clusters).map(_.toSet)
      eq(parts.map(_.size).sum, all.size, "partition size")
      eq(parts.reduce(_ ++ _), all, "partition cover")
    }

    test("order statistics: the tail rule (highest percentile with ten samples beyond it), medians") {
      eq(Stats.tailPercentile(19), None)
      eq(Stats.tailPercentile(20), Some(500))
      eq(Stats.tailPercentile(39), Some(500))
      eq(Stats.tailPercentile(40), Some(750))
      eq(Stats.tailPercentile(99), Some(750))
      eq(Stats.tailPercentile(100), Some(900))
      eq(Stats.tailPercentile(199), Some(900))
      eq(Stats.tailPercentile(200), Some(950))
      eq(Stats.tailPercentile(1000), Some(990))
      eq(Stats.tailPercentile(10000), Some(999))
      val xs = (1 to 100).map(_.toDouble)
      eq(Stats.percentile(xs, 900), 90.0)
      eq(Stats.percentile(xs, 500), 50.0)
      eq(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)), 2.5)
      eq(Stats.meanOfMedians(Seq(Seq(1.0, 2.0, 9.0), Seq(4.0))), 3.0)
    }

    test("span self time and idle arithmetic") {
      def span(id: Int, parent: Int, start: Long, end: Long) = {
        val s = new Span(id, s"s$id", parent, "traced", start, start * 1000000L)
        s.endMs = end; s.endNs = end * 1000000L; s
      }
      val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 40, 70), span(3, 2, 45, 50))
      val self = SpanMath.selfTimes(spans)
      eq(self(0), 50.0, "parent"); eq(self(1), 20.0, "leaf"); eq(self(2), 25.0, "nested"); eq(self(3), 5.0, "inner")
      eq(SpanMath.subtree(spans, 2), Set(2, 3))
      eq(SpanMath.innermostAt(spans, 47).map(_.id), Some(3))
      eq(SpanMath.innermostAt(spans, 35).map(_.id), Some(0))
      eq(SpanMath.unionLength(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100), 30L, "union")
      eq(SpanMath.unionLength(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8, 35), 17L, "clipped")
      // commit time: the key collect that ends after the call returned does not count
      eq(SpanMath.sinceLastJob(Seq(10L, 50L, 80L), 60L), Some(10.0), "since last job")
      eq(SpanMath.sinceLastJob(Seq(70L), 60L), None, "no job before the return")
    }

    test("crud model agrees with Mutations on a small table") {
      val spark = SparkSession.builder().master("local[1]").appName("perfbench-selftest")
        .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse").getOrCreate()
      try {
        spark.sparkContext.setLogLevel("ERROR")
        val schema = StructType(Seq(StructField("id", LongType, false), StructField("grp", IntegerType),
          StructField("name", StringType), StructField("amount", DoubleType), StructField("qty", LongType)))
        def df(rows: Seq[Row], s: StructType = schema) =
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)
        def rowOf(a: Acct) = Row(a.id, a.grp, a.name.orNull, a.amount.map(Double.box).orNull, a.qty)
        def accts(rows: Array[Row]) = rows.map(r => Acct(r.getLong(0), r.getInt(1), Option(r.getString(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getLong(4))).sortBy(_.id).toSeq
        val p = CrudParams(rows = 30)
        val model = new CrudModel(initialRows(11, p))
        var table = df(model.all.map(rowOf))
        val batch = Seq(
          UpRow(3, None, None, Some(1.5), None), // NULLs keep the old values
          UpRow(4, Some(9), Some("x"), None, Some(5)),
          UpRow(31, Some(2), None, Some(7.25), Some(1)), // a new key
          UpRow(32, Some(3), Some("y"), Some(0.5), Some(2)))
        table = Mutations.upsert(table, df(batch.map(u => Row(u.id, u.grp.map(Int.box).orNull,
          u.name.orNull, u.amount.map(Double.box).orNull, u.qty.map(Long.box).orNull))), Seq("id"))
        model.upsert(batch)
        eq(accts(table.collect()), model.all, "after upsert")
        val changes = Seq(Change(5, None, 11), Change(6, Some(2.0), 12), Change(999, Some(1.0), 1))
        val cs = StructType(Seq(schema("id"), schema("amount"), schema("qty")))
        val upd = df(changes.map(c => Row(c.id, c.amount.map(Double.box).orNull, c.qty)), cs)
        eq(Mutations.updateRowCount(table, upd, Seq("id")), model.update(changes), "update count")
        table = Mutations.update(table, upd, Seq("id"))
        eq(accts(table.collect()), model.all, "after update")
        table = Mutations.delete(table, Seq(Pred.Between("id", 1L, 20L), Pred.Op("amount", "<", 5000.0)))
        model.delete(1, 20, 5000.0)
        eq(accts(table.collect()), model.all, "after delete")
      } finally spark.stop()
    }

    benchmarkJson.filter(f => new java.io.File(f).exists).foreach { f =>
      test("BENCHMARK.json names exactly the metrics the runs print") {
        val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(f))
        def list(key: String) = {
          val it = j.get(key).elements(); val b = Seq.newBuilder[(String, String)]
          while (it.hasNext) { val m = it.next(); b += ((m.get("name").asText, m.get("unit").asText)) }
          b.result()
        }
        eq(list("end_to_end"), Main.EndToEnd, "end_to_end")
        eq(list("per_layer"), Main.PerLayer, "per_layer")
      }
    }

    if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
    println("all checks passed")
  }
}
