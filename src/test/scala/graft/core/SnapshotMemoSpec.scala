package graft.core

import graft.{Database, SparkSpec}
import graft.tools.Probe.jobsDuring
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The TableStore snapshot memo: frames served from schemas recorded at
  * write time read back exactly like a fresh `spark.read.parquet`, an
  * erasure by one instance reaches every other instance's memo, and the
  * table-store mutations run no job whose output nobody uses. */
class SnapshotMemoSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("graft-memo").toString

  private def versionDir(root: String, table: String, v: Int) =
    new Path(new Path(root, table), s"v$v").toString

  /** `served` has the schema (nullability and field metadata included)
    * and the rows of a fresh inferred read of `dir`. */
  private def assertReadsAsFresh(served: DataFrame, dir: String, key: String = "id"): Unit = {
    val fresh = spark.read.parquet(dir)
    assert(served.schema == fresh.schema,
      s"served ${served.schema.json}\nfresh  ${fresh.schema.json}")
    assert(served.orderBy(key).collect().toSeq == fresh.orderBy(key).collect().toSeq)
  }

  private val pk = new MetadataBuilder().putBoolean("primary_key", true).build()
  private val shapeSchema = StructType(Seq(
    StructField("id", LongType, nullable = false, pk),
    StructField("flag", BooleanType), StructField("i", IntegerType),
    StructField("f", FloatType), StructField("name", StringType),
    StructField("day", DateType), StructField("raw", BinaryType),
    StructField("amount", DecimalType(18, 4)),
    StructField("vec", ArrayType(DoubleType, containsNull = false)),
    StructField("nested", StructType(Seq(
      StructField("a", IntegerType, nullable = false),
      StructField("tags", ArrayType(StringType))))),
    StructField("ts", TimestampType), StructField("ts_ntz", TimestampNTZType),
    StructField("attrs", MapType(StringType, LongType))))

  private def shapeRow(id: Long): Row = Row(id, id % 2 == 0, id.toInt, id / 4f,
    if (id % 3 == 0) null else s"n$id", java.sql.Date.valueOf("2024-01-01"),
    Array[Byte](id.toByte, 7), new java.math.BigDecimal(s"$id.1250"),
    Seq(id.toDouble, -0.5), Row(id.toInt, Seq("x", null)),
    new java.sql.Timestamp(id * 1000L), java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(id),
    Map("k" -> id))

  private def shapes(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.map(shapeRow).asJava, shapeSchema)

  test("snapshots this store wrote, compacted or erased read back exactly like a fresh inferred read") {
    // the session's NTZ inference setting must not matter: the recorded
    // schema equals what the footers hold under either
    val ntzConf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.getOption(ntzConf)
    try Seq("true", "false").foreach { inferNtz =>
      spark.conf.set(ntzConf, inferNtz)
      val root = newRoot()
      val store = new TableStore(spark, root)
      store.write("shapes", shapes(1L to 12L))                        // v0
      assertReadsAsFresh(store.read("shapes"), versionDir(root, "shapes", 0))
      store.compact("shapes", maxRecordsPerFile = 5L)                 // v1
      assertReadsAsFresh(store.read("shapes"), versionDir(root, "shapes", 1))
      assert(store.forgetWhere("shapes", col("id") % 4 === 0) == 6L)
      Seq(0, 1).foreach(v =>
        assertReadsAsFresh(store.readVersion("shapes", v), versionDir(root, "shapes", v)))
      // an empty snapshot keeps the schema too
      store.write("shapes", shapes(Nil))                              // v2
      assertReadsAsFresh(store.read("shapes"), versionDir(root, "shapes", 2))
    } finally saved.fold(spark.conf.unset(ntzConf))(spark.conf.set(ntzConf, _))
  }

  test("a partitioned snapshot reads its partition columns as inference does (nothing recorded)") {
    val root = newRoot()
    val store = new TableStore(spark, root)
    // "01"/"02" directory names infer as integers: the frame's string
    // schema would be the wrong one to record
    store.write("parts", Seq((1L, "a", "01"), (2L, "b", "02")).toDF("id", "v", "month"),
      partitionBy = Seq("month"))
    assert(store.read("parts").schema("month").dataType == IntegerType)
    assertReadsAsFresh(store.read("parts"), versionDir(root, "parts", 0))
  }

  test("Database mutations keep autoincrement and PK metadata through the memo") {
    val root = newRoot()
    val db = new Database(spark, root)
    db.createTable("acct", Seq(
      ColumnSpec("id", LongType, nullable = false, autoincrement = true),
      ColumnSpec("name", StringType), ColumnSpec("bal", DecimalType(12, 2)),
      ColumnSpec("hist", ArrayType(DoubleType))), primaryKey = Seq("id"))
    val store = new TableStore(spark, root)
    def current() = versionDir(root, "acct", store.versions("acct").last)
    assertReadsAsFresh(db.getTable("acct"), current())
    db.upsert("acct", Seq(("a", BigDecimal(1), Seq(1.0)), ("b", BigDecimal(2), Seq(2.0)))
      .toDF("name", "bal", "hist"), Seq("id"))
    assertReadsAsFresh(db.getTable("acct"), current())
    assert(db.getTable("acct").schema("id").metadata.getBoolean("autoincrement"))
    assert(db.getTable("acct").schema("id").metadata.getBoolean("primary_key"))
    assert(db.update("acct", Seq((2L, "bb")).toDF("id", "name"), Seq("id")) == 1L)
    assertReadsAsFresh(db.getTable("acct"), current())
    db.delete("acct", Seq(Pred.Eq("id", 1L)))
    assertReadsAsFresh(db.getTable("acct"), current())
    assert(db.getTable("acct").select("name").as[String].collect().toSeq == Seq("bb"))
  }

  test("an erasure by one store instance is seen by another instance's memo") {
    val root = newRoot()
    val reader = new TableStore(spark, root)
    val eraser = new TableStore(spark, root)
    reader.write("u", (1L to 20L).toDF("id"))   // v0
    reader.write("u", (1L to 10L).toDF("id"))   // v1
    // the reader's memo now holds both versions' frames and file listings
    assert(reader.read("u").count() == 10L && reader.readVersion("u", 0).count() == 20L)
    val (_, hitJobs) = jobsDuring(spark)(reader.read("u"))
    assert(hitJobs.isEmpty, s"a memo hit runs no job: $hitJobs")
    assert(eraser.forgetWhere("u", col("id") % 2 === 0) == 10L + 5L)
    def ids(df: DataFrame) = df.as[Long].collect().sorted.toSeq
    assert(ids(reader.read("u")) == (1L to 10L).filter(_ % 2 == 1),
      "the reader must not serve pre-erasure rows of the current version")
    assert(ids(reader.readVersion("u", 0)) == (1L to 20L).filter(_ % 2 == 1),
      "the reader must not serve pre-erasure rows of history")
    // the reader's own later write and read stay consistent
    reader.write("u", (1L to 3L).toDF("id"))    // v2
    assert(ids(reader.read("u")) == Seq(1L, 2L, 3L))
  }

  test("update counts what the semi-join counts and writes what Mutations.update returns") {
    val s = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    def rows(xs: (java.lang.Long, String)*): DataFrame =
      spark.createDataFrame(xs.map { case (k, v) => Row(k, v) }.asJava, s)
    val target = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (3L, "c"), (null, "n"))
    val cases = Seq(
      "duplicate change keys" -> (target, Seq[(java.lang.Long, String)]((1L, "x"), (1L, "y"), (2L, "z"))),
      "unmatched keys" -> (target, Seq[(java.lang.Long, String)]((7L, "x"), (3L, "y"))),
      "NULL keys" -> (target, Seq[(java.lang.Long, String)]((null, "x"), (2L, "y"))),
      "duplicate target keys" -> (target ++ Seq[(java.lang.Long, String)]((2L, "b2"), (2L, "b3")),
        Seq[(java.lang.Long, String)]((2L, "x"))),
      "empty batch" -> (target, Seq.empty[(java.lang.Long, String)]),
      "empty table" -> (Seq.empty[(java.lang.Long, String)], Seq[(java.lang.Long, String)]((1L, "x"))))
    cases.foreach { case (what, (t, c)) =>
      val root = newRoot()
      new TableStore(spark, root).write("t", rows(t: _*))
      val db = new Database(spark, root)
      val before = db.getTable("t")
      val changes = rows(c: _*)
      val expectedCount = Mutations.updateRowCount(before, changes, Seq("id"))
      val expectedRows = Mutations.update(before, changes, Seq("id")).collect().map(_.toString).sorted.toSeq
      // a count that never arrives must fail the test, not hang the suite
      val n = scala.concurrent.Await.result(
        scala.concurrent.Future(db.update("t", changes, Seq("id")))(scala.concurrent.ExecutionContext.global),
        scala.concurrent.duration.Duration(120, "s"))
      assert(n == expectedCount, s"$what: update counted $n, the semi-join $expectedCount")
      assert(db.getTable("t").collect().map(_.toString).sorted.toSeq == expectedRows, what)
    }
  }

  test("a read right after a write runs no job, and update runs at most delete's jobs + 2") {
    val db = new Database(spark, newRoot())
    db.createTable("acct", Seq(ColumnSpec("id", LongType, nullable = false),
      ColumnSpec("amount", DoubleType)), primaryKey = Seq("id"))
    val (_, upsertJobs) = jobsDuring(spark)(db.upsert("acct",
      (1L to 200L).map(i => (i, i * 1.5)).toDF("id", "amount"), Seq("id")))
    // the listener must see the write's own jobs, or every bound below holds vacuously
    assert(upsertJobs.nonEmpty, "the listener recorded no job for the upsert")
    val (_, readJobs) = jobsDuring(spark)(db.getTable("acct"))
    assert(readJobs.isEmpty, s"the first read of a fresh snapshot ran jobs: $readJobs")
    val (_, deleteJobs) = jobsDuring(spark)(db.delete("acct", Seq(Pred.Op("id", "<", 10L))))
    assert(deleteJobs.nonEmpty, "the listener recorded no job for the delete")
    val (n, updateJobs) = jobsDuring(spark)(db.update("acct",
      (5L to 30L).map(i => (i, -1.0)).toDF("id", "amount"), Seq("id")))
    assert(n == 21L)
    assert(updateJobs.size <= deleteJobs.size + 2,
      s"update ran ${updateJobs.size} jobs ($updateJobs), delete ${deleteJobs.size} ($deleteJobs)")
  }
}
