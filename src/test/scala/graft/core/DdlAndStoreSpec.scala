package graft.core

import graft.SparkSpec
import org.apache.spark.sql.types._
import java.nio.file.Files

class DdlAndStoreSpec extends SparkSpec {
  import spark.implicits._

  private def newStore() =
    new TableStore(spark, Files.createTempDirectory("graft-store").toString)

  test("TableStore: snapshot write/read/version swap + catalog ops (D2-D7)") {
    val store = newStore()
    assert(!store.tableExists("t"))
    store.write("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(store.tableExists("t"))
    assert(store.listTables() == Seq("t"))
    assert(store.listColumns("t") == Seq("id", "v"))
    assert(store.count("t") == 2)
    // new snapshot replaces the old atomically (pointer swap)
    store.write("t", Seq((3L, "c")).toDF("id", "v"))
    assert(store.read("t").select("id").as[Long].collect().toSeq == Seq(3L))
    store.drop("t")
    assert(!store.tableExists("t"))
  }

  test("time travel: readVersion serves immutable history; versions lists committed only") {
    val store = newStore()
    store.write("tt", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))  // v0
    store.write("tt", Seq((3L, "c")).toDF("id", "v"))             // v1
    store.write("tt", Seq((4L, "d"), (5L, "e"), (6L, "f")).toDF("id", "v")) // v2
    assert(store.versions("tt") == Seq(0, 1, 2))
    assert(store.readVersion("tt", 0).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(store.readVersion("tt", 1).select("id").as[Long].collect().toSeq == Seq(3L))
    // current read == newest version
    assert(store.read("tt").count() == store.readVersion("tt", 2).count())
    // a later write never rewrites history
    store.write("tt", Seq((9L, "z")).toDF("id", "v"))
    assert(store.readVersion("tt", 0).count() == 2)
    // uncommitted / absent versions are refused loudly
    intercept[IllegalArgumentException](store.readVersion("tt", 99))
  }

  test("compact + expireVersions: layout-only rewrite, bounded history, current always kept") {
    val store = newStore()
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    store.write("c", df.repartition(8))          // v0: 8 files
    val (nFrag, totFrag, _, _) = store.layoutStats("c")
    assert(nFrag == 8, s"fragmented layout should show 8 files, got $nFrag")
    store.compact("c", maxRecordsPerFile = 1000) // v1: same data, new layout
    val (nComp, totComp, minComp, maxComp) = store.layoutStats("c")
    assert(nComp < nFrag, s"compaction must shrink the file count: $nComp")
    assert(minComp > 0 && maxComp <= totComp && totComp <= totFrag + totFrag / 2,
      "compacted bytes in a sane envelope (less per-file overhead)")
    assert(store.versions("c") == Seq(0, 1))
    assert(store.read("c").select("id").as[Long].collect().sorted.toSeq ==
      (1L to 100L).toSeq, "compaction must be data-identical")
    store.write("c", df.filter($"id" <= 50L))    // v2
    val deleted = store.expireVersions("c", keepLast = 2)
    assert(deleted == Seq(0))
    assert(store.versions("c") == Seq(1, 2))
    // the current version survives even at keepLast = 1
    assert(store.expireVersions("c", 1) == Seq(1))
    assert(store.read("c").count() == 50)
    intercept[IllegalArgumentException](store.expireVersions("c", 0))
    // retention guard (r15, r14 verdict What's-missing #3): a read of
    // an expired version fails BY NAME — table, version, and the
    // keepLast that doomed it — not as a bare no-such-version
    val e = intercept[IllegalStateException](store.readVersion("c", 0))
    assert(e.getMessage.contains("v0") && e.getMessage.contains("table c") &&
      e.getMessage.contains("expireVersions(keepLast=2)") &&
      e.getMessage.contains("retained: 2"), e.getMessage)
    val e1 = intercept[IllegalStateException](store.readVersion("c", 1))
    assert(e1.getMessage.contains("expireVersions(keepLast=1)"), e1.getMessage)
    // a TRULY absent version still reads as the plain refusal
    intercept[IllegalArgumentException](store.readVersion("c", 99))
  }

  test("forgetWhere: erasure reaches EVERY committed version; history shape and pointer survive") {
    val store = newStore()
    val df = (1L to 40L).map(i => (i, s"u$i")).toDF("id", "v")
    assert(store.write("gdpr", df) == 0)
    assert(store.write("gdpr", df.filter($"id" <= 30L)) == 1) // current
    // id sets, not counts: the shared session's ContextCleaner may drop
    // other suites' dying caches concurrently
    def ids() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = ids()
    val removed = store.forgetWhere("gdpr", $"id" % 10L === 0L)
    assert(removed == 4L + 3L, s"removed $removed") // v0: 10,20,30,40; v1: 10,20,30
    assert((ids() -- before).isEmpty,
      "each rewritten version's checkpoint must be freed, not left persistent")
    assert(store.versions("gdpr") == Seq(0, 1), "history shape preserved")
    assert(store.readVersion("gdpr", 0).filter($"id" % 10L === 0L).count() == 0,
      "erasure must reach historical versions, not just the current one")
    assert(store.read("gdpr").as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      (1L to 30L).filter(_ % 10 != 0).toSeq, "current pointer intact, survivors intact")
    // NULL condition keeps the row (only a definite match erases)
    val withNull = Seq((Some(1L), "a"), (None, "b")).toDF("k", "v")
    store.write("gdpr_n", withNull)
    assert(store.forgetWhere("gdpr_n", $"k" === 1L) == 1L)
    assert(store.read("gdpr_n").count() == 1L, "NULL-keyed row survives")
  }

  test("partitioned snapshots prune partitions at the scan") {
    val store = newStore()
    val df = Seq((1L, "a", "2024-01"), (2L, "b", "2024-01"), (3L, "c", "2024-02"))
      .toDF("id", "v", "month")
    store.write("events_p", df, partitionBy = Seq("month"))
    val filtered = store.read("events_p").filter($"month" === "2024-01")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("month#") && plan.contains("2024-01"), plan)
    assert(filtered.count() == 2)
    // partition column round-trips; non-matching partition never read
    assert(store.read("events_p").columns.toSet == Set("id", "v", "month"))
  }

  test("createTable: create-if-absent, then additive evolution on re-declare (D9/D10)") {
    val store = newStore()
    Ddl.createTable(store, spark, "t", Seq(
      ColumnSpec("id", LongType), ColumnSpec("v", StringType)))
    assert(store.read("t").columns.toSeq == Seq("id", "v"))
    store.write("t", Seq((1L, "a")).toDF("id", "v"))
    // re-declare with an extra column: existing rows null-filled, nothing dropped
    Ddl.createTable(store, spark, "t", Seq(
      ColumnSpec("id", LongType), ColumnSpec("v", StringType),
      ColumnSpec("score", DoubleType, default = Some(0.0))))
    val out = store.read("t")
    assert(out.columns.toSeq == Seq("id", "v", "score"))
    assert(out.select("score").as[Double].collect().toSeq == Seq(0.0))
  }

  test("createTable with checkExisting=false THROWS on an existing table (no silent replace)") {
    val store = newStore()
    store.write("t", Seq((1L, "a")).toDF("id", "v"))
    intercept[IllegalStateException] {
      Ddl.createTable(store, spark, "t", Seq(ColumnSpec("id", LongType)),
        checkExisting = false)
    }
    // the data is untouched
    assert(store.read("t").count() == 1)
  }

  test("createTable records primaryKey/unique membership in field metadata") {
    val store = newStore()
    Ddl.createTable(store, spark, "meta_t", Seq(
      ColumnSpec("id", LongType), ColumnSpec("email", StringType),
      ColumnSpec("v", StringType)),
      primaryKey = Seq("id"), uniqueColumns = Seq("email"))
    val fields = store.read("meta_t").schema.fields.map(f => f.name -> f.metadata).toMap
    assert(fields("id").contains("primary_key") && fields("id").getBoolean("primary_key"))
    assert(fields("email").contains("unique") && fields("email").getBoolean("unique"))
    assert(!fields("v").contains("primary_key"))
  }

  test("pointer LOSS on a swapped table refuses loudly; restoring the pointer recovers (r14 fence)") {
    val dir = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, dir)
    store.write("t", Seq((1L, "a")).toDF("id", "v"))
    store.write("t", Seq((2L, "b")).toDF("id", "v")) // v1 is current
    // manual damage that lost the pointer: pre-r14 this silently served
    // the newest complete dir (which can be a never-current phantom);
    // the _SWAPPED breadcrumb now makes it refuse by name instead
    val latest = new java.io.File(s"$dir/t/_LATEST")
    assert(latest.delete())
    intercept[IllegalStateException](store.tableExists("t"))
    intercept[IllegalStateException](store.read("t"))
    // the operator restores the pointer; the chain continues
    java.nio.file.Files.write(latest.toPath, "1".getBytes("UTF-8"))
    assert(store.read("t").select("id").as[Long].collect().toSeq == Seq(2L))
    store.write("t", Seq((3L, "c")).toDF("id", "v"))
    assert(store.read("t").select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("pre-first-swap recovery ignores INCOMPLETE snapshot dirs (no _SUCCESS)") {
    val dir = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, dir)
    // a table that NEVER swapped: v1 committed directly, torn v9 beside
    // it, no pointer — the fallback must serve v1, never the torn v9
    Seq((2L, "b")).toDF("id", "v").write.mode("overwrite")
      .parquet(s"$dir/t/v1")
    val partial = new java.io.File(s"$dir/t/v9"); partial.mkdirs()
    java.nio.file.Files.write(partial.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(store.read("t").select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("TableStore.write caps rows per output file (small/giant-files guard)") {
    val dir = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, dir)
    store.write("t", spark.range(100).toDF("id").coalesce(1), maxRecordsPerFile = 30L)
    val files = new java.io.File(s"$dir/t/v0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4, files.map(_.getName).mkString(",")) // 30+30+30+10
    assert(store.count("t") == 100)
  }

  test("addColumn default + conformTo read-side evolution") {
    val df = Seq((1L, "a")).toDF("id", "v")
    val evolved = Ddl.addColumn(df, ColumnSpec("n", IntegerType, default = Some(7)))
    assert(evolved.select("n").as[Int].collect().toSeq == Seq(7))
    val schema = StructType(Seq(
      StructField("v", StringType), StructField("id", LongType),
      StructField("extra", DoubleType)))
    val conformed = Ddl.conformTo(df, schema)
    assert(conformed.columns.toSeq == Seq("v", "id", "extra"))
    assert(conformed.first().isNullAt(2))
  }

  test("validateUnique + dense id assignment (D16, SURVEY §7.5)") {
    val dup = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v")
    assert(!Ddl.validateUnique(dup, Seq("id")))
    assert(Ddl.validateUnique(dup, Seq("id", "v")))
    val ids = Ddl.assignIds(dup.drop("id"), "id", Seq("v"))
      .select("id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L)) // dense, 1-based, no gaps
  }

  test("autoincrement ASSIGNMENT: insert-without-id gets dense server ids (D16, main.py:33)") {
    val root = Files.createTempDirectory("graft-store").toString
    val db = new graft.Database(spark, root)
    db.createTable("acct", Seq(
      ColumnSpec("id", LongType, nullable = false, autoincrement = true),
      ColumnSpec("name", StringType)), primaryKey = Seq("id"))
    // batch with NO id column: ids 1..3 in name order
    db.upsert("acct", Seq("bb", "aa", "cc").toDF("name"), pk = Seq("id"))
    val t1 = db.getTable("acct").select("id", "name").as[(Long, String)]
      .collect().toSeq.sorted
    assert(t1 == Seq((1L, "aa"), (2L, "bb"), (3L, "cc")))
    // mixed batch: explicit id updates in place, NULL ids continue from max
    val b2 = Seq((Some(2L), "bb-upd"), (None, "dd"), (None, "a-late"))
      .toDF("id", "name")
    db.upsert("acct", b2, pk = Seq("id"))
    val t2 = db.getTable("acct").select("id", "name").as[(Long, String)]
      .collect().toSeq.sorted
    assert(t2 == Seq((1L, "aa"), (2L, "bb-upd"), (3L, "cc"),
      (4L, "a-late"), (5L, "dd"))) // name order among the NULL-id rows
    // fully-supplied batch passes through untouched (no re-assignment)
    db.upsert("acct", Seq((10L, "explicit")).toDF("id", "name"), pk = Seq("id"))
    assert(db.getTable("acct").count() == 6)
    assert(db.getTable("acct").filter($"id" === 10L).count() == 1)
    // the declared constraint metadata SURVIVES mutation writes (join/
    // coalesce strip field metadata; preserveMetadata restores it) —
    // without this, assignment silently stops after the first upsert
    val idField = db.getTable("acct").schema("id")
    assert(idField.metadata.contains("autoincrement") &&
      idField.metadata.getBoolean("autoincrement"))
    assert(idField.metadata.contains("primary_key"))
  }

  test("fillAutoincrement: empty table starts at 1; explicit batch max advances the sequence") {
    val target = Seq.empty[(Long, String)].toDF("id", "v")
    val filled = Ddl.fillAutoincrement(target, Seq("x", "y").toDF("v"), "id", Seq("v"))
    assert(filled.select("id").as[Long].collect().toSeq.sorted == Seq(1L, 2L))
    // explicit id 100 in the batch pushes fresh assignments past it
    val mixed = Seq((Some(100L), "q"), (None, "r")).toDF("id", "v")
    val filled2 = Ddl.fillAutoincrement(
      Seq((7L, "old")).toDF("id", "v"), mixed, "id", Seq("v"))
    assert(filled2.select("id", "v").as[(Long, String)].collect().toSet ==
      Set((100L, "q"), (101L, "r")))
  }

  test("metadata carries default/autoincrement/fk (D16)") {
    val f = ColumnSpec("id", LongType, autoincrement = true,
      default = Some(0), foreignKey = Some("other.id")).toField
    assert(f.metadata.getBoolean("autoincrement"))
    assert(f.metadata.getString("foreign_key") == "other.id")
    assert(f.metadata.getString("default") == "0")
  }

  test("ALTER TABLE ADD COLUMNS as raw SQL evolves the store snapshot (D10/D15)") {
    val root = Files.createTempDirectory("graft-store").toString
    val db = new graft.Database(spark, root)
    // the default (public) namespace IS the root — a store pointed at
    // the same path sees the same tables
    val store = new TableStore(spark, root)
    store.write("t", Seq((1L, "a")).toDF("id", "v"))
    // parenthesized multi-column form
    val evolved = db.executeRaw("ALTER TABLE t ADD COLUMNS (quality DOUBLE, note STRING)")
    assert(evolved.columns.toSeq == Seq("id", "v", "quality", "note"))
    assert(store.listColumns("t") == Seq("id", "v", "quality", "note"))
    // existing rows null-filled, data kept
    val row = store.read("t").first()
    assert(row.getLong(0) == 1L && row.isNullAt(2) && row.isNullAt(3))
    // bare single-column form; idempotent (additive evolution never dups)
    db.executeRaw("ALTER TABLE t ADD COLUMN quality DOUBLE")
    assert(store.listColumns("t") == Seq("id", "v", "quality", "note"))
    // parenthesized TYPES must parse in the bare form too (the
    // reference DB's canonical money type)
    db.executeRaw("ALTER TABLE t ADD COLUMN price DECIMAL(10,2)")
    assert(store.listColumns("t") == Seq("id", "v", "quality", "note", "price"))
    assert(store.read("t").schema("price").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2))
    // the refreshed temp view sees the new schema through executeRaw
    assert(db.executeRaw("SELECT quality FROM t").columns.toSeq == Seq("quality"))
    // NOT NULL without a default is refused — existing rows would
    // violate the declared constraint the moment it was added
    intercept[IllegalArgumentException] {
      db.executeRaw("ALTER TABLE t ADD COLUMN strict BIGINT NOT NULL")
    }
    assert(!store.listColumns("t").contains("strict"))
    // a non-ALTER statement still goes straight to Catalyst
    assert(db.executeRaw("SELECT 1 AS one").first().getInt(0) == 1)
  }
}
