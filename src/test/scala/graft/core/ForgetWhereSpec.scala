package graft.core

import graft.SparkSpec
import graft.tools.Probe.jobsDuring
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** `TableStore.forgetWhere` counts what it removes on the scan that
  * already materializes each version: the count equals the two-count
  * `before − after` it replaced, and each version costs the checkpoint
  * and the rewrite, nothing more. */
class ForgetWhereSpec extends SparkSpec {
  import spark.implicits._

  private def newStore() =
    new TableStore(spark, Files.createTempDirectory("graft-forget").toString)

  // (id, v): v is NULL on every third row, so `v = …` is NULL there
  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, if (i % 3 == 0) None else Some(i % 5))).toDF("id", "v")

  /** forgetWhere under a guard: an observation that never arrives fails
    * the test after 120 s instead of hanging the suite. */
  private def forget(store: TableStore, t: String, cond: Column): Long =
    Await.result(Future(store.forgetWhere(t, cond)), 120.seconds)

  /** The count the pre-observation forgetWhere reported. */
  private def beforeMinusAfter(store: TableStore, t: String, cond: Column): Long =
    store.versions(t).map { v =>
      val cur = store.readVersion(t, v)
      cur.count() - cur.filter(!coalesce(cond, lit(false))).count()
    }.sum

  Seq[(String, Column, Seq[Range])](
    ("an empty version", col("v") === 1, Seq(1 to 30, 1 to 0, 31 to 40)),
    ("no match", col("v") === 99, Seq(1 to 30, 31 to 40)),
    ("every row matching", col("id") > 0, Seq(1 to 30, 31 to 40)),
    ("a condition that is NULL on some rows", col("v") === 2, Seq(1 to 30, 1 to 45)),
    ("a condition that is NULL on every row", lit(null).cast("boolean"), Seq(1 to 30))
  ).foreach { case (what, cond, versions) =>
    test(s"forgetWhere count == before − after: $what") {
      val store = newStore()
      versions.foreach(r => store.write("t", rows(r)))
      val expected = beforeMinusAfter(store, "t", cond)
      val keptBefore = store.versions("t").map(v =>
        store.readVersion("t", v).filter(!coalesce(cond, lit(false))).count())
      assert(forget(store, "t", cond) == expected)
      assert(store.versions("t").map(v => store.readVersion("t", v).count()) == keptBefore)
    }
  }

  test("forgetWhere over 2 versions runs at most 2 jobs per version") {
    val store = newStore()
    store.write("t", rows(1 to 30))
    store.write("t", rows(1 to 60))
    val expected = beforeMinusAfter(store, "t", col("v") === 1)
    val (removed, jobs) = jobsDuring(spark)(forget(store, "t", col("v") === 1))
    assert(removed == expected && expected > 0)
    assert(jobs.nonEmpty, "the census saw no job at all")
    assert(jobs.size <= 2 * 2, jobs.mkString("\n"))
  }
}
