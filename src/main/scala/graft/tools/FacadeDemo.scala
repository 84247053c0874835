package graft.tools

import org.apache.spark.sql.types._
import graft.Database
import graft.core.{ColumnSpec, Pred}

/** Runnable usage demo of the reference-parity facade (doubles as the
  * end-to-end drive for the library surface). */
object FacadeDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val db = new Database(spark, root)
    println(s"alive=${db.isAlive}")

    db.createTable("users", Seq(
      ColumnSpec("id", LongType), ColumnSpec("name", StringType),
      ColumnSpec("bal", DoubleType)), primaryKey = Seq("id"))
    db.upsert("users", Seq((1L, "ada", 10.0), (2L, "bob", 20.0))
      .toDF("id", "name", "bal"), Seq("id"))
    db.upsert("users", Seq((2L, None: Option[String], Some(99.0)))
      .toDF("id", "name", "bal"), Seq("id"))
    println("after upserts:")
    db.get("users", sortBy = Some("id")).show()

    val n = db.update("users", Seq((1L, "ada lovelace")).toDF("id", "name"), Seq("id"))
    println(s"update rowcount=$n")
    db.delete("users", Seq(Pred.Op("bal", ">", 50.0)))
    db.registerView("users")
    println("after delete, via raw SQL:")
    db.executeRaw("SELECT id, name, bal FROM users ORDER BY id").show()
    println(s"tables=${db.getTables} columns=${db.getTableColumns("users")}")
    spark.stop()
  }
}
