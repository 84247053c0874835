package graft
import graft.util.Json
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name-substring filter for fast
    // targeted local checks (the driver always passes exactly two args)
    val (sfDir, outDir) = (args(0), args(1))
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.select(args.lift(2)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // queries are independent; keep memory flat
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Rows-only justification tripwire (r14 verdict item 5): the gate
    // carries exactly two BY-DESIGN rows-only entries — q59 (opaque
    // native approx-agg sketch values), justified by its HASH-MATCHED
    // portable twins q76/q77/q91, and q173 (data-dependent PCA
    // eigenbasis), justified by fixed-basis twin q48 plus the
    // basis-invariant spectrum gate q337. If a refactor ever drops a
    // twin (or its oracle) from the contract, the rows-only status
    // silently loses its justification and 335/337 degrades without
    // any red row — fail the WHOLE dump loudly instead. Asserted on
    // the full declaration maps, so targeted runs check it too.
    val rowsOnlyJustifiedBy = Map(
      "q59_approx_agg" -> Seq("q76_kmv_distinct", "q77_sampled_median",
        "q91_hll_distinct"),
      "q173_pca_project" -> Seq("q48_embed_neardup_lsh", "q337_pca_invariants"))
    rowsOnlyJustifiedBy.foreach { case (rowsOnly, twins) =>
      if (SparkEntry.queries.contains(rowsOnly)) {
        require(!SparkEntry.oracleSql.contains(rowsOnly),
          s"$rowsOnly now HAS an oracle — drop it from the rows-only tripwire")
        twins.foreach(t => require(
          SparkEntry.queries.contains(t) && SparkEntry.oracleSql.contains(t),
          s"rows-only gate $rowsOnly lost its hash-matched twin $t — " +
            "restore the twin (query + oracle) or retire the rows-only entry"))
      }
    }
    spark.stop()
    // tripwire: a query that throws writes NO output parquet and then
    // silently vanishes from the driver's correctness report (q38 was
    // red for two rounds before anyone noticed). Dump the oracle JSON
    // first — partial results still reach the driver — then fail LOUDLY.
    if (failed.nonEmpty) {
      System.err.println(s"[verify] MISSING (${failed.size}): ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
