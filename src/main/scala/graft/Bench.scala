package graft

import graft.util.Json
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: `graft.Bench [name-substrings]` times the contract
  * queries on SPARK_GRAFT_SF_DIR (all of them, or those `Verify`'s
  * comma-separated name filter selects) under one fixed protocol: one
  * warm-up, then two interleaved passes in name order, each query
  * materialized through the `noop` sink (count() alone would let
  * Catalyst prune projections and under-report work) and followed by
  * `clearCache()`. A query's time is the min of its two passes; a query
  * that fails reports null and stays out of the total.
  *
  * The per-query map goes to `bench_out.json`; the LAST stdout line is
  * the summary. It anchors the run against `bench_ref.json`, the
  * committed per-query seconds of an earlier round: `obs_on_ref` sums
  * the observed seconds over the timed queries the reference holds,
  * `ref_sum` the reference's seconds over that same set, so any
  * selection yields one cross-round ratio. */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Parse `bench_ref.json` (the bench_out.json shape). A hand-rolled
    * key-scan, not a JSON parser: the only consumers are q-named
    * numeric entries and the optional `ref_round` marker, and the
    * file is trusted repo content. */
  private[graft] def parseRefCosts(text: String): Map[String, Double] =
    "\"(q\\d+[A-Za-z0-9_]*)\"\\s*:\\s*([0-9]+(?:\\.[0-9]+)?)".r
      .findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  private[graft] def parseRefRound(text: String): Option[String] =
    "\"ref_round\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(text)
      .map(_.group(1))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // warm the session (executor start, codegen compiler, parquet
    // footer cache) so the first timed query isn't charged for it
    SparkEntry.queries.get("q01_count")
      .foreach(fn => try fn(spark, sfDir).count() catch { case _: Throwable => () })
    val refText =
      try Files.readString(Paths.get("bench_ref.json")) catch { case _: java.io.IOException => "" }
    run(spark, sfDir, SparkEntry.select(args.headOption), refText, Paths.get("bench_out.json"))
    spark.stop()
  }

  /** The protocol's two interleaved passes over `queries` on `sfDir`:
    * each query's min-of-two seconds. A query that fails is logged,
    * not run again, and left out of the map. */
  def time(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Query)]): Map[String, Double] = {
    val best = scala.collection.mutable.Map.empty[String, Double]
    val failed = scala.collection.mutable.Set.empty[String]
    // the guard is checked as each query comes up: one that failed in
    // pass 1 is not run again
    for (_ <- 1 to 2; (name, fn) <- queries if !failed(name)) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        best(name) = best.get(name).fold(t)(math.min(_, t))
      } catch { case e: Throwable =>
        failed += name
        best -= name // a failed query must not read as a fast one
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      // queries are independent; drop any intermediate persists (LSH
      // signatures etc.) so memory stays flat across the suite
      spark.catalog.clearCache()
    }
    best.toMap
  }

  /** [[time]] over `queries`; writes the summary plus the per-query map
    * to `out`, then prints the summary line. */
  private[graft] def run(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
      refText: String, out: Path): Unit = {
    val best = time(spark, sfDir, queries)
    val failed = queries.map(_._1).filterNot(best.contains)
    val ref = parseRefCosts(refText)
    val timed = queries.collect { case (n, _) if best.contains(n) => n -> best(n) }
    val onRef = timed.filter { case (n, _) => ref.contains(n) }
    // BigDecimal renders locale-proof ("1.5", never "1,5")
    def num(v: Double, scale: Int) =
      BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
    def obj(fields: Seq[(String, String)]) =
      fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val summary = Seq(
      "metric" -> Json.str("total"), "value" -> num(timed.map(_._2).sum, 3),
      "unit" -> Json.str("sec"), "mode" -> Json.str("min_interleaved_2"),
      "n_timed" -> timed.size.toString, "n_queries" -> queries.size.toString,
      "obs_on_ref" -> num(onRef.map(_._2).sum, 1),
      "ref_sum" -> num(onRef.map { case (n, _) => ref(n) }.sum, 1),
      "ref_round" -> Json.str(parseRefRound(refText).getOrElse("none")),
      "failed" -> failed.map(Json.str).mkString("[", ",", "]"),
      "sf" -> Json.str(sfDir))
    val perQuery = queries.map { case (n, _) => n -> best.get(n).fold("null")(num(_, 3)) }
    Files.writeString(out, obj(summary :+ ("queries" -> obj(perQuery))))
    println(obj(summary))
  }
}
