package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The write path: upsert / keyed update / predicate delete.
  *
  * The reference implements these as Postgres statements; we re-express
  * them as distributed join/filter plans over immutable snapshots
  * (SURVEY §3.2). All three return the NEW snapshot as a DataFrame —
  * persistence (atomic swap) is [[TableStore]]'s job, so the merge logic
  * is testable and oracle-checkable on its own.
  *
  * Scale notes: the merge is a single shuffle on the PK (sort-merge or,
  * when the updates side is small, a broadcast join picked by Catalyst /
  * AQE). The target side is NEVER broadcast and never collected. The
  * reference's 1000-row chunking (revtron/database/main.py:92,100-101)
  * disappears — replaced by partitioned shuffle write — and per-chunk
  * atomicity is improved to whole-write atomicity.
  */
object Mutations {

  private val UFlag = "__graft_u"

  /** Spark resolves columns case-insensitively by default
    * (spark.sql.caseSensitive=false); membership checks must match. */
  private def has(cols: Seq[String], name: String): Boolean =
    cols.exists(_.equalsIgnoreCase(name))

  /** PK-keyed merge, reference `Database.upsert` (reference:
    * revtron/database/main.py:88-117).
    *
    * Merge rule per non-key column (main.py:109-112): the new (excluded)
    * value when `overwriteWithNull`, else `COALESCE(new, old)`.
    * Requires a non-empty PK (main.py:97-99 raises without one).
    *
    * Intra-batch duplicate PKs: the reference would make Postgres raise
    * ("ON CONFLICT DO UPDATE command cannot affect row a second time");
    * we instead resolve deterministically — last-wins by `orderCol`
    * descending when given, else an arbitrary-but-deterministic
    * `dropDuplicates` on the PK.
    *
    * Columns present only in `updates` are added to the result (additive
    * schema evolution at merge time, cf. D10); columns present only in
    * `target` are kept as-is.
    */
  def upsert(
      target: DataFrame,
      updates: DataFrame,
      pk: Seq[String],
      overwriteWithNull: Boolean = false,
      orderCol: Option[String] = None): DataFrame = {
    require(pk.nonEmpty, "upsert requires a primary key (reference: database/main.py:97-99)")

    val deduped = orderCol match {
      case Some(oc) =>
        // the keep-latest idiom (cf. ext.Dedup.keepLatest — kept
        // separate so core does not depend on ext); the orderCol stays
        // in the result like any other updates column (additive
        // evolution applies uniformly — see test for updated_at)
        val w = Window.partitionBy(pk.map(col): _*).orderBy(col(oc).desc)
        updates.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => updates.dropDuplicates(pk)
    }
    val u = deduped.withColumn(UFlag, lit(true)).alias("u")
    val t = target.alias("t")
    // USING-join coalesces the key columns for us on full_outer.
    val joined = t.join(u, pk, "full_outer")
    val matched = coalesce(col(s"u.$UFlag"), lit(false))

    val tCols = target.columns.toSeq
    val uCols = deduped.columns.toSeq
    def merged(c: String): Column =
      if (has(pk, c)) col(c)
      else if (has(uCols, c) && has(tCols, c)) {
        if (overwriteWithNull) when(matched, col(s"u.$c")).otherwise(col(s"t.$c")).as(c)
        else coalesce(col(s"u.$c"), col(s"t.$c")).as(c)
      } else if (has(uCols, c)) col(s"u.$c").as(c)
      else col(s"t.$c").as(c)

    val outCols = tCols ++ uCols.filterNot(c => has(tCols, c) || c == UFlag)
    joined.select(outCols.map(merged): _*)
  }

  /** The PKs touched by an upsert — the reference RETURNINGs them
    * (main.py:106,116). */
  def upsertedKeys(updates: DataFrame, pk: Seq[String]): DataFrame =
    updates.select(pk.map(col): _*).distinct()

  /** Keyed bulk update, reference `Database.update` (reference:
    * revtron/database/main.py:250-269): rows of `changes` overwrite the
    * matching target rows' non-key columns with EXACTLY the provided
    * values (plain SET — nulls overwrite too, unlike upsert's coalesce).
    * Unmatched change rows are ignored (UPDATE matches nothing). */
  def update(target: DataFrame, changes: DataFrame, on: Seq[String]): DataFrame =
    updateJoin(target, changes, on, None)

  /** [[update]] whose own pass also counts the matched target rows (the
    * reference returns `result.rowcount`, main.py:268) into `matched`:
    * once the returned frame's first action has run, [[matchedRows]]
    * reads the count, with no second scan of the target and no second
    * deduplication of `changes`. */
  def update(target: DataFrame, changes: DataFrame, on: Seq[String],
      matched: Observation): DataFrame =
    updateJoin(target, changes, on, Some(matched))

  /** The count an observed [[update]] recorded; blocks until the
    * frame's first action has run. No metric row means the optimizer
    * proved the join empty and pruned the observer with it: nothing
    * matched. */
  def matchedRows(matched: Observation): Long =
    matched.get.get(MatchedRows).fold(0L)(_.asInstanceOf[Long])

  private val MatchedRows = "matched_rows"

  private def updateJoin(target: DataFrame, changes: DataFrame, on: Seq[String],
      counter: Option[Observation]): DataFrame = {
    require(on.nonEmpty, "update requires key columns (reference: database/main.py:253)")
    val u = changes.dropDuplicates(on).withColumn(UFlag, lit(true)).alias("u")
    val joined0 = target.alias("t").join(u, on, "left")
    // `changes` is deduplicated on the key, so each target row appears
    // once and the matched rows are the ones carrying the flag
    val joined = counter.fold(joined0)(
      joined0.observe(_, count(col(s"u.$UFlag")).as(MatchedRows)))
    val matched = coalesce(col(s"u.$UFlag"), lit(false))
    val uCols = changes.columns.toSeq
    val outCols = target.columns.toSeq.map { c =>
      if (has(on, c)) col(c)
      else if (has(uCols, c)) when(matched, col(s"u.$c")).otherwise(col(s"t.$c")).as(c)
      else col(s"t.$c").as(c)
    }
    joined.select(outCols: _*)
  }

  /** Rowcount an update would touch, as a separate semi-join: matched
    * target rows. It scans the target a second time, so
    * `Database.update` takes the observed count instead; this stays as
    * the plain formulation that count is checked against. */
  def updateRowCount(target: DataFrame, changes: DataFrame, on: Seq[String]): Long =
    target.join(changes.dropDuplicates(on), on, "left_semi").count()

  /** Predicate delete, reference `Database.delete` (reference:
    * revtron/database/main.py:271-285). Delete keeps rows where the
    * predicate is NOT satisfied — SQL DELETE removes only rows where the
    * WHERE evaluates to TRUE, so NULL-valued predicates keep the row.
    * No predicate ⇒ full-table delete (main.py:278-280). */
  def delete(target: DataFrame, where: Seq[Pred] = Nil): DataFrame =
    PredicateDsl.compileAll(where) match {
      case Some(p) => target.filter(!coalesce(p, lit(false)))
      case None    => target.limit(0)
    }
}
