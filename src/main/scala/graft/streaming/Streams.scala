package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators (north-star extension; the reference's
  * closest idiom is incremental date-window batch extraction, reference:
  * revtron/salesforce/main.py:110-128,189-202 — the CDC pattern these
  * streaming transforms generalize).
  *
  * Every transform here takes a Dataset and returns a Dataset, so the
  * SAME function runs in batch mode (unit/oracle tests) and under
  * `readStream`/`writeStream` (watermark semantics only engage when the
  * input is streaming). State is bounded by watermarks — the 100 TB
  * rule for streams (SURVEY §7.5).
  */
object Streams {

  /** Tumbling-window counts+sums per event_type. Watermark bounds state
    * and drops late data beyond `lateness`. */
  def tumblingAgg(events: DataFrame, tsCol: String, windowDur: String,
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window average value. */
  def slidingAvg(events: DataFrame, tsCol: String, windowDur: String,
      slide: String, lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur, slide))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
      .select(col("window.start").as("window_start"), col("n"), col("avg_value"))

  /** Session windows by user with an inactivity gap. */
  def sessionAgg(events: DataFrame, tsCol: String, gap: String,
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))

  /** Streaming dedup: first occurrence per key wins; state expires with
    * the watermark (exactly-once within the lateness horizon). */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, keys: Seq[String],
      lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicates(keys :+ tsCol)

  /** Per-user running state via mapGroupsWithState: event count + last
    * seen timestamp + running value sum. Keyed state is BOUNDED by an
    * event-time timeout: a key idle for `lateness` of watermark progress
    * emits a final snapshot and is evicted (the 100 TB rule — state
    * must never grow with the key universe, SURVEY §7.5). */
  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class UserState(user_id: Long, n: Long, sum_value: Double,
      last_ts: java.sql.Timestamp)

  /** Event-time expiry `latMs` past this key's newest event (or the
    * watermark, whichever is later — the timeout timestamp must exceed
    * the watermark). Eviction therefore implies `latest + latMs ≤
    * watermark`, and since the watermark filter drops rows older than
    * itself, no event that could still arrive can be older than an
    * evicted key's latest — expiry never causes a stale result. Batch
    * mode has no watermark (the node is optimized away): fall back to
    * -1, where timeouts are ignored anyway. Call with state defined. */
  private def armTimeout(state: GroupState[_], latMs: Long, eventMs: Long): Unit = {
    val wm = try state.getCurrentWatermarkMs()
      catch { case _: UnsupportedOperationException => -1L }
    state.setTimeoutTimestamp(math.max(wm, eventMs) + latMs)
  }

  /** "10 minutes" / "30 seconds" / "1 hour" → millis. */
  private[streaming] def durationMs(s: String): Long = {
    val Array(n, unit) = s.trim.split("\\s+")
    val base = unit.toLowerCase match {
      case u if u.startsWith("second") => 1000L
      case u if u.startsWith("minute") => 60000L
      case u if u.startsWith("hour")   => 3600000L
      case u if u.startsWith("day")    => 86400000L
      case other => throw new IllegalArgumentException(s"unsupported unit: $other")
    }
    n.toLong * base
  }

  def runningUserState(events: Dataset[UserEvent],
      lateness: String = "10 minutes"): Dataset[UserState] = {
    import events.sparkSession.implicits._
    val latMs = durationMs(lateness)
    events.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            // horizon passed with no new events: emit the final
            // snapshot and drop the state
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UserState(userId, 0L, 0.0, null))
            val next = rows.foldLeft(prev) { (s, e) =>
              val newer = s.last_ts == null || e.ts.after(s.last_ts)
              UserState(userId, s.n + 1, s.sum_value + e.value,
                if (newer) e.ts else s.last_ts)
            }
            state.update(next)
            armTimeout(state, latMs,
              if (next.last_ts == null) 0L else next.last_ts.getTime)
            next
          }
      }
  }

  /** Streaming incremental pull — the Structured-Streaming twin of the
    * reference's date-window batch extraction (S6, reference:
    * revtron/salesforce/main.py:189-202): a parquet file stream over
    * the events table; new files under `dir` arrive as micro-batches,
    * with the watermark as the continuously-advancing date cursor.
    * The fixture's ts physical type has FLIPPED across driver fixture
    * generations (TIMESTAMP(NANOS), then TIMESTAMP_MICROS with
    * isAdjustedToUTC=false); a file STREAM declares ONE fixed schema,
    * so this reader SNIFFS the footer of the existing events.parquet
    * at stream construction (one batch schema probe under the same
    * reader confs `Fx.t` sets) and picks the matching generation:
    * nanos arrive as LongType (via nanosAsLong) and are integer-divided
    * to micros; micros-NTZ are declared TIMESTAMP_NTZ and cast to
    * session-zoned TimestampType (UTC session ⇒ value-preserving) —
    * either way the stream sees the SAME normalized ts as batch
    * `Fx.t`, so window boundaries agree between the two. */
  def eventsFileStream(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // Footer probe: schema-only batch read (no data scan). Must mirror
    // Fx.t's reader confs or the probe would see a different type than
    // the stream decodes.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsPhysical = spark.read.parquet(s"$dir/events.parquet")
      .schema.fields.find(_.name == "ts").map(_.dataType)
    val nanosGen = tsPhysical.contains(LongType)
    val tsField =
      if (nanosGen) StructField("ts", LongType)
      else StructField("ts", TimestampNTZType)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      tsField,
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    if (nanosGen)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      raw.withColumn("ts", col("ts").cast(TimestampType))
  }

  /** Latest-value-per-key changelog — the STREAMING form of the
    * reference's upsert merge rule (D8, revtron/database/main.py:109-112,
    * "newest write wins per PK"): keyed state holds the current latest
    * event; a batch emits a row only when its key's latest actually
    * advances (late/duplicate events are absorbed silently). Downstream
    * sinks receive an upsert changelog, exactly what a CDC-materialized
    * table consumes. */
  def latestPerKey(events: Dataset[UserEvent],
      lateness: String = "10 minutes"): Dataset[UserEvent] = {
    import events.sparkSession.implicits._
    val latMs = durationMs(lateness)
    events.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserEvent, UserEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserEvent]) =>
          if (state.hasTimedOut) {
            // latest already emitted downstream — just evict the state;
            // events older than the horizon are watermark-dropped anyway
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption
            val candidates = rows ++ prev.iterator
            val newest = candidates.maxBy(_.ts.getTime)
            if (prev.forall(p => newest.ts.after(p.ts))) {
              state.update(newest)
              armTimeout(state, latMs, newest.ts.getTime)
              Iterator.single(newest)
            } else {
              // prev necessarily defined here — safe to re-arm
              armTimeout(state, latMs, newest.ts.getTime)
              Iterator.empty
            }
          }
      }
  }

  /** The full CDC loop as one streaming pipeline: the latest-per-key
    * changelog ([[latestPerKey]]) materialized into a snapshot-store
    * table via `foreachBatch` + PK upsert — the streaming composition
    * of the reference's incremental pull (S6) and upsert (D8). Each
    * micro-batch becomes one atomic snapshot swap; the checkpoint
    * makes the whole loop replayable (exactly-once table state within
    * the watermark horizon). The table is created from the stream's
    * schema on the first batch if absent. */
  def materializeLatest(events: Dataset[UserEvent], db: graft.Database,
      table: String, checkpoint: String, lateness: String = "10 minutes")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val changelog = latestPerKey(events, lateness)
    changelog.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch(applyChangelogBatch(db, table) _)
      .start()
  }

  /** One epoch of the CDC loop: upsert a changelog micro-batch into the
    * snapshot table (created from the batch schema on first use).
    *
    * foreachBatch is at-least-once — after a crash between the sink
    * write and the checkpoint commit, Structured Streaming RE-DELIVERS
    * the completed epoch. Exactly-once TABLE STATE therefore rests on
    * this function being idempotent per batch: the PK upsert maps the
    * same rows onto the same keys, so a replay rewrites the snapshot
    * with identical CONTENT (a fresh snapshot version, same rows) —
    * the upsert idempotency law (LawsProps) lifted to the sink.
    * StreamsSpec re-applies a completed epoch and asserts the table is
    * unchanged. */
  def applyChangelogBatch(db: graft.Database, table: String)
      (batch: Dataset[UserEvent], epochId: Long): Unit = {
    val df = batch.toDF()
    if (!df.isEmpty) {
      if (!db.checkTableExists(table))
        db.createTable(table, df.schema.fields.toSeq.map(f =>
          graft.core.ColumnSpec(f.name, f.dataType)), primaryKey = Seq("user_id"))
      db.upsert(table, df, Seq("user_id"))
      ()
    }
  }

  /** Streaming near-dup ingest gate — [[graft.ext.Dedup.incrementalNearDups]]
    * wired into a foreachBatch loop against ONE precomputed corpus
    * signature frame. PERSIST `corpusSigs` (one
    * [[graft.ext.Dedup.minhashSignature]] pass over the corpus, run
    * once, materialized) — candidate generation then reads the cached
    * signatures every epoch and the 100 TB corpus is never re-shingled
    * per batch; exact verification re-reads corpus TEXT only for the
    * docs a candidate names (jaccardVerifyAcross semi-joins each side
    * to the candidate ids). Per-epoch flagged pairs
    * (a = batch id, b = corpus id, jaccard) go to `onBatch` — write
    * them, anti-join the batch before appending, route to review; the
    * sink policy is the caller's. NOTE: the signature frame is a
    * SNAPSHOT — docs admitted mid-stream are not added to it; refresh
    * it on the cadence your dedup SLA needs (the at-least-once replay
    * caveat of [[applyChangelogBatch]] applies to the sink you write).
    */
  def nearDupIngest(docs: DataFrame, corpusSigs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, checkpoint: String,
      threshold: Double = 0.8, k: Int = 32, bands: Int = 8,
      shingleN: Int = 3, portable: Boolean = false)
      (onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // release the epoch's batch-shingle cache after the sink consumed
    // the pairs — a long-running stream would otherwise accumulate one
    // cache entry per micro-batch forever. onBatch must MATERIALIZE the
    // frame before returning (foreachBatch sinks do).
    val perEpoch: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, epochId) => {
        val epoch = graft.ext.Dedup.incrementalNearDupsWithSigsReleasable(
          batch.toDF(), corpusSigs, corpus, idCol, textCol,
          threshold, k, bands, shingleN, portable)
        try onBatch(epoch.result, epochId) finally epoch.release()
      }
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch(perEpoch)
      .start()
  }

  /** Streaming SKETCH ingest — the mergeable-summary loop in
    * production: each micro-batch is sketched ALONE
    * ([[graft.ext.Sketches.hllRegisters]] — work ∝ batch size), then
    * merged into the persisted per-period register table by
    * per-bucket MAX (the lossless HLL merge law, q152/q172), so
    * rolling distinct counts are always serveable from
    * |periods|·64 state rows and the event history is NEVER
    * re-scanned. Max-merge is IDEMPOTENT, so foreachBatch's
    * at-least-once replay is harmless here — a replayed batch merges
    * to the same registers (the retry-safety the changelog sinks
    * have to document away, this sink gets from algebra). The
    * register table lives in the snapshot store (read version n while
    * writing n+1 is safe). `periodExpr` derives the period column
    * (e.g. `to_date(col("ts"))`). */
  def sketchIngest(events: DataFrame, store: graft.core.TableStore,
      table: String, periodExpr: org.apache.spark.sql.Column,
      periodName: String, valueCol: String, checkpoint: String,
      seed: Long = 42L): org.apache.spark.sql.streaming.StreamingQuery = {
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        sketchIngestBatch(batch.toDF(), store, table, periodExpr,
          periodName, valueCol, seed)
      }
      .start()
  }

  /** ONE micro-batch step of [[sketchIngest]] — the exact per-batch
    * body the streaming sink runs, exposed so the q260 contract can
    * drive it batch-mode (the q123 pattern: gate the operator itself,
    * not a lookalike): sketch the batch alone, max-merge into the
    * persisted register table. Calling this twice with the SAME batch
    * is a register-level no-op — the idempotence that makes
    * foreachBatch's at-least-once replay safe, hash-pinned by q260's
    * deliberate replay against the direct-sketch oracle. */
  def sketchIngestBatch(batch: DataFrame, store: graft.core.TableStore,
      table: String, periodExpr: org.apache.spark.sql.Column,
      periodName: String, valueCol: String, seed: Long = 42L): Unit = {
    val regs = graft.ext.Sketches.hllRegisters(
      batch.withColumn(periodName, periodExpr),
      periodName, valueCol, seed)
    val merged =
      if (store.tableExists(table))
        graft.ext.Sketches.hllMergeRegisters(periodName,
          store.read(table), regs)
      else regs
    store.write(table, merged)
    ()
  }

  /** Streaming DATA-QUALITY monitor: every micro-batch's
    * [[graft.ext.Audit.checkConstraints]] report merges ADDITIVELY
    * (per-constraint n_rows/n_violations sums — the merge law pinned
    * in ExtLawsProps) into one snapshot-store table, so the
    * cumulative contract report over an unbounded stream is always
    * one tiny table read — never a rescan of ingested history.
    * Row-level checks only: uniqueness is NOT batch-additive
    * (cross-batch duplicates are invisible to a per-batch count; the
    * batch [[graft.ext.Audit.checkConstraints]] `unique` pass covers
    * that over a snapshot). State is |checks| rows per version. */
  def constraintIngest(events: DataFrame, store: graft.core.TableStore,
      table: String, checks: Seq[graft.ext.Audit.Check],
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // EXACTLY-ONCE under foreachBatch's at-least-once contract:
        // unlike sketchIngest's max-merge (naturally idempotent), an
        // ADDITIVE merge double-counts a replayed batch — so each
        // snapshot carries the last merged batch id, and a replay of
        // an already-merged id is a no-op (Structured Streaming
        // replays the LAST batch after failure recovery with the SAME
        // id; ids are monotone, so one high-water mark suffices).
        val already = store.tableExists(table) && {
          val r = store.read(table).select(max(col("last_batch_id"))).head()
          !r.isNullAt(0) && r.getLong(0) >= batchId
        }
        if (!already) {
          val report = graft.ext.Audit.checkConstraints(batch.toDF(), checks)
            .select(col("constraint"), col("n_rows"), col("n_violations"))
          val merged =
            if (store.tableExists(table))
              store.read(table)
                .select(col("constraint"), col("n_rows"), col("n_violations"))
                .unionByName(report)
                .groupBy(col("constraint"))
                .agg(sum(col("n_rows")).as("n_rows"),
                  sum(col("n_violations")).as("n_violations"))
            else report
          store.write(table, merged
            .withColumn("passed",
              when(col("n_violations") === 0L, 1L).otherwise(0L))
            .withColumn("last_batch_id", lit(batchId)))
        }
        ()
      }
      .start()
  }

  /** Streaming INDEX maintenance (r16 verdict item 5): each
    * micro-batch of arriving documents encode-appends into a persisted
    * IVF-PQ index ([[graft.ext.Similarity.appendIvfPq]] — no retrain,
    * no corpus re-encode), guarded for foreachBatch's AT-LEAST-ONCE
    * replay by the [[constraintIngest]] high-water-mark recipe: the
    * index append is NOT idempotent at the version level (each append
    * commits a manifest version), so each applied batch id records in
    * `<name>_ingest_hwm` and a redelivery of an already-applied id is
    * a full no-op — the index is bit-identical (content AND version
    * history) to the one-shot ingest, which q343 gates. Two layers of
    * defense compose here: the hwm stops a replayed batch from even
    * starting, and if a crash lands BETWEEN the append's manifest
    * commit and the hwm write, the replayed append's UPSERT semantics
    * (replace-by-id) still converge to identical index CONTENT — the
    * replay burns a version number, never correctness. */
  def indexIngest(docs: DataFrame, store: graft.core.TableStore,
      name: String, idCol: String, vecCol: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        indexIngestBatch(batch.toDF(), store, name, idCol, vecCol, batchId)
      }
      .start()
  }

  /** ONE micro-batch step of [[indexIngest]] — the exact foreachBatch
    * body, exposed so the q343 contract can drive it batch-mode with a
    * deliberate redelivery (the q260 pattern: gate the operator
    * itself, not a lookalike). Batch ids are monotone under Structured
    * Streaming's recovery contract (the LAST batch replays with the
    * SAME id), so one high-water mark suffices. Empty batches still
    * advance the hwm but never touch the index (no empty encoded
    * version, no manifest churn on an idle stream). */
  def indexIngestBatch(batch: DataFrame, store: graft.core.TableStore,
      name: String, idCol: String, vecCol: String, batchId: Long): Unit = {
    val hwmT = s"${name}_ingest_hwm"
    val already = store.tableExists(hwmT) && {
      val r = store.read(hwmT).select(max(col("last_batch_id"))).head()
      !r.isNullAt(0) && r.getLong(0) >= batchId
    }
    if (!already) {
      if (!batch.isEmpty)
        graft.ext.Similarity.appendIvfPq(store, name, batch, idCol, vecCol)
      val spark = batch.sparkSession
      import spark.implicits._
      store.write(hwmT, Seq(batchId).toDF("last_batch_id").coalesce(1))
    }
  }

  /** Stream-stream INTERVAL join: each left row joins right rows with
    * the same key whose timestamp falls in
    * `[leftTs − lookback, leftTs + lookahead]` — the attribution /
    * enrichment join (click within N minutes of impression). Both sides
    * are watermarked, and the interval bounds let Spark expire join
    * state past `watermark − lookback` — WITHOUT the time bound a
    * stream-stream join must retain every row forever (the 100 TB
    * rule again). Runs identically on batch frames (watermark no-op),
    * which is how the DuckDB oracle checks it. Column names must be
    * disjoint across the two sides (streaming self-references are
    * ambiguous otherwise). */
  def intervalJoin(left: DataFrame, leftKey: String, leftTs: String,
      right: DataFrame, rightKey: String, rightTs: String,
      lookback: String, lookahead: String = "0 seconds",
      lateness: String = "10 minutes", joinType: String = "inner"): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty, s"column names must be disjoint, both sides have: $overlap")
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $lookahead"),
      joinType)
  }

  /** Batch-mode sessionization (gaps-and-islands): a new session starts
    * after `gapMinutes` of inactivity; pure window functions so it is
    * oracle-checkable in SQL — the batch twin of [[sessionAgg]].
    *
    * Gap arithmetic is in MICROSECONDS (`unix_micros`), so sub-second
    * gaps are exact — a 30m00.000001s gap opens a new session where
    * whole-second truncation would not. The `cast("timestamp")` makes
    * it type-proof: TIMESTAMP_NTZ inputs (the current events fixture
    * physical type) are normalized to session-zoned timestamps, and a
    * TimestampType input passes through unchanged. */
  def sessionizeBatch(events: DataFrame, tsCol: String, userCol: String,
      gapMinutes: Int, tieBreak: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = col(tsCol) +: tieBreak.map(col).toSeq
    val byUser = Window.partitionBy(col(userCol)).orderBy(ord: _*)
    def us(c: org.apache.spark.sql.Column) = unix_micros(c.cast("timestamp"))
    val flagged = events
      .withColumn("__prev", lag(col(tsCol), 1).over(byUser))
      .withColumn("__new",
        when(col("__prev").isNull ||
          us(col(tsCol)) - us(col("__prev")) > gapMinutes * 60000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col(userCol), col("session_id"))
      .agg(min(col(tsCol)).as("session_start"), max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }
}
