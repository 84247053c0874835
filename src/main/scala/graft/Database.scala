package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.types.DataType

import graft.core._

/** API-parity facade: one method per public operator of the reference's
  * `Database` class (reference: revtron/database/main.py), so a caller
  * of the reference can switch by renaming the import. Methods return
  * DataFrames (distributed) instead of `list[dict]`; `.rows` gives the
  * driver-side boundary when genuinely needed.
  *
  * Construction mirrors `Database(db_url, schema)` (main.py:39-46):
  * here the "database" is a root directory holding one [[TableStore]]
  * PER NAMESPACE (`$root/$namespace/...`), `namespace` plays the
  * reference's `schema='public'` role, and the liveness probe
  * (main.py:47 `select 1 as is_alive`) maps to a trivial Spark action.
  *
  * Namespace addressing mirrors Postgres schema qualification: every
  * table-name argument accepts `table` (the handle's namespace) or
  * `ns.table` (any namespace under the same root), and
  * [[checkTableExists]] takes the reference's optional explicit schema
  * (main.py:67-69). Views are per-namespace. The DEFAULT namespace
  * (`public`) IS the root directory — pre-namespace stores keep
  * working unchanged — and every other namespace nests at
  * `$root/<ns>` ([[core.TableStore.listTables]] requires a committed
  * snapshot inside a directory, so namespace dirs never masquerade as
  * tables; avoid naming a namespace after an existing root table).
  */
final class Database(val spark: SparkSession, root: String,
    val namespace: String = "public") {
  private val stores = scala.collection.mutable.Map.empty[String, TableStore]
  private def storeFor(ns: String): TableStore =
    stores.getOrElseUpdate(ns,
      if (ns == "public") new TableStore(spark, root)
      else new TableStore(spark, new org.apache.hadoop.fs.Path(root, ns).toString))
  private val store = storeFor(namespace)

  /** `ns.table` → that namespace's store; bare `table` → this handle's. */
  private def resolve(name: String): (TableStore, String) =
    name.split('.') match {
      case Array(t) => (store, t)
      case Array(ns, t) if ns.nonEmpty && t.nonEmpty => (storeFor(ns), t)
      case _ => throw new IllegalArgumentException(
        s"table name must be 'table' or 'namespace.table': $name")
    }

  /** D1: liveness probe (`select 1 as is_alive`, main.py:47). */
  def isAlive: Boolean =
    spark.sql("select 1 as is_alive").collect().head.getInt(0) == 1

  // ------------------------------------------------------------- catalog
  /** D2: `get_table` — reflection ⇒ read the current snapshot. */
  def getTable(tableName: String): DataFrame =
    { val (st, t) = resolve(tableName); st.read(t) }
  /** D3: `check_table_exists`. */
  def checkTableExists(tableName: String): Boolean =
    { val (st, t) = resolve(tableName); st.tableExists(t) }
  /** D3 with the reference's explicit-schema form (main.py:67-69). */
  def checkTableExists(tableName: String, schema: String): Boolean =
    storeFor(schema).tableExists(tableName)
  /** D4: `get_table_columns`. */
  def getTableColumns(tableName: String): Seq[String] =
    { val (st, t) = resolve(tableName); st.listColumns(t) }
  /** D5: `get_table_count`. */
  def getTableCount(tableName: String): Long =
    { val (st, t) = resolve(tableName); st.count(t) }
  /** D6: `get_tables` (this handle's namespace). */
  def getTables: Seq[String] = store.listTables()
  /** D6 across namespaces: the named schema's tables. */
  def getTables(schema: String): Seq[String] = storeFor(schema).listTables()
  /** D7: `get_views` — PERSISTENT views stored with the database
    * (reference main.py:85-86 lists real DB views) plus any temp views
    * registered on this session. */
  def getViews: Seq[String] =
    (store.listViews() ++
      spark.catalog.listTables().collect().toSeq
        .filter(_.tableType == "TEMPORARY").map(_.name)).distinct.sorted

  /** Create a persistent logical view: stored SQL, replanned against
    * the CURRENT snapshots on every [[getView]] — never materialized. */
  def createView(name: String, sql: String): Unit = store.createView(name, sql)

  /** Resolve a persistent view: register the store's tables as temp
    * views, then plan the stored SQL through Catalyst. */
  def getView(name: String): DataFrame = {
    val sql = store.viewSql(name).getOrElse(
      throw new IllegalArgumentException(s"no such view: $name"))
    store.listTables().foreach(registerView)
    spark.sql(sql)
  }

  def dropView(name: String): Unit = store.dropView(name)

  // ------------------------------------------------------------- reads
  /** D11/D12: `get` — projection, predicate DSL, sort, limit, offset. */
  def get(tableName: String,
      columns: Seq[String] = Nil,
      where: Seq[Pred] = Nil,
      sortBy: Option[String] = None,
      ascending: Boolean = true,
      limit: Int = 0,
      offset: Int = 0): DataFrame =
    Query.get(getTable(tableName), columns, where,
      sortBy.map(SortKey(_, ascending)).toSeq, limit, offset)

  /** D15: `execute_raw` — full Catalyst SQL over registered views.
    * One DDL form is intercepted: `ALTER TABLE t ADD COLUMN(S) …`
    * against a STORE table routes to the snapshot store's additive
    * evolution (the reference issues its add_column as raw DDL,
    * main.py:172-189); Spark's own ALTER only reaches catalog tables.
    * Returns the evolved table's (empty) frame so callers see the new
    * schema; any other statement goes straight to Catalyst. */
  def executeRaw(query: String): DataFrame =
    Sql.parseAlterAddColumns(query) match {
      case Some((table, added)) if checkTableExists(table) =>
        val (st, tbl) = resolve(table)
        val specs = added.fields.toSeq.map(f =>
          ColumnSpec(f.name, f.dataType, nullable = f.nullable))
        st.write(tbl, Ddl.evolveSchema(st.read(tbl), specs))
        registerView(table) // re-point the temp view at the new snapshot
        st.read(tbl).limit(0)
      case _ => Sql.executeRaw(spark, query)
    }

  /** D17: the reference's verbose compiled-SQL print maps to the
    * formatted physical plan (database/main.py:165-170,245-247). */
  def explain(df: DataFrame): String = Sql.explain(df)

  // ------------------------------------------------------------- writes
  /** D8: `upsert` — PK merge with COALESCE rule, persisted as a new
    * snapshot; returns the touched PKs (the reference RETURNINGs them,
    * main.py:106,116).
    *
    * D16: columns the table declared `autoincrement` are ASSIGNED here
    * when the batch omits them or carries NULLs — dense ids continuing
    * from the table max, assignment ordered by the batch's remaining
    * columns ([[core.Ddl.fillAutoincrement]]); a batch that supplies
    * every id is passed through untouched. This is the reference's
    * insert-without-id flow (main.py:33: SQLAlchemy autoincrement has
    * the server produce the id). */
  def upsert(tableName: String, data: DataFrame, pk: Seq[String],
      overwriteWithNull: Boolean = false,
      validatePk: Boolean = false): DataFrame = {
    val (st, tbl) = resolve(tableName)
    val target = st.read(tbl)
    val autoCols = target.schema.fields.filter(f =>
      f.metadata.contains("autoincrement") &&
        f.metadata.getBoolean("autoincrement")).map(_.name).toSeq
    val filled0 = autoCols.foldLeft(data) { (d, c) =>
      Ddl.fillAutoincrement(target, d, c,
        d.columns.filterNot(_.equalsIgnoreCase(c)).toSeq)
    }
    // the assignment pipeline (max aggregates + sort + zipWithIndex) is
    // consumed twice — by the merge write and by the RETURNING frame —
    // so cut its lineage once; batches are write-sized, not corpus-sized
    val filled = if (autoCols.isEmpty) filled0 else filled0.localCheckpoint(true)
    val merged = Mutations.upsert(target, filled, pk, overwriteWithNull)
    // Spark can't ENFORCE the PK constraint (SURVEY §7.5); opt-in
    // VALIDATION runs the distributed uniqueness check before the swap
    // so a bad batch never becomes the current snapshot.
    if (validatePk && !Ddl.validateUnique(merged, pk))
      throw new IllegalStateException(
        s"upsert would violate primary key (${pk.mkString(",")}) on $tableName")
    st.write(tbl, Ddl.preserveMetadata(merged, target.schema))
    Mutations.upsertedKeys(filled, pk)
  }

  /** D13: `update` — keyed overwrite; returns the matched-row count
    * (the reference returns `rowcount`, main.py:268), counted by the
    * merge write's own pass over the target. */
  def update(tableName: String, data: DataFrame, on: Seq[String]): Long = {
    val (st, tbl) = resolve(tableName)
    val target = st.read(tbl)
    val matched = Observation()
    st.write(tbl, Ddl.preserveMetadata(
      Mutations.update(target, data, on, matched), target.schema))
    Mutations.matchedRows(matched)
  }

  /** D14: `delete` — predicate delete; no predicate ⇒ full delete. */
  def delete(tableName: String, where: Seq[Pred] = Nil): Unit = {
    val (st, tbl) = resolve(tableName)
    st.write(tbl, Mutations.delete(st.read(tbl), where))
  }

  // ------------------------------------------------------------- DDL
  /** D9/D10: `create_table` with additive evolution; D16 ColumnSpec. */
  def createTable(tableName: String, mappings: Seq[ColumnSpec],
      primaryKey: Seq[String] = Nil, uniqueColumns: Seq[String] = Nil,
      checkExisting: Boolean = true): Unit = {
    val (st, tbl) = resolve(tableName)
    Ddl.createTable(st, spark, tbl, mappings, primaryKey,
      uniqueColumns, checkExisting)
  }

  /** D10: `add_column`. */
  def addColumn(tableName: String, columnName: String, columnType: DataType): Unit = {
    val (st, tbl) = resolve(tableName)
    st.write(tbl, Ddl.addColumn(st.read(tbl), ColumnSpec(columnName, columnType)))
  }

  /** Register a table as a temp view so `executeRaw` can address it.
    * A namespace-qualified name registers as `ns_table` (Spark temp
    * views are single-part) — NOTE the mangling can collide
    * (`a.b_c` and `a_b.c` both register as `a_b_c`); use the
    * two-argument overload to pick an explicit view name when
    * underscores appear in namespace or table names. */
  def registerView(tableName: String): Unit =
    registerView(tableName, tableName.replace('.', '_'))

  /** [[registerView]] with an explicit temp-view name. */
  def registerView(tableName: String, viewName: String): Unit =
    getTable(tableName).createOrReplaceTempView(viewName)
}
