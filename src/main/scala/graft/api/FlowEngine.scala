package graft.api

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.engine._

/** User-facing facade with the reference's exact operator surface — a
  * flowbyte `MSSQL` user (`sql.py:21-332`) maps 1:1 onto this class, with
  * a parquet "warehouse" directory standing in for the remote database
  * (one `<table>.parquet` per table) and Spark SQL standing in for the
  * delegated T-SQL surface.
  *
  * | reference                         | here                        |
  * |-----------------------------------|-----------------------------|
  * | `MSSQL(host, db, …)` `sql.py:26`  | `FlowEngine(spark, dir)`    |
  * | `connect` `sql.py:36`             | `connect()` registers views |
  * | `disconnect` `sql.py:62`          | `disconnect()`              |
  * | `get_data(query, …)` `sql.py:88`  | `getData(query, …)`         |
  * | `insert_data` `sql.py:174`        | `insertData`                |
  * | `update_data` `sql.py:191`        | `updateData`                |
  * | `update_from_table` `sql.py:253`  | `updateFromTable`           |
  * | `truncate_table` `sql.py:292`     | `truncateTable`             |
  * | `delete_data` `sql.py:307`        | `deleteData`                |
  * | `delete_data_with_conditions` `sql.py:321` | `deleteDataWithConditions` |
  *
  * Error contract preserved: extraction logs and returns None instead of
  * raising (`sql.py:166-171`); mutations validate inputs.
  *
  * Known-schema contract: a table's schema is inferred from its parquet
  * footers once — at `connect()` or on the engine's first touch of the
  * table — and kept. Every later read of the table (mutation targets,
  * refreshed views) passes that schema to the reader, so no call pays a
  * schema-inference job; the files themselves are still listed fresh on
  * every read, so rows an outside writer appends are never dropped by a
  * rewrite. The engine's own writes cannot make the kept schema stale:
  * rewrites project the target's columns and appends must match the
  * table's column names and types. Changing a table's schema from
  * outside the engine is out of contract, as an `ALTER TABLE` behind the
  * reference's back is; a new engine (or `connect()`) picks it up.
  */
final class FlowEngine(val spark: SparkSession, warehouse: String) {

  private val log = Log()

  // views THIS engine registered — disconnect must not drop a caller's
  // own temp views, which share the session catalog
  private val registered = scala.collection.mutable.Set.empty[String]

  private val schemas = scala.collection.mutable.Map.empty[String, StructType]

  private def tablePath(table: String): String = s"$warehouse/$table.parquet"

  /** The table's kept schema, inferred from its footers on first touch. */
  private def schemaOf(table: String): StructType =
    schemas.getOrElseUpdate(table, spark.read.parquet(tablePath(table)).schema)

  /** The table's current files, read with the kept schema. */
  private def read(table: String): DataFrame =
    spark.read.schema(schemaOf(table)).parquet(tablePath(table))

  /** "Open the connection": register every `<table>.parquet` under the
    * warehouse as a temp view so `getData` can run arbitrary SQL against
    * them (the reference's connect, `sql.py:36-58`, with the catalog in
    * place of a socket). Each table's schema is (re)inferred here. */
  def connect(): Try[Seq[String]] = Try {
    val root = new Path(warehouse)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tables = fs.listStatus(root).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    tables.foreach { t =>
      val df = spark.read.parquet(tablePath(t))
      schemas(t) = df.schema
      df.createOrReplaceTempView(t)
      registered += t
    }
    log.message = s"Connected: ${tables.size} tables registered"
    log.status = "success"
    log.printMessage()
    tables
  }

  /** Drop the views THIS engine registered (`disconnect`,
    * `sql.py:62-85`; the session itself belongs to the caller, like the
    * reference's engine — so a caller's own temp views survive). */
  def disconnect(): Unit = {
    registered.foreach(spark.catalog.dropTempView)
    registered.clear()
    log.message = "Disconnected"; log.status = "success"; log.printMessage()
  }

  /** Arbitrary-SQL extract with the reference's post-processing pipeline
    * (`sql.py:88-171`): run query → caller dtype coercion → decimal
    * (38,20) normalization → optional progress callback. Returns None on
    * error (logged), like the reference — for errors surfaced by this
    * call (parse/analysis, and full execution when `progress` is set);
    * without a progress callback the returned frame is LAZY, so a
    * runtime-only failure (e.g. a corrupt file) surfaces at the caller's
    * first action, as with any DataFrame.
    *
    * When `progress` is set the frame must execute once to drive the
    * callback, so it is persisted first — the caller's subsequent action
    * reads the cache instead of re-running the query (unpersist when
    * done). */
  def getData(
      query: String,
      spec: Types.CoercionSpec = Types.CoercionSpec(),
      progress: Option[(Long, Long) => Unit] = None): Option[DataFrame] =
    Try {
      val df = Types.normalizeDecimals(Types.coerce(spark.sql(query), spec))
      progress.foreach { cb =>
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // a failing counted query must not leak a pinned cache entry on
        // a long-lived session — unpersist before surfacing the error
        try ProgressReporter.withProgress(spark)(cb)(df.count())
        catch { case e: Throwable => df.unpersist(); throw e }
      }
      df
    } match {
      case Success(df) => Some(df)
      case Failure(ex) =>
        log.message = s"get_data failed: ${ex.getMessage}"
        log.status = "fail"
        log.printMessage()
        None
    }

  /** After any mutation, the table's registered view and Spark's file
    * index must see the new files: temp views pin the `InMemoryFileIndex`
    * listed at connect() time, so without a refresh a subsequent
    * `getData` silently reads STALE rows after an append — or crashes
    * with FILE_NOT_EXIST after a rewrite renamed the old files away.
    * (The reference's MSSQL connection always sees current data.) */
  private def refreshTable(table: String): Unit = {
    spark.catalog.refreshByPath(tablePath(table))
    if (registered.contains(table)) read(table).createOrReplaceTempView(table)
  }

  /** Chunked append (`insert_data`, `sql.py:174-188`): `chunkRows` is the
    * reference's chunk size, here the most rows any one written file
    * holds (`maxRecordsPerFile`); the chunks of one call are written in
    * parallel and commit once. The records must carry the table's column
    * names and types (order and nullability aside); appending to a
    * missing table creates it with the records' schema. */
  def insertData(table: String, records: DataFrame, chunkRows: Int = 10000): Unit = {
    val path = tablePath(table)
    if (!schemas.contains(table) && !exists(path)) schemas(table) = records.schema
    val known = schemaOf(table)
    val got = records.schema.fields.map(f => f.name -> f.dataType).toMap
    require(got.size == known.length && known.forall(f =>
        got.get(f.name).exists(DataTypeUtils.equalsIgnoreNullability(_, f.dataType))),
      s"records schema ${records.schema.simpleString} does not match table " +
        s"$table's ${known.simpleString}")
    Sinks.append(records.select(known.fieldNames.toIndexedSeq.map(col): _*), path,
      maxRecordsPerFile = chunkRows)
    refreshTable(table)
  }

  private def exists(path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Keyed update (`update_data`, `sql.py:191-249`): the per-record
    * UPDATE loop becomes one join + rewrite. Accepts in-memory records
    * like the reference's `list[dict]`; they become a local relation,
    * which the planner can size, so a small update set is broadcast
    * instead of shuffling the table. */
  def updateData(table: String, records: Seq[Row], keys: Seq[String]): Unit = {
    require(records.nonEmpty, "update records must be non-empty")
    require(records.head.schema != null,
      "update records must carry a schema (build rows with a case class, " +
        "Row + RowEncoder, or createDataFrame with an explicit StructType; " +
        "bare Row(...) has no schema)")
    val updates = spark.createDataFrame(records.asJava, records.head.schema)
    require(keys.forall(updates.columns.contains),
      s"keys ${keys.mkString(",")} must be present in update records")
    rewrite(table)(Mutations.applyUpdates(_, updates, keys))
  }

  /** Set-oriented merge from another table (`update_from_table`,
    * `sql.py:253-289`; first updates column list = all non-key source
    * columns, mirroring `sql.py:271`'s "first column is the key"). */
  def updateFromTable(table: String, source: DataFrame, keys: Seq[String]): Unit =
    rewrite(table)(Mutations.applyUpdates(_, source, keys))

  def truncateTable(table: String): Unit = {
    Sinks.truncate(spark, tablePath(table), schemaOf(table))
    refreshTable(table)
  }

  def deleteData(table: String): Unit = {
    Sinks.deleteAll(spark, tablePath(table), schemaOf(table))
    refreshTable(table)
  }

  /** Conditional delete (`sql.py:321-332`): predicate string parsed by
    * Catalyst, rows matching it removed. */
  def deleteDataWithConditions(table: String, conditions: String): Unit =
    rewrite(table)(Mutations.deleteWhere(_, conditions))

  /** Replace the table with `f` of its current rows. */
  private def rewrite(table: String)(f: DataFrame => DataFrame): Unit = {
    Sinks.overwriteInPlace(spark, f(read(table)), tablePath(table))
    refreshTable(table)
  }
}

object FlowEngine {

  /** JDBC extract — literal parity with the reference's remote-database
    * read path (`sql.py:88-109`: arbitrary query, chunked fetch →
    * `fetchsize`). Untestable in this zero-egress environment. */
  def jdbcQuery(spark: SparkSession, url: String, query: String,
      fetchSize: Int = 10000,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("query", query)
      .option("fetchsize", fetchSize)
      .options(options)
      .load()
}
