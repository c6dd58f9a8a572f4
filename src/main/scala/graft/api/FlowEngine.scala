package graft.api

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.Bridge
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
  * File-granular contract: a conditional delete or a keyed update
  * rewrites only the files that can hold a row it changes, found from
  * the parquet footers ([[graft.engine.Sinks.candidateFiles]]); every
  * other file keeps its bytes, name and mtime, and a mutation that can
  * change no file writes nothing. The swap keeps a file an outside
  * writer appended while the rewrite was writing its new files. A
  * rewrite that fails leaves the table as it was; one whose process
  * died mid-swap is completed when an engine next connects, or reads
  * or appends to the table for a mutation
  * ([[graft.engine.Sinks.recover]]), and `getData` reads the views
  * `connect()` registered. A table holding more files than
  * `spark.sql.shuffle.partitions` is rewritten whole, which packs its
  * files into at most about that many, so appends between file-granular
  * rewrites cannot grow the file count without bound.
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

  /** The table's path, after completing a rewrite whose process died
    * mid-swap ([[Sinks.recover]]; nothing is deleted as stale here):
    * every read of a table goes through here. */
  private def recovered(table: String): String = {
    Sinks.recover(spark, tablePath(table))
    tablePath(table)
  }

  /** The table's kept schema, inferred from its footers on first touch. */
  private def schemaOf(table: String): StructType =
    schemas.getOrElseUpdate(table, spark.read.parquet(recovered(table)).schema)

  /** The table's current files, read with the kept schema. */
  private def read(table: String): DataFrame =
    spark.read.schema(schemaOf(table)).parquet(recovered(table))

  /** "Open the connection": register every `<table>.parquet` under the
    * warehouse as a temp view so `getData` can run arbitrary SQL against
    * them (the reference's connect, `sql.py:36-58`, with the catalog in
    * place of a socket). Each table's schema is (re)inferred here. */
  def connect(): Try[Seq[String]] = Try {
    val root = new Path(warehouse)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a table a crash left mid-swap has only its `.pre_rewrite` backup
    // until recovery completes the swap; one it cannot complete is left out
    val tables = fs.listStatus(root).toSeq
      .map(_.getPath.getName.stripSuffix(".pre_rewrite")).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).distinct.sorted
      .filter(t => exists(recovered(t)))
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
    * done). The callback gets the cumulative rows and bytes this count
    * has read after each task that read rows (the reference reports
    * after each fetched chunk, `sql.py:146-156`), and every call has
    * been made when `getData` returns. */
  def getData(
      query: String,
      spec: Types.CoercionSpec = Types.CoercionSpec(),
      progress: Option[(Long, Long) => Unit] = None): Option[DataFrame] =
    Try {
      val df = Types.normalizeDecimals(Types.coerce(spark.sql(query), spec))
      progress.foreach { cb =>
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // count, then the caller
        // counted through the executed plan, which fills the cache in the
        // same pass; `df.count()` would fill it in one job, then read the
        // cached batches back in another, each batch one more input record.
        // A failing counted query must not leak a pinned cache entry on
        // a long-lived session — unpersist before surfacing the error
        try JobCounter.measure(spark.sparkContext, cb)(df.queryExecution.toRdd.count())
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
    val path = recovered(table)
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
    * instead of shuffling the table. Only the files whose first key
    * column can fall between the records' least and greatest non-null
    * value (found on the driver, in Spark's order) are rewritten; a key of a type whose
    * range test could miss a join match (floating point, or a type other
    * than the table's) makes every file a candidate. */
  def updateData(table: String, records: Seq[Row], keys: Seq[String]): Unit = {
    require(records.nonEmpty, "update records must be non-empty")
    require(records.head.schema != null,
      "update records must carry a schema (build rows with a case class, " +
        "Row + RowEncoder, or createDataFrame with an explicit StructType; " +
        "bare Row(...) has no schema)")
    val updates = spark.createDataFrame(records.asJava, records.head.schema)
    require(keys.forall(updates.columns.contains),
      s"keys ${keys.mkString(",")} must be present in update records")
    rewrite(table, keyRange(table, records, keys.head))(
      Mutations.applyUpdates(_, updates, keys))
  }

  /** `k` between the least and greatest non-null value the records hold
    * (false when every one is null: a null key joins nothing), or None
    * when a range test is unsafe for `k`'s type. */
  private def keyRange(table: String, records: Seq[Row], k: String): Option[Column] = {
    val t = records.head.schema(k).dataType
    val ranged = (t.isInstanceOf[DecimalType] || Set[DataType](ByteType, ShortType,
      IntegerType, LongType, StringType, DateType, TimestampType)(t)) &&
      schemaOf(table).find(_.name == k).exists(_.dataType == t)
    // each key as the table's type holds it (a decimal rounded to its
    // scale), as the join compares it
    val ks = records.map(r => Literal.create(r.get(r.fieldIndex(k)), t)).filter(_.value != null)
    if (!ranged) None
    else if (ks.isEmpty) Some(lit(false))
    else {
      // Spark's own order of the type (strings by UTF-8 bytes, not UTF-16)
      val ord = TypeUtils.getInterpretedOrdering(t).on[Literal](_.value)
      Some(col(k).between(Bridge.column(ks.min(ord)), Bridge.column(ks.max(ord))))
    }
  }

  /** Set-oriented merge from another table (`update_from_table`,
    * `sql.py:253-289`; first updates column list = all non-key source
    * columns, mirroring `sql.py:271`'s "first column is the key"). */
  def updateFromTable(table: String, source: DataFrame, keys: Seq[String]): Unit =
    rewrite(table, None)(Mutations.applyUpdates(_, source, keys))

  def truncateTable(table: String): Unit = {
    Sinks.truncate(spark, tablePath(table), schemaOf(table))
    refreshTable(table)
  }

  def deleteData(table: String): Unit = {
    Sinks.deleteAll(spark, tablePath(table), schemaOf(table))
    refreshTable(table)
  }

  /** Conditional delete (`sql.py:321-332`): predicate string parsed by
    * Catalyst, rows matching it removed; only the files whose footers
    * admit a matching row are rewritten, and a file left with no row is
    * removed. */
  def deleteDataWithConditions(table: String, conditions: String): Unit =
    rewrite(table, Some(expr(conditions)))(Mutations.deleteWhere(_, conditions))

  /** Replace the files that can hold a row matching `where` (every file
    * for None) with `f` of their rows, leaving every other file as it
    * is; all of them when the table holds more than
    * `spark.sql.shuffle.partitions` files. No candidate file: no job, no
    * write. */
  private def rewrite(table: String, where: Option[Column])(f: DataFrame => DataFrame): Unit = {
    val current = read(table)
    val (all, hit) = Sinks.candidateFiles(current, where)
    val files = if (all.size > spark.conf.get("spark.sql.shuffle.partitions").toInt) all else hit
    if (files.nonEmpty) {
      // `current` has listed exactly `all` already
      val rows = if (files.size == all.size) current
        else spark.read.schema(schemaOf(table)).parquet(files.map(_.toString): _*)
      Sinks.overwriteInPlace(spark, f(rows), tablePath(table), files = Some(files))
      refreshTable(table)
    }
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
