package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** File sinks, replacing the reference's write-side operators:
  *
  *  - chunked append (`sql.py:174-188` `insert_data`) → partition-parallel
  *    append; the 10k-row chunks become files of at most that many rows,
  *    written by executor tasks with one job commit instead of a commit
  *    per chunk;
  *  - truncate (`sql.py:292-302`) and full delete (`sql.py:307-317`) →
  *    overwrite with an empty frame of the same schema (both reference ops
  *    leave the table in place with zero rows — identical semantics);
  *  - conditional delete (`sql.py:321-332`) → anti-filter + rewrite,
  *    see [[Mutations.deleteWhere]] for the dataflow half.
  */
object Sinks {

  /** Append-load (`insert_data`). `maxRecordsPerFile` plays the role of
    * the reference's chunk size: no written file holds more rows, and
    * the files are written in parallel (0 = the session's setting). */
  def append(df: DataFrame, path: String, maxRecordsPerFile: Int = 0): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile.toLong)
     else w).parquet(path)
  }

  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Delimited-text load — the export half of the [[Sources.readCsv]]
    * connector. Timestamps serialize in the same fixed format the
    * reader parses, so a CSV round trip is type-lossless given the
    * same explicit schema. */
  def writeCsv(df: DataFrame, path: String,
      header: Boolean = true, delimiter: String = ","): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", header.toString)
      .option("sep", delimiter)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)

  /** JSON-lines load ([[Sources.readJsonLines]] mirror). */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .json(path)

  /** Overwrite a table with a frame derived from that same table: Spark
    * forbids reading and overwriting one location in a single job, so
    * stage to a sibling temp dir, then swap via filesystem rename.
    * `partitionBy` preserves a Hive-partitioned (`col=value/`) layout.
    *
    * The swap goes through a backup rename with every FS result checked
    * — `fs.delete`/`fs.rename` report failure by RETURNING FALSE, not by
    * throwing, so the naive delete-then-rename sequence could delete the
    * table, fail the rename (cross-volume tmp, permissions, concurrent
    * writer), and return "success" with the data stranded in the temp
    * dir. A crash mid-swap leaves either the original or the backup on
    * disk — never nothing. */
  def overwriteInPlace(spark: SparkSession, df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val target = new Path(path)
    val tmp = new Path(path + ".tmp_rewrite")
    val backup = new Path(path + ".pre_rewrite")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    if (fs.exists(backup)) {
      // a backup with NO live target means a previous run's restore
      // failed and the backup holds the only copy — deleting it as
      // "stale" would be permanent data loss; refuse loudly instead
      if (!fs.exists(target))
        throw new java.io.IOException(
          s"$backup exists but $target does not — a previous rewrite's " +
            s"restore failed; move $backup back to $target before retrying")
      if (!fs.delete(backup, true))
        throw new java.io.IOException(s"could not remove stale backup $backup")
    }
    if (fs.exists(target) && !fs.rename(target, backup))
      throw new java.io.IOException(s"could not move $target aside to $backup")
    if (!fs.rename(tmp, target)) {
      // rename reports failure by returning false — an UNCHECKED restore
      // could leave the table missing while claiming the original is
      // intact (and the sole copy stranded in the backup)
      if (!fs.rename(backup, target))
        throw new java.io.IOException(
          s"could not move rewritten $tmp into $target AND restoring " +
            s"$backup failed — data is preserved at $backup; restore it " +
            "manually before retrying")
      throw new java.io.IOException(
        s"could not move rewritten $tmp into $target (original restored)")
    }
    fs.delete(backup, true)
  }

  /** TRUNCATE TABLE (`sql.py:301`): table survives, rows don't. `schema`
    * is the table's, as a read of it reports it, so truncating reads no
    * data. The empty frame is deliberately written WITHOUT `partitionBy`:
    * a zero-row dynamic-partition write produces NO parquet files (the
    * writer opens files per row), so the swapped-in directory would
    * have no schema and the table would become permanently unreadable.
    * The non-partitioned empty write stores the full schema — partition
    * columns included, since the read surfaces them as ordinary typed
    * columns — in a schema-bearing empty file; the `col=value/`
    * directory tree necessarily disappears with the rows (an empty
    * table has no partitions). */
  def truncate(spark: SparkSession, path: String, schema: StructType): Unit = {
    val empty = spark.createDataFrame(java.util.List.of[Row](), schema)
    overwriteInPlace(spark, empty, path)
  }

  /** DELETE FROM without predicate (`sql.py:316`) — same visible state as
    * truncate. */
  def deleteAll(spark: SparkSession, path: String, schema: StructType): Unit =
    truncate(spark, path, schema)

  /** JDBC append — the literal parity path for `insert_data`'s
    * SQLAlchemy `to_sql(if_exists="append")` (`sql.py:182-184`) when the
    * target really is a remote database. Untestable in this zero-egress
    * environment; kept thin over the built-in JDBC writer. */
  def jdbcAppend(df: DataFrame, url: String, table: String,
      options: Map[String, String] = Map.empty): Unit =
    df.write.mode(SaveMode.Append).format("jdbc")
      .option("url", url).option("dbtable", table).options(options).save()
}
