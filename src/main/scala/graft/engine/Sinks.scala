package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetFooterReader}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
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
  *  - conditional delete (`sql.py:321-332`) → anti-filter + rewrite of
  *    only the files that can hold a matching row ([[candidateFiles]],
  *    [[overwriteInPlace]]); see [[Mutations.deleteWhere]] for the
  *    dataflow half.
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

  /** Replace the files `files` of the table at `path` with the rows of
    * `df` (copy-on-write, file-granular): every other file of the table
    * keeps its bytes, name and mtime. `files` defaults to every file the
    * table holds when the call starts, the whole-table rewrite. `df` is
    * normally derived from exactly those files; Spark forbids reading
    * and overwriting one location in a single job, so the new rows are
    * staged in a sibling dir and swapped in by renames.
    * `partitionBy` preserves a Hive-partitioned (`col=value/`) layout.
    *
    * The swap, every FS result checked (`fs.delete`/`fs.rename` report
    * failure by RETURNING FALSE, not by throwing):
    *  1. write the new rows to `<path>.tmp_rewrite`, then remove its
    *     zero-row files, unless the table would otherwise have no file
    *     (one then stays as the schema carrier, as truncate's does);
    *  2. write the replaced files' list there as `_rewrite_touched`
    *     (readers skip `_` files);
    *  3. rename the target to `<path>.pre_rewrite`;
    *  4. move every file of that backup the list does not name into
    *     tmp, so a file an outside writer appended before step 3
    *     survives the rewrite;
    *  5. rename tmp to the target, then delete the list and the backup.
    * Before step 1, what an earlier rewrite left is completed (a listed
    * mid-swap state, see [[recover]]) or dropped (a stale tmp, or the
    * backup and list a crash after step 5's rename left); a backup with
    * neither target nor list is refused, as is a target re-created
    * mid-swap. When step 4 or 5 fails, the moved files go back into the
    * backup and it becomes the target again, so the table keeps its
    * pre-image; only a process that dies in steps 3–5 leaves the table
    * without a target, for the next [[recover]] to complete. A JVM runs
    * one rewrite of a table at a time; a second one fails at once. */
  def overwriteInPlace(spark: SparkSession, df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil, files: Option[Seq[Path]] = None): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(target).toString
    if (!swapping.add(key))
      throw new java.io.IOException(s"a rewrite of $target is already running")
    try {
      stage(fs, df, target, partitionBy, files)
      swap(fs, target)
    } finally swapping.remove(key)
  }

  /** The tables this JVM is rewriting: their mid-swap state is live, not
    * a crash. */
  private val swapping = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Steps 1–2 of [[overwriteInPlace]], after completing or dropping
    * what an earlier rewrite left. */
  private[graft] def stage(fs: FileSystem, df: DataFrame, target: Path,
      partitionBy: Seq[String], files: Option[Seq[Path]]): Unit = {
    val tmp = sibling(target, Staged)
    clearStale(fs, target)
    val current = dataFiles(fs, target)
    val replaced = files.fold(current)(_.map(relative(fs, target, _))).toSet
    // the list, not a `_SUCCESS` file, marks the staged dir complete
    // (a file create costs ~9 ms on a local disk: a forked chmod each
    // for the file and its checksum)
    val w = df.write.mode(SaveMode.Overwrite)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    val (empty, full) = dataFiles(fs, tmp).partition(rel => rowCount(fs, new Path(tmp, rel)) == 0)
    val keepsNone = full.isEmpty && current.forall(replaced)
    (if (keepsNone) empty.drop(1) else empty).foreach(rel =>
      if (!fs.delete(new Path(tmp, rel), false))
        throw new java.io.IOException(s"could not remove zero-row file $rel from $tmp"))
    val list = fs.create(new Path(tmp, Touched), true)
    try list.write(replaced.toSeq.sorted.mkString("\n").getBytes(UTF_8)) finally list.close()
  }

  /** Steps 3–5 of [[overwriteInPlace]]. */
  private[graft] def swap(fs: FileSystem, target: Path): Unit = {
    val backup = sibling(target, Backup)
    if (fs.exists(target) && !fs.rename(target, backup))
      throw new java.io.IOException(s"could not move $target aside to $backup")
    finish(fs, target, restore = true)
  }

  /** Complete a rewrite of the table at `path` that a process died in
    * the middle of: a backup, no target, and a tmp holding the list
    * (steps 3–5 of [[overwriteInPlace]]) roll forward, finishing steps
    * 4–5. Nothing is deleted as stale here, and every other state is
    * left as it is: a tmp without a backup may belong to a rewrite that
    * is still staging, and a backup beside a target does not stop a
    * read; the next rewrite drops both. A swap this JVM is running is
    * never taken for a crash. FlowEngine calls this before it connects
    * to, reads or appends to a table. */
  def recover(spark: SparkSession, path: String): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!swapping.contains(fs.makeQualified(target).toString)) rollForward(fs, target)
  }

  private def rollForward(fs: FileSystem, target: Path): Unit =
    if (fs.exists(sibling(target, Backup)) && !fs.exists(target) &&
        fs.exists(new Path(sibling(target, Staged), Touched)))
      finish(fs, target, restore = false)

  /** Before a rewrite stages: roll a listed mid-swap state forward, drop
    * the backup and list a crash after step 5's rename left and any
    * stale tmp, and refuse a backup that may hold the only copy. */
  private def clearStale(fs: FileSystem, target: Path): Unit = {
    val (tmp, backup) = (sibling(target, Staged), sibling(target, Backup))
    rollForward(fs, target)
    if (fs.exists(backup)) {
      // a backup with NO live target and no list means a restore failed
      // and the backup holds the only copy — deleting it as "stale"
      // would be permanent data loss; refuse loudly instead
      if (!fs.exists(target))
        throw new java.io.IOException(
          s"$backup exists but $target does not — a previous rewrite's " +
            s"restore failed; move $backup back to $target before retrying")
      if (fs.exists(new Path(tmp, Touched))) throw recreated(tmp, backup, target)
      fs.delete(new Path(target, Touched), false)
      if (!fs.delete(backup, true))
        throw new java.io.IOException(s"could not remove stale backup $backup")
    }
    if (fs.exists(tmp) && !fs.delete(tmp, true))
      throw new java.io.IOException(s"could not remove stale $tmp")
  }

  /** Steps 4–5: the backup's unlisted files join tmp, tmp becomes the
    * target. If they fail and `restore` is set, the moved files go back
    * and the backup becomes the target again. A roll-forward does not
    * restore: the process that died may have moved files this call does
    * not know of, and a later call completes the swap instead. */
  private def finish(fs: FileSystem, target: Path, restore: Boolean): Unit = {
    val (tmp, backup) = (sibling(target, Staged), sibling(target, Backup))
    val in = fs.open(new Path(tmp, Touched))
    val listed = try new String(in.readAllBytes(), UTF_8).split('\n').toSet finally in.close()
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      for (rel <- dataFiles(fs, backup) if !listed(rel)) {
        move(fs, rel, backup, tmp)
        moved += rel
      }
      // a rename onto an existing directory would nest tmp inside it
      if (fs.exists(target)) throw recreated(tmp, backup, target)
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"could not move rewritten $tmp into $target")
    } catch {
      case e: java.io.IOException if restore && !fs.exists(target) =>
        val restored = scala.util.Try {
          moved.foreach(move(fs, _, tmp, backup))
          if (fs.exists(backup) && !fs.rename(backup, target))
            throw new java.io.IOException(s"could not move $backup back to $target")
        }
        if (restored.isFailure)
          throw new java.io.IOException(s"${e.getMessage}, and restoring $backup " +
            "failed; the next rewrite or read of the table completes the swap", e)
        fs.delete(tmp, true)
        throw new java.io.IOException(s"${e.getMessage} (original restored)", e)
    }
    fs.delete(new Path(target, Touched), false)
    if (!fs.delete(backup, true) && fs.exists(backup))
      throw new java.io.IOException(s"could not remove backup $backup")
  }

  private def recreated(tmp: Path, backup: Path, target: Path) = new java.io.IOException(
    s"$target was re-created while a rewrite was swapping it in; the " +
      s"table's rows are split between $backup and $tmp — merge them by hand")

  /** Move the file `rel` from under `from` to under `to`. */
  private def move(fs: FileSystem, rel: String, from: Path, to: Path): Unit = {
    val dst = new Path(to, rel)
    if (!fs.mkdirs(dst.getParent) || !fs.rename(new Path(from, rel), dst))
      throw new java.io.IOException(s"could not move $rel from $from into $to")
  }

  /** The files `table` (one plain parquet table read) lists, and those
    * of them that can hold a row matching `where` (every one for None).
    * Optimizer only, no physical planning and no Spark job: the
    * conjuncts of `table.filter(where)`'s optimized scan filter are
    * translated as the file scan translates its data filters, and each
    * file's footer row-group statistics are tested against them with
    * parquet's `RowGroupFilter`, the conservative test the reader uses
    * to skip row groups, so a file with a matching row is never left
    * out. With no translatable filter, a plan that is not a filtered
    * scan of the table, or a Hive-partitioned table, every file can; a
    * filter the optimizer folds to false leaves no file. */
  def candidateFiles(table: DataFrame, where: Option[Column]): (Seq[Path], Seq[Path]) = {
    val relation = table.queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r }
      .getOrElse(throw new IllegalArgumentException("not a file table read"))
    val all = relation.location.listFiles(Nil, Nil).flatMap(_.files).map(_.getPath)
    val hit = where.filter(_ => relation.partitionSchema.isEmpty).fold(all) { w =>
      table.filter(w).queryExecution.optimizedPlan match {
        case PhysicalOperation(_, conds, l: LogicalRelation) if l.relation eq relation =>
          val pushed = Bridge.sourceFilters(conds, l)
          if (pushed.isEmpty) all else all.filter(mayMatch(table, pushed))
        case l: LocalRelation if l.data.isEmpty => Nil
        case _ => all
      }
    }
    (all, hit)
  }

  /** Whether a row group of `file` can hold a row passing `filters`. */
  private def mayMatch(table: DataFrame, filters: Seq[Filter])(file: Path): Boolean = {
    val conf = Bridge.conf(table.sparkSession)
    val meta = footer(table.sparkSession.sparkContext.hadoopConfiguration, file)
    val schema = meta.getFileMetaData.getSchema
    val kv = meta.getFileMetaData.getKeyValueMetaData
    val pf = new ParquetFilters(schema, conf.parquetFilterPushDownDate,
      conf.parquetFilterPushDownTimestamp, conf.parquetFilterPushDownDecimal,
      conf.parquetFilterPushDownStringPredicate,
      conf.parquetFilterPushDownInFilterThreshold, conf.caseSensitiveAnalysis,
      DataSourceUtils.datetimeRebaseSpec(kv.get(_),
        conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString))
    filters.flatMap(pf.createFilter).reduceOption(FilterApi.and).forall(p =>
      !RowGroupFilter.filterRowGroups(FilterCompat.get(p), meta.getBlocks, schema).isEmpty)
  }

  private val Staged = ".tmp_rewrite"
  private val Backup = ".pre_rewrite"
  /** The replaced files' list in a staged rewrite, one relative path a line. */
  private val Touched = "_rewrite_touched"

  private def sibling(target: Path, suffix: String): Path =
    new Path(target.getParent, target.getName + suffix)

  /** Paths, relative to `root`, of the files a parquet read of `root`
    * sees: no path component hidden (`.x`, or `_x` without `=`), as in
    * Spark's file index. (`listStatus`, not `listFiles`: the located
    * statuses cost a permission lookup per file on a local disk.) */
  private def dataFiles(fs: FileSystem, root: Path): Seq[String] = {
    def hidden(n: String) = n.startsWith(".") || n.startsWith("_") && !n.contains("=")
    def walk(dir: Path, prefix: String): Seq[String] =
      fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        val rel = prefix + s.getPath.getName
        if (s.isDirectory) walk(s.getPath, rel + "/") else Seq(rel)
      }
    if (fs.exists(root)) walk(root, "") else Nil
  }

  private def relative(fs: FileSystem, root: Path, file: Path): String = {
    val base = fs.makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
    val p = fs.makeQualified(file).toUri.getPath
    require(p.startsWith(base), s"$file is not a file of $root")
    p.stripPrefix(base)
  }

  private def footer(conf: Configuration, file: Path): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(file, conf),
      ParquetMetadataConverter.NO_FILTER)

  private def rowCount(fs: FileSystem, file: Path): Long =
    footer(fs.getConf, file).getBlocks.asScala.map(_.getRowCount).sum

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
