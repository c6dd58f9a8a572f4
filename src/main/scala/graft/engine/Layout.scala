package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Physical-layout toolkit — the knobs that decide whether a plan
  * survives a 100× scale-up:
  *
  *  - [[writeBucketed]]: co-locate join keys at write time so repeated
  *    big-big joins on that key skip the shuffle entirely (bucketed
  *    SortMergeJoin with zero Exchange);
  *  - [[writePartitionedByDay]]: day-partitioned layout so time-range
  *    predicates prune whole directories at planning time;
  *  - [[saltedJoin]]: spread a skewed build side across `salts`
  *    replicas when one hot key would otherwise pin a single reducer
  *    (complementary to AQE skew-join, which only splits *post-shuffle*
  *    partitions).
  */
object Layout {

  /** Bucketed, sorted-by-key external table at `path`. Joining two
    * tables bucketed the same way on the same key is shuffle-free. */
  def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCol: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .option("path", path)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Day-partitioned event layout: `day=YYYY-MM-DD/` directories.
    * Refuses a frame that already carries a `day` column — withColumn
    * would silently overwrite it. */
  def writePartitionedByDay(df: DataFrame, path: String, tsCol: String): Unit = {
    require(!df.columns.contains("day"),
      "input already has a 'day' column; rename it or partition manually")
    df.withColumn("day", date_format(col(tsCol), "yyyy-MM-dd"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("day")
      .parquet(path)
  }

  /** Compact a parquet table to ~`targetMB` files — the small-files
    * repair every long-lived warehouse needs (each append job leaves one
    * file per task; scan overhead grows with file count, not bytes).
    * Partition count derives from actual on-disk bytes, so the operation
    * is idempotent and safe to schedule.
    *
    * A Hive-partitioned layout (`col=value/` directories, e.g. from
    * [[writePartitionedByDay]]) is detected and re-written with the same
    * `partitionBy` chain — a naive rewrite would silently flatten the
    * directory structure and lose partition pruning. Rows cluster on
    * (partition columns, salt) with a PER-VALUE salt count derived from
    * that value's on-disk bytes (a metadata-only directory walk — no
    * Spark job): clustering on the partition columns alone would
    * collapse every value to a single file (a 100 GB day becomes one
    * 100 GB parquet file and loses scan parallelism), while one global
    * salt sized from the average would under-split hot values and
    * shatter cold ones. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetMB: Int = 256): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val targetBytes = targetMB.toLong * 1024 * 1024
    val bytes = fs.getContentSummary(p).getLength
    val parts = math.max(1, (bytes / targetBytes).toInt)
    val pcols = partitionColumns(fs, p)
    // Read partition values AS THE RAW DIRECTORY STRINGS: with type
    // inference, Spark canonicalizes values ("01" → int 1), so (a) the
    // per-value salt join against the directory-walk strings silently
    // misses and the hot value collapses to one file, and (b) the
    // rewrite re-encodes the canonical form, renaming `id=01/` to
    // `id=1/` under the reader's feet. Inference is disabled by passing
    // an EXPLICIT schema (data columns from one leaf directory — which
    // has no `col=` levels, so its schema is pure file schema — plus the
    // partition columns as StringType): user-specified partition types
    // skip inference per read. Toggling the session-wide inference conf
    // instead would leak string-typed partition columns into any query
    // another thread plans during the window.
    // one directory walk serves both the schema probe and the per-leaf
    // salt sizing (on an object store each walk is a listStatus per
    // directory level per partition — not free to repeat)
    val leafList =
      if (pcols.isEmpty) Seq.empty
      else leafPartitions(fs, p, pcols.length)
    if (bytes == 0) return // nothing to compact (and no schema to probe)
    val df0 =
      if (pcols.isEmpty) spark.read.parquet(path)
      else {
        import org.apache.spark.sql.types.{StringType, StructField, StructType}
        // merge the data schema across ALL leaves, not one arbitrary
        // leaf: under schema evolution a single-leaf probe would drop
        // the columns that leaf predates — and overwriteInPlace would
        // rewrite the table without them (permanent data loss). The
        // footer reads are noise next to the full rewrite that follows;
        // empty leaf dirs contribute no files and are harmless.
        val dataSchema = spark.read.option("mergeSchema", "true")
          .parquet(leafList.map(_._2.toString): _*).schema
        val full = StructType(dataSchema.fields.toIndexedSeq ++
          pcols.map(c => StructField(c, StringType, nullable = true)))
        spark.read.schema(full).parquet(path)
      }
    val df =
      if (pcols.isEmpty) df0.repartition(parts)
      else {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val leaves = leafList.map { case (vals, lp) =>
          val b = fs.getContentSummary(lp).getLength
          Row.fromSeq(vals :+ math.max(1L, (b + targetBytes - 1) / targetBytes))
        }
        val saltSchema = StructType(
          pcols.map(c => StructField(s"__v_$c", StringType)) :+
            StructField("__saltN", LongType))
        val saltDf = spark.createDataFrame(
          spark.sparkContext.parallelize(leaves, 1), saltSchema)
        // null-safe: a `__HIVE_DEFAULT_PARTITION__` directory reads back
        // as null, which `===` would never match
        val joinCond = pcols.map(c =>
          col(c).cast("string") <=> col(s"__v_$c")).reduce(_ && _)
        df0.join(broadcast(saltDf), joinCond, "left")
          .withColumn("__salt", pmod(monotonically_increasing_id(),
            coalesce(col("__saltN"), lit(1L))))
          .repartition(parts, (pcols.map(col) :+ col("__salt")): _*)
          .drop(("__salt" +: "__saltN" +: pcols.map(c => s"__v_$c")): _*)
      }
    Sinks.overwriteInPlace(spark, df, path, partitionBy = pcols)
  }

  /** (partition values outermost-first, leaf dir) for each `col=value/`
    * leaf at `depth` levels below `root` — Hive-escaped values decoded. */
  private def leafPartitions(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      depth: Int): Seq[(Seq[String], org.apache.hadoop.fs.Path)] =
    if (depth == 0) Seq((Nil, root))
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .flatMap { d =>
        val raw = unescapeHive(d.getPath.getName.split("=", 2)(1))
        // Spark reads the Hive null-sentinel directory back as null
        val v = if (raw == "__HIVE_DEFAULT_PARTITION__") null else raw
        leafPartitions(fs, d.getPath, depth - 1).map {
          case (vs, lp) => (v +: vs, lp)
        }
      }

  /** Hive partition-path unescape: decode `%xx` sequences ONLY —
    * java.net.URLDecoder additionally turns '+' into a space, which
    * Hive escaping never produces, so a partition value containing a
    * literal '+' would decode wrong, miss the per-value salt join, and
    * collapse that value to a single file (the very failure the salt
    * exists to prevent). Mirrors Spark's unescapePathName; a '%' not
    * followed by two hex digits passes through literally. */
  private[engine] def unescapeHive(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val hex = if (c == '%' && i + 2 < s.length)
        try Some(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        catch { case _: NumberFormatException => None }
      else None
      hex match {
        case Some(code) => sb.append(code.toChar); i += 3
        case None => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  /** Hive partition columns of an on-disk layout, outermost first: each
    * directory level whose children are all `name=value` dirs with one
    * shared name contributes that name. Empty for unpartitioned tables. */
  private[engine] def partitionColumns(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    val cols = scala.collection.mutable.ArrayBuffer[String]()
    var cur = root
    var descend = true
    while (descend) {
      val dirs = fs.listStatus(cur).filter(_.isDirectory).map(_.getPath)
        .filterNot(d => d.getName.startsWith("_") || d.getName.startsWith("."))
      val names = dirs.map(_.getName).filter(_.contains("="))
        .map(_.split("=", 2)(0)).distinct
      if (dirs.nonEmpty && names.length == 1 &&
          dirs.forall(_.getName.contains("="))) {
        cols += names.head
        cur = dirs.head
      } else descend = false
    }
    cols.toSeq
  }

  /** Hash-spread a SMALL, compute-heavy frame across the session's
    * shuffle width — the fix for the "tiny bytes, huge per-row compute"
    * scan shape: split planning is byte-based
    * (`spark.sql.files.maxPartitionBytes`), so a staged table smaller
    * than one split arrives as ONE task even when the work it feeds
    * (text HOF folds, banded self-join fanout) is orders of magnitude
    * larger than the scan — measured at the 10× SF: four queries ran
    * their whole compute on a single core while 31 idled.
    *
    * Scale-adaptive by construction (never a constant): the spread
    * only fires when the input's estimated bytes are below
    * `shuffle.partitions × maxPartitionBytes` — i.e. when the scan
    * CANNOT reach the session's parallelism on its own. At cluster
    * scale the same frame measures past the threshold and the call is
    * an exact no-op (no exchange added), so the corpus-sized shuffle
    * this would otherwise cost at 100 TB never happens. File-backed
    * frames (the [[graft.engine.Stages]] outputs this serves) carry
    * exact file-length statistics, so the estimate is real bytes, not
    * a guess. Keys must be high-cardinality (doc keys) so the hash
    * spreads evenly — and keyed hashing avoids the local sort a
    * round-robin repartition pays (`sortBeforeRepartition`). */
  def spreadSmall(df: DataFrame, keys: Seq[Column]): DataFrame = {
    val conf = Bridge.conf(df.sparkSession)
    val sp = conf.numShufflePartitions
    val split = conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(sp) * split) df.repartition(sp, keys: _*) else df
  }

  /** Salted equi-join of a skewed fact against a dimension: the fact
    * side gets a per-row salt, the dimension is replicated `salts`
    * times, and the join key becomes (key, salt) — one hot key now
    * lands on `salts` reducers instead of one. Result set is identical
    * to `fact.join(dim, key)`. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0)
    // the identical-result contract forbids silently clobbering a
    // user column named __salt (withColumn replaces by name)
    require(!fact.columns.contains("__salt") && !dim.columns.contains("__salt"),
      "input already has a '__salt' column; rename it before saltedJoin")
    val salted = fact.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salts.toLong)).cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Morton (Z-order) interleave of `cols`, each range-scaled to a
    * `bits`-wide integer against its broadcast (mn, mx) pair: bit b of
    * column i lands at position b·n+i. Nearby points in ALL dimensions
    * get nearby z-values, which is what makes multi-column clustering
    * work: a file sorted by z is tight on every z-column's min/max
    * footer stats, so a 2-D predicate skips files on both columns —
    * where a plain sort clusters only its leading column. */
  private[graft] def zValue(cols: Seq[Column],
      mins: Seq[Column], maxs: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 1 && n * bits <= 62,
      s"z-value needs n·bits <= 62 (got $n × $bits)")
    val top = (1L << bits) - 1
    val scaled = cols.lazyZip(mins).lazyZip(maxs).map { (c, mn, mx) =>
      // degenerate (mn = mx) dimensions contribute 0, like int8Quant
      when(mx > mn, least(lit(top),
        floor((c.cast("double") - mn) / (mx - mn) * top)))
        .otherwise(lit(0L))
    }
    val terms = for {
      b <- 0 until bits
      i <- 0 until n
    } yield shiftleft(shiftright(scaled(i), b).bitwiseAND(lit(1L)), b * n + i)
    terms.reduce[Column](_ bitwiseOR _)
  }

  /** Z-order-clustered parquet layout over `zCols` (numeric/timestamp):
    * one agg pass for the per-column ranges (broadcast back), a range
    * repartition + in-partition sort on the interleaved z-value, then a
    * plain parquet write — `files` output files whose per-file min/max
    * stats are tight on EVERY z-column. The maintenance pass behind
    * "OPTIMIZE ... ZORDER BY" in lakehouse engines, as a library
    * operator. Query-side needs nothing: parquet readers skip on footer
    * stats automatically. */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      bits: Int = 12, files: Int = 8): Unit = {
    require(zCols.nonEmpty, "writeZOrdered needs at least one column")
    require(!df.columns.contains("__z"),
      "input already has a '__z' column; rename it before writeZOrdered")
    val aggs = zCols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"__mn_$c"),
      max(col(c)).cast("double").as(s"__mx_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    df.crossJoin(broadcast(stats))
      .withColumn("__z", zValue(zCols.map(col),
        zCols.map(c => col(s"__mn_$c")), zCols.map(c => col(s"__mx_$c")),
        bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z" +: zCols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c")): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Distributed global rank + running sum — the scale-safe replacement
    * for `Window.orderBy(key)` over an unbounded input, which funnels
    * EVERY row through one partition (the WindowExec "No Partition
    * Defined" advisory). Two passes, identical output: range-partition
    * on the sort key (partition i holds keys ordered strictly before
    * partition i+1 under `sortExprs`), rank and running-sum per
    * partition in parallel, then broadcast-join the per-partition
    * row/value offsets — a ≤`parts`-row frame, the only unpartitioned
    * window left and bounded by the partition count, not the data.
    * Range boundaries come from sampling, but the offsets correct any
    * placement exactly, so the output does not depend on them.
    *
    * Appends to `df`:
    *   - `r`      global 1-based rank (long) in `sortExprs` order
    *   - `cum`    running sum of `value` up to and including the row
    *   - `n_rows` total input row count (long)
    *
    * The sort key must be total (tie-free) for `r`/`cum` to be
    * deterministic — the same contract the single-window form had.
    *
    * The ranged frame is persisted (memory, disk spill) before the two
    * consumers read it: `__pid` comes from `spark_partition_id()`, so
    * the rank pass and the totals pass MUST observe the same physical
    * partitioning. Without the persist that alignment rides on exchange
    * reuse — and column pruning can make the two subtrees canonically
    * different (totals needs fewer columns), defeating reuse and
    * letting two independent range-samplings assign different pids:
    * silently wrong output. Materializing once makes it structural.
    * The cache registers with the session CacheManager, so the
    * harnesses' per-query `spark.catalog.clearCache()` releases it. */
  def rankedCum(df: DataFrame, sortExprs: Seq[Column], value: Column,
      parts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reserved = Seq("__pid", "__lr", "__lcum", "__cnt", "__psum",
      "__off_r", "__off_c", "r", "cum", "n_rows")
    require(!df.columns.exists(reserved.contains),
      s"input carries a reserved rankedCum column (${reserved.mkString(",")})")
    // The ranged frame's plan is normalized with the SAME ascending-
    // NULLS FIRST → NULLS LAST rewrite the registry boundary
    // (Registry0.portableOrder) applies to every declared query's whole
    // analyzed plan, BEFORE it is persisted. Without this the persist
    // registered the pre-rewrite plan but every harness consumer looked
    // up the post-rewrite one: the lookup missed, the cache never
    // engaged, and both consumers re-ran the range exchange and its
    // sampling pass (observed in every harness rankedCum plan — output
    // stayed correct only because the two samplings are deterministic
    // over the same scan, which is exactly the fragility the persist
    // exists to remove). Semantics are unchanged through the harness
    // (the boundary already rewrote these nodes before execution);
    // direct library callers see a difference only when a sort KEY
    // holds nulls — the documented key contract is total, and
    // nulls-last is the repo-wide DuckDB-portable convention.
    val ranged = Registry0.portableOrder(
        df.repartitionByRange(parts, sortExprs: _*)
          .withColumn("__pid", spark_partition_id()))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // one sampling, 2 readers
    val wl = Window.partitionBy(col("__pid")).orderBy(sortExprs: _*)
    val local = ranged
      .withColumn("__lr", row_number().over(wl).cast("long"))
      .withColumn("__lcum", sum(value).over(
        wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // prefix offsets over the per-partition totals: a deliberately
    // bounded broadcast cross join (≤ parts² = 1024 pairs), NOT an
    // unpartitioned window — the helper exists to remove the global
    // WindowExec, so it must not reintroduce one even on a tiny frame
    val totals = ranged.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"), sum(value).as("__psum"))
    val offs = totals.select(col("__pid"))
      .crossJoin(broadcast(totals.select(col("__pid").as("__pid2"),
        col("__cnt"), col("__psum"))))
      .groupBy(col("__pid"))
      .agg(
        sum(when(col("__pid2") < col("__pid"), col("__cnt"))
          .otherwise(lit(0L))).as("__off_r"),
        sum(when(col("__pid2") < col("__pid"), col("__psum"))
          .otherwise(lit(0L))).as("__off_c"),
        sum(col("__cnt")).as("n_rows"))
    local.join(broadcast(offs), Seq("__pid"))
      .withColumn("r", col("__off_r") + col("__lr"))
      .withColumn("cum", col("__off_c") + col("__lcum"))
      .drop("__pid", "__lr", "__lcum", "__off_r", "__off_c")
  }
}
