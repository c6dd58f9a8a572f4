package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField, StructType}
import graft.api.FlowEngine
import graft.engine.{JobCounter, Sinks, Types}

class FlowEngineSpec extends SparkSpec {
  import spark.implicits._

  private def freshWarehouse(): (FlowEngine, String) = {
    val dir = Files.createTempDirectory("graft_wh").toString
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v").write.parquet(s"$dir/items.parquet")
    (new FlowEngine(spark, dir), dir)
  }

  test("connect registers warehouse tables; getData runs arbitrary SQL over them") {
    val (eng, _) = freshWarehouse()
    assert(eng.connect().get == Seq("items"))
    val df = eng.getData("SELECT k, v FROM items WHERE v >= 20 ORDER BY k").get
    assert(df.as[(Long, Double)].collect().toSeq == Seq((2L, 20.0), (3L, 30.0)))
    eng.disconnect()
  }

  test("getData returns None and logs on bad SQL (sql.py:166-171 contract)") {
    val (eng, _) = freshWarehouse()
    eng.connect()
    assert(eng.getData("SELECT nope FROM missing_table").isEmpty)
    eng.disconnect()
  }

  test("getData applies coercion + decimal(38,20) normalization") {
    val (eng, _) = freshWarehouse()
    eng.connect()
    val df = eng.getData("SELECT k, v FROM items",
      Types.CoercionSpec(decimalColumns = Seq("v"))).get
    assert(df.schema("v").dataType == Types.NormalizedDecimal)
    eng.disconnect()
  }

  test("insertData appends; updateData merges by key; conditional delete filters") {
    val (eng, dir) = freshWarehouse()
    eng.insertData("items", Seq((4L, "d", 40.0)).toDF("k", "name", "v"))
    assert(spark.read.parquet(s"$dir/items.parquet").count() == 4)

    val schema = spark.read.parquet(s"$dir/items.parquet")
      .select("k", "name").schema
    eng.updateData("items",
      Seq(new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array(2L, "B!"), schema): Row), Seq("k"))
    val afterUpd = spark.read.parquet(s"$dir/items.parquet")
    assert(afterUpd.filter($"k" === 2).select("name").as[String].head() == "B!")
    assert(afterUpd.count() == 4)

    eng.deleteDataWithConditions("items", "v >= 30.0")
    val left = spark.read.parquet(s"$dir/items.parquet")
    assert(left.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))

    eng.truncateTable("items")
    val empty = spark.read.parquet(s"$dir/items.parquet")
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k", "name", "v"))
  }

  test("getData sees mutations through registered views (no stale file index)") {
    val (eng, _) = freshWarehouse()
    eng.connect()
    def cnt(): Long =
      eng.getData("SELECT count(*) AS c FROM items").get.head().getLong(0)
    assert(cnt() == 3L)
    // append: a stale InMemoryFileIndex would silently still report 3
    eng.insertData("items", Seq((4L, "d", 40.0)).toDF("k", "name", "v"))
    assert(cnt() == 4L, "view must see appended files")
    // rewrite: a stale index would crash with FILE_NOT_EXIST
    eng.deleteDataWithConditions("items", "k = 4")
    assert(cnt() == 3L, "view must survive the in-place rewrite")
    eng.truncateTable("items")
    assert(cnt() == 0L, "view must see the truncated table")
    eng.disconnect()
  }

  test("updateFromTable merges a source frame (sql.py:253-289)") {
    val (eng, dir) = freshWarehouse()
    eng.updateFromTable("items",
      Seq((1L, 111.0), (3L, 333.0)).toDF("k", "v"), Seq("k"))
    val out = spark.read.parquet(s"$dir/items.parquet")
      .orderBy("k").select("v").as[Double].collect().toSeq
    assert(out == Seq(111.0, 20.0, 333.0))
  }

  /** Parquet part files under a table directory. */
  private def partFiles(dir: String, table: String): Seq[java.io.File] =
    new java.io.File(s"$dir/$table.parquet").listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** Keyed update rows for `items`, carrying their schema. */
  private def updateRows(keys: Seq[Long], name: String): Seq[Row] = {
    val schema = StructType(Seq(StructField("k", LongType), StructField("name", StringType)))
    keys.map(k => new GenericRowWithSchema(Array(k, name), schema): Row)
  }

  test("insertData rejects records whose column names or types differ from the table's") {
    val (eng, dir) = freshWarehouse()
    val before = partFiles(dir, "items").map(_.getName).toSet
    val wrongType = Seq((4, "d", 40.0)).toDF("k", "name", "v") // k: int, not bigint
    val extraCol = Seq((4L, "d", 40.0, 1)).toDF("k", "name", "v", "x")
    val missingCol = Seq((4L, "d")).toDF("k", "name")
    for (bad <- Seq(wrongType, extraCol, missingCol))
      intercept[IllegalArgumentException](eng.insertData("items", bad))
    assert(partFiles(dir, "items").map(_.getName).toSet == before,
      "a rejected append must leave the table's files untouched")
    assert(spark.read.parquet(s"$dir/items.parquet").count() == 3)
    // column order and nullability do not count; the stored order is the table's
    eng.insertData("items", Seq((40.0, "d", 4L)).toDF("v", "name", "k"))
    val back = spark.read.parquet(s"$dir/items.parquet")
    assert(back.columns.toSeq == Seq("k", "name", "v"))
    assert(back.filter($"k" === 4).select("v").as[Double].head() == 40.0)
    // appending to a missing table creates it with the records' schema
    eng.insertData("fresh", Seq((1L, "a")).toDF("id", "s"))
    assert(spark.read.parquet(s"$dir/fresh.parquet").count() == 1)
    intercept[IllegalArgumentException](
      eng.insertData("fresh", Seq((2L, 3L)).toDF("id", "s")))
  }

  test("a warm engine launches only the jobs that do the work") {
    val (eng, _) = freshWarehouse()
    eng.connect()
    val batch = Seq((10L, "j", 1.0), (11L, "k", 2.0)).toDF("k", "name", "v")
    val source = Seq((1L, 5.0)).toDF("k", "v")
    val upd = updateRows(Seq(2L), "B")
    // one untimed round of every call: the counts below are steady state
    eng.insertData("items", batch)
    eng.updateData("items", upd, Seq("k"))
    val jobs = Seq(
      "insertData" -> (1, () => eng.insertData("items", batch)),
      "updateData" -> (2, () => eng.updateData("items", upd, Seq("k"))),
      "updateFromTable" -> (2, () => eng.updateFromTable("items", source, Seq("k"))),
      "deleteDataWithConditions" -> (1, () =>
        eng.deleteDataWithConditions("items", "k >= 11")),
      "truncateTable" -> (1, () => eng.truncateTable("items")))
    for ((op, (bound, call)) <- jobs) {
      val n = JobCounter(spark.sparkContext)(call())
      assert(n <= bound, s"$op launched $n jobs; at most $bound do real work")
    }
    assert(eng.getData("SELECT count(*) FROM items").get.head().getLong(0) == 0L)
    eng.disconnect()
  }

  test("insertData writes no file with more than chunkRows rows") {
    val (eng, dir) = freshWarehouse()
    val before = partFiles(dir, "items").map(_.getName).toSet
    // one input partition, so only the per-file row cap can split it
    val rows = spark.range(100, 25100, 1, 1)
      .select($"id".as("k"), lit("x").as("name"), $"id".cast("double").as("v"))
    eng.insertData("items", rows, chunkRows = 10000)
    val added = partFiles(dir, "items").filterNot(f => before(f.getName))
    val perFile = added.map(f => spark.read.parquet(f.getPath).count())
    assert(perFile.nonEmpty && perFile.max <= 10000, s"rows per file: $perFile")
    assert(perFile.sum == 25000L)
    assert(spark.read.parquet(s"$dir/items.parquet").count() == 25003L)
  }

  test("alternating appends and keyed updates keep the file count bounded") {
    val (eng, dir) = freshWarehouse()
    for (i <- 0 until 10) {
      val k0 = 100L + 50 * i
      eng.insertData("items",
        (k0 until k0 + 50).map(k => (k, s"n$k", k.toDouble)).toDF("k", "name", "v"))
      eng.updateData("items", updateRows(Seq(k0, 1L), s"u$i"), Seq("k"))
    }
    val files = partFiles(dir, "items").size
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(files <= cap, s"$files files after 10 append+update rounds; cap $cap")
    val out = spark.read.parquet(s"$dir/items.parquet")
    assert(out.count() == 503L)
    assert(out.filter($"k" === 1).select("name").as[String].head() == "u9")
  }

  test("progress reporter observes rows and bytes read (sql.py:146-156)") {
    val eng = new FlowEngine(spark, sf)
    eng.connect()
    var calls, rows, bytes = 0L
    val df = eng.getData("SELECT * FROM lineitem", progress = Some { (r, b) =>
      calls += 1; rows = r; bytes = b
    }).get
    try {
      assert(rows >= 6000 && bytes > 0 && calls > 0)
      // the callback counts this extract's own tasks, and only them
      assert(rows == 6000, s"last progress report: $rows rows")
    } finally { df.unpersist(); eng.disconnect() }
  }

  test("a progress extract that reads no rows returns at once and reports 0 rows") {
    val (eng, _) = freshWarehouse()
    eng.connect()
    // one untimed progress extract first: the timed one is steady state
    eng.getData("SELECT k FROM items", progress = Some((_, _) => ())).get.unpersist()
    eng.truncateTable("items")
    var rows = 0L
    val t0 = System.nanoTime()
    val df = eng.getData("SELECT k FROM items", progress = Some((r, _) => rows = r)).get
    val sec = (System.nanoTime() - t0) / 1e9
    try {
      assert(sec < 3.0, s"an empty progress extract took $sec s")
      assert(rows == 0L && df.count() == 0L)
    } finally { df.unpersist(); eng.disconnect() }
  }

  // ---- file-granular rewrites: only the files that can hold a changed row

  /** A warehouse whose table `t` (k, name, v) has three files, holding
    * keys [0, 100), [100, 200) and [200, 300); the engine is connected,
    * so the table's schema is already kept. Returns the engine, the
    * warehouse and the files' names in key order. */
  private def threeFileWarehouse(): (FlowEngine, String, Seq[String]) = {
    val dir = Files.createTempDirectory("graft_wh3").toString
    val names = (0 until 3).map { i =>
      val before = stamps(dir, "t").keySet
      spark.range(100L * i, 100L * (i + 1), 1, 1)
        .select($"id".as("k"), concat(lit("n"), $"id").as("name"), ($"id" * 1.5).as("v"))
        .write.mode("append").parquet(s"$dir/t.parquet")
      (stamps(dir, "t").keySet -- before).head
    }
    val eng = new FlowEngine(spark, dir)
    eng.connect()
    (eng, dir, names)
  }

  /** Name -> (mtime, size) of each part file of `table`. */
  private def stamps(dir: String, table: String): Map[String, (Long, Long)] =
    if (!new java.io.File(s"$dir/$table.parquet").isDirectory) Map.empty
    else partFiles(dir, table).map(f => f.getName -> ((f.lastModified, f.length))).toMap

  private def keysOf(dir: String, table: String): Seq[Long] =
    spark.read.parquet(s"$dir/$table.parquet").select("k").as[Long].collect().toSeq.sorted

  test("a delete inside one of three files leaves the other two untouched") {
    val (eng, dir, Seq(f0, f1, f2)) = threeFileWarehouse()
    val before = stamps(dir, "t")
    val (_, used) = JobCounter.measure(spark.sparkContext)(
      eng.deleteDataWithConditions("t", "k >= 120 AND k < 130"))
    val after = stamps(dir, "t")
    assert(after(f0) == before(f0) && after(f2) == before(f2))
    assert(after.size == 3 && !after.contains(f1))
    assert(keysOf(dir, "t") == (0L until 120L) ++ (130L until 300L))
    assert(used.jobs <= 1, s"${used.jobs} jobs")
    assert(used.outputBytes > 0 && used.outputBytes < before(f0)._2 + before(f1)._2,
      s"${used.outputBytes} bytes written to delete from one file of ${before(f1)._2} bytes")
  }

  test("a delete that empties a file removes it and writes no zero-row file") {
    val (eng, dir, Seq(_, f1, _)) = threeFileWarehouse()
    val before = stamps(dir, "t")
    eng.deleteDataWithConditions("t", "k >= 100 AND k < 200")
    assert(stamps(dir, "t") == before - f1)
    assert(keysOf(dir, "t") == (0L until 100L) ++ (200L until 300L))
  }

  test("a delete that matches no file runs no job and changes no file") {
    val (eng, dir, _) = threeFileWarehouse()
    val before = stamps(dir, "t")
    val (_, used) = JobCounter.measure(spark.sparkContext)(
      eng.deleteDataWithConditions("t", "k >= 1000"))
    assert(used.jobs == 0 && used.outputBytes == 0, used)
    assert(stamps(dir, "t") == before)
    assert(keysOf(dir, "t").size == 300)
  }

  test("a delete keeps the rows whose predicate column is NULL") {
    val dir = Files.createTempDirectory("graft_whn").toString
    val path = s"$dir/t.parquet"
    Seq[(Long, Option[Double])]((1L, None), (2L, Some(5.0)), (3L, Some(50.0)))
      .toDF("k", "v").coalesce(1).write.parquet(path)
    Seq[(Long, Option[Double])]((4L, None), (5L, None))
      .toDF("k", "v").coalesce(1).write.mode("append").parquet(path)
    val allNull = partFiles(dir, "t").map(_.getName)
      .find(n => spark.read.parquet(s"$path/$n").filter($"k" === 4).count() == 1).get
    val eng = new FlowEngine(spark, dir)
    eng.connect()
    val before = stamps(dir, "t")
    eng.deleteDataWithConditions("t", "v > 10")
    assert(keysOf(dir, "t") == Seq(1L, 2L, 4L, 5L))
    // a file whose v is NULL in every row can hold no match: untouched
    assert(stamps(dir, "t").get(allNull) == before.get(allNull))
  }

  test("updateData rewrites only the files its key range can reach") {
    val (eng, dir, Seq(f0, f1, f2)) = threeFileWarehouse()
    val before = stamps(dir, "t")
    val (_, used) = JobCounter.measure(spark.sparkContext)(
      eng.updateData("t", updateRows(Seq(120L, 150L), "U"), Seq("k")))
    val after = stamps(dir, "t")
    assert(after(f0) == before(f0) && after(f2) == before(f2) && !after.contains(f1))
    assert(used.outputBytes < before(f0)._2 + before(f1)._2, s"${used.outputBytes} bytes")
    val out = spark.read.parquet(s"$dir/t.parquet")
    assert(out.count() == 300L)
    assert(out.filter($"name" === "U").select("k").as[Long].collect().sorted.toSeq ==
      Seq(120L, 150L))
  }

  test("20 rounds of insert, update and delete keep the file count bounded, no zero-row file") {
    val (eng, dir, _) = threeFileWarehouse()
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val want = scala.collection.mutable.Map((0L until 300L).map(k => k -> s"n$k"): _*)
    for (i <- 0 until 20) {
      val k0 = 1000L + 50 * i
      val fresh = (k0 until k0 + 50).map(k => (k, s"n$k", k.toDouble))
      eng.insertData("t", fresh.toDF("k", "name", "v"))
      fresh.foreach { case (k, n, _) => want(k) = n }
      eng.updateData("t", updateRows(Seq(k0 + 7, 3L * i), s"u$i"), Seq("k"))
      Seq(k0 + 7, 3L * i).foreach(want(_) = s"u$i")
      eng.deleteDataWithConditions("t", s"k >= ${k0 - 50} AND k < ${k0 - 40}")
      (k0 - 50 until k0 - 40).foreach(want.remove)
      val files = partFiles(dir, "t").size
      assert(files <= cap, s"$files files after round $i; cap $cap")
    }
    assert(partFiles(dir, "t").forall(f => spark.read.parquet(f.getPath).count() > 0),
      "a zero-row file is left")
    val got = spark.read.parquet(s"$dir/t.parquet").select("k", "name").as[(Long, String)]
      .collect().toMap
    assert(got == want.toMap)
  }

  test("a rewrite a crash left mid-swap is completed before the engine reads the table") {
    val (_, dir, Seq(f0, f1, _)) = threeFileWarehouse()
    val path = s"$dir/t.parquet"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    import org.apache.hadoop.fs.Path
    // the staged "delete k < 50": f0's other rows and the list naming f0;
    // then the target moved aside, and f1 but not f2 moved into tmp
    spark.read.parquet(s"$path/$f0").filter($"k" >= 50).coalesce(1)
      .write.parquet(s"$path.tmp_rewrite")
    val list = fs.create(new Path(s"$path.tmp_rewrite", "_rewrite_touched"))
    try list.write(f0.getBytes("UTF-8")) finally list.close()
    assert(fs.rename(new Path(path), new Path(s"$path.pre_rewrite")))
    assert(fs.rename(new Path(s"$path.pre_rewrite", f1), new Path(s"$path.tmp_rewrite", f1)))
    val eng = new FlowEngine(spark, dir)
    assert(eng.connect().get == Seq("t"))
    assert(eng.getData("SELECT count(*) FROM t").get.head().getLong(0) == 250L)
    eng.deleteDataWithConditions("t", "k >= 250")
    assert(keysOf(dir, "t") == (50L until 250L))
    assert(!new java.io.File(s"$path.pre_rewrite").exists &&
      !new java.io.File(s"$path.tmp_rewrite").exists)
    eng.disconnect()
  }

  test("reads and an append between a rewrite's staging and its swap lose no row") {
    val (_, dir, Seq(f0, _, _)) = threeFileWarehouse()
    val path = new org.apache.hadoop.fs.Path(s"$dir/t.parquet")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // steps 1-2 of "delete k < 50": f0's other rows and the list, not yet swapped in
    Sinks.stage(fs, spark.read.parquet(s"$path/$f0").filter($"k" >= 50), path, Nil,
      Some(Seq(new org.apache.hadoop.fs.Path(path, f0))))
    // meanwhile, another engine connects, extracts and appends
    val other = new FlowEngine(spark, dir)
    assert(other.connect().get == Seq("t"))
    assert(other.getData("SELECT count(*) FROM t").get.head().getLong(0) == 300L)
    other.insertData("t", Seq((500L, "n500", 750.0)).toDF("k", "name", "v"))
    assert(new java.io.File(s"$path.tmp_rewrite/_rewrite_touched").exists)
    Sinks.swap(fs, path)
    assert(keysOf(dir, "t") == (50L until 300L) :+ 500L)
    assert(!new java.io.File(s"$path.pre_rewrite").exists &&
      !new java.io.File(s"$path.tmp_rewrite").exists)
    other.disconnect()
  }

  test("updateData matches a decimal key given with more places than the column's scale") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_whd").toString
    val schema = StructType(Seq(StructField("k", DecimalType(10, 2)), StructField("name", StringType)))
    for (ks <- Seq(Seq("0.50", "1.00"), Seq("5.00", "6.00")))
      spark.createDataFrame(ks.map(k => Row(new java.math.BigDecimal(k), s"n$k")).asJava, schema)
        .coalesce(1).write.mode("append").parquet(s"$dir/d.parquet")
    val eng = new FlowEngine(spark, dir)
    eng.connect()
    // 1.004 is the row 1.00 once the records take the column's type
    eng.updateData("d",
      Seq(new GenericRowWithSchema(Array(new java.math.BigDecimal("1.004"), "U"), schema)), Seq("k"))
    val got = spark.read.parquet(s"$dir/d.parquet").as[(java.math.BigDecimal, String)]
      .collect().map { case (k, n) => k.toPlainString -> n }.toMap
    assert(got == Map("0.50" -> "n0.50", "1.00" -> "U", "5.00" -> "n5.00", "6.00" -> "n6.00"))
    eng.disconnect()
  }
}
