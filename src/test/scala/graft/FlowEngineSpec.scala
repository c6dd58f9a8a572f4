package graft

import java.nio.file.Files
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.api.FlowEngine
import graft.engine.{ProgressReporter, Types}

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
    var calls = 0L
    val (_, rows, bytes) = ProgressReporter.withProgress(spark) { (r, b) =>
      calls += 1
    } {
      spark.read.parquet(s"$sf/lineitem.parquet").count()
    }
    assert(rows >= 6000 && bytes > 0 && calls > 0)
  }
}
