package graft

import java.nio.file.Files
import graft.engine.Sinks

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_sink").resolve("t").toString

  test("append accumulates rows across writes (insert_data semantics)") {
    val p = tmp()
    Sinks.append(Seq(1, 2).toDF("x"), p)
    Sinks.append(Seq(3).toDF("x"), p)
    assert(spark.read.parquet(p).count() == 3)
  }

  test("truncate leaves an empty table with the same schema (sql.py:292-302)") {
    val p = tmp()
    Sinks.append(Seq((1, "a")).toDF("x", "s"), p)
    Sinks.truncate(spark, p, spark.read.parquet(p).schema)
    val df = spark.read.parquet(p)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("x", "s"))
  }

  test("truncate of a Hive-partitioned table stays readable with full schema") {
    val p = tmp()
    Seq((1, "a", "d1"), (2, "b", "d2")).toDF("x", "s", "day")
      .write.partitionBy("day").parquet(p)
    Sinks.truncate(spark, p, spark.read.parquet(p).schema)
    // a partitionBy'd empty write would produce NO parquet files and the
    // table would become unreadable (UNABLE_TO_INFER_SCHEMA)
    val df = spark.read.parquet(p)
    assert(df.count() == 0)
    assert(df.columns.toSet == Set("x", "s", "day"))
    // and the table accepts appends again
    Sinks.append(Seq((3, "c", "d3")).toDF("x", "s", "day"), p)
    assert(spark.read.parquet(p).count() == 1)
  }

  test("deleteAll == truncate semantics (sql.py:307-317)") {
    val p = tmp()
    Sinks.append(Seq(1, 2, 3).toDF("x"), p)
    Sinks.deleteAll(spark, p, spark.read.parquet(p).schema)
    assert(spark.read.parquet(p).count() == 0)
  }

  test("CSV and JSON-lines round trips are type-lossless under the explicit schema") {
    import org.apache.spark.sql.functions._
    val src = Seq(
      (1L, Some("alpha"), Some(12.50), "2020-03-04 05:06:07"),
      (2L, None, None, "1999-12-31 23:59:59")
    ).toDF("k", "name", "amt", "tss")
      .select(col("k"), col("name"),
        col("amt").cast("decimal(10,2)").as("amt"),
        to_timestamp(col("tss")).as("ts"))
    def sortRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().toSeq
    // file reads are always nullable — compare names and types
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val pc = tmp(); Sinks.writeCsv(src, pc)
    val backC = graft.engine.Sources.readCsv(spark, pc, src.schema)
    assert(shape(backC) == shape(src))
    assert(sortRows(backC) == sortRows(src))
    val pj = tmp(); Sinks.writeJsonLines(src, pj)
    val backJ = graft.engine.Sources.readJsonLines(spark, pj, src.schema)
    assert(shape(backJ) == shape(src))
    assert(sortRows(backJ) == sortRows(src))
  }

  test("readCsv quarantines malformed lines in _corrupt_record instead of crashing") {
    import org.apache.spark.sql.types._
    val p = tmp()
    Files.createDirectories(java.nio.file.Paths.get(p))
    Files.writeString(java.nio.file.Paths.get(s"$p/part.csv"),
      "k,v\n1,10\nnot_a_number,20\n3,30\n")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType),
      StructField("_corrupt_record", StringType)))
    val df = graft.engine.Sources.readCsv(spark, p, schema).cache()
    val bad = df.filter(df("_corrupt_record").isNotNull)
    val good = df.filter(df("_corrupt_record").isNull)
    assert(good.count() == 2 && bad.count() == 1)
    assert(bad.select("_corrupt_record").as[String].head().startsWith("not_a_number"))
    df.unpersist()
  }
}
