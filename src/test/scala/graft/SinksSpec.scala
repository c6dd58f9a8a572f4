package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
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

  // ---- the swap protocol of overwriteInPlace, one crash state at a time

  private def fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** A three-file table at a fresh path: A = {1, 2}, B = {3, 4}, C = {5, 6};
    * returns the path and the files' names in that order. */
  private def threeFiles(): (String, Seq[String]) = {
    val p = tmp()
    val names = Seq(Seq(1, 2), Seq(3, 4), Seq(5, 6)).map { xs =>
      val before = parts(p).toSet
      xs.toDF("x").coalesce(1).write.mode("append").parquet(p)
      (parts(p).toSet -- before).head
    }
    (p, names)
  }

  private def parts(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) Nil
    else d.list().toSeq.filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
  }

  private def rows(p: String): Seq[Int] =
    spark.read.parquet(p).as[Int].collect().toSeq.sorted

  /** A rewrite of file A of `p` into A' = {10, 20}, staged by hand as
    * steps 1–2 leave it: the new rows in tmp and the list naming A. */
  private def stage(p: String, a: String): Unit = {
    Seq(10, 20).toDF("x").coalesce(1).write.parquet(p + ".tmp_rewrite")
    val out = fs.create(new Path(p + ".tmp_rewrite", "_rewrite_touched"))
    try out.write(a.getBytes("UTF-8")) finally out.close()
  }

  private def leftovers(p: String): Seq[String] =
    Seq(".tmp_rewrite", ".pre_rewrite").map(p + _).filter(new java.io.File(_).exists) ++
      Seq(s"$p/_rewrite_touched").filter(new java.io.File(_).exists)

  test("a crash after tmp is written leaves the pre-image; a read keeps tmp, the next rewrite drops it") {
    val (p, Seq(a, b, c)) = threeFiles()
    stage(p, a)
    // a read cannot tell this tmp from one a live rewrite is staging
    Sinks.recover(spark, p)
    assert(rows(p) == Seq(1, 2, 3, 4, 5, 6))
    assert(leftovers(p) == Seq(p + ".tmp_rewrite"))
    Sinks.overwriteInPlace(spark, spark.read.parquet(s"$p/$b").filter($"x" =!= 3), p,
      files = Some(Seq(new Path(p, b))))
    assert(rows(p) == Seq(1, 2, 4, 5, 6))
    assert(Set(a, c).subsetOf(parts(p).toSet) && !parts(p).contains(b))
    assert(leftovers(p).isEmpty, leftovers(p))
  }

  test("a crash mid-move, with the list present, rolls forward to the post-image") {
    val (p, Seq(a, b, c)) = threeFiles()
    stage(p, a)
    // step 3 done; step 4 moved B into tmp and stopped before C
    assert(fs.rename(new Path(p), new Path(p + ".pre_rewrite")))
    assert(fs.rename(new Path(p + ".pre_rewrite", b), new Path(p + ".tmp_rewrite", b)))
    Sinks.recover(spark, p)
    assert(rows(p) == Seq(3, 4, 5, 6, 10, 20))
    assert(parts(p).size == 3 && Set(b, c).subsetOf(parts(p).toSet) && !parts(p).contains(a))
    assert(leftovers(p).isEmpty, leftovers(p))
  }

  test("a crash after the final rename: reads see the post-image, the next rewrite drops the backup and list") {
    val (p, Seq(a, b, c)) = threeFiles()
    stage(p, a)
    assert(fs.rename(new Path(p), new Path(p + ".pre_rewrite")))
    for (f <- Seq(b, c))
      assert(fs.rename(new Path(p + ".pre_rewrite", f), new Path(p + ".tmp_rewrite", f)))
    assert(fs.rename(new Path(p + ".tmp_rewrite"), new Path(p)))
    Sinks.recover(spark, p)
    assert(rows(p) == Seq(3, 4, 5, 6, 10, 20))
    Sinks.overwriteInPlace(spark, spark.read.parquet(s"$p/$b").filter($"x" =!= 3), p,
      files = Some(Seq(new Path(p, b))))
    assert(rows(p) == Seq(4, 5, 6, 10, 20))
    assert(leftovers(p).isEmpty, leftovers(p))
  }

  test("a failed final rename puts the pre-image back") {
    val (p, Seq(a, b, c)) = threeFiles()
    val target = new Path(p)
    Sinks.stage(fs, spark.read.parquet(s"$p/$a").filter($"x" =!= 1), target, Nil,
      Some(Seq(new Path(p, a))))
    val failing = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        !src.getName.endsWith(".tmp_rewrite") && super.rename(src, dst)
    }
    val e = intercept[java.io.IOException](Sinks.swap(failing, target))
    assert(e.getMessage.contains("original restored"), e.getMessage)
    assert(rows(p) == Seq(1, 2, 3, 4, 5, 6))
    assert(parts(p) == Seq(a, b, c).sorted)
    assert(leftovers(p).isEmpty, leftovers(p))
  }

  test("a backup with no target and no staged list still refuses to run") {
    val (p, _) = threeFiles()
    assert(fs.rename(new Path(p), new Path(p + ".pre_rewrite")))
    val e = intercept[java.io.IOException](
      Sinks.overwriteInPlace(spark, Seq(7).toDF("x"), p))
    assert(e.getMessage.contains("restore failed"))
    // the backup, the only copy, is untouched
    assert(rows(p + ".pre_rewrite") == Seq(1, 2, 3, 4, 5, 6))
    assert(!new java.io.File(p).exists)
  }

  test("a file appended after the rewrite listed the table survives the swap") {
    val (p, Seq(a, b, c)) = threeFiles()
    val listed = Seq(new Path(p, a))
    val rewritten = spark.read.parquet(listed.map(_.toString): _*).filter($"x" =!= 1)
    Seq(99).toDF("x").coalesce(1).write.mode("append").parquet(p) // the outside writer
    Sinks.overwriteInPlace(spark, rewritten, p, files = Some(listed))
    assert(rows(p) == Seq(2, 3, 4, 5, 6, 99))
    assert(Set(b, c).subsetOf(parts(p).toSet) && !parts(p).contains(a))
    assert(leftovers(p).isEmpty, leftovers(p))
  }

  test("a rewrite that leaves a file with no row removes it, unless the table would have none") {
    val (p, Seq(a, b, c)) = threeFiles()
    Sinks.overwriteInPlace(spark, spark.read.parquet(s"$p/$a").filter($"x" > 9), p,
      files = Some(Seq(new Path(p, a))))
    assert(parts(p) == Seq(b, c).sorted)
    Sinks.overwriteInPlace(spark, spark.read.parquet(p).filter($"x" > 9), p)
    assert(parts(p).size == 1 && rows(p).isEmpty, "the schema carrier stays")
    assert(spark.read.parquet(p).columns.toSeq == Seq("x"))
  }
}
