package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine.Layout

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("spreadSmall reads size-suffixed byte settings (256m, 1k)") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
      }.size
    val df = spark.range(100000).toDF("id") // estimated at 800 000 bytes
    try {
      // 4 shuffle partitions × 256 MiB: the small frame is spread
      spark.conf.set(key, "256m")
      val spread = Layout.spreadSmall(df, Seq(col("id")))
      assert(exchanges(spread) == 1)
      assert(spread.count() == 100000)
      // 4 × 1 KiB is below the frame's size: an exact no-op
      spark.conf.set(key, "1k")
      assert(exchanges(Layout.spreadSmall(df, Seq(col("id")))) == 0)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("bucketed tables join without a shuffle (zero Exchange in the plan)") {
    val dir = Files.createTempDirectory("graft_bkt").toString
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
    Layout.writeBucketed(a, "bkt_a", s"$dir/a", "k", 4)
    Layout.writeBucketed(b, "bkt_b", s"$dir/b", "k", 4)
    val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
    val plan = joined.queryExecution.sparkPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
    assert(joined.count() == 1000)
    spark.sql("DROP TABLE bkt_a"); spark.sql("DROP TABLE bkt_b")
  }

  test("day-partitioned writes prune partitions for time-range predicates") {
    val dir = Files.createTempDirectory("graft_part").resolve("ev").toString
    val ev = graft.engine.Sources.events(spark, sf)
    Layout.writePartitionedByDay(ev, dir, "ts")
    val read = spark.read.parquet(dir).filter(col("day") === "2024-01-03")
    val scan = read.queryExecution.sparkPlan.toString
    assert(read.count() > 0)
    // partition filter must reach the scan, not a post-scan Filter
    assert(scan.contains("PartitionFilters") && scan.contains("2024-01-03"))
  }

  test("compact merges a many-file table, preserving rows (idempotent)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val df = (1 to 1000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
    df.repartition(20).write.mode("overwrite").parquet(dir)
    def nFiles: Int = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles >= 20)
    Layout.compact(spark, dir, targetMB = 256)
    assert(nFiles == 1) // tiny table → one target-size file
    assert(spark.read.parquet(dir).count() == 1000)
    Layout.compact(spark, dir, targetMB = 256) // idempotent
    assert(nFiles == 1 && spark.read.parquet(dir).count() == 1000)
  }

  test("compact on a Hive-partitioned table preserves layout and pruning") {
    val dir = Files.createTempDirectory("graft_compact_part").resolve("ev").toString
    val ev = graft.engine.Sources.events(spark, sf)
    Layout.writePartitionedByDay(ev, dir, "ts")
    val nRows = spark.read.parquet(dir).count()
    // fragment each day-partition, then compact
    graft.engine.Sinks.overwriteInPlace(spark,
      spark.read.parquet(dir).repartition(7), dir,
      partitionBy = Seq("day"))
    Layout.compact(spark, dir, targetMB = 256)
    val dayDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
    assert(dayDirs.nonEmpty, "partition directories must survive compact")
    // each partition value compacts to a single file
    assert(dayDirs.forall(d =>
      d.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    val read = spark.read.parquet(dir)
    assert(read.count() == nRows)
    val scan = read.filter(col("day") === "2024-01-03")
      .queryExecution.sparkPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("2024-01-03"),
      s"pruning lost after compact:\n$scan")
  }

  test("zValue is exact Morton interleave of the range-scaled inputs") {
    val bits = 8
    val top = (1L << bits) - 1
    // JVM-side reference with the identical IEEE scaling formula
    def scale(v: Double, mn: Double, mx: Double): Long =
      if (mx > mn) math.min(top, math.floor((v - mn) / (mx - mn) * top).toLong)
      else 0L
    def morton(xs: Seq[Long]): Long =
      (0 until bits).flatMap(b => xs.indices.map(i =>
        ((xs(i) >> b) & 1L) << (b * xs.size + i))).reduce(_ | _)
    val pts = for (x <- 0 until 16; y <- 0 until 16)
      yield (x.toDouble * 3 + 1, y.toDouble * 7 - 2)
    val df = pts.toDF("x", "y")
    val (mnx, mxx) = (pts.map(_._1).min, pts.map(_._1).max)
    val (mny, mxy) = (pts.map(_._2).min, pts.map(_._2).max)
    val got = df.withColumn("z", Layout.zValue(
        Seq(col("x"), col("y")),
        Seq(lit(mnx), lit(mny)), Seq(lit(mxx), lit(mxy)), bits))
      .select("x", "y", "z").as[(Double, Double, Long)].collect()
    got.foreach { case (x, y, z) =>
      val want = morton(Seq(scale(x, mnx, mxx), scale(y, mny, mxy)))
      assert(z == want, s"z($x,$y) = $z, want $want")
    }
  }

  test("writeZOrdered files are range-tight on BOTH columns; a plain sort is not") {
    // uniform 100×100 grid: a z-ordered 4-file layout bounds each
    // file's bbox on both dims; sorting by x alone leaves y unbounded
    val grid = (0 until 10000).map(i => (i % 100, i / 100)).toDF("x", "y")
    def fileSpans(path: String): Seq[(Double, Double)] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max("x") - min("x")).cast("double").as("sx"),
          (max("y") - min("y")).cast("double").as("sy"))
        .select("sx", "sy").as[(Double, Double)].collect().toSeq
    val zdir = Files.createTempDirectory("graft_z").toString
    Layout.writeZOrdered(grid, zdir, Seq("x", "y"), bits = 8, files = 4)
    val zspans = fileSpans(zdir)
    val sdir = Files.createTempDirectory("graft_s").toString
    grid.repartitionByRange(4, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(sdir)
    val sspans = fileSpans(sdir)
    def meanY(sp: Seq[(Double, Double)]) = sp.map(_._2).sum / sp.size
    assert(meanY(zspans) <= 70.0,
      s"z-order should bound y spans, got ${zspans}")
    assert(meanY(sspans) >= 95.0,
      s"x-sort baseline should leave y unbounded, got ${sspans}")
    assert(spark.read.parquet(zdir).count() == 10000)
    // the layout pass must not add or drop data columns
    assert(spark.read.parquet(zdir).columns.sorted.toSeq == Seq("x", "y"))
  }

  test("saltedJoin returns exactly the plain-join result") {
    // one hot key (1) dominating — the salting target
    val fact = ((1 to 500).map(_ => 1L) ++ (1 to 100).map(_.toLong))
      .toDF("k").withColumn("payload", col("k") * 10)
    val dim = (1 to 100).map(i => (i.toLong, s"d$i")).toDF("k", "dv")
    val plain = fact.join(dim, Seq("k"))
    val salted = Layout.saltedJoin(fact, dim, "k", salts = 8)
    assert(salted.count() == plain.count())
    val diff = salted.groupBy("k").count()
      .except(plain.groupBy("k").count())
    assert(diff.count() == 0)
  }

  test("rankedCum equals the global-window rank/cumsum, without one") {
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(42)
    val df = (1 to 5000).map(i => (i.toLong, rng.nextInt(1000).toLong))
      .toDF("id", "v")
    // reference: the single-partition form rankedCum replaces
    val w = Window.orderBy(col("v").desc, col("id"))
    val ref = df
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "r", "cum")
    val got = Layout.rankedCum(df, Seq(col("v").desc, col("id")), col("v"))
      .select("id", "r", "cum", "n_rows")
    assert(got.select("id", "r", "cum").except(ref).count() == 0)
    assert(ref.except(got.select("id", "r", "cum")).count() == 0)
    assert(got.select("n_rows").distinct().as[Long].collect().toSeq == Seq(5000L))
    // the point of the helper: no empty-partition-spec WindowExec
    val bare = got.queryExecution.sparkPlan.collect {
      case we: org.apache.spark.sql.execution.window.WindowExec
          if we.partitionSpec.isEmpty => we
    }
    assert(bare.isEmpty, "rankedCum planned a global window")
  }

  test("rankedCum handles empty and single-row inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "v")
    assert(Layout.rankedCum(empty, Seq(col("id")), col("v")).count() == 0)
    val one = Seq((7L, 3L)).toDF("id", "v")
    val r = Layout.rankedCum(one, Seq(col("id")), col("v"))
      .select("r", "cum", "n_rows").as[(Long, Long, Long)].collect()
    assert(r.toSeq == Seq((1L, 3L, 1L)))
  }
}
