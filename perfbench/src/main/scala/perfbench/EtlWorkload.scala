package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.api.FlowEngine
import graft.engine.Types

/** The ETL workload: load cycles through the reference's operator
  * surface (`graft.api.FlowEngine`) against a private warehouse copy of
  * `lineitem` and `orders`. Cycle `c` reads the seeded inputs
  * `batch_<c>.parquet` (existing-key rows followed by new-key rows) and
  * `upd_<c>.parquet` (keyed updates) that run.py generated, and the
  * cycle's line of `cycles.tsv` (`cycle, first new key, delete range
  * [lo, hi), rows it changes`), and runs:
  *  1. insertData the batch into the staging table;
  *  2. getData a filter+aggregate extract with coercion and decimal
  *     normalisation, collected;
  *  3. updateFromTable lineitem with the batch's existing-key rows;
  *  4. insertData the batch's new-key rows into lineitem;
  *  5. updateData lineitem with the keyed rows;
  *  6. deleteDataWithConditions the previous cycle's new-key range;
  *  7. truncateTable the staging table.
  * The operation the end-to-end metrics count is one whole cycle; in the
  * traced run each call is also a span of its own. The first
  * [[WarmCycles]] cycles are the warm-up and belong to setup. After every
  * cycle, and outside the timed region, the row count and a checksum of
  * lineitem and the extract's rows are recorded in `etl_checks.json`,
  * together with the SQL that computed them, for run.py's DuckDB model
  * to replay and check. */
object EtlWorkload {

  val Keys = Seq("l_orderkey", "l_linenumber")

  /** Untimed cycles before the timed ones: the first cycles of a JVM run
    * markedly slower while the JIT compiles the write path. */
  val WarmCycles = 2

  /** Timed cycles per run, at the least: with fewer, how many cycles fit
    * in the window moves the mix of calls from run to run. */
  val MinCycles = 5

  val ExtractSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      | CAST(sum(l_quantity) AS DECIMAL(18,2)) AS qty
      |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val ExtractSpec = Types.CoercionSpec(
    categoryColumns = Seq("l_returnflag"), floatColumns = Seq("n"))

  /** Integer checksum both Spark and DuckDB compute identically (the
    * text goes to run.py's model in `etl_checks.json`). */
  def checksumSql(table: String): String =
    s"""SELECT count(*) AS n, CAST(sum(l_orderkey * 3 + l_linenumber * 5
       | + CAST(floor(l_quantity * 100) AS BIGINT) * 7
       | + CAST(floor(l_discount * 10000) AS BIGINT) * 11
       | + CAST(floor(l_extendedprice * 100) AS BIGINT)
       | + CAST(floor(l_tax * 10000) AS BIGINT) * 13
       | + ascii(l_returnflag) * 17) AS BIGINT) AS chk
       |FROM $table""".stripMargin

  /** One line of `cycles.tsv`. */
  final case class Plan(cycle: Int, newLo: Long, deleteLo: Long,
      deleteHi: Long, rows: Long)

  def plans(inputs: String): IndexedSeq[Plan] =
    Files.readAllLines(Path.of(inputs, "cycles.tsv")).asScala.toIndexedSeq
      .filter(_.nonEmpty).map { l =>
        val Array(c, lo, dlo, dhi, n) = l.split("\t")
        Plan(c.toInt, lo.toLong, dlo.toLong, dhi.toLong, n.toLong)
      }

  def run(ctx: Ctx, seconds: Double, inputs: String): Outcome = {
    val plan = plans(inputs)
    val spark = ctx.spark
    val sc = spark.sparkContext
    val tr = ctx.tracer
    val wh = ctx.runDir.resolve("warehouse")

    // -- setup: warm-up, warehouse copy, connect, warm-up cycles
    tr.span("setup:warmup", 0) {
      spark.read.parquet(s"${ctx.data}/region.parquet")
        .groupBy("r_name").count().collect()
    }
    tr.span("setup:warehouse", 0) {
      for ((table, from) <- Seq("lineitem" -> "lineitem", "orders" -> "orders",
          "li_stage" -> "lineitem")) {
        val dir = Files.createDirectories(wh.resolve(s"$table.parquet"))
        Files.copy(Path.of(ctx.data, s"$from.parquet"), dir.resolve("part-00000.parquet"))
      }
    }
    val eng = new FlowEngine(spark, wh.toString)
    tr.span("setup:connect", 0) {
      eng.connect().get
      eng.truncateTable("li_stage")
    }

    val calls = mutable.ArrayBuffer.empty[(String, Span, Int)] // op, span, files
    val checks = mutable.ArrayBuffer.empty[String]
    val failures = mutable.ArrayBuffer.empty[String]
    var op = 0
    var callCpuNs = 0L

    /** One timed FlowEngine call; in the traced run, also its span and
      * the number of parquet files it left new under `table`. */
    def call[T](name: String, table: String)(body: => T): (T, Double) = {
      op += 1
      val dir = wh.resolve(s"$table.parquet")
      val before = if (tr.enabled) Main.treeFiles(dir) else Set.empty[String]
      val c0 = ctx.cpuNs
      val t0 = System.nanoTime()
      val (out, span) = tr.span(s"FlowEngine.$name:$table", op)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      callCpuNs += ctx.cpuNs - c0
      span.foreach { s =>
        val parts = (Main.treeFiles(dir) -- before).map(Path.of(_).getFileName.toString)
        calls += ((name, s, parts.count(f => f.endsWith(".parquet") && !f.startsWith("."))))
      }
      (out, dt)
    }

    /** Cycle `c`; returns the seconds of its seven calls. */
    def cycle(c: Int): Seq[Double] = {
      val p = plan(c)
      val batch = spark.read.parquet(s"$inputs/batch_$c.parquet")
      val updRows: Seq[Row] = spark.read.parquet(s"$inputs/upd_$c.parquet").collect().toSeq
      val (_, t1) = call("insertData", "li_stage")(eng.insertData("li_stage", batch))
      val (extract, t2) = call("getData", "lineitem")(
        eng.getData(ExtractSql, ExtractSpec).get.collect())
      val old = spark.table("li_stage").filter(col("l_orderkey") < p.newLo)
      val (_, t3) = call("updateFromTable", "lineitem")(eng.updateFromTable("lineitem", old, Keys))
      val fresh = spark.table("li_stage").filter(col("l_orderkey") >= p.newLo)
      val (_, t4) = call("insertData", "lineitem")(eng.insertData("lineitem", fresh))
      val (_, t5) = call("updateData", "lineitem")(eng.updateData("lineitem", updRows, Keys))
      val (_, t6) = call("deleteDataWithConditions", "lineitem")(eng.deleteDataWithConditions(
        "lineitem", s"l_orderkey >= ${p.deleteLo} AND l_orderkey < ${p.deleteHi}"))
      val (_, t7) = call("truncateTable", "li_stage")(eng.truncateTable("li_stage"))
      // correctness record, outside the timed calls
      spark.read.parquet(wh.resolve("lineitem.parquet").toString)
        .createOrReplaceTempView("perfbench_check")
      val r = spark.sql(checksumSql("perfbench_check")).head()
      val ex = extract.map(row => Seq(row.getString(0), row.getString(1),
        row.getDouble(2).toLong.toString, row.getDecimal(3).toPlainString)
        .map(Json.str).mkString("[", ",", "]"))
      checks += s"""{"cycle":$c,"n":${r.getLong(0)},"chk":${r.getLong(1)},"extract":${ex.mkString("[", ",", "]")}}"""
      Seq(t1, t2, t3, t4, t5, t6, t7)
    }

    tr.span("setup:warm-cycles", 0)((0 until WarmCycles).foreach(cycle))
    val setupS = (System.nanoTime() - ctx.sessionStartNs) / 1e9
    val warmCalls = calls.size

    // -- the timed loop: whole cycles, at least MinCycles, until `seconds`
    // of cycles
    val cycleS = mutable.ArrayBuffer.empty[Double]
    val cpu0 = callCpuNs
    var c = WarmCycles
    val bytes0 = ctx.attribution.totalOutputBytes(sc)
    var submitted = 0L
    var rows = 0L
    def more = cycleS.size < MinCycles || cycleS.sum < seconds
    while (more && c < plan.size) {
      try {
        cycleS += cycle(c).sum
        rows += plan(c).rows
      } catch { case scala.util.control.NonFatal(e) =>
        failures += s"cycle $c: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      submitted += Seq(s"batch_$c", s"upd_$c").map(f =>
        Files.size(Path.of(inputs, s"$f.parquet"))).sum
      c += 1
    }
    if (more) failures += s"inputs ran out after ${c - WarmCycles} timed cycles"
    val liveHeapMb = ctx.liveHeapMb()
    val writeAmp = (ctx.attribution.totalOutputBytes(sc) - bytes0).toDouble / submitted

    val layer = mutable.Map.empty[String, Double]
    layer("FlowEngine.rows_per_s") = rows / cycleS.sum
    layer("FlowEngine.cycle_p50_s") = Stats.median(cycleS.toSeq)
    if (tr.enabled) {
      val timed = calls.drop(warmCalls)
      Metrics.FlowOps.foreach { name =>
        val mine = timed.filter(_._1 == name).toSeq
        def mean(f: ((String, Span, Int)) => Double) = Stats.mean(mine.map(f))
        def use(s: Span) = ctx.attribution.of(sc, s.group)
        layer(s"FlowEngine.$name.s") = mean(_._2.seconds)
        layer(s"FlowEngine.$name.jobs") = mean(x => use(x._2).jobs)
        layer(s"FlowEngine.$name.bytes_written") = mean(x => use(x._2).outputBytes.toDouble)
        layer(s"FlowEngine.$name.files_written") = mean(_._3.toDouble)
        layer(s"FlowEngine.$name.executor_cpu_s") = mean(x => use(x._2).cpuNs / 1e9)
      }
    }
    Files.writeString(ctx.runDir.resolve("etl_checks.json"), Json.obj(Seq(
      "extract_sql" -> Json.str(ExtractSql),
      "checksum_sql" -> Json.str(checksumSql("lineitem")),
      "cycles" -> checks.mkString("[\n", ",\n", "\n]"))))
    Outcome(setupS, cycleS.toSeq, (callCpuNs - cpu0) / 1e9, liveHeapMb, c - WarmCycles,
      failures.toSeq,
      writeAmp, layer.toMap, Seq(
        "cycles" -> cycleS.size.toString,
        "etl_rows_per_s" -> Json.num(layer("FlowEngine.rows_per_s")),
        "etl_cycle_p50_s" -> Json.num(layer("FlowEngine.cycle_p50_s"))))
  }
}
