package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.engine.{JobCounter, Sessions, Stages, Warm}

/** Per-query profile of declared queries: where each query's time goes
  * and what its final plan is.
  *
  * Usage: `sbt "runMain graft.Profile <sfDir> <q1,q2,…|all> [reps=3]"`
  *
  * The session, warm-up and `Warm.stages` pass are Bench's; stdout gets
  * one `{"stages_s": …}` line, one `{"stage": …}` line per resolved
  * stage ([[stageRecords]]), then one JSON line per query and rep. Each
  * rep runs under its own job groups ([[JobCounter]]) and reports:
  *   - `construct_s`: the query builder's call (stage builds and eager
  *     counts in the builder land here; the registry, which builds every
  *     entry, is read once per run, outside it), with `construct_jobs` and
  *     `construct_cpu_s`, the jobs and executor CPU of that call;
  *   - `analysis_s`, `optimization_s`, `planning_s`: the query's
  *     `QueryPlanningTracker` phases;
  *   - `execute_s`: the frame's own executed plan run to completion, so
  *     the reported plan is the final adaptive one (`isFinalPlan=true`);
  *   - `rows`: the rows that run produced, the query's output row count;
  *   - `jobs`, `tasks`, `cpu_s`, `shuffle_read_bytes`,
  *     `shuffle_write_bytes`, `spill_bytes`, `task_ms_max`, `task_ms_p50`:
  *     totals over the jobs of planning and execution, construction
  *     excluded;
  *   - `scans`: file scan nodes in the final plan; `cache_reads`: its
  *     reads of cached frames ([[cacheReads]], summed); `plan_hash`: a
  *     hash of the final plan, ids masked, equal across runs of one plan.
  * The last rep also carries the final plan text as `plan`. A query that
  * throws prints `{"query", "rep", "error"}` and the run goes on.
  *
  * Rep 1 pays codegen/JIT; judge by the later reps. */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Profile <sfDir> <q1,q2,…|all> [reps=3]")
    val dir = args(0)
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq else args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = Sessions.tuned(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().count()
    val t0 = System.nanoTime()
    Warm.stages(spark, dir)
    println(s"""{"stages_s":${seconds(System.nanoTime() - t0)}}""")
    stageRecords(println)
    profile(spark, dir, names, reps)(println)
    spark.stop()
  }

  /** Profile `names` over `dir`, `reps` times each, handing every JSON
    * line to `emit`. The cache is cleared before each rep, so no rep
    * reads a frame the caller or an earlier rep left persisted, and once
    * more at the end, as in Bench. */
  def profile(spark: SparkSession, dir: String, names: Seq[String], reps: Int)(
      emit: String => Unit): Unit = {
    val fns = SparkEntry.queries
    for (name <- names; rep <- 1 to reps) {
      spark.catalog.clearCache()
      val head = s""""query":${Bench.q(name)},"rep":$rep"""
      try emit(s"{$head,${one(spark, dir, fns(name), withPlan = rep == reps)}}")
      catch { case NonFatal(e) =>
        emit(s"""{$head,"error":${Bench.q(String.valueOf(e.getMessage))}}""") }
    }
    spark.catalog.clearCache()
  }

  /** One `{"stage": …}` JSON line per stage this JVM has resolved, from
    * its manifest: rows, bytes, files, codec and build seconds (of the
    * build that published it, which may be an earlier JVM's). */
  def stageRecords(emit: String => Unit): Unit =
    Stages.resolved.foreach { p =>
      val m = p.manifest
      emit(s"""{"stage":${Bench.q(p.stage)},"rows":${m.rows},"bytes":${m.bytes},""" +
        s""""files":${m.files},"codec":${Bench.q(m.codec)},"build_s":${m.buildS}}""")
    }

  /** The JSON fields (no braces) of one profiled run of the query `fn`
    * builds. */
  private def one(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame,
      withPlan: Boolean): String = {
    val ((df, constructNs), built) = JobCounter.measure(spark.sparkContext) {
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      (df, System.nanoTime() - t0)
    }
    val ((fields, plan), totals) = JobCounter.measure(spark.sparkContext) {
      val qe = df.queryExecution
      qe.executedPlan
      val t2 = System.nanoTime()
      val rows = qe.executedPlan.execute().count()
      val t3 = System.nanoTime()
      val phases = qe.tracker.phases
      def phase(p: String): String =
        phases.get(p).map(ps => seconds(ps.durationMs * 1000000L)).getOrElse("0")
      (Seq(
        "construct_s" -> seconds(constructNs),
        "construct_jobs" -> built.jobs.toString,
        "construct_cpu_s" -> seconds(built.cpuNs),
        "analysis_s" -> phase(QueryPlanningTracker.ANALYSIS),
        "optimization_s" -> phase(QueryPlanningTracker.OPTIMIZATION),
        "planning_s" -> phase(QueryPlanningTracker.PLANNING),
        "execute_s" -> seconds(t3 - t2),
        "rows" -> rows.toString), qe.executedPlan)
    }
    val text = plan.toString
    val rest = Seq(
      "jobs" -> totals.jobs.toString,
      "tasks" -> totals.tasks.toString,
      "cpu_s" -> seconds(totals.cpuNs),
      "shuffle_read_bytes" -> totals.shuffleReadBytes.toString,
      "shuffle_write_bytes" -> totals.shuffleWriteBytes.toString,
      "spill_bytes" -> totals.spillBytes.toString,
      "task_ms_max" -> totals.maxTaskMs.toString,
      "task_ms_p50" -> totals.p50TaskMs.toString,
      "scans" -> Plans.collectWithSubqueries(plan) { case f: FileSourceScanExec => f }.size.toString,
      "cache_reads" -> cacheReads(plan).sum.toString,
      "plan_hash" -> Bench.q(planHash(text))) ++
      (if (withPlan) Seq("plan" -> Bench.q(text)) else Nil)
    (fields ++ rest).map { case (k, v) => s""""$k":$v""" }.mkString(",")
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Reads of each cached relation in `plan`: InMemoryTableScanExec
    * nodes per `CachedRDDBuilder`, through adaptive stages and
    * subqueries, plus the reads inside each read cached plan, once. */
  private[graft] def cacheReads(plan: SparkPlan): Seq[Int] = {
    val reads = new java.util.IdentityHashMap[AnyRef, Int]()
    def walk(p: SparkPlan): Unit =
      Plans.collectWithSubqueries(p) { case s: InMemoryTableScanExec => s.relation }
        .foreach(r => if (reads.merge(r.cacheBuilder, 1, _ + _) == 1) walk(r.cachedPlan))
    walk(plan)
    reads.values.asScala.toSeq
  }

  /** Seconds with microsecond resolution, as a JSON number. */
  private def seconds(ns: Long): String =
    java.math.BigDecimal.valueOf(ns, 9).setScale(6, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros.toPlainString

  /** 16 hex digits of the plan text's SHA-256 after masking the ids
    * that change between runs of the same plan (`#12`, `plan_id=3`,
    * `ShuffleQueryStage 4`). */
  private def planHash(plan: String): String = {
    val masked = plan.replaceAll("""#\d+|plan_id=\d+|(?<=QueryStage )\d+""", "")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(masked.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }
}
