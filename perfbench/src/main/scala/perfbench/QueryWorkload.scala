package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.engine._

/** One row of `queries.tsv`: the engine object that implements the
  * query and the digest of its correct result on the benchmark's data. */
final case class QueryInfo(name: String, module: String, digest: String)

object QueryTable {
  val Resource = "/perfbench/queries.tsv"

  def parse(lines: Seq[String]): Seq[QueryInfo] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, m, dg) = l.split("\t")
      QueryInfo(n, m, dg)
    }

  def load(): Seq[QueryInfo] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(Resource), "UTF-8")
    try parse(src.getLines().toSeq) finally src.close()
  }
}

/** The query workload: a closed loop over registry queries on one
  * client thread, each timed until its full result is collected. */
object QueryWorkload {

  type Fn = (SparkSession, String) => DataFrame

  /** The relational, event, text, similarity and sketch registries: every
    * declared query except the `q_diag_*` regression slices. */
  def registry: Seq[(String, Fn)] =
    (graft.Registry.relational ++ EventsRegistry.entries ++
      TextRegistry.entries ++ SketchRegistry.entries).map { case (n, e) => n -> e.fn }

  // private[engine]: reached through its (public) bytecode method
  private def nearDupComponents(s: SparkSession, d: String): Any =
    TextOps.getClass.getMethod("nearDupComponents", classOf[SparkSession],
      classOf[String]).invoke(TextOps, s, d)

  /** The accessors of the stages `Warm.stages` builds, in its order. */
  val stageAccessors: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "Sources.region" -> Sources.region _,
    "Sources.nation" -> Sources.nation _,
    "Sources.customer" -> Sources.customer _,
    "Sources.supplier" -> Sources.supplier _,
    "Sources.part" -> Sources.part _,
    "TextOps.corpus" -> TextOps.corpus _,
    "TextOps.sharedDocToks" -> TextOps.sharedDocToks _,
    "TextOps.sharedShingleSets" -> TextOps.sharedShingleSets _,
    "TextOps.sharedSignature" -> TextOps.sharedSignature _,
    "TextOps.sharedCandPairs" -> TextOps.sharedCandPairs _,
    "TextOps.sharedSimhashShingle" -> TextOps.sharedSimhashShingle _,
    "TextOps.sharedCappedPosts" -> TextOps.sharedCappedPosts _,
    "TextOps.sharedHeapsPerDoc" -> TextOps.sharedHeapsPerDoc _,
    "TextOps.sharedDocGrams" -> TextOps.sharedDocGrams _,
    "TextOps.nearDupComponents" -> nearDupComponents _,
    "Similarity.canonEmb" -> Similarity.canonEmb _,
    "Similarity.sharedDimStats" -> Similarity.sharedDimStats _,
    "Relational.warmStages" -> Relational.warmStages _)

  /** The workload's timed sample. Every run times these queries,
    * whatever the seed; the seed orders them. Each module has slots in
    * proportion to its query count, at least one, and within a module the
    * queries spread from cheap to costly. */
  val Sample: Seq[String] = Seq(
    "q_rolling_7d", "q_dau_stickiness", // Events
    "q_basket_pairs", "q_fuzzy_match", "q_join_inner", "q_lateral_top",
    "q_dq_checks", "q_scan_project", // Relational
    "q_dedup_embed", // Similarity
    "q_cms_topk", // Sketches
    "q_token_count", "q_text_tokens", "q_simhash_near", "q_top_ngrams",
    "q_mix_tokens", "q_curate") // TextOps

  /** Per-query layer record of the traced run. */
  private final case class Traced(module: String, construct: Span, plan: Span,
      exec: Span)

  def run(ctx: Ctx, seed: Long, seconds: Double): Outcome = {
    val spark = ctx.spark
    val fns = registry.toMap
    val table = QueryTable.load()
    require(table.map(_.name).toSet == fns.keySet,
      "queries.tsv and the query registries disagree")
    val tr = ctx.tracer

    // -- setup: warm-up, then a cold build of every stage
    tr.span("setup", 0) {
      tr.span("setup:warmup", 0) {
        spark.read.parquet(s"${ctx.data}/region.parquet")
          .groupBy("r_name").count().collect()
      }
      stageAccessors.foreach { case (n, f) => tr.span(s"stage:$n", 0)(f(spark, ctx.data)) }
    }
    val setupS = (System.nanoTime() - ctx.sessionStartNs) / 1e9
    val buildsInSetup = ctx.stageLog.builds.toList
    val writeAmp = Main.treeBytes(ctx.stageRoot).toDouble /
      Main.treeBytes(Paths.get(ctx.data))

    // -- the timed loop: whole passes over the sample, each in a seeded
    // order, until `seconds` of queries have been timed. Whole passes keep
    // the mix of every run the same; a pass cut short would drop
    // seed-dependent queries.
    val chosen = Sample.map(n => table.find(_.name == n).get)
    val rng = new scala.util.Random(seed)
    val samples = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    val traced = mutable.ArrayBuffer.empty[Traced]
    val ran = mutable.ArrayBuffer.empty[String]
    var measured = 0.0
    var cpuNs = 0L
    var op = 0
    while (measured < seconds) rng.shuffle(chosen).foreach { q =>
      op += 1
      ran += q.name
      val fn = fns(q.name)
      val c0 = ctx.cpuNs
      val t0 = System.nanoTime()
      val rows: Option[Array[Row]] =
        try Some(
          if (!tr.enabled) fn(spark, ctx.data).collect()
          else tr.span(s"query:${q.name}", op) {
            val (df, c) = tr.span(s"construct:${q.name}", op)(fn(spark, ctx.data))
            val (_, p) = tr.span(s"plan:${q.name}", op)(df.queryExecution.executedPlan)
            val (r, e) = tr.span(s"execute:${q.name}", op)(df.collect())
            traced += Traced(q.module, c.get, p.get, e.get)
            r
          }._1)
        catch { case NonFatal(e) =>
          failures += s"${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          None
        }
      val dt = (System.nanoTime() - t0) / 1e9
      cpuNs += ctx.cpuNs - c0
      measured += dt
      rows.foreach { r =>
        samples += dt
        val got = Digest.of(r)
        if (got != q.digest) failures += s"${q.name}: digest $got, expected ${q.digest}"
      }
      spark.catalog.clearCache()
    }

    val liveHeapMb = ctx.liveHeapMb()

    val layer = mutable.Map.empty[String, Double]
    if (tr.enabled) {
      // after the timed loop, so the probes do not warm the JVM for it
      val built = buildsInSetup.toMap
      val bytes = stageBytes(ctx)
      Metrics.StageNames.foreach { st =>
        layer(s"Stages.$st.build_s") = built.getOrElse(st, 0.0)
        layer(s"Stages.$st.bytes") = bytes.getOrElse(st, 0L).toDouble
      }
      // a second call of each accessor is a memo hit: fingerprint + read
      val hits = stageAccessors.map { case (n, f) =>
        tr.span(s"stage-hit:$n", 0)(f(spark, ctx.data))._2.get.seconds
      }
      layer("Stages.hit_s") = Stats.mean(hits)

      val sc = spark.sparkContext
      Metrics.Modules.foreach { m =>
        val mine = traced.filter(_.module == m)
        def mean(f: Traced => Double) = Stats.mean(mine.map(f).toSeq)
        def use(s: Span) = ctx.attribution.of(sc, s.group)
        def all(t: Traced) = Seq(t.construct, t.plan, t.exec).map(use)
        layer(s"$m.construct_s") = mean(_.construct.seconds)
        layer(s"$m.construct_jobs") = mean(t => use(t.construct).jobs)
        layer(s"$m.plan_s") = mean(_.plan.seconds)
        layer(s"$m.exec_s") = mean(_.exec.seconds)
        layer(s"$m.jobs") = mean(t => use(t.plan).jobs + use(t.exec).jobs)
        layer(s"$m.tasks") = mean(t => all(t).map(_.tasks).sum.toDouble)
        layer(s"$m.executor_cpu_s") = mean(t => all(t).map(_.cpuNs).sum / 1e9)
        layer(s"$m.shuffle_bytes") = mean(t => all(t).map(_.shuffleBytes).sum.toDouble)
        layer(s"$m.spill_bytes") = mean(t => all(t).map(_.spillBytes).sum.toDouble)
        layer(s"$m.task_skew") = mean(t => use(t.exec).skew)
      }
    }

    Outcome(setupS, samples.toSeq, cpuNs / 1e9, liveHeapMb, op, failures.toSeq, writeAmp,
      layer.toMap, Seq(
        "queries" -> ran.map(Json.str).mkString("[", ",", "]"),
        "stage_builds_in_setup" -> buildsInSetup.size.toString,
        "stage_builds_in_window" ->
          (ctx.stageLog.count - buildsInSetup.size).toString))
  }

  private val AttemptDir = """(.+)-[0-9a-f]{12}-attempt-[0-9a-f]{8}""".r

  /** Bytes under the stage root, per stage name. */
  def stageBytes(ctx: Ctx): Map[String, Long] = {
    val st = Files.list(ctx.stageRoot)
    try st.iterator().asScala.toSeq.flatMap { p =>
      p.getFileName.toString match {
        case AttemptDir(stage) => Some(stage -> Main.treeBytes(p))
        case _ => None
      }
    }.groupMapReduce(_._1)(_._2)(_ + _)
    finally st.close()
  }
}

/** Writes `queries.tsv` afresh: builds every stage, runs each query of
  * the query workload twice, and records its module (kept from the
  * existing table) and result digest.
  * `Record <data dir> <queries.tsv>`; run it only on a commit whose
  * `graft.Verify` dump of the same data passes `scripts/check.py`. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, tsv) = args
    val modules = QueryTable.parse(Files.readAllLines(Paths.get(tsv)).asScala.toSeq)
      .map(q => q.name -> q.module).toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Sessions.tuned(SparkSession.builder().master(s"local[$cores]"),
      cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Warm.stages(spark, data)
    // two passes: the second is JIT-warm, and its digests must repeat
    // the first's (a query whose digest moves cannot be checked)
    def pass() = QueryWorkload.registry.map { case (name, fn) =>
      val rows = fn(spark, data).collect()
      spark.catalog.clearCache()
      (name, Digest.of(rows))
    }
    val first = pass()
    val lines = first.zip(pass()).map { case ((name, d1), (_, d2)) =>
      require(d1 == d2, s"$name: digest $d1 then $d2")
      s"$name\t${modules(name)}\t$d1"
    }
    Files.writeString(Paths.get(tsv),
      "# query\tmodule\tdigest\n" + lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
