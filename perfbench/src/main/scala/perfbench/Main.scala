package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.SparkSession

/** What every workload hands back to [[Main]]. `samples` are the wall
  * seconds of the completed timed operations (queries, or whole ETL
  * cycles); `cpuS` is the process CPU spent inside them; `liveHeapMb`
  * is [[Ctx.liveHeapMb]] right after the timed operations. */
final case class Outcome(
    setupS: Double,
    samples: Seq[Double],
    cpuS: Double,
    liveHeapMb: Double,
    attempted: Int,
    failures: Seq[String],
    writeAmp: Double,
    perLayer: Map[String, Double],
    detail: Seq[(String, String)])

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val data: String, val runDir: Path,
    val stageRoot: Path, val tracer: Tracer, val attribution: Attribution,
    val stageLog: StageLog, val sessionStartNs: Long) {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  /** Heap still in use after a full collection: what the run retains.
    * Spark frees broadcast and shuffle state only once a collection has
    * found it unreachable, on its own cleaner thread; the second
    * collection, after a pause, takes what that freed. */
  def liveHeapMb(): Double = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One run of one workload in this JVM:
  * `Main <workload> <seed> <seconds> <trace 0|1> <data dir> <run dir> [etl inputs dir]`.
  * Writes `result.json` (and, traced, `spans.json`) into the run dir;
  * `run.py` turns it into the benchmark's output line. */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, runDirS) = args.take(6)
    val runDir = Paths.get(runDirS)
    val stageRoot = Paths.get(sys.props("graft.stages.dir"))
    val stageLog = new StageLog(System.err)
    System.setErr(new java.io.PrintStream(stageLog, true))
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.engine.Sessions.tuned(
      SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val attribution = new Attribution
    spark.sparkContext.addSparkListener(attribution)
    val tracer = new Tracer(spark.sparkContext, traceS == "1")
    val ctx = new Ctx(spark, data, runDir, stageRoot, tracer, attribution,
      stageLog, t0)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val out = workload match {
      case "etl_mutations" => EtlWorkload.run(ctx, seconds, args(6))
      case "query_mix" => QueryWorkload.run(ctx, seed, seconds)
      case other => sys.error(s"unknown workload $other")
    }
    val probeS = machineProbeS()
    val s = out.samples
    val metrics = Seq(
      "setup_s" -> out.setupS,
      "throughput_qps" -> s.size / s.sum,
      "latency_p50_s" -> Stats.percentile(s, 50),
      "cpu_s_per_op" -> out.cpuS / s.size,
      "peak_rss_mb" -> peakRssMb(),
      "live_heap_mb" -> out.liveHeapMb,
      "write_amp" -> out.writeAmp)
    val detail = Seq(
      "samples" -> s.size.toString,
      "sample_s" -> s.map(Json.num).mkString("[", ",", "]"),
      // reported, not gated: a run holds too few samples for a steady p90
      "latency_p90_s" -> Json.num(Stats.percentile(s, 90)),
      "samples_beyond_p90" -> Stats.beyond(s, 90).toString,
      "measured_s" -> Json.num(s.sum),
      "cores" -> cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> Json.str(spark.version),
      "client_threads" -> "1",
      "machine_probe_s" -> Json.num(probeS),
      "pool_peak_mb" -> Json.obj(ManagementFactory.getMemoryPoolMXBeans.asScala.map(p =>
        p.getName -> Json.num(p.getPeakUsage.getUsed / 1048576.0)))) ++ out.detail
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> traceS,
      "attempted" -> out.attempted.toString,
      "failures" -> out.failures.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(Metrics.perLayer.map(d =>
        d.name -> Json.num(out.perLayer.getOrElse(d.name, 0.0)))),
      "detail" -> Json.obj(detail)))
    Files.writeString(runDir.resolve("result.json"), result)
    if (tracer.enabled) Files.writeString(runDir.resolve("spans.json"), tracer.json)
    spark.stop()
  }

  /** Median wall seconds of a fixed single-thread loop over 16 MB,
    * after the timed operations. It runs no engine code, so read beside a
    * run's timings it tells a slower machine from a slower engine. */
  def machineProbeS(): Double = {
    val data = Array.tabulate(1 << 22)(i => i * 0x9E3779B9)
    var h = 0
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var pass = 0
      while (pass < 8) {
        var i = 0
        while (i < data.length) { h = MurmurHash3.mix(h, data(i)); i += 1 }
        pass += 1
      }
      (System.nanoTime() - t0) / 1e9
    }
    if (h == 0) System.err.println("machine probe: hash 0") // keeps the loop
    Stats.median(times)
  }

  /** Peak resident set of this process (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Total bytes of the regular files under `p`. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally st.close()
    }

  /** Regular files under `p`, by path. */
  def treeFiles(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toString).toSet
      finally st.close()
    }
}
