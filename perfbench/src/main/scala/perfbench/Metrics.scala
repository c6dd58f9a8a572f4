package perfbench

/** Every metric the benchmark reports. BENCHMARK.json lists the same
  * names; HarnessSpec keeps the two in step. */
object Metrics {

  final case class Def(name: String, unit: String, better: String)

  /** Reported by every untraced run, on every workload. */
  val endToEnd: Seq[Def] = Seq(
    Def("setup_s", "s", "lower"),
    Def("throughput_qps", "1/s", "higher"),
    Def("latency_p50_s", "s", "lower"),
    Def("cpu_s_per_op", "s", "lower"),
    Def("peak_rss_mb", "MB", "lower"),
    Def("live_heap_mb", "MB", "lower"),
    Def("write_amp", "ratio", "lower"))

  val FlowOps: Seq[String] = Seq("getData", "insertData", "updateData",
    "updateFromTable", "deleteDataWithConditions", "truncateTable")

  val Modules: Seq[String] =
    Seq("Relational", "Events", "TextOps", "Similarity", "Sketches")

  /** The stages `graft.engine.Warm.stages` builds, in its order. */
  val StageNames: Seq[String] = Seq(
    "dim_region", "dim_nation", "dim_customer", "dim_supplier", "dim_part",
    "corpus", "doc_toks", "shingle_sets", "minhash_sig", "cand_pairs",
    "simhash_shingle", "capped_posts", "heaps_perdoc", "doc_grams",
    "neardup_components", "canon_emb", "dim_stats",
    "basket_head", "cum_share_per", "pvc_per")

  /** Reported by every traced run; a layer the workload does not reach
    * reports 0. */
  val perLayer: Seq[Def] =
    FlowOps.flatMap { op =>
      Seq(Def(s"FlowEngine.$op.s", "s", "lower"),
        Def(s"FlowEngine.$op.jobs", "count", "lower"),
        Def(s"FlowEngine.$op.bytes_written", "bytes", "lower"),
        Def(s"FlowEngine.$op.files_written", "count", "lower"),
        Def(s"FlowEngine.$op.executor_cpu_s", "s", "lower"))
    } ++ Seq(
      Def("FlowEngine.rows_per_s", "rows/s", "higher"),
      Def("FlowEngine.cycle_p50_s", "s", "lower")) ++
    Modules.flatMap { m =>
      Seq(Def(s"$m.construct_s", "s", "lower"),
        Def(s"$m.construct_jobs", "count", "lower"),
        Def(s"$m.plan_s", "s", "lower"),
        Def(s"$m.exec_s", "s", "lower"),
        Def(s"$m.jobs", "count", "lower"),
        Def(s"$m.tasks", "count", "lower"),
        Def(s"$m.executor_cpu_s", "s", "lower"),
        Def(s"$m.shuffle_bytes", "bytes", "lower"),
        Def(s"$m.spill_bytes", "bytes", "lower"),
        Def(s"$m.task_skew", "ratio", "lower"))
    } ++
    StageNames.flatMap { st =>
      Seq(Def(s"Stages.$st.build_s", "s", "lower"),
        Def(s"Stages.$st.bytes", "bytes", "lower"))
    } :+ Def("Stages.hit_s", "s", "lower")
}
