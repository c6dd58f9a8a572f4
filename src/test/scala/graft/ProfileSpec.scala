package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** [[Profile]] prints one parseable JSON record per query and rep whose
  * counters come from the query's own jobs and whose plan is the final
  * adaptive one. */
class ProfileSpec extends SparkSpec {

  private lazy val records: Map[String, JsonNode] = {
    val lines = Seq.newBuilder[String]
    Profile.profile(spark, sf, Seq("q_scan_project", "q_heaps_law", "q_no_such_query"),
      reps = 1)(lines += _)
    val mapper = new ObjectMapper()
    lines.result().map { l =>
      val node = mapper.readTree(l)
      assert(node != null && node.isObject, s"not a JSON object: $l")
      node.get("query").asText -> node
    }.toMap
  }

  test("every profiled query reports its jobs, tasks, CPU and scans") {
    for (q <- Seq("q_scan_project", "q_heaps_law")) {
      val r = records(q)
      assert(!r.has("error"), s"$q failed: ${r.get("error")}")
      assert(r.get("rep").asInt == 1)
      assert(r.get("jobs").asInt >= 1, s"$q: ${r.get("jobs")} jobs")
      assert(r.get("tasks").asInt >= 1, s"$q: ${r.get("tasks")} tasks")
      assert(r.get("scans").asInt >= 1, s"$q: ${r.get("scans")} scans")
      assert(r.get("cpu_s").asDouble > 0, s"$q: cpu_s ${r.get("cpu_s")}")
      assert(r.get("plan").asText.contains("isFinalPlan=true"),
        s"$q: plan is not the final adaptive plan")
      assert(r.get("plan_hash").asText.length == 16)
    }
  }

  test("cache_reads counts the final plan's reads of cached frames") {
    // q_heaps_law's rankedCum persists its ranked frame for two
    // consumers; q_scan_project reads parquet only
    val heaps = records("q_heaps_law").get("cache_reads").asInt
    assert(heaps >= 2, s"q_heaps_law: $heaps cache reads")
    assert(records("q_scan_project").get("cache_reads").asInt == 0)
  }

  test("scans counts the final plan's scan nodes, not plan-text mentions") {
    // one orders scan; its explain text names it twice (the final and
    // the initial adaptive plan)
    assert(records("q_scan_project").get("scans").asInt == 1)
  }

  test("rows is the query's output row count") {
    val want = SparkEntry.queries("q_scan_project")(spark, sf).count()
    assert(records("q_scan_project").get("rows").asLong == want)
  }

  test("an unknown query yields an error record, not a crash") {
    val r = records("q_no_such_query")
    assert(r.has("error") && r.get("rep").asInt == 1)
    assert(!r.has("jobs"))
  }

  test("construction jobs and CPU are reported apart from execution jobs") {
    // after Warm.stages, q_scan_project's source read keeps its schema
    // (no job while built); q_sim_ivf collects its centroids while built
    graft.engine.Warm.stages(spark, sf)
    val lines = Seq.newBuilder[String]
    Profile.profile(spark, sf, Seq("q_scan_project", "q_sim_ivf"), reps = 1)(lines += _)
    val mapper = new ObjectMapper()
    val rs = lines.result().map(mapper.readTree).map(r => r.get("query").asText -> r).toMap
    val scan = rs("q_scan_project")
    assert(scan.get("construct_jobs").asInt == 0, scan.toString)
    assert(scan.get("construct_cpu_s").asDouble == 0.0, scan.toString)
    assert(scan.get("jobs").asInt >= 1, scan.toString)
    val ivf = rs("q_sim_ivf")
    assert(ivf.get("construct_jobs").asInt >= 1, ivf.toString)
    assert(ivf.get("construct_cpu_s").asDouble > 0, ivf.toString)
    assert(ivf.get("jobs").asInt >= 1, ivf.toString)
  }

  test("one stage record per resolved stage, from its manifest") {
    graft.engine.Stages.reset()
    graft.engine.Warm.stages(spark, sf)
    val lines = Seq.newBuilder[String]
    Profile.stageRecords(lines += _)
    val mapper = new ObjectMapper()
    val recs = lines.result().map(mapper.readTree)
    assert(recs.map(_.get("stage").asText).toSet == graft.engine.Stages.resolvedStageNames)
    assert(recs.size == 20, recs.map(_.get("stage").asText))
    for (r <- recs) {
      assert(r.get("rows").asLong >= 0 && r.get("bytes").asLong > 0, r.toString)
      assert(r.get("files").asInt >= 1 && r.get("build_s").asDouble >= 0, r.toString)
      assert(r.get("codec").asText == (if (r.get("rows").asLong > 0) "zstd" else "none"),
        r.toString)
    }
  }

  test("a frame the caller left persisted does not feed the profiled query") {
    // the scan q_scan_project reads, cached and materialized by the caller
    val cached = graft.engine.Sources.lineitem(spark, sf).persist()
    try {
      cached.count()
      val lines = Seq.newBuilder[String]
      Profile.profile(spark, sf, Seq("q_scan_project"), reps = 1)(lines += _)
      val r = new ObjectMapper().readTree(lines.result().head)
      assert(r.get("scans").asInt == 1 && r.get("cache_reads").asInt == 0, r.toString)
    } finally cached.unpersist()
  }
}
