package graft

import org.apache.spark.sql.execution.SparkPlan

/** Repo-wide guard for the project's no-data-sized-serial-stage rule:
  * a WindowExec with an EMPTY partition spec funnels its whole input
  * through one partition — acceptable only when the input is bounded
  * by construction (a limit(), a domain-sized aggregate, a
  * partition-count frame), never when it is data-sized. The allowlist
  * below names every query that is permitted such a window, with the
  * bound that justifies it; any NEW query planning one (or a refactor
  * that silently de-partitions an old one) fails here, not on the
  * cluster. q_cum_share and q_heaps_law were removed from this list in
  * r6 (Layout.rankedCum).
  *
  * The same sweep guards the persist rule: a cached relation a query
  * reads only once costs a materialization and saves nothing, so every
  * cached relation in a declared query's plan must be read at least
  * twice ([[Profile.cacheReads]], the count Profile reports), unless the
  * query is on the lifetime allowlist below. */
class GlobalWindowSpec extends SparkSpec {

  // query -> the construction that bounds the window's input
  private val Bounded: Map[String, String] = Map(
    "q_vocab_build" -> "vocab head limit()-bounded before the rank",
    "q_top_ngrams" -> "top-50 head limit()-bounded",
    "q_tok_zipf" -> "top-100 frequency head",
    "q_bpe_step" -> "Zipf-capped candidate merges (limit-bounded)",
    "q_rolling_7d" -> "day-grain frame (calendar-bounded)",
    "q_ks_drift" -> "value-domain-grain CDF frame",
    // q_pq_codes: none — the codebook window runs at declare-time
    // inside pqEncode's bounded collect, outside the query plan
    "q_pq_search" -> "codebook limit()-bounded before its window",
  )

  // query -> why a cached relation it reads may be read only once
  private val SingleRead: Map[String, String] = Map(
    "q_semdedup" -> ("semDedupPairs materializes core during construction " +
      "so the corpus-sized assigned cache is released before return"),
    "q_semdedup_hier" -> "semDedupPairs' core, as in q_semdedup",
  )

  // every declared query's physical plan, each planned with only its own
  // caches registered, as the harnesses run it (they clearCache() between
  // queries)
  private lazy val plans: Seq[(String, SparkPlan)] = {
    spark.catalog.clearCache()
    Registry.queries.toSeq.map { case (name, fn) =>
      try name -> fn(spark, sf).queryExecution.sparkPlan
      finally spark.catalog.clearCache()
    }
  }

  test("only allowlisted queries plan an unpartitioned WindowExec") {
    val offenders = scala.collection.mutable.Map[String, Int]()
    val cartesians = scala.collection.mutable.ListBuffer[String]()
    for ((name, exec) <- plans) {
      val bare = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      if (bare.nonEmpty) offenders(name) = bare.size
      // a non-broadcast cartesian product (both sides shuffled to every
      // pairing) is never acceptable at scale, in ANY query — broadcast
      // nested-loop joins of deliberately tiny sides are a different
      // node (BroadcastNestedLoopJoinExec) and are covered per-query in
      // PlanSpec
      if (exec.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.nonEmpty) cartesians += name
    }
    assert(cartesians.isEmpty,
      s"CartesianProduct planned in: ${cartesians.sorted.mkString(", ")}")
    val unexpected = offenders.keySet -- Bounded.keySet
    assert(unexpected.isEmpty,
      s"data-sized global window risk in: ${unexpected.toSeq.sorted
        .map(q => s"$q(${offenders(q)})").mkString(", ")} — " +
        "partition it or justify the bound in the allowlist")
    // the allowlist must not go stale either: entries that no longer
    // plan a global window should be removed (they may have been fixed)
    val stale = Bounded.keySet -- offenders.keySet
    assert(stale.isEmpty,
      s"allowlist entries no longer planning a global window: " +
        s"${stale.toSeq.sorted.mkString(", ")} — remove them")
  }

  test("every cached relation a declared query reads is read at least twice") {
    val once = plans.map { case (name, exec) => name -> Profile.cacheReads(exec) }
      .filter(_._2.exists(_ < 2)).toMap
    val unexpected = once.keySet -- SingleRead.keySet
    assert(unexpected.isEmpty,
      s"cached relation read only once in: ${unexpected.toSeq.sorted
        .map(q => s"$q(reads ${once(q).sorted.mkString("/")})").mkString(", ")} — " +
        "delete the persist or justify its lifetime in the allowlist")
    val stale = SingleRead.keySet -- once.keySet
    assert(stale.isEmpty,
      s"allowlist entries whose caches are all read twice: " +
        s"${stale.toSeq.sorted.mkString(", ")} — remove them")
  }
}
