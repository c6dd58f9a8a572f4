package graft

import graft.engine.{JobCounter, Warm}

/** After [[Warm.stages]], building a declared query launches no Spark
  * job: stage hits read with their manifest's schema, source tables
  * with the schema kept per JVM, and builders take stage row counts
  * from the manifests. A query on the allowlist below may launch jobs
  * while it is built, for the reason given; any other query that does
  * fails here. The sweep runs every declared query, as GlobalWindowSpec
  * does. */
class ConstructJobsSpec extends SparkSpec {

  // query -> why its builder runs a job
  private val Allowed: Map[String, String] = Map(
    "q_bloom_join" -> "bloomJoin collects the 256-long bloom bitmap into a scan literal",
    "q_kmeans_step" -> "assignTo collects the fixed centroids into its kernel matrix",
    "q_sim_ivf" -> "assignTo collects the fixed centroids into its kernel matrix",
    "q_label_confusion" -> "confusionPred collects the label centroids into its kernel matrix",
    "q_pq_codes" -> "pqEncode collects the ≤128-row codebook into its kernel matrix",
    "q_pq_search" -> "pqEncode collects the ≤128-row codebook into its kernel matrix",
    "q_semdedup" -> ("assignTo's centroid collect, and semDedupPairs' core.count(), " +
      "which releases the corpus-sized assigned cache before return"),
    "q_semdedup_hier" -> ("assignCellsHier's coarse-centroid collects, and " +
      "semDedupPairs' core.count(), as in q_semdedup"),
  )

  // count() call in Similarity.scala -> why it stays
  private val SimilarityCounts: Map[String, String] = Map(
    "val n = vs.count()" ->
      "hashRankedLimit past 4096 rows only (never at the gate SFs): the frame is any subsample",
    "if (cand.count() >= k) take(cand) else take(keyed)" ->
      "hashRankedLimit's data-dependent undershoot check, past 4096 rows only",
    "val n = if (nKnown >= 0L) nKnown else vs.count()" ->
      "library callers of assignCellsHier; every declared query passes nKnown from a manifest",
    "core.count()" ->
      "semDedupPairs releases the assigned cache before return (GlobalWindowSpec.SingleRead)",
  )

  test("after Warm.stages, building a declared query launches no job") {
    Warm.stages(spark, sf)
    spark.catalog.clearCache()
    val jobs = Registry.queries.toSeq.map { case (name, fn) =>
      try name -> JobCounter(spark.sparkContext)(fn(spark, sf))
      finally spark.catalog.clearCache()
    }.toMap
    val offenders = jobs.filter(_._2 > 0).keySet
    val unexpected = offenders -- Allowed.keySet
    assert(unexpected.isEmpty,
      s"jobs launched while building: ${unexpected.toSeq.sorted
        .map(q => s"$q(${jobs(q)})").mkString(", ")}")
    val stale = Allowed.keySet -- offenders
    assert(stale.isEmpty,
      s"allowlisted but launching no job, remove: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("every count() left in Similarity is allowlisted with a reason") {
    val calls = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get("src/main/scala/graft/engine/Similarity.scala"))
      .toArray.map(_.toString.trim).toList
      .filter(l => l.contains(".count()") && !l.startsWith("*") && !l.startsWith("//"))
    assert(calls.toSet == SimilarityCounts.keySet,
      s"count() calls: $calls; allowlisted: ${SimilarityCounts.keySet}")
  }
}
