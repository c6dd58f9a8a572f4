package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the clustering
  * step a dedup pipeline runs on its near-dup pairs to form duplicate
  * groups (one canonical doc per group).
  *
  * Pregel-style iterative min-label propagation: every node starts
  * labeled with its own id; each round every node takes the min of its
  * own and its neighbors' labels; at fixpoint each component carries its
  * minimum node id. Each round is one distributed equi-join + agg — the
  * only driver-side value is the convergence flag (a count), the same
  * control shape GraphX/Pregel use. Rounds needed = component diameter,
  * which for dedup clusters (small, dense groups) is a handful; `maxIter`
  * bounds pathological chains.
  */
object Components {

  /** @param pairs edges as columns (a, b); nodes not present in any pair
    *              are not emitted (singletons are "no duplicates").
    * @param maxIter safety cap on propagation rounds (rounds needed =
    *              component diameter). Hitting the cap before fixpoint
    *              THROWS — partial labels are wrong answers, not results.
    * @return (id, component) — component = min node id reachable. The
    *         frame is returned PERSISTED (MEMORY_AND_DISK): callers
    *         typically consume it more than once (cluster rollup +
    *         anti-join). Unpersist it (or `spark.catalog.clearCache()`,
    *         as Verify/Bench do between queries) when done — repeated
    *         calls on a long-lived session otherwise accumulate cached
    *         label frames. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 100): DataFrame = {
    // the label-sum convergence check needs an exact integer sum: a
    // non-numeric id would cast to null (ANSI off), making the sum a
    // constant and convergence a false positive after two rounds —
    // refuse rather than silently return partial labels. Hash string
    // ids to long (e.g. xxhash64) before calling.
    // look the edge columns up BY NAME — the algorithm reads "a"/"b" by
    // name, so a positional check would type-check the wrong columns on
    // a frame with extra or reordered columns (schema(name) also gives a
    // clear error when a column is absent)
    Seq("a", "b").map(pairs.schema(_)).foreach { f =>
      require(f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType,
        s"connectedComponents requires integral node ids; " +
          s"column ${f.name} is ${f.dataType.sql}")
    }
    // every cache below but the returned labels is released on EVERY exit
    // path: the null-id and non-convergence rejections throw after caching
    val held = scala.collection.mutable.ListBuffer[DataFrame]()
    try {
      // both edge directions from ONE pass over pairs (a union of two
      // projections would execute the upstream pair pipeline twice)
      val sym0 = pairs.select(explode(array(
          struct(col("a").as("id"), col("b").as("nb")),
          struct(col("b").as("id"), col("a").as("nb")))).as("e"))
        .select(col("e.id").as("id"), col("e.nb").as("nb"))
        .persist(StorageLevel.MEMORY_AND_DISK) // read by the first pass, nodes and sym
      held += sym0
      // The loop's frames are edge-list-sized, far smaller than the session
      // default shuffle width assumes — and persist() blocks AQE's
      // partition coalescing, so every tiny round would otherwise run
      // full-width stages of near-empty tasks. Size the shuffles to the
      // measured edge count (the count also materializes the cache) with
      // EXPLICIT per-frame repartitioning on the join/agg keys: the edge
      // table is hash-clustered on `nb` once, every label frame on `id`,
      // and alias-aware output partitioning lets each round's join and agg
      // reuse them — no exchange at session width, and no toggling of the
      // session-global spark.sql.shuffle.partitions (which would leak into
      // any query running concurrently on the same session).
      // One pass materializes the cache, sizes the shuffles AND rejects
      // null node ids: the inner join on `nb` silently drops null-keyed
      // rows, so a null id would absorb neighbors' labels without ever
      // propagating back — components joined only through a null would
      // quietly stay unmerged (this module refuses, never returns partial
      // labels). The type guard above cannot catch nulls.
      val firstPass = sym0.agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("id").isNull || col("nb").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("nulls")).head()
      require(firstPass.getLong(1) == 0L,
        s"connectedComponents: ${firstPass.getLong(1)} edge endpoints are " +
          "null — null ids break min-label propagation; filter or map them first")
      val nEdges = firstPass.getLong(0)
      val parts = math.max(1L, math.min(10000L, nEdges / 100000L + 1)).toInt
      // Self-loops fold the "keep my own label" term into the neighbor
      // minimum, so each round is ONE co-partitioned join + agg — the
      // previous shape needed a second (left) join back onto the old
      // labels, roughly doubling per-round stages.
      val nodes = sym0.select(col("id")).distinct()
      val sym = sym0.unionByName(nodes.withColumn("nb", col("id")))
        .repartition(parts, col("nb"))
        .persist(StorageLevel.MEMORY_AND_DISK) // the loop: every round joins onto it
      held += sym
      var labels = nodes.repartition(parts, col("id"))
        .withColumn("component", col("id"))
        .persist(StorageLevel.MEMORY_AND_DISK) // the loop: round 1 reads it
      held += labels
      // Labels only ever decrease, so the label sum decreases strictly
      // every non-converged round: convergence check = one scalar agg on
      // the round's materialization, no prev-vs-next join. Exact decimal
      // sum — a long could wrap at extreme id×node scales.
      def labelSum(df: DataFrame): BigDecimal = {
        val v = df.agg(sum(col("component").cast("decimal(38,0)")))
          .head().getDecimal(0)
        if (v == null) BigDecimal(0) else BigDecimal(v)
      }
      var prevSum: Option[BigDecimal] = None
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val next = sym
          .join(labels.select(col("id").as("nb"), col("component")), Seq("nb"))
          .select(col("id"), col("component"))
          .repartition(parts, col("id"))
          .groupBy("id").agg(min(col("component")).as("component"))
          .persist(StorageLevel.MEMORY_AND_DISK) // the loop: labelSum + next round
        held += next
        val s = labelSum(next)
        converged = prevSum.contains(s)
        prevSum = Some(s)
        labels.unpersist()
        labels = next
        i += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds " +
            s"(a component's diameter exceeds the cap); partial labels " +
            s"would be silently wrong — raise maxIter")
      held -= labels
      labels
    } finally held.foreach(_.unpersist())
  }

  /** Fixed-point damping constants for [[pagerank]]: damping 0.85 as the
    * exact rational 17/20, scores in parts-per-million. Integer-only
    * arithmetic (multiply, floor-divide, sum) so both engines compute
    * bit-identical scores — the [[graft.engine.Similarity]] fixed-point
    * discipline. */
  val PrScale = 1000000L
  val PrBase = 150000L // (1 - d) · PrScale

  /** PageRank over an undirected edge list `(a, b)` — the importance
    * signal a dedup pipeline uses to pick the CANONICAL document of a
    * duplicate cluster (keep the best-connected copy, drop the rest),
    * and the classic iterative-join workload on the near-dup graph.
    *
    * A FIXED `iters` rounds (not convergence-tested): the score is a
    * ranking signal, not a fixpoint certificate, and a fixed round count
    * is what makes the oracle SQL expressible as `iters` unrolled CTEs.
    * Each round is one equi-join of scores onto edges + one sum by
    * destination — co-partitioned on the node id, edge-list-sized
    * shuffles, nothing driver-side. Scores are ppm BIGINTs:
    * `pr' = PrBase + Σ_in (pr(u)·17) div (20·deg(u))` with floor
    * division, deterministic on both engines. Nothing is cached: the
    * rounds share the edge-list and degree stages by exchange reuse. */
  def pagerank(pairs: DataFrame, iters: Int = 3): DataFrame = {
    val sym = pairs.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val adj = sym.join(deg, Seq("src")) // (src, dst, deg of src)
    var pr = deg.select(col("src").as("node"), lit(PrScale).as("pr"))
    for (_ <- 1 to iters) {
      pr = adj.join(pr.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr(s"pr * 17 DIV (20 * deg)").as("c"))
        .groupBy("node").agg((lit(PrBase) + sum(col("c"))).as("pr"))
      // every node of the symmetric graph has deg ≥ 1 inbound, so the
      // sum never needs an outer join / coalesce
    }
    deg.select(col("src").as("node"), col("deg"))
      .join(pr, Seq("node"))
      .select(col("node"), col("deg"), col("pr"))
  }

  /** Fixed-point scale for [[triangles]]' local clustering coefficient
    * (2·T·10⁶ floor-divided by deg·(deg−1) — exact integer arithmetic,
    * identical on both engines). */
  val TriScale = 1000000L

  /** Per-node triangle count and local clustering coefficient over an
    * undirected edge list `(a, b)` with `a < b` — the dup-graph density
    * signal: a near-dup cluster whose nodes have coefficient ≈ 1 is one
    * tight template family (collapse to a single canonical doc), while
    * low-coefficient hubs are chains of borderline matches worth a
    * second look before deleting anything.
    *
    * The id-ordered two-join formulation: every triangle {x<y<z} is
    * counted exactly once as wedge (x,y)+(y,z) closed by edge (x,z) —
    * one equi-join on the wedge middle + one two-key left-semi join,
    * then a 3-corner explode + node-keyed agg for per-node counts.
    *
    * Scale: wedge volume is Σ in(y)·out(y) over the id-ordering. On an
    * LSH-verified dup graph, degrees are bounded by band-bucket
    * occupancy (the [[graft.engine.Similarity.TargetBucket]] dial), so
    * wedges stay O(edges·occupancy). For a general skewed graph the
    * standard fix is degree-ordering (orient each edge toward the
    * higher-(deg, id) endpoint, bounding out-degree by O(√m)); values
    * are identical, only the join volume changes — kept id-ordered here
    * so the oracle SQL stays a direct mirror.
    *
    * Returned node set = every endpoint (deg ≥ 1); triangle-free nodes
    * carry n_tri 0, coefficient 0. */
  def triangles(pairs: DataFrame): DataFrame = {
    val ed = pairs.select(col("a"), col("b"))
      .persist(StorageLevel.MEMORY_AND_DISK) // read 4×: wedge sides, semi probe, deg
    val wedges = ed.select(col("a").as("x"), col("b").as("y"))
      .join(ed.select(col("a").as("y"), col("b").as("z")), Seq("y"))
    val tri = wedges.join(
      ed.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"),
      "left_semi")
    val corners = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val deg = ed.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // ed stays persisted (read by wedges ×2, the semi probe and deg) —
    // callers unpersist / clearCache when done (the cache-courtesy
    // contract shared with connectedComponents).
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coef6", when(col("deg") >= 2,
        expr(s"(n_tri * ${2 * TriScale}) DIV (deg * (deg - 1))"))
        .otherwise(lit(0L)))
  }
}
