package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the 64-dim `embeddings` table: brute-force
  * cosine top-k as the correctness baseline and a sign-LSH bucketed
  * variant as the scale path (SURVEY.md §2D).
  *
  * Scale notes — every parameter that touches asymptotics is CONSTANT or
  * grows logarithmically, never linearly, with the corpus:
  *  - the query set is the FIXED first [[NumQueries]] vector ids, so the
  *    broadcast stays broadcast-sized and brute-force work is O(N·Q),
  *    not the O(N²/c) a percentage-sampled query side degrades to;
  *  - IVF uses a FIXED [[NumCentroids]]-sized centroid sample (top-K by
  *    portable hash — an O(N log K) selection), so the assignment pass
  *    is O(N·K), the classic coarse-quantization shape;
  *  - the embedding-LSH bit count is derived from the corpus size
  *    ([[lshBitsFor]]): expected bucket occupancy stays ≤
  *    [[TargetBucket]], so within-bucket all-pairs work is ≤
  *    N·TargetBucket/2 — linear in N (fixed 8 bits would be N²/256).
  * The brute-force path broadcasts the query set — a
  * BroadcastNestedLoopJoin that streams the big side once, no shuffle of
  * the corpus. All vector math is a codegen'd native expression
  * ([[graft.functions.DotProduct]]) — no UDF, stays inside whole-stage
  * codegen.
  *
  * Data contract: embeddings are non-zero vectors (the norm appears as
  * a divisor throughout; a zero-norm vector would raise Spark's ANSI
  * divide-by-zero). A pipeline ingesting untrusted vectors should drop
  * zero-norm rows at the boundary (`filter(l2norm(v) > 0)`).
  */
// Serializable because assignCellsHier's shared group body (a local
// def used by both cogroup key shapes) lambda-lifts with the enclosing
// object as a captured argument — the object rides along in the task
// closure (stateless, so this is bytes-cheap and semantically inert)
object Similarity extends Serializable {

  /** Dot product over two double arrays: native codegen'd expression
    * ([[graft.functions.DotProduct]]) — one fused loop, no intermediate
    * array, same left-to-right summation as the `zip_with`+`aggregate`
    * fold it replaces (bit-identical results). */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot(a, b)

  /** The composable-HOF formulation, kept for cross-checking the native
    * expression in tests. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Canonical embeddings: ONE deterministic survivor per non-null
    * vec_id — the embeddings twin of [[TextOps.corpus]] (DuckDB mirror:
    * [[Registry0.VecsCte]], injected into every oracle that touches the
    * embeddings table). A regenerated index can replay rows or collide
    * ids, and every query keyed by vec_id (top-k ranks, code tables,
    * final sorts) is ill-defined on the raw table. Survivor = min over
    * the (label, embedding) key — label coalesced to Int.MaxValue so a
    * null label loses to any real one identically in both engines
    * (Spark orders null struct fields FIRST, DuckDB LAST — never let a
    * null reach the comparator), then the embedding array
    * (lexicographic array compare, prefix-first, is the same rule in
    * both engines; NaN sorts greater than every float in both).
    *
    * The intake filter also enforces the documented data contract —
    * norms appear as divisors throughout, so degenerate vectors (null,
    * empty, zero-norm, NaN-poisoned) are dropped BEFORE survivor
    * selection: a broken replay must never shadow a valid row for the
    * same id. One vec_id-keyed shuffle with map-side partial min_by,
    * O(index) — the same pass that canonicalizes the corpus, and like
    * it checkpointed once per index (Stages.materialize): the ~16
    * embedding queries scan canonical parquet, and the lshBitsFor
    * count is the stage manifest's row count ([[canonEmbRows]]). */
  def canonEmb(s: SparkSession, d: String): DataFrame = canonEmbStage(s, d).read(s)

  /** The canonical embedding count, from the stage's manifest: no job. */
  private[graft] def canonEmbRows(s: SparkSession, d: String): Long =
    canonEmbStage(s, d).manifest.rows

  private def canonEmbStage(s: SparkSession, d: String): Published =
    Stages.resolve(s, "canon_emb", d)(canonEmbOf(s, d))

  private def canonEmbOf(s: SparkSession, d: String): DataFrame = {
    val key = struct(
      coalesce(col("label"), lit(Int.MaxValue)).as("l"),
      col("embedding").as("e"))
    Sources.embeddings(s, d)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .withColumn("__nm", l2norm(col("embedding").cast("array<double>")))
      // finite, not just non-NaN: a ±Inf/overflowing element gives an
      // Inf norm that passes `> 0` in both engines and then poisons
      // every downstream cosine with Inf/Inf = NaN — degenerate at
      // intake, like the NaN and zero-norm classes (DuckDB mirror:
      // isfinite(nm) in Registry0.VecsCte)
      .filter(col("__nm") > 0 && !isnan(col("__nm")) &&
        col("__nm") =!= Double.PositiveInfinity)
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("embedding"), col("label")), key).as("r"))
      .select(col("vec_id"), col("r.embedding").as("embedding"),
        col("r.label").as("label"))
  }

  /** embeddings as (vec_id, v: array<double>, nm) — floats widened to
    * double *before* any multiply so products are double-exact. */
  def vectors(s: SparkSession, d: String): DataFrame =
    canonEmb(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nm", l2norm(col("v")))

  /** Deterministic sign-LSH projection weights in [-1024, 1024): a
    * 64-bit multiply-xorshift mix of the flat index. An earlier LCG on
    * consecutive indices made every hyperplane an arithmetic progression
    * mod 2048 — hyperplanes were mutually correlated, buckets skewed ~5×
    * on isotropic data, and adding bits failed to split hot buckets
    * (measured on 1×/2×/4× rotated embedding replicas). The mix runs in
    * Scala at plan-build time only; the oracle SQL receives the literal
    * weight lists, so the two engines share values by construction. */
  def lshWeight(j: Int, i: Int): Long = {
    var x = (j * 64 + i + 1).toLong * 0x9E3779B97F4A7C15L
    x ^= (x >>> 32)
    x *= 0xBF58476D1CE4E5B9L
    x ^= (x >>> 29)
    ((x % 2048L) + 2048L) % 2048L - 1024L
  }

  /** Floor / cap on the adaptive LSH bit count. 28 bits of headroom
    * covers ~2^28 · TargetBucket ≈ 4.3 billion vectors at the target
    * occupancy; past the cap, occupancy (and the within-bucket pair
    * envelope) grows linearly with the corpus. */
  val MinLshBits = 8
  val MaxLshBits = 28

  /** Target expected bucket occupancy for the near-dup LSH blocking.
    * Small on purpose: between bit-count thresholds the same-bucket pair
    * count grows with occupancy² (the sawtooth inherent to power-of-two
    * blocking), so a tight target keeps the envelope tight — pairs stay
    * ≤ skew·N·occupancy with occupancy ∈ (TargetBucket/2, TargetBucket].
    * The recall cost of finer buckets is the documented dial: raise
    * recall with [[dedupEmbedBanded]]'s OR-construction, not coarser
    * buckets. */
  val TargetBucket = 16L

  /** Fixed ANN demo parameters — CONSTANTS, deliberately not fractions
    * of the corpus (a `vec_id % 50` query side makes broadcast size and
    * total work grow with N: O(N²/50) — the round-1 scale bug). */
  val NumQueries = 16
  val NumCentroids = 64

  /** Smallest bit count in [MinLshBits, MaxLshBits] whose expected
    * bucket occupancy n/2^bits is ≤ [[TargetBucket]] — pure integer
    * comparisons, mirrored verbatim by the oracle SQL (each comparison
    * term is a threshold `n > TargetBucket·2^b`, monotone in b, so the
    * count of passed thresholds IS the number of extra bits needed). */
  def lshBitsFor(n: Long): Int =
    MinLshBits + (MinLshBits until MaxLshBits)
      .count(b => n > (TargetBucket << b))

  /** Sign-LSH bucket id of a double-array embedding over `bits`
    * hyperplanes.
    *
    * The weight matrix is ONE nested `typedLit` (a single Literal node
    * holding bits×64 doubles) consumed by a zip_with/aggregate pair —
    * not `bits` separate `array(lit…)` nodes each feeding its own
    * dot/when in a `bits`-long `+` chain. Values are identical; the
    * expression tree drops from O(bits·64) nodes to a handful, which is
    * what the per-query Catalyst+Janino constant actually prices (the
    * round-3 bench-tail lesson). */
  def lshBucket(v: Column, bits: Int = MinLshBits): Column =
    lshBucketFrom(v,
      (0 until bits).map(j => (0 until 64).map(i => lshWeight(j, i).toDouble)))

  /** [[lshBucket]] over an explicit weight matrix (row j = hyperplane
    * for bit j) — shared with [[dedupEmbedBanded]]'s offset planes. */
  private def lshBucketFrom(v: Column, rows: Seq[Seq[Double]]): Column = {
    val pows = rows.indices.map(j => 1L << j)
    aggregate(
      zip_with(typedLit(rows), typedLit(pows),
        (wrow, p) => when(dot(v, wrow) >= 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** The fixed query set: the first [[NumQueries]] vector ids. */
  private def queriesFixed(vs: DataFrame): DataFrame =
    vs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nm").as("qnm"))

  /** Brute-force cosine top-k of the fixed query set over the whole
    * corpus: O(N·Q) streamed once past the broadcast queries. */
  def simTopK(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val vs = vectors(s, d)
    val q = queriesFixed(vs)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    vs.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnm") * col("nm")))
      // explicit narrow projection before the rank. Catalyst's
      // ColumnPruning already achieves this (verified: the pre-fix
      // WindowExec input was exactly (vec_id, q_id, cos) — the round-12
      // bimodal probe walls were co-tenant load, not a wide sort), but
      // the property is load-bearing at scale — a later edit that
      // consumes v/qv above the window would silently widen the sort to
      // ~1 KB rows — so it is stated in the code and pinned in PlanSpec
      // rather than left to the optimizer's discretion.
      .select(col("q_id"), col("vec_id"), col("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("rk"), round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "rk", "vec_id")
  }

  /** LSH-bucketed ANN top-k: candidates restricted to the query's
    * bucket. Adaptive bit count keeps per-query candidates ≤ ~
    * [[TargetBucket]] as the corpus grows. */
  def simLsh(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val bits = lshBitsFor(canonEmbRows(s, d))
    val vs = vectors(s, d).withColumn("bkt", lshBucket(col("v"), bits))
    val q = vs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nm").as("qnm"), col("bkt"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    vs.join(broadcast(q), Seq("bkt"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnm") * col("nm")))
      // explicit narrow projection before the rank (the simTopK
      // discipline — Catalyst prunes this today; stated + pinned so an
      // edit above the window can't silently widen the sort)
      .select(col("q_id"), col("vec_id"), col("bkt"), col("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("bkt"), col("rk"),
        round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "rk", "vec_id")
  }

  /** IVF-style ANN: a FIXED-size deterministic centroid sample — the
    * [[NumCentroids]] smallest (h28('c_'||vec_id), vec_id) keys, an
    * O(N log K) top-K selection — is broadcast; one O(N·K) pass assigns
    * each vector to its nearest centroid (max cosine, min-centroid-id
    * tie-break); queries then search only their own cell. At 100 TB the
    * centroid table stays broadcast-sized and the assignment is a single
    * scan — the classic coarse-quantization shape (probe more cells by
    * relaxing the rank-1 filter; raise K, which only grows the broadcast,
    * never the shuffle). */
  /** The exact k smallest (h28(prefix||vec_id), vec_id) rows of a
    * vectors frame — the deterministic hash-ranked sample shared by
    * [[centroidsFixed]] and [[semDedupGated]]'s subsample.
    *
    * Scale-safe for LARGE k: a bare `orderBy.limit(k)` plans as
    * TakeOrdered, whose final merge ships every partition's top-k to
    * the DRIVER — P·k rows, ~1.2 GB at K=65536 on 32 partitions
    * (measured: the round-12 k=1248 sim leg died on
    * spark.driver.maxResultSize right here), and tens of GB at
    * cluster partition counts. h28 is uniform on [0, 2^28), so rows
    * with the k smallest keys almost surely sit below t ≈ 4k/N of the
    * key space: prefilter to `key < t` (shrinking the merge to ~4k
    * rows — a scan, no shuffle), and fall back to the unfiltered
    * exact form iff the filter undershoots (P ≤ e^(-1.1k) by
    * Chernoff at the 4× margin — a logical-totality net, not a path).
    * Exactness: if ≥ k rows have key < t, every row with key ≥ t
    * sorts after all of them in key-major order, so the filtered
    * top-k IS the global top-k. Small k keeps the single-stage exact
    * plan (gate SFs: plans unchanged). */
  private[graft] def hashRankedLimit(vs: DataFrame, prefix: String,
      k: Int): DataFrame = {
    val keyed = vs.withColumn("__hk",
      PortableHash.h28(concat(lit(prefix), col("vec_id"))))
    def take(src: DataFrame): DataFrame =
      src.orderBy(col("__hk"), col("vec_id")).limit(k).drop("__hk")
    if (k <= 4096) take(keyed)
    else {
      val n = vs.count()
      val t =
        if (n == 0) 1L << 28
        else math.min(1L << 28, (1L << 28) * 4L * k / n + 1)
      val cand = keyed.filter(col("__hk") < t)
      if (cand.count() >= k) take(cand) else take(keyed)
    }
  }

  /** The fixed centroid sample: the [[NumCentroids]] smallest
    * (h28('c_'||vec_id), vec_id) keys — an O(N log K) selection whose
    * result is broadcast-sized by construction ([[hashRankedLimit]]
    * keeps the selection itself driver-safe at adaptive K). Drawn from
    * [[centroidEligible]] rows only — see there. */
  private def centroidsFixed(vs: DataFrame,
      k: Int = NumCentroids): DataFrame =
    hashRankedLimit(centroidEligible(vs), "c_", k)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nm").as("cnm"))

  /** Rows eligible to serve as centroids: non-null v and nm. The
    * row-side kernels tolerate null-v rows (NULL cosine, all-skipped
    * fallback), but a CENTROID's vector is dereferenced when the
    * matrix is built — driver-side in [[assignTo]], executor-side in
    * [[assignCellsHier]]'s cogroup — so every centroid sample excludes
    * them, mirroring the row-side valids branch. No-op on canonical
    * [[vectors]] frames (v and nm are computed non-null there), so the
    * oracle-visible samples are unchanged. */
  private def centroidEligible(vs: DataFrame): DataFrame =
    vs.filter(col("v").isNotNull && col("nm").isNotNull)

  /** One O(N·K) pass assigning every vector to its nearest fixed
    * centroid (max cosine, min-centroid-id tie-break): (vec_id, v, nm,
    * cell). Shared by [[simIvf]] and [[kmeansStep]]. `k` is the
    * centroid count — the oracle-checked queries pin [[NumCentroids]];
    * scale callers raise it with the corpus (K ∝ N holds cell
    * occupancy, and therefore [[semDedup]]'s within-cell pair count,
    * constant per vector — K only grows the broadcast). */
  def assignCells(vs: DataFrame, k: Int = NumCentroids,
      nKnown: Long = -1L): DataFrame =
    if (k <= FlatAssignMaxK) assignTo(vs, centroidsFixed(vs, k)).drop("c_cos")
    else assignCellsHier(vs, k, coarseFor(k), nKnown = nKnown).drop("c_cos")

  /** Nearest-centroid (cosine) assignment against an arbitrary
    * (c_id, cv, cnm) table — the broadcast O(N·K) pass shared by the
    * fixed-sample queries and [[kmeansIterate]]'s refreshed rounds. */
  /** Nearest-centroid argmax as a PER-PARTITION KERNEL over the
    * driver-collected centroid matrix — the deliberate mapPartitions
    * tier (the multimodal-decoder / bpeEncode rung), chosen because the
    * declarative forms are memory-bandwidth-bound, not compute-bound:
    * a broadcast nested-loop join MATERIALIZES N·K candidate rows each
    * carrying the 64-double vector (at the adaptive-K sweep shapes
    * K ~ N/32, i.e. ~800 GB of row copies at 200k vectors — measured
    * 342 s), and a window/max_by over them only changes where the rows
    * die, not that they are born. The kernel streams each vector once
    * past a K×64 double matrix: zero intermediate rows, N output rows,
    * no shuffle at all (MLlib's KMeans does exactly this). The collect
    * is bounded by a REQUIRED contract: K ≤ [[FlatAssignMaxK]] = 65536
    * rows (≤ 32 MB; [[assignCells]] routes larger K to the two-level
    * [[assignCellsHier]], whose per-group matrices never touch the
    * driver), the same bounded-collect class as [[kmeansIterate]]'s
    * K×64 means.
    *
    * Bit-identical to the former rank-1-window form, by construction:
    * the dot is the same left-to-right component fold as
    * [[graft.functions.DotProduct]] / DuckDB's list_dot_product, the
    * cosine divides by (nm·cnm) in the same association, and the
    * strict comparator win over id-ascending centroids IS (max cosine,
    * min-centroid-id). The comparator matches Spark's double ORDER BY
    * exactly, not primitive `>`: NaN orders GREATER than every value
    * (a NaN cosine wins the argmax like it won rank 1 under `desc`)
    * and -0.0 ties 0.0 (normalized before compare) — so the kernel
    * does not silently diverge from the window form even on
    * NON-CANONICAL inputs. (Today's callers can't produce a NaN
    * cosine: [[canonEmb]] drops zero/Inf-norm vectors at intake and
    * [[kmeansIterate]] drops all-zero means — but that invariant lives
    * at the intake boundary, and this comparator keeps argmax
    * semantics total rather than leaning on it.) A length-mismatched
    * centroid yields a NULL cosine under the fold semantics — mirrored
    * here by skipping it (NULL orders after every real cosine under
    * `desc`); if every cosine is NULL the smallest c_id wins with a
    * null c_cos, exactly the old window's nulls-last rank 1. With ZERO
    * centroids but rows present (an all-null-v frame — nothing is
    * [[centroidEligible]]) every row maps to the single fallback block
    * (cell = -1, null c_cos): totality, never a silent empty frame. */
  private def assignTo(vs: DataFrame, cents: DataFrame): DataFrame = {
    val spark = vs.sparkSession
    val byId = cents.select(col("c_id").cast("long"), col("cv"), col("cnm"))
      .collect().sortBy(_.getLong(0))
    // the flat kernel's bounded-collect contract: larger K must arrive
    // via assignCells, which routes it to the two-level path
    // ([[assignCellsHier]]) whose per-group matrices never touch the
    // driver
    require(byId.length <= FlatAssignMaxK,
      s"assignTo: ${byId.length} centroids exceed FlatAssignMaxK=" +
        s"$FlatAssignMaxK — use assignCells (two-level past the cap)")
    val schema = org.apache.spark.sql.types.StructType(vs.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("c_cos",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    if (byId.isEmpty) {
      // ZERO centroids with rows still present (possible only when no
      // row is centroidEligible — e.g. an all-null-v frame): totality
      // demands every row still comes back, not a silent empty frame
      // (the pre-r14 behavior here was an NPE; an empty return would
      // quietly drop the corpus). One fallback block, cell = -1 —
      // negative like the hier fallback family, c_cos null like every
      // all-skipped row. On an EMPTY input this still returns the
      // typed empty frame (the semDedup empty-corpus spec).
      val enc0 = org.apache.spark.sql.Encoders.row(schema)
      return vs.mapPartitions(rows => rows.map(r =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(-1L, null))))(enc0)
    }
    val ids = byId.map(_.getLong(0))
    val mats = byId.map(_.getSeq[Double](1).toArray)
    val nms = byId.map(_.getDouble(2))
    val bc = spark.sparkContext.broadcast((ids, mats, nms))
    val vIdx = vs.schema.fieldIndex("v")
    val nmIdx = vs.schema.fieldIndex("nm")
    val enc = org.apache.spark.sql.Encoders.row(schema)
    vs.mapPartitions { rows =>
      val (cid, cv, cnm) = bc.value
      argmaxBlocked(rows, cid, cv, cnm, vIdx, nmIdx)((r, cell, cos) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(cell, cos)))
    }(enc)
  }

  /** The row-blocked nearest-centroid argmax kernel shared by the flat
    * [[assignTo]] pass and the per-coarse-cell groups of
    * [[assignCellsHier]] — ROW-BLOCKED sweep, centroids outer over a
    * 64-row batch. Two effects, both large at K = tens of thousands:
    * (1) each 512-byte centroid row is streamed from L3 once per BATCH
    * instead of once per row — the row-at-a-time kernel measured
    * bandwidth-bound at ~280 GB/s aggregate (48 s at 800k×32768);
    * (2) consecutive inner-loop dots belong to DIFFERENT rows, so
    * their strict-FP dependency chains (no reassociation allowed) are
    * independent and pipeline instead of serializing on add latency.
    * Bit-identical to the row-at-a-time form by construction: each
    * (row, centroid) dot is the same left-to-right fold, and for any
    * given row the centroids are still considered in ascending order
    * (c is the outer loop), so the strict comparator makes identical
    * argmax decisions. Comparator semantics (NaN-greater, -0.0
    * normalized, length-mismatch skipped, all-skipped → (cid(0),
    * null)) are documented on [[assignTo]]. `mk` builds the output row
    * from (input row, winning cell id, boxed cosine or null). */
  private def argmaxBlocked(rows: Iterator[org.apache.spark.sql.Row],
      cid: Array[Long], cv: Array[Array[Double]], cnm: Array[Double],
      vIdx: Int, nmIdx: Int)(
      mk: (org.apache.spark.sql.Row, Long, Any) => org.apache.spark.sql.Row)
      : Iterator[org.apache.spark.sql.Row] = {
    val nCents = cid.length
    rows.grouped(64).flatMap { batch =>
      val b = batch.length
      val varrs = new Array[Array[Double]](b)
      val valids = new Array[Boolean](b)
      val nms = new Array[Double](b)
      val bests = new Array[Double](b)
      val bestIs = new Array[Int](b)
      var j = 0
      while (j < b) {
        // a null v (or null nm) row yields NULL cosine for EVERY
        // centroid under the window form — rank 1 is (cid(0), null),
        // the same all-skipped fallback as a length mismatch; marking
        // it invalid (instead of NPE-ing on getSeq.toArray) keeps the
        // kernel total off the canonical-intake contract, like
        // pqEncode's null branch
        valids(j) = !batch(j).isNullAt(vIdx) && !batch(j).isNullAt(nmIdx)
        varrs(j) =
          if (valids(j)) batch(j).getSeq[Double](vIdx).toArray
          else Array.empty[Double]
        nms(j) = if (valids(j)) batch(j).getDouble(nmIdx) else 0.0
        bestIs(j) = -1
        j += 1
      }
      var c = 0
      while (c < nCents) {
        val w = cv(c)
        val wl = w.length
        val inm = cnm(c)
        var k = 0
        while (k < b) {
          val varr = varrs(k)
          if (valids(k) && wl == varr.length) {
            var s = 0.0
            var i = 0
            while (i < wl) { s += varr(i) * w(i); i += 1 }
            val raw = s / (nms(k) * inm)
            // -0.0 ties 0.0 under Spark's comparator; normalize
            // before Double.compare (which would order -0.0 < 0.0).
            // NaN then compares greater than everything — the
            // window's ordering.
            val cos = if (raw == 0.0) 0.0 else raw
            if (bestIs(k) < 0 ||
                java.lang.Double.compare(cos, bests(k)) > 0) {
              bests(k) = cos; bestIs(k) = c
            }
          }
          k += 1
        }
        c += 1
      }
      (0 until b).iterator.map { k =>
        val (cell, cos) =
          if (bestIs(k) < 0) (cid(0), null)
          else (cid(bestIs(k)), Double.box(bests(k)))
        mk(batch(k), cell, cos)
      }
    }
  }

  /** Two-level (coarse→fine) nearest-centroid assignment — how
    * [[assignCells]] serves K past the flat kernel's
    * [[FlatAssignMaxK]] bounded-collect cap while keeping EVERY driver
    * collect ≤ [[MaxCoarseCells]] rows (the MLlib-style hierarchy;
    * same argmax kernel at two granularities):
    *
    *  1. coarse pass: a coarseK-sized hash-ranked sample (coarseK ≈
    *     √K by default — [[coarseFor]]; prefix "h_", independent of
    *     the fine family) is collected and every vector
    *     coarse-assigned by the flat kernel — one map pass, no
    *     shuffle;
    *  2. fine sample: all rows with h28("c_"||vec_id) < 2^28·k/n — a
    *     PURE FILTER (deterministic, one scan; no global sort, no
    *     driver merge at any k — the [[hashRankedLimit]] TakeOrdered
    *     merge would ship P·k rows at exactly the K this path exists
    *     for). |fine| is binomial around k (sd ≈ √k — 0.3% at the
    *     K=131072 leg), which is immaterial: K itself is a
    *     heuristic occupancy dial, and the SET is exact for a given
    *     corpus. Each fine centroid is tagged with ITS coarse cell by
    *     the same flat kernel;
    *  3. fine pass: vectors cogroup with fine centroids on the
    *     (coarse cell, salt) pair — the vector side salted
    *     deterministically ([[saltOf]], [[hierSalts]](n, k) ways —
    *     1 below [[HierSaltMinRows]], else occupancy-capped at
    *     [[HierFineSalts]]), the fine group replicated per salt —
    *     and each group runs the row-blocked argmax kernel
    *     ([[argmaxBlocked]]) over a matrix built EXECUTOR-side from
    *     the group's centroid iterator: the matrix never exists on
    *     the driver, per-group size tracks cell population (uniform
    *     sample ⇒ expected K/coarseK ≈ √K when balanced), and salting
    *     keeps parallelism and the hot-cell task bound cluster-shaped
    *     (inline ledger below).
    *
    * Semantics: each vector's cell is the (max cosine, min-id) fine
    * centroid AMONG ITS COARSE CELL's fine centroids — the standard
    * IVF/coarse-quantization approximation to the flat global argmax
    * (a vector's nearest fine centroid almost always shares its coarse
    * cell; for [[semDedup]] the cells are a BLOCKING structure, so the
    * approximation moves block boundaries, never correctness of the
    * within-block pair math). A coarse cell with no fine centroid
    * (possible when its population is small) falls back to the block
    * `-ccell-1` — negative, so it can never collide with a fine
    * centroid vec_id, and bounded by the same small-population
    * argument that left it unsampled.
    *
    * Scale/shuffle ledger vs the flat kernel: +1 shuffle of the corpus
    * (the cogroup's hash exchange on (coarse cell, salt)) and +1 of
    * the salts·k-row replicated fine table (≤ one corpus-size shuffle
    * ALWAYS: the adaptive [[hierSalts]] caps salts at the measured
    * occupancy n/k, not just at the occupancy ceiling), in exchange
    * for dropping the assignment compute from N·K to ~N·2√K dots
    * (coarseK + K/coarseK per vector, minimized by the [[coarseFor]]
    * default coarseK ≈ √K) and the driver collect from K to coarseK ≤
    * [[MaxCoarseCells]] rows. The alternative at K = 4M — a 2 GB
    * centroid broadcast into the flat kernel — loses on both axes.
    *
    * `coarseK` ≤ 0 (the default) resolves to [[coarseFor]](k);
    * `salts` ≤ 0 (the default) resolves to [[hierSalts]](n, k) — the
    * N-bounded bypass plus the occupancy cap, both result-identical
    * by the row-independence argument above (spec-pinned at salts
    * 1/5/32 on both gate shapes and a fully-hot corpus). */
  private[graft] def assignCellsHier(vs: DataFrame, k: Int,
      coarseK: Int = -1, nKnown: Long = -1L,
      salts: Int = -1): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    // callers that already hold the corpus count pass it through
    // (semDedupOf / semDedupHierGated derive K from it) — recounting
    // an unpersisted subsample frame would re-execute its selection
    val n = if (nKnown >= 0L) nKnown else vs.count()
    val cK = if (coarseK > 0) coarseK else coarseFor(k)
    val coarse = hashRankedLimit(centroidEligible(vs), "h_", cK)
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("nm").as("cnm"))
    val withC = assignTo(vs, coarse).drop("c_cos")
      .withColumnRenamed("cell", "__ccell")
    // n == 0 keeps the mirror's LEAST/GREATEST arithmetic exactly
    // (t = 2^28 when cnt = 0, like hashRankedLimit's branch) — no rows
    // exist to pass the filter either way, but the single-sourcing
    // claim on the DuckDB mirror stays literally true at the corner
    val t =
      if (n == 0) 1L << 28
      else math.min(1L << 28, math.max(1L, (1L << 28) * k.toLong / n))
    val fine = centroidEligible(vs)
      .withColumn("__fk", PortableHash.h28(concat(lit("c_"), col("vec_id"))))
      .filter(col("__fk") < t).drop("__fk")
    // deliberately a SECOND kernel pass over the ~K-row filtered frame,
    // not a filter of withC: the h28 filter pushes below this kernel
    // (a narrow scan + ~K dots) but could never push below withC's
    // opaque mapPartitions — deriving fineC from withC would re-kernel
    // all N rows for the fine branch (or force persisting withC)
    val fineC = assignTo(fine, coarse)
      .select(col("cell").as("__ccell"), col("vec_id").cast("long").as("c_id"),
        col("v").as("cv"), col("nm").as("cnm"))
    val outSchema = org.apache.spark.sql.types.StructType(
      vs.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("c_cos",
          org.apache.spark.sql.types.DoubleType, nullable = true)))
    val enc = Encoders.row(outSchema)
    val vIdx = vs.schema.fieldIndex("v")
    val nmIdx = vs.schema.fieldIndex("nm")
    val ccellIdx = withC.schema.fieldIndex("__ccell")
    val vecIdIdx = vs.schema.fieldIndex("vec_id")
    val nSalts = if (salts > 0) salts else hierSalts(n, k)
    // SALTED fine pass: the cogroup keys on (coarse cell, salt), not
    // the coarse cell alone. Unsalted, cluster parallelism caps at
    // coarseK tasks regardless of cluster size, and a hot coarse
    // cell — real embedding corpora ARE clustered; that is SemDeDup's
    // premise — lands its entire population in ONE task. Rows are
    // independent given the cell's fine SET, so salting the vector
    // side and replicating the (bounded, ~K/coarseK-row) fine group
    // once per salt is result-IDENTICAL by construction: every salt
    // replica of a cell carries the same fine matrix, and each output
    // row depends only on its own (v, nm) and that matrix. Cost
    // ledger: the corpus shuffle is unchanged (same rows, finer
    // keys); the only new bytes are the fine replicas — salts·|fine| ≈
    // salts·K rows, ≤ one corpus-size shuffle ALWAYS because the
    // adaptive [[hierSalts]] caps salts at the measured occupancy
    // n/k (not just at the CellTarget ceiling — the r14 claim held
    // only there; measured legs run at occupancy 19). Parallelism
    // rises to coarseK·salts groups and a fully-hot cell's task
    // shrinks ÷salts; below [[HierSaltMinRows]] the whole corpus is
    // small enough that the worst single task is already fine, so
    // salts resolves to 1 and the plan drops the replicating explode
    // + tuple-key fan-out it would pay ~1.2 s of one-time setup for.
    // one group body for BOTH key shapes, so the salted and unsalted
    // branches cannot drift: a group-local centroid matrix, c_id
    // ascending (the comparator's tie-break order), built
    // executor-side, bounded by the group's fine-centroid count
    def fineGroup(ccell: Long, rows: Iterator[Row],
        cents: Iterator[Row]): Iterator[Row] = {
      val arr = cents.toArray.sortBy(_.getLong(1))
      if (arr.isEmpty)
        // no fine centroid in this coarse cell (at ANY salt — replicas
        // are all-or-nothing per cell): the whole cell is one block,
        // keyed negatively so it can't collide with a vec_id. A ccell
        // that is ALREADY a fallback (negative — the zero-centroid
        // coarse pass) propagates as itself rather than double-negating
        // back into non-negative id space.
        rows.map(r => Row.fromSeq(r.toSeq.dropRight(1) ++
          Seq(if (ccell < 0) ccell else -ccell - 1L, null)))
      else {
        val ids = arr.map(_.getLong(1))
        val mats = arr.map(_.getSeq[Double](2).toArray)
        val nms = arr.map(_.getDouble(3))
        argmaxBlocked(rows, ids, mats, nms, vIdx, nmIdx)((r, cell, cos) =>
          Row.fromSeq(r.toSeq.dropRight(1) ++ Seq(cell, cos)))
      }
    }
    if (nSalts <= 1) {
      // the unsalted plan shape: bare-Long cell key, NO replicating
      // explode — below HierSaltMinRows this is the whole point of
      // the bypass (a 1-way explode + tuple-key exchange would still
      // plan the extra Generate/serializer nodes and pay their
      // one-time codegen)
      val grpV = withC.groupByKey((r: Row) =>
        r.getLong(ccellIdx))(Encoders.scalaLong)
      val grpC = fineC.groupByKey((r: Row) =>
        r.getLong(0))(Encoders.scalaLong)
      grpV.cogroup(grpC)((key, rows, cents) =>
        fineGroup(key, rows, cents))(enc)
    } else {
      val fineRep = fineC.withColumn("__salt",
        explode(array((0 until nSalts).map(i => lit(i)): _*)))
      val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt)
      val grpV = withC.groupByKey((r: Row) =>
        (r.getLong(ccellIdx), saltOf(r.get(vecIdIdx), nSalts)))(pairEnc)
      val grpC = fineRep.groupByKey((r: Row) =>
        (r.getLong(0), r.getInt(4)))(pairEnc)
      grpV.cogroup(grpC)((key, rows, cents) =>
        fineGroup(key._1, rows, cents))(enc)
    }
  }

  /** Deterministic within-coarse-cell salt for [[assignCellsHier]]'s
    * fine pass: the [[lshWeight]] multiply-xorshift mix of vec_id,
    * mod `salts` — NOT a bare `id % salts`, which would correlate with
    * any id-structured loading (sequential ranges, stride patterns).
    * Executor-side Scala over the already-grouped row, so no extra
    * column or scan. Any salt function is result-correct (rows are
    * independent given the fine matrix); determinism in vec_id is what
    * makes the partitioning-invariance spec meaningful. Total off the
    * canonical contract: non-numeric ids hash, a null id salts to 0. */
  private[graft] def saltOf(id: Any, salts: Int): Int =
    if (salts <= 1) 0
    else {
      val l = id match {
        case n: java.lang.Number => n.longValue
        case null => 0L
        case o => o.hashCode.toLong
      }
      var x = l * 0x9E3779B97F4A7C15L
      x ^= (x >>> 32)
      math.floorMod(x, salts).toInt
    }

  /** Full spherical-k-means Lloyd loop: `iters` rounds of broadcast
    * assignment + fixed-point mean recompute, starting from the fixed
    * centroid sample. The update averages the NORMALIZED members
    * (xv/nm) — for the cosine objective the summed-cosine maximizer of
    * a cell is the direction of Σ v/|v|, so averaging raw vectors
    * (which a euclidean Lloyd step would do) could DECREASE the
    * objective whenever member norms are skewed; the normalized mean
    * is what makes the monotonicity assertion in SimilaritySpec sound.
    * (Deliberately NOT [[posQuantize]]: that is the raw-component
    * discipline shared with the oracle-checked queries; this quantizes
    * normalized components, and its 0-based pos never leaves the
    * driver-side rebuild below.) All-zero quantized means (possible
    * when a cell's members cancel) are dropped with the cell — a
    * zero-norm centroid would divide by zero in the next assignment.
    *
    * Per round, the K×64 mean table (the ONLY thing that is not
    * corpus-sized) collects to the driver and becomes the next round's
    * broadcast — the corpus itself never moves; each round is one
    * O(N·K) map pass plus one (cell, pos)-keyed agg, the
    * [[kmeansStep]] shape iterated; the update is skipped on the final
    * round (its result would be discarded). Cells that lose all
    * members drop out (standard Lloyd behavior). Returns the
    * per-round mean best-cosine. */
  def kmeansIterate(s: SparkSession, d: String, iters: Int): Seq[Double] = {
    import s.implicits._
    val vs = vectors(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // the loop reads it per round
    try {
      var cents = centroidsFixed(vs)
      val quality = Seq.newBuilder[Double]
      for (round <- 1 to iters) {
        val assigned = assignTo(vs, cents)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // quality agg + means
        try {
          quality += assigned.agg(avg(col("c_cos"))).head().getDouble(0)
          if (round < iters) {
            val means = assigned
              .select(col("cell"),
                posexplode(transform(col("v"), x => x / col("nm")))
                  .as(Seq("pos", "xv")))
              .select(col("cell"), col("pos"),
                floor(col("xv") * KmeansFixedPoint).as("q"))
              .groupBy("cell", "pos")
              .agg(count(lit(1)).as("n"), sum("q").as("sq"))
              .select(col("cell"), col("pos"), m6Col.as("m"))
              .collect()
            val next = means.groupBy(_.getLong(0)).toSeq.flatMap {
              case (c, rows) =>
                val arr = new Array[Double](64)
                rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
                if (arr.exists(_ != 0.0)) Some((c, arr.toSeq)) else None
            }
            cents = next.toDF("c_id", "cv")
              .withColumn("cnm", l2norm(col("cv")))
          }
        } finally assigned.unpersist()
      }
      quality.result()
    } finally vs.unpersist()
  }

  def simIvf(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val vs = vectors(s, d)
    // persisted: both the query side and the corpus side of the cell
    // join derive from it — without the persist each branch re-runs the
    // N×C assignment pass (at cluster scale this is the checkpoint of
    // the assignment table, SCALE.md "what we would change first")
    val assigned = assignCells(vs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nm").as("qnm"), col("cell"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnm") * col("nm")))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("cell"), col("rk"),
        round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "rk", "vec_id")
  }

  /** Multi-probe IVF ANN (library operator — same index as [[simIvf]],
    * wider search): queries probe their `nprobe` nearest CELLS instead
    * of one, the standard recall dial for a coarse-quantized index
    * (recall rises with nprobe; work per query grows as nprobe·cell —
    * still O(nprobe·N/K) total, never the corpus). The probe assignment
    * reuses the one O(N·K) broadcast pass: rank ≤ nprobe instead of
    * rank = 1 on the query side only. */
  def simIvfProbe(s: SparkSession, d: String, k: Int = 3,
      nprobe: Int = 2): DataFrame = {
    val vs = vectors(s, d)
    // NOT persisted (unlike simIvf): here only the corpus side derives
    // from the assignment — the query side re-ranks against the
    // broadcast centroids directly — so a persist would pin an O(N)
    // cache entry that is read exactly once and never unpersisted
    val assigned = assignCells(vs)
    // query side: nprobe nearest centroids each (broadcast-sized)
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_cos").desc, col("c_id"))
    val q = vs.filter(col("vec_id") < NumQueries)
      .join(broadcast(centroidsFixed(vs)), lit(true))
      .withColumn("c_cos", dot(col("v"), col("cv")) / (col("nm") * col("cnm")))
      .withColumn("c_rk", row_number().over(wAssign))
      .filter(col("c_rk") <= nprobe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nm").as("qnm"), col("c_id").as("cell"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnm") * col("nm")))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("rk"),
        round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "rk", "vec_id")
  }

  /** Fixed-point scale for the k-means update's exact sums: six decimal
    * digits — enough that the quantization error (≤ 1e-6 per component)
    * is far below any clustering decision, while a 64-bit sum holds
    * ~9·10^12 unit-norm components per cell before overflow. */
  val KmeansFixedPoint = 1000000L

  /** One distributed Lloyd iteration from the fixed centroid sample: the
    * centroid-update half of k-means (assign each vector to its nearest
    * centroid, then recompute each cell's component-wise mean) — the
    * canonical iterative-ML step a training pipeline runs to cluster an
    * embedding corpus.
    *
    * Output: (cell, pos, n, sq, m6) — per (cell, 1-based component)
    * the member count, the EXACT fixed-point component sum, and the mean
    * (sq / (10^6·n)). Components are quantized to fixed point BEFORE
    * summing so the aggregation is pure integer arithmetic — the sum is
    * order-independent, hence bit-deterministic under any partitioning
    * and identical cross-engine, where a floating sum would drift with
    * shuffle order.
    *
    * Scale: one O(N·K) broadcast assignment pass + one hash agg on
    * (cell, pos) — N·64 long-keyed rows with map-side partials, output
    * K·64 rows. No join back to the corpus, no window over it. */
  /** Explode `v` into 1-based (pos, xv, q) component rows with the
    * [[KmeansFixedPoint]] quantization applied — the single definition
    * of the fixed-point discipline behind [[kmeansStep]] and
    * [[dimStats]]. `keep` columns are carried through. */
  private def posQuantize(df: DataFrame, keep: String*): DataFrame =
    df.select(keep.map(col) :+ posexplode(col("v")).as(Seq("pos", "xv")): _*)
      .select(keep.map(col) ++ Seq(
        (col("pos") + 1).cast("long").as("pos"), col("xv"),
        floor(col("xv") * KmeansFixedPoint).as("q")): _*)

  /** Mean from the exact fixed-point sum — pairs with [[posQuantize]]. */
  private def m6Col: Column =
    col("sq").cast("double") / (col("n") * KmeansFixedPoint)

  def kmeansStep(s: SparkSession, d: String): DataFrame =
    posQuantize(assignCells(vectors(s, d)), "cell")
      .groupBy("cell", "pos")
      .agg(count(lit(1)).as("n"), sum("q").as("sq"))
      .withColumn("m6", m6Col)
      .select("cell", "pos", "n", "sq", "m6")
      .orderBy("cell", "pos")

  /** Per-dimension embedding statistics — the normalization/whitening
    * table an embedding pipeline computes before indexing (subtract the
    * per-dimension mean, clip by the observed range). Means use the
    * [[KmeansFixedPoint]] discipline: components are quantized to
    * integers BEFORE summing so the aggregate is order-independent and
    * bit-identical cross-engine; min/max compare stored values (no
    * arithmetic), so they are deterministic as-is.
    *
    * Scale: one posexplode (64 rows per vector) into a hash agg keyed
    * by the 64 positions with map-side partials — the shuffle carries
    * 64 partial rows per map task, the output is 64 rows. The 64-row
    * result is parquet-staged ([[Stages]]) and shared with
    * [[int8Quant]], whose range pass is the same scan. */
  def sharedDimStats(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "dim_stats", d)(
      posQuantize(vectors(s, d))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"), sum("q").as("sq"),
          min("xv").as("mn"), max("xv").as("mx")))

  def dimStats(s: SparkSession, d: String): DataFrame =
    sharedDimStats(s, d)
      .withColumn("m6", m6Col)
      .select("pos", "n", "sq", "mn", "mx", "m6")
      .orderBy("pos")

  /** Fixed-point scale for [[embedNorm]]'s per-element squared terms. */
  val NormFixedPoint = 1000000L

  /** Per-label L2-norm statistics — the embedding-health report run
    * before any cosine-based stage (un-normalized vectors silently
    * corrupt cosine thresholds; a label whose norm range is wide is the
    * first thing to inspect). Each vector's Σx² is floor-quantized per
    * ELEMENT to [[NormFixedPoint]] integers before summing (exact,
    * order-independent — the established fixed-point discipline), and
    * norm_fp = floor(√Σfp) stays integral: sqrt is IEEE
    * correctly-rounded in both engines, so bit-exact.
    *
    * Scale: one narrow per-row fold (no explode — the row never leaves
    * its partition) then a label-keyed aggregation whose output is
    * bounded by the label cardinality. */
  def embedNorm(s: SparkSession, d: String): DataFrame =
    canonEmb(s, d)
      .select(col("label"),
        aggregate(col("embedding").cast("array<double>"), lit(0L),
          (acc, x) => acc + floor(x * x * lit(NormFixedPoint.toDouble)))
          .as("sfp"))
      .withColumn("norm_fp", floor(sqrt(col("sfp").cast("double"))))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vec"), min("norm_fp").as("min_n"),
        max("norm_fp").as("max_n"), sum("norm_fp").as("sum_n"))
      .withColumn("avg_n", expr("sum_n DIV n_vec"))
      .orderBy("label", "n_vec", "min_n", "max_n", "sum_n", "avg_n")

  /** Upper-triangle covariance of the embedding dimensions — the
    * 64×64 second-moment table a whitening / PCA pass starts from
    * (population covariance, ÷n). Per row, the 2 080 upper-triangle
    * products are generated by two chained posexplodes (no self-join,
    * no 4 096-row full square, no interpreted nested HOF) and floor-
    * quantized to [[KmeansFixedPoint]] integers BEFORE the aggregate,
    * so the big sum is exact and order-independent; the covariance
    * double is derived at the end from exact integers (means ride the
    * staged [[sharedDimStats]] sums — no second moment pass).
    *
    * Scale: the explode multiplies the scan 2 080× but the agg combines
    * map-side into 2 080 keys — the shuffle carries 2 080 partials per
    * map task regardless of corpus size; the mean join is a 64-row
    * broadcast. O(dim²·N) work is inherent to covariance. */
  def embedCov(s: SparkSession, d: String): DataFrame = {
    // Two chained posexplodes (outer over v, inner over the index-sliced
    // tail) instead of a nested transform-of-structs: posexplode is a
    // codegen'd Generate and the product is plain row arithmetic, where
    // the interpreted nested-HOF formulation this replaces spent ~3 s at
    // sf0.1 boxing 2 080 structs per row. Slice start is 1-based, so
    // start i0+1 = 0-based index i0 — the tail begins at the diagonal.
    val prods = vectors(s, d)
      .select(col("v"), posexplode(col("v")).as(Seq("i0", "xi")))
      .select(col("i0"), col("xi"),
        posexplode(slice(col("v"), col("i0") + 1, lit(64) - col("i0")))
          .as(Seq("j0", "xj")))
      .select((col("i0") + 1).cast("long").as("i"),
        (col("i0") + 1 + col("j0")).cast("long").as("j"),
        floor(col("xi") * col("xj") * KmeansFixedPoint).as("qp"))
      .groupBy("i", "j")
      .agg(sum(col("qp")).as("spp"))
    val ds = sharedDimStats(s, d).select("pos", "n", "sq")
    val di = ds.toDF("i", "n", "si")
    val dj = ds.toDF("j", "nj", "sj")
    prods.join(broadcast(di), Seq("i")).join(broadcast(dj), Seq("j"))
      // + 0.0 canonicalizes IEEE negative zero (round keeps Spark's
      // -0.0 where DuckDB emits 0.0; adding positive zero maps -0.0 to
      // 0.0 and is the identity on every other double)
      .withColumn("cov6", round(
        (col("spp").cast("double") / KmeansFixedPoint) / col("n") -
          ((col("si").cast("double") / KmeansFixedPoint) / col("n")) *
          ((col("sj").cast("double") / KmeansFixedPoint) / col("nj")), 6)
        + lit(0.0))
      .select("i", "j", "spp", "cov6")
      .orderBy("i", "j", "spp", "cov6")
  }

  /** Top principal component by power iteration (library operator) —
    * the dominant direction of [[embedCov]]'s covariance, for whitening
    * or a rank-1 ABTT-style common-direction removal. The matrix is
    * 64×64 — driver-side iteration is the bounded part; the corpus-
    * sized work is the one [[embedCov]] pass. Sign is fixed to make
    * the largest-magnitude component positive (eigenvectors are
    * sign-ambiguous). Returns (eigenvalue, eigenvector). */
  def pcaTop(s: SparkSession, d: String, iters: Int = 50): (Double, Array[Double]) = {
    val m = Array.ofDim[Double](64, 64)
    embedCov(s, d).select("i", "j", "cov6").collect().foreach { r =>
      val i = r.getLong(0).toInt - 1; val j = r.getLong(1).toInt - 1
      m(i)(j) = r.getDouble(2); m(j)(i) = r.getDouble(2)
    }
    var v = Array.fill(64)(1.0 / math.sqrt(64.0))
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val w = Array.tabulate(64)(i =>
        (0 until 64).map(j => m(i)(j) * v(j)).sum)
      lambda = (0 until 64).map(i => v(i) * w(i)).sum
      val nrm = math.sqrt(w.map(x => x * x).sum)
      if (nrm > 0) v = w.map(_ / nrm)
    }
    val k = v.indices.maxBy(i => math.abs(v(i)))
    if (v(k) < 0) v = v.map(-_)
    (lambda, v)
  }

  /** Int8 scalar quantization of the embedding corpus against the
    * per-dimension observed range — the compression pass an ANN index
    * applies before serving (4× smaller than float32, distance error
    * bounded by the cell width): `code = floor((x−mn)·255/(mx−mn))`
    * clamped to 255, degenerate (mn=mx) dimensions coding to 0.
    *
    * Output per vector: the exact code sum (a reproducibility checksum
    * over the 64 codes) and the exact [[KmeansFixedPoint]] fixed-point
    * sum of per-component reconstruction errors — both integer sums,
    * order-independent, bit-identical cross-engine; the only floating
    * arithmetic is a fixed expression shape mirrored verbatim in the
    * oracle.
    *
    * Scale: the range table comes from the staged [[sharedDimStats]]
    * (64 rows, broadcast) — the encode pass is then the query's ONLY
    * corpus posexplode, joined map-side plus a vec_id-keyed agg with
    * partials (the previous shape re-derived the range table from a
    * second corpus explode: 2× the scan cost at 100 TB). */
  def int8Quant(s: SparkSession, d: String): DataFrame = {
    // posQuantize's q column is unused here; Catalyst prunes it
    val px = posQuantize(vectors(s, d), "vec_id")
      .select("vec_id", "pos", "xv")
    val dims = sharedDimStats(s, d).select("pos", "mn", "mx")
    val code = when(col("mx") > col("mn"),
      least(lit(255L),
        floor((col("xv") - col("mn")) * 255.0 / (col("mx") - col("mn")))))
      .otherwise(lit(0L))
    px.join(broadcast(dims), Seq("pos"))
      .withColumn("code", code)
      .withColumn("err6", floor(abs(
        col("xv") - (col("mn") + col("code") * (col("mx") - col("mn")) / 255))
        * KmeansFixedPoint))
      .groupBy("vec_id")
      .agg(sum("code").as("code_sum"), sum("err6").as("err6_sum"))
      .orderBy("vec_id")
  }

  /** Neighbors per query for the kNN label vote. */
  val KnnK = 10

  /** kNN label assignment: for each fixed query vector, the majority
    * label among its [[KnnK]] nearest neighbors by cosine (tie → more
    * votes wins, then smaller label) — the weak-supervision /
    * label-propagation pass a training pipeline uses to extend a small
    * labeled seed set over an unlabeled corpus. Same scale shape as
    * [[simTopK]]: the query side is a fixed-size broadcast, the corpus
    * streams past it once, and the vote is a tiny (Q·K-row) aggregation.
    * Output: (q_id, label — the query's own, pred_label, n_votes). */
  def knnLabel(s: SparkSession, d: String): DataFrame = {
    val emb = canonEmb(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label").cast("long").as("label"))
      .withColumn("nm", l2norm(col("v")))
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nm").as("qnm"), col("label").as("q_label"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val neighbors = emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnm") * col("nm")))
      // explicit narrow projection before the rank (the simTopK
      // discipline — pruned by Catalyst today, stated + pinned)
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        col("cos"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= KnnK)
    val wVote = Window.partitionBy(col("q_id"))
      .orderBy(col("n_votes").desc, col("label"))
    neighbors.groupBy(col("q_id"), col("q_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("q_label").as("label"),
        col("label").as("pred_label"), col("n_votes"))
      .orderBy("q_id")
  }

  /** Hard negatives per query for contrastive pair mining. */
  val HardNegK = 3

  /** Hard-negative mining: for each fixed query vector, the [[HardNegK]]
    * most-cosine-similar vectors carrying a DIFFERENT label — the
    * contrastive-training pair miner (the negatives that look most like
    * the anchor are the ones a metric-learning loss learns from; random
    * negatives are too easy to carry gradient). Same scale shape as
    * [[simTopK]]/[[knnLabel]]: fixed-size broadcast query side, corpus
    * streamed past it once, per-query top-k via window rank.
    * Output: (q_id, q_label, vec_id, label, rk, cos4). */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = canonEmb(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label").cast("long").as("label"))
      .withColumn("nm", l2norm(col("v")))
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nm").as("qnm"), col("label").as("q_label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    emb.join(broadcast(q), col("label") =!= col("q_label"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnm") * col("nm")))
      // explicit narrow projection before the rank (the simTopK
      // discipline — pruned by Catalyst today, stated + pinned)
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        col("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= HardNegK)
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        col("rk"), round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "rk", "vec_id")
  }

  /** Cosine-similarity decile histogram over the sign-LSH candidate
    * pairs — the threshold-tuning curve for embedding near-dup: before
    * committing to a [[dedupEmbed]] cutoff, a pipeline inspects how
    * candidate mass distributes across similarity bands (a bimodal
    * histogram → clean threshold in the valley; flat → the corpus has
    * no natural near-dup boundary). Pairs come from the same bucketed
    * self-join as [[dedupEmbed]] — adaptive [[lshBitsFor]] bits keep
    * bucket occupancy (and so the pair count) linear in the corpus; the
    * output is ≤ 20 fixed decile rows. Deciles floor(cos·10), clamped
    * to [-10, 9] so cos = 1.0 lands in the top band. */
  def simHist(s: SparkSession, d: String): DataFrame = {
    val bits = lshBitsFor(canonEmbRows(s, d))
    val vs = vectors(s, d).withColumn("bkt", lshBucket(col("v"), bits))
    val lhs = vs.select(col("vec_id").as("a"), col("v").as("va"),
      col("nm").as("na"), col("bkt"))
    val rhs = vs.select(col("vec_id").as("b"), col("v").as("vb"),
      col("nm").as("nb"), col("bkt"))
    lhs.join(rhs, Seq("bkt")).filter(col("a") < col("b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .withColumn("decile", greatest(lit(-10L),
        least(lit(9L), floor(col("cos") * 10).cast("long"))))
      .groupBy("decile").agg(count(lit(1)).as("n_pairs"))
      .orderBy("decile", "n_pairs")
  }

  /** Product-quantization geometry: 64 dims = [[PqSubspaces]] subspaces
    * of [[PqSubDim]] dims, [[PqCodebook]] codewords per subspace (a
    * 4-bit code per subspace — 4 bytes per vector instead of 256). */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqCodebook = 16

  /** Product-quantization encoding: per (vector, subspace), the nearest
    * of [[PqCodebook]] codewords by squared L2 over that subspace's 8
    * components — the compression step that lets an ANN index hold
    * billion-vector corpora in memory. The codebook is a deterministic
    * hash-ranked sample (the [[centroidsFixed]] discipline: FIXED size,
    * an O(N log K) selection, broadcast); encoding is one O(N·16·8)
    * map-side pass — no shuffle of the corpus, output is 8 small rows
    * per vector. (A production codebook comes from k-means — the
    * [[kmeansStep]] operator — this operator is the encoding pass.)
    * Output: (vec_id, sub, code, d26 = round(L2², 6)). */
  /** (sub, subvector) struct list splitting a 64-dim `v` into
    * [[PqSubspaces]] slices — shared by codebook, encode and search. */
  private def pqSubIdx: Seq[Column] =
    (0 until PqSubspaces).map { k =>
      struct(lit(k.toLong).as("sub"),
        slice(col("v"), k * PqSubDim + 1, PqSubDim).as("sv"))
    }

  /** The deterministic hash-ranked codebook: (code, sub, cv). */
  private def pqCodebookOf(vs: DataFrame): DataFrame = {
    val wCode = Window.orderBy(col("ck"), col("vec_id"))
    vs.withColumn("ck", PortableHash.h28(concat(lit("pq_"), col("vec_id"))))
      .orderBy(col("ck"), col("vec_id")).limit(PqCodebook)
      .withColumn("code", (row_number().over(wCode) - 1).cast("long"))
      .select(col("code"), explode(array(pqSubIdx: _*)).as("cs"))
      .select(col("code"), col("cs.sub").as("sub"), col("cs.sv").as("cv"))
  }

  /** Squared L2 between the row's `sv` and `cv` subvectors. */
  private def pqD2: Column = aggregate(
    zip_with(col("sv"), col("cv"), (a, b) => (a - b) * (a - b)),
    lit(0.0), (acc, x) => acc + x)

  /** Nearest-codeword encoding (vec_id, sub, code, d2) of `vs` against
    * the codebook — a PER-PARTITION KERNEL over the collected 128-row
    * codebook matrix ([[PqSubspaces]]·[[PqCodebook]] rows, bounded by
    * construction — the [[assignTo]] / kmeansIterate bounded-collect
    * class; this IS [[assignTo]]'s operation at subvector granularity,
    * the fourth documented kernel tier). No join, no shuffle, no
    * candidate rows: each vector streams once past the broadcast
    * matrix at ~1k primitive flops ([[PqSubspaces]]·[[PqCodebook]]·
    * [[PqSubDim]]), emitting its 8 code rows co-located in the input
    * partition — which is why [[pqSearch]] needs no repartition
    * before its rollup. The declarative alternatives both materialize
    * or interpret N·128 candidates and were measured at 800k vectors
    * (round-12 stage profile, SCALE.md): broadcast-join + rank-1
    * window sorts the 102M joined rows (37.9 s); `min(struct(d2, code))` falls out of
    * the unsafe-row hash fast path (struct agg buffer ⇒ SortAggregate,
    * sorts them twice — 159 s on the search rollup); a higher-order
    * `aggregate` fold over a typedLit codebook is interpreted, not
    * codegen'd (~105 µs/row, 84.3 s). The kernel: 3.1 s.
    *
    * Argmin semantics are rank 1 of `orderBy(d2, code)` verbatim:
    * codes iterate ascending and only a strictly smaller d2 replaces
    * the best, so ties keep the smallest code; the d2 loop is the same
    * left-to-right index-order sum as the join form's zip_with/
    * aggregate fold ([[pqD2]]), so values are bit-identical. The
    * comparator is `java.lang.Double.compare`, not primitive `<`, so
    * the match holds even OFF the data contract: a NaN d2 (impossible
    * from finite canonical inputs, but possible from a poisoned
    * codeword) orders greater than every finite distance — exactly the
    * window's NaN-greater ordering — instead of freezing as an
    * unbeatable best the way a primitive `s < bd2` would. A
    * short/null vector mirrors the fold form's all-NULL-d2 rank 1
    * (code 0, null d2) for totality; a null-`cv` codeword row yields
    * NULL d2 in the join form, which sorts FIRST under the window's
    * default asc-nulls-first order — mirrored exactly: if a subspace
    * has any null-cv codeword, its smallest such code wins with null
    * d2 (the 0..15-dense [[pqCodebookOf]] contract keeps every one of
    * these branches unreachable; they exist so the kernel is total on
    * arbitrary frames).
    *
    * Evaluation note: the codebook collect happens at DATAFRAME-
    * DECLARATION time (a small eager Spark job — the bounded-collect
    * class), so the codebook is snapshotted when the frame is built
    * while `vs` is re-scanned at each execution; callers that mutate
    * the underlying table between declare and execute should rebuild
    * the frame. */
  private def pqEncode(vs: DataFrame, codebook: DataFrame): DataFrame = {
    val spark = vs.sparkSession
    // code-ascending (code, codeword) pairs per subspace (≤128 rows
    // total); a null-cv row keeps its CODE out of the matrix without
    // shifting later codes (codes are values, not indices, here) and
    // instead feeds nullWin: the smallest null-cv code per subspace,
    // which under the window form's asc-nulls-first order wins rank 1
    // outright (-1 = no null-cv row)
    val cbRows = codebook.select(col("sub"), col("code"), col("cv")).collect()
    val bySub: Array[Array[(Long, Array[Double])]] =
      Array.tabulate(PqSubspaces) { k =>
        cbRows.filter(r => r.getLong(0) == k.toLong && !r.isNullAt(2))
          .sortBy(_.getLong(1))
          .map(r => (r.getLong(1), r.getSeq[Double](2).toArray))
      }
    val nullWin: Array[Long] = Array.tabulate(PqSubspaces) { k =>
      val codes = cbRows.collect {
        case r if r.getLong(0) == k.toLong && r.isNullAt(2) => r.getLong(1)
      }
      if (codes.isEmpty) -1L else codes.min
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sub",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("d2",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    // min code over ALL rows (valid + null-cv) per subspace: the
    // short-vector fallback, where every d2 is null and code asc
    // breaks the tie (-1 = subspace absent from the codebook — the
    // join form emits NO row for it)
    val minCode: Array[Long] = Array.tabulate(PqSubspaces) { k =>
      val codes = cbRows.collect {
        case r if r.getLong(0) == k.toLong => r.getLong(1) }
      if (codes.isEmpty) -1L else codes.min
    }
    if (cbRows.isEmpty) // empty corpus ⇒ empty codebook
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val bc = spark.sparkContext.broadcast((bySub, nullWin, minCode))
    val idIdx = vs.schema.fieldIndex("vec_id")
    val vIdx = vs.schema.fieldIndex("v")
    val enc = org.apache.spark.sql.Encoders.row(schema)
    vs.mapPartitions { rows =>
      val (cb, nw, mc) = bc.value
      rows.flatMap { r =>
        val vid = r.getLong(idIdx)
        val varr =
          if (r.isNullAt(vIdx)) Array.empty[Double]
          else r.getSeq[Double](vIdx).toArray
        (0 until PqSubspaces).iterator.flatMap { k =>
          val off = k * PqSubDim
          if (mc(k) < 0L)
            // subspace absent from the codebook: the join emits no row
            Iterator.empty
          else if (varr.length < off + PqSubDim)
            // short/null vector: every codeword's zip_with d2 is NULL
            // in the fold form, so rank 1 of (d2 asc NULLS FIRST,
            // code asc) is (min code, null) — mirrored for totality
            // (the 64-dim table contract makes this unreachable)
            Iterator.single(
              org.apache.spark.sql.Row(vid, k.toLong, mc(k), null))
          else if (nw(k) >= 0L)
            // a null-cv codeword's NULL d2 sorts FIRST under the
            // window's asc-nulls-first order: smallest such code wins
            Iterator.single(
              org.apache.spark.sql.Row(vid, k.toLong, nw(k), null))
          else {
            var bd2 = 0.0
            var bcode = -1
            var c = 0
            while (c < cb(k).length) {
              val w = cb(k)(c)._2
              var s = 0.0
              var i = 0
              while (i < PqSubDim) {
                val dx = varr(off + i) - w(i); s += dx * dx; i += 1
              }
              // strict Double.compare < over code-ascending words IS
              // rank 1 of orderBy(d2, code): a NaN d2 (off-contract
              // codeword) orders greater than every finite distance,
              // matching the window — a primitive `s < bd2` would
              // instead freeze an installed NaN as unbeatable
              if (bcode < 0 || java.lang.Double.compare(s, bd2) < 0) {
                bd2 = s; bcode = c
              }
              c += 1
            }
            Iterator.single(org.apache.spark.sql.Row(
              vid, k.toLong, cb(k)(bcode)._1, bd2))
          }
        }
      }
    }(enc)
  }

  def pqCodes(s: SparkSession, d: String): DataFrame = {
    val vs = vectors(s, d)
    pqEncode(vs, pqCodebookOf(vs))
      .select(col("vec_id"), col("sub"), col("code"),
        round(col("d2"), 6).as("d26"))
      .orderBy("vec_id", "sub")
  }

  /** PQ asymmetric-distance (ADC) top-k search — how a PQ index is
    * actually served: each query precomputes a per-subspace lookup
    * table of squared distances to every codeword ([[PqSubspaces]] ×
    * [[PqCodebook]] = 128 rows per query, broadcast), and a corpus
    * vector's approximate distance is the SUM of 8 table lookups over
    * its stored codes — no touch of the original floats. Completes the
    * ANN family: brute ([[simTopK]]) / LSH / IVF search over full
    * vectors; [[pqCodes]] + this = search over the 4-byte-per-vector
    * compressed index.
    *
    * Determinism: per-subspace LUT distances are floor-quantized to
    * [[KmeansFixedPoint]] integers BEFORE the 8-way sum (exact BIGINT,
    * order-independent — the fixed-point discipline), so ranking and
    * output are bit-identical cross-engine.
    *
    * Scale: the code table is the [[pqCodes]] map-side pass; the LUT
    * join is broadcast (2 048 rows); the per-(query, vector) rollup is
    * a map-side-partial agg whose shuffle carries N·[[NumQueries]]
    * partial rows of three longs; top-k rank gets the WindowGroupLimit
    * partial push-down ([[TextOps.domainCap]] discipline). */
  /** The per-query ADC lookup table: (q_id, sub, code, pd6) — query
    * subvectors × codewords, fixed-point quantized. [[NumQueries]] ×
    * [[PqSubspaces]] × [[PqCodebook]] = 2 048 rows, broadcast-sized by
    * construction. */
  private def pqLutOf(vs: DataFrame, codebook: DataFrame): DataFrame =
    vs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), explode(array(pqSubIdx: _*)).as("xs"))
      .select(col("q_id"), col("xs.sub").as("sub"), col("xs.sv").as("sv"))
      .join(codebook, Seq("sub"))
      .select(col("q_id"), col("sub"), col("code"),
        floor(pqD2 * KmeansFixedPoint).as("pd6"))

  def pqSearch(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val vs = vectors(s, d)
    val codebook = pqCodebookOf(vs)
    // each vector's 8 code rows leave the encode kernel co-located in
    // their input partition, so the (q_id, vec_id) rollup's map-side
    // partials already collapse to N·NumQueries — no repartition (the
    // former window-based encode hash-spread them by (vec_id, sub)
    // and needed an N·8-row shuffle here)
    val codes = pqEncode(vs, codebook)
      .select(col("vec_id"), col("sub"), col("code"))
    val lut = pqLutOf(vs, codebook)
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("adist6"), col("vec_id"))
    codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id")) // self-match excluded, as simTopK
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd6")).as("adist6"))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("vec_id"), col("adist6"))
      .orderBy("q_id", "rk", "vec_id", "adist6")
  }

  /** ANN recall@k report: per fixed query, how many of the brute-force
    * cosine top-k ([[simTopK]], ground truth) the LSH-bucketed search
    * ([[simLsh]]) recovered — the evaluation loop a pipeline runs when
    * tuning the bits/recall dial before trusting an approximate index.
    * Set intersection on (q_id, vec_id); `recall` is the exact small-
    * integer quotient n_hit/k in a fixed expression shape — bit-
    * deterministic. Queries the LSH side misses entirely surface as
    * n_hit = 0 (left join from the ground-truth query list), not as
    * absent rows. Scale: both legs are the existing broadcast-query
    * scans; the report join touches [[NumQueries]]·k rows. */
  def annRecall(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val b = simTopK(s, d, k).select(col("q_id"), col("vec_id"))
    val l = simLsh(s, d, k).select(col("q_id"), col("vec_id"))
    // both report legs are NumQueries·k rows BY CONSTRUCTION (top-k per
    // fixed query), but the planner cannot see that through the window
    // subtrees and fell back to two sort-merge joins (sort + exchange
    // on each side); broadcast hints replace them with map-side hash
    // joins — same rows, no report-side shuffle
    val hits = b.join(broadcast(l), Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    b.select("q_id").distinct()
      .join(broadcast(hits), Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / k)
      .orderBy("q_id", "n_hit", "recall")
  }

  /** Embedding near-dup pairs, LSH-blocked (never O(n²)): same-bucket
    * pairs (a < b) whose cosine clears the threshold. The bucket bit
    * count grows with log(N) ([[lshBitsFor]]), bounding within-bucket
    * pairs at ~N·TargetBucket/2. Single-projection blocking trades
    * recall for that bound; [[dedupEmbedBanded]] is the recall-preserving
    * OR-construction over independent projection bands. */
  def dedupEmbed(s: SparkSession, d: String, threshold: Double = 0.4): DataFrame = {
    val bits = lshBitsFor(canonEmbRows(s, d))
    val vs = vectors(s, d).withColumn("bkt", lshBucket(col("v"), bits))
    val x = vs.select(col("bkt"), col("vec_id").as("a"),
      col("v").as("va"), col("nm").as("na"))
    val y = vs.select(col("bkt"), col("vec_id").as("b"),
      col("v").as("vb"), col("nm").as("nb"))
    x.join(y, Seq("bkt"))
      .filter(col("a") < col("b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("bkt"), round(col("cos"), 4).as("cos4"))
      .orderBy("a", "b")
  }

  /** Cosine threshold for [[semDedup]] — tuned to the synthetic
    * embedding table's similarity mass (all-pairs p99 ≈ 0.29 at
    * sf0.01), the way a real pipeline tunes it to a held-out
    * duplicate-labeled sample. */
  val SemDedupCos = 0.3

  /** Target cell occupancy for [[semDedup]]'s adaptive centroid count —
    * the analogue of [[TargetBucket]] for data-adaptive blocking.
    * Within-cell pair work per vector is ~occupancy/2, so holding
    * occupancy ≤ CellTarget is what keeps the cell self-join linear in
    * N (SemDeDup's own recipe: K ∝ N). */
  val CellTarget = 32L

  /** Per-level bound on the flat kernel's centroid collect: 65536×64
    * doubles = 32 MB on the driver — the bounded-collect class every
    * kernel tier lives in. [[assignCells]] serves K beyond this with
    * the two-level path ([[assignCellsHier]]), whose only driver
    * collect is the coarse matrix — [[coarseFor]](K) ≤
    * [[MaxCoarseCells]] rows. */
  val FlatAssignMaxK = 65536

  /** FLOOR of the two-level assignment's coarse level size (and its
    * exact size for K ≤ [[FlatAssignMaxK]]·… — see [[coarseFor]]):
    * vectors (and the fine-centroid sample) are first assigned to
    * coarseK coarse cells by the flat kernel, then each vector's fine
    * argmax runs only over its own coarse cell's fine centroids. With
    * fine centroids drawn uniformly from the corpus, fine count per
    * coarse cell is proportional to cell population (expected
    * K/coarseK when balanced), so per-group matrices stay
    * executor-memory-sized.
    *
    * 256 = √[[FlatAssignMaxK]]: [[coarseFor]]'s clamp floor, so the
    * √K default changes NOTHING at any K ≤ 65536 — exactly the flat
    * kernel's regime, where the two-level path only runs when forced
    * (specs, [[HierGateCoarse]] gate).
    *
    * Gate/production split (deliberate): the DECLARED q_semdedup_hier
    * runs at [[HierGateCoarse]] = 16, because at gate corpus sizes
    * (≤ [[SemDedupGateCap]] vectors) 256+ coarse cells would be
    * near-singleton — the fine/fallback branches would go unexercised
    * and the oracle would certify a degenerate shape. The production
    * √K sizing therefore never runs under the rows+schema+hash gate;
    * it is pinned by SimilaritySpec's multi-shape equivalence tests
    * and exercised in anger by the SCALE_EMB legs. */
  val CoarseCells = 256

  /** Ceiling of [[coarseFor]]'s clamp: 4096 = √(CoarseCells·
    * FlatAssignMaxK·…) — concretely, (a) [[hashRankedLimit]] serves
    * k ≤ 4096 on its cheap TakeOrdered path (no count/filter
    * fallback), (b) the coarse collect stays ≤ 4096 rows (~2 MB),
    * and (c) per-group fine matrices stay ≤ [[FlatAssignMaxK]] rows
    * through K = 4096·65536 ≈ 268M centroids — the envelope the
    * clamp exists to protect. */
  val MaxCoarseCells = 4096

  /** Coarse level size for fine count k: √k clamped to
    * [[[CoarseCells]], [[MaxCoarseCells]]]. Assignment work is
    * N·(coarseK + k/coarseK) dots — coarse pass plus expected fine
    * group — which √k minimizes at 2√k: the r14 fixed coarse=256 made
    * the k/256 fine term super-linear in k (1.6× off optimal at
    * k=262144, ~8× at the 4.19M envelope — the flat-kernel pathology
    * reborn one level up; VERDICT r14 #1). Salting de-risked the
    * finer grid: more, smaller coarse cells no longer cap parallelism
    * or concentrate hot cells, because the fine pass keys on (cell,
    * salt). Floor 256 = √[[FlatAssignMaxK]] keeps every K ≤ 65536
    * call bit-identical to the pre-lever plan. */
  private[graft] def coarseFor(k: Int): Int =
    math.min(MaxCoarseCells, math.max(CoarseCells,
      math.round(math.sqrt(k.toDouble)).toInt))

  /** CAP of the salt fan-out for [[assignCellsHier]]'s fine pass
    * (the per-corpus count is [[hierSalts]]): each coarse cell splits
    * into salts (cell, salt) cogroup keys, the fine group replicated
    * per salt (result-identical — rows are independent given the
    * cell's fine SET). Chosen equal to [[CellTarget]] so the cap
    * aligns with the adaptive [[semDedupCells]] occupancy ceiling;
    * [[hierSalts]]'s n/k term is what makes the replicated fine table
    * ≤ one corpus-size shuffle at ANY occupancy, not only at the
    * ceiling. Divides a hot coarse cell's single-task population by
    * up to 32; corpora with a cell still too hot at /32 pass an
    * explicit `salts`, paying salts/occupancy extra corpus-shuffles
    * of fine replicas. */
  val HierFineSalts = 32

  /** Corpus-size floor for salting the fine pass: below this,
    * [[hierSalts]] resolves to 1 and [[assignCellsHier]] plans the
    * bare-cell-key cogroup with no replicating explode. Salting
    * exists to split multi-hundred-thousand-row single tasks; a
    * corpus under 2^18 rows cannot produce one (the whole corpus in
    * one task is ≤ 262k rows), while the salted plan's extra nodes
    * cost ~1.2 s of one-time codegen/setup — every r14 bench attempt
    * paid it on the ≤ 32768-row gate for zero benefit (VERDICT r14
    * #2). The SALT_SKEW leg (800k rows) sits above the floor. */
  val HierSaltMinRows = 262144L

  /** Salt count for a corpus of n rows at fine count k: 1 below
    * [[HierSaltMinRows]] (the gate bypass), else min([[HierFineSalts]],
    * occupancy n/k) — so fine replicas (salts·k rows) never exceed
    * one corpus-size shuffle even when adaptive-K doubling lands
    * occupancy at its (16, 32] floor (the r14 ledger claimed the
    * bound only at the ceiling; measured legs run at 19). */
  private[graft] def hierSalts(n: Long, k: Int): Int =
    if (n < HierSaltMinRows) 1
    else math.min(HierFineSalts.toLong,
      math.max(1L, n / math.max(1, k))).toInt

  /** Cap on centroid-count doublings: K ≤ NumCentroids·2^16 ≈ 4.19M,
    * which holds occupancy ≤ [[CellTarget]] through ~134M vectors
    * (8.6 TB of raw float32 embeddings at d=64 — past that, raise the
    * cap: the two-level assignment's per-group bound has headroom to
    * MaxCoarseCells·FlatAssignMaxK centroids). Doublings past the
    * flat kernel's [[FlatAssignMaxK]] are served by
    * [[assignCellsHier]] — the coarse→fine hand-off is a ROUTING
    * decision inside [[assignCells]], not a silent semantics blend:
    * gate SFs and every K ≤ 65536 leg keep the flat plan bit-for-bit.
    * At the envelope, [[coarseFor]] sizes the coarse grid at
    * √4.19M ≈ 2048 — inside [[MaxCoarseCells]]. */
  val MaxCellDoublings = 16

  /** Smallest K = [[NumCentroids]]·2^j (j ≤ [[MaxCellDoublings]]) with
    * expected occupancy n/K ≤ [[CellTarget]] — the same
    * monotone-threshold-count construction as [[lshBitsFor]], mirrored
    * verbatim by the oracle SQL (each term is an integer comparison
    * `n > CellTarget·NumCentroids·2^j`, so both engines derive the
    * identical K from their own corpus count). At every driver gate SF
    * (≤ 2000 embeddings) this is exactly [[NumCentroids]] — the
    * adaptive path only engages on replicated scale legs. */
  def semDedupCells(n: Long): Int =
    NumCentroids << (0 until MaxCellDoublings)
      .count(j => n > ((CellTarget * NumCentroids) << j))

  /** SemDeDup-style cluster-bucketed semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-style cells act as the blocking
    * structure — pairwise cosine is computed only WITHIN a cell, and
    * every vector similar (≥ threshold) to an earlier cell-mate is
    * listed for dropping with its canonical keeper (the smallest such
    * cell-mate), near-neighbor count and max cosine. Complements
    * [[dedupEmbed]]: random-hyperplane buckets are data-oblivious;
    * centroid cells adapt to the actual density, which is what makes
    * semantic (not just near-exact) duplicates land in one block.
    *
    * Scale: the assignment is the one broadcast O(N·K) pass
    * ([[assignCells]], persisted — the SCALE.md checkpoint shape); the
    * within-cell self-join shuffles on `cell` once, and its pair count
    * is bounded by Σ cell² — at fixed K that grows as (N/K)² per cell,
    * so K is ADAPTIVE ([[semDedupCells]], K ∝ N) exactly like
    * [[lshBitsFor]] raises bits (SemDeDup's own recipe: constant-sized
    * cells). The N·K candidate rows never materialize or shuffle: the
    * assignment argmax is the [[assignTo]] kernel up to
    * [[FlatAssignMaxK]] centroids, and the two-level
    * [[assignCellsHier]] past it — which adds exactly one coarse-keyed
    * corpus shuffle in exchange for K ∝ N continuing to ~4.19M
    * centroids with every driver collect ≤ [[MaxCoarseCells]] rows. */
  def semDedup(s: SparkSession, d: String,
      threshold: Double = SemDedupCos): DataFrame =
    // adaptive K ([[semDedupCells]]): at fixed K the within-cell pair
    // count grows (N/K)²·K = N²/K — measured 19.5× rows for 10× docs
    // on the k=10 replica leg before this; the count is the canon_emb
    // stage manifest's
    semDedupOf(vectors(s, d), canonEmbRows(s, d), threshold)

  /** Corpus-size cap for the GATE form of q_semdedup
    * ([[semDedupGated]]). The DuckDB oracle mirrors the nearest-centroid
    * argmax as an N·K cross join, and with adaptive K ∝ N that is
    * N²/32 on the oracle side — measured 137 s at 20k vectors (sf1,
    * SCALE_SF1.md); at sf10's 200k it would be ~100× that. 32768 keeps
    * the oracle at K = [[semDedupCells]](32768) = 1024, i.e. N·K ≈
    * 33.5M ≈ 1.6× the measured sf1 cost, at any corpus size. Every
    * driver gate SF and the committed sf1 leg sit BELOW the cap, so
    * their declared semantics (and hashes) are unchanged; the Spark
    * library operator [[semDedup]] has no cap. */
  val SemDedupGateCap = 32768L

  /** The DECLARED q_semdedup: [[semDedup]] over the whole corpus up to
    * [[SemDedupGateCap]] vectors, and past the cap over the cap-sized
    * hash-ranked subsample (smallest (h28('g_'||vec_id), vec_id) keys —
    * the [[centroidsFixed]] selection discipline, uniform across
    * replica copies, mirrored row-for-row by the oracle's window CTE).
    * Both engines derive adaptive K from the SUBSET count, so the gate
    * stays a full three-check comparison at any SF while the oracle's
    * N·K argmax stays bounded. */
  def semDedupGated(s: SparkSession, d: String,
      threshold: Double = SemDedupCos,
      cap: Long = SemDedupGateCap): DataFrame = {
    val n = canonEmbRows(s, d)
    if (n <= cap) semDedupOf(vectors(s, d), n, threshold)
    else semDedupOf(
      hashRankedLimit(vectors(s, d), "g_", cap.toInt), cap, threshold)
  }

  /** [[semDedup]]'s pipeline over an explicit (vec_id, v, nm) frame
    * with corpus count `n` (drives the adaptive K). */
  private[graft] def semDedupOf(vs: DataFrame, n: Long,
      threshold: Double): DataFrame =
    semDedupPairs(assignCells(vs, semDedupCells(n), nKnown = n), threshold)

  /** The within-cell candidate half of the SemDeDup pipeline: pair
    * join on `cell`, a < b, cosine ≥ `threshold` — (cell, a, b, cos)
    * rows. */
  private def semDedupCand(assigned: DataFrame,
      threshold: Double): DataFrame = {
    val x = assigned.select(col("cell"), col("vec_id").as("a"),
      col("v").as("va"), col("nm").as("na"))
    val y = assigned.select(col("cell"), col("vec_id").as("b"),
      col("v").as("vb"), col("nm").as("nb"))
    x.join(y, Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
  }

  /** The keep-first rollup over [[semDedupCand]]'s pair frame —
    * (vec_id, cell, keep_id, n_near, cos4), unsorted so that
    * [[semDedupPairs]] can persist and materialize it WITHOUT the
    * global sort: Sort plans a range-partitioning exchange whose
    * SAMPLING pass re-executes the child, so count()-ing the sorted
    * frame runs pairs+rollup twice — caching below the sort keeps both
    * the sampling pass and the consumer's sort on the (dupes-sized)
    * cache. */
  private def semDedupRollupCore(cand: DataFrame): DataFrame =
    cand
      .groupBy(col("b").as("vec_id"), col("cell"))
      .agg(min(col("a")).as("keep_id"), count(lit(1)).as("n_near"),
        round(max(col("cos")), 4).as("cos4"))
      .select("vec_id", "cell", "keep_id", "n_near", "cos4")

  /** The within-cell half of the SemDeDup pipeline — pair join above
    * `threshold`, keep-first rollup — over any (…, vec_id, v, nm,
    * cell) assignment frame (persisted here: both sides of the
    * self-join derive from it). Shared by [[semDedupOf]] and
    * [[semDedupHierGated]].
    *
    * Cache lifetime: the corpus-sized assignment cache is RELEASED
    * before returning — the rollup (duplicates only, ≪ corpus) is
    * persisted and materialized first, then the assignment frame
    * unpersists, so repeated gate queries in one session accumulate
    * only dupes-sized storage, not corpus-sized assignment frames.
    * The dupes-sized core cache itself outlives the call BY DESIGN:
    * the returned frame is a Sort ABOVE the cached core, and
    * `Dataset.unpersist` is a non-cascading plan-equality match, so
    * unpersisting the returned frame is a no-op (the r14 advisor's
    * catch) — the release path is `spark.catalog.clearCache()` or
    * session end (Bench clears between queries; Verify's session is
    * one-shot). Persisting the SORTED view instead — which would make
    * the returned-frame unpersist real — was measured at +0.25-0.3 s
    * per call at gate scale (two extra jobs: the range-sampling pass
    * and the sort+cache materialization), a per-query tax on every
    * declared semdedup query to serve a release path no current
    * caller uses on a cache that is duplicates-sized by design. */
  private def semDedupPairs(assignedBy: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = assignedBy
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // both cell-join sides
    // persist BELOW the sort (see semDedupRollupCore's scaladoc): Sort
    // plans a range-exchange whose SAMPLING pass re-executes its
    // child, so count()-ing the sorted frame without a cached core
    // would run pairs+rollup twice; the returned sort (and its
    // sampling pass) read the dupes-sized cache, whose lifetime is
    // documented above (clearCache/session — NOT the returned frame)
    val core = semDedupRollupCore(semDedupCand(assigned, threshold))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    core.count()
    assigned.unpersist()
    core.orderBy("vec_id", "cell", "keep_id", "n_near", "cos4")
  }

  /** Coarse level size for the DECLARED two-level variant
    * ([[semDedupHierGated]] / q_semdedup_hier): deliberately small so
    * that at every gate SF the coarse cells are meaningfully populated
    * and the cogroup path — including its negative-keyed fallback
    * branch — runs under the full rows+schema+hash oracle gate, not
    * only under specs. */
  val HierGateCoarse = 16

  /** The DECLARED q_semdedup_hier: the [[semDedup]] pipeline with the
    * assignment FORCED through the two-level path
    * ([[assignCellsHier]], coarse = [[HierGateCoarse]]) at any corpus
    * size — the oracle-gated twin of the routing [[assignCells]]
    * performs automatically past [[FlatAssignMaxK]]. Same gate-cap
    * subsample discipline as [[semDedupGated]] (both engines derive
    * adaptive K and the fine threshold from the SUBSET count), so the
    * DuckDB mirror — coarse rank, coarse argmax, threshold-filtered
    * fine sample, per-coarse-cell fine argmax with the -ccell-1
    * fallback, pair join, rollup — stays bounded at any SF. Blocking
    * differs from q_semdedup's flat global argmax exactly as
    * documented on [[assignCellsHier]]; the pair math within blocks is
    * identical. */
  def semDedupHierGated(s: SparkSession, d: String,
      threshold: Double = SemDedupCos,
      cap: Long = SemDedupGateCap): DataFrame = {
    val n = canonEmbRows(s, d)
    val vsub =
      if (n <= cap) vectors(s, d)
      else hashRankedLimit(vectors(s, d), "g_", cap.toInt)
    val k = semDedupCells(math.min(n, cap))
    semDedupPairs(
      assignCellsHier(vsub, k, HierGateCoarse, nKnown = math.min(n, cap))
        .drop("c_cos"), threshold)
  }

  /** Multi-band OR-construction near-dup pairs (library operator): `bands`
    * independent sign-LSH projections of `bits` hyperplanes each; a pair
    * is a candidate if it collides in ANY band, then exact cosine
    * verifies. Per-pair collision probability rises from p = (1-θ/π)^bits
    * to 1-(1-p)^bands while candidate work stays linear
    * (bands·N·occupancy/2) — the standard recall/cost dial when the
    * adaptive bit count of [[dedupEmbed]] would otherwise cost recall.
    * Input: a (vec_id, v, nm) frame from [[vectors]]. */
  def dedupEmbedBanded(vs: DataFrame, bands: Int, bits: Int,
      threshold: Double): DataFrame = {
    // one explode, not a union of per-band selects — a union duplicates
    // the upstream subtree per band and the candidate self-join squares
    // it (the minhashBands lesson); all band buckets are computed in a
    // single projection over one scan
    val banded = vs.select(col("vec_id"),
        explode(array((0 until bands).map { bd =>
          val bkt = lshBucketFrom(col("v"), (0 until bits).map(j =>
            (0 until 64).map(i => lshWeight(bd * bits + j, i).toDouble)))
          struct(lit(bd).as("band"), bkt.as("bkt"))
        }: _*)).as("z"))
      .select(col("vec_id"), col("z").getField("band").as("band"),
        col("z").getField("bkt").as("bkt"))
    val cand = banded.select(col("band"), col("bkt"), col("vec_id").as("a"))
      .join(banded.select(col("band"), col("bkt"), col("vec_id").as("b")),
        Seq("band", "bkt"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(vs.select(col("vec_id").as("a"), col("v").as("va"),
        col("nm").as("na")), Seq("a"))
      .join(vs.select(col("vec_id").as("b"), col("v").as("vb"),
        col("nm").as("nb")), Seq("b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos4"))
      .orderBy("a", "b")
  }

  /** Per-(label, pos) centroid frame for the label-separation family:
    * exact fixed-point component sums (the [[KmeansFixedPoint]]
    * discipline) with the mean `m` materialized by ONE double division
    * — the only non-integer step, correctly rounded on identical exact
    * operands in both engines. 10 labels × 64 positions = a 640-row
    * broadcastable frame regardless of vector volume. */
  private def labelCentroids(s: SparkSession, d: String): DataFrame =
    posQuantize(labeled(s, d).select(col("label"),
        col("embedding").cast("array<double>").as("v")), "label")
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum("q").as("sq"))
      .withColumn("m", m6Col)

  /** Canonical vectors restricted to LABELED rows — the label-eval
    * family's input. Explicit in both engines: an unlabeled vector can
    * neither anchor a centroid nor be scored against one (and a null
    * label inside an argmin tiebreak would order engine-specifically). */
  private def labeled(s: SparkSession, d: String): DataFrame =
    canonEmb(s, d).filter(col("label").isNotNull)

  /** Label-separation report (Davies-Bouldin-style): squared centroid
    * distance for every label pair next to both labels' mean
    * within-class squared radius, and their ratio in integer ppm —
    * whether the embedding space actually separates the classes.
    *
    * Determinism: every squared term is floor-quantized to micro-units
    * BEFORE its aggregate (order-free integer sums); the means inside
    * come from the exact fixed-point centroid frame. Scale: centroid
    * pairs are |labels|²·dims rows off a broadcast frame; the radius
    * pass is one scan of the exploded vectors joined to the broadcast
    * centroids — per-vector work is dims·1, aggregated map-side. */
  def centroidMargin(s: SparkSession, d: String): DataFrame = {
    val c = labelCentroids(s, d).select(col("label"), col("pos"), col("m"))
    val pairs = c.as("a").join(c.as("b"),
        col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        floor((col("a.m") - col("b.m")) * (col("a.m") - col("b.m"))
          * lit(1000000.0)).as("t"))
      .groupBy("label_a", "label_b").agg(sum(col("t")).as("d2_u"))
    val radius = posQuantize(labeled(s, d).select(col("vec_id"),
        col("label"), col("embedding").cast("array<double>").as("v")),
        "vec_id", "label")
      .join(broadcast(c), Seq("label", "pos"))
      .select(col("vec_id"), col("label"),
        floor((col("xv") - col("m")) * (col("xv") - col("m"))
          * lit(1000000.0)).as("t"))
      .groupBy("vec_id", "label").agg(sum(col("t")).as("r2_u"))
      .groupBy("label").agg(count(lit(1)).as("n_vec"),
        sum(col("r2_u")).as("rsum"))
      .withColumn("r2_u", expr("rsum DIV n_vec"))
      .select(col("label"), col("r2_u"))
    pairs
      .join(broadcast(radius.select(col("label").as("label_a"),
        col("r2_u").as("r2a_u"))), Seq("label_a"))
      .join(broadcast(radius.select(col("label").as("label_b"),
        col("r2_u").as("r2b_u"))), Seq("label_b"))
      .withColumn("sep_ppm", expr("d2_u * 1000000 DIV (r2a_u + r2b_u + 1)"))
      .select(col("label_a"), col("label_b"), col("d2_u"),
        col("r2a_u"), col("r2b_u"), col("sep_ppm"))
      .orderBy("label_a", "label_b")
  }

  /** Nearest-centroid confusion matrix: classify every vector by its
    * closest label centroid (micro-quantized squared distance, label
    * tiebreak) and count (true label, predicted label) pairs — the
    * embedding-quality eval a labeling pipeline runs before trusting
    * cosine neighbors.
    *
    * Determinism: distances are integer micro-unit sums; the argmin is
    * min_by over the (d2_u, label) pair, so ties pick the smallest
    * label in both engines. Scale: the centroid frame broadcasts
    * (|labels|·dims rows); the vector side is one exploded scan with a
    * dims×|labels| per-vector fan-out aggregated map-side; output is
    * the |labels|² confusion grid. */
  def labelConfusion(s: SparkSession, d: String): DataFrame = {
    val c = labelCentroids(s, d)
      .select(col("label").as("cl"), col("pos"), col("m"))
    val vx = labeled(s, d).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    confusionPred(vx, c)
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n_vec"))
      .orderBy("label", "pred")
  }

  /** Per-vector nearest-centroid label as a PER-PARTITION KERNEL over
    * the driver-collected (cl, pos, m) centroid frame — the
    * [[assignTo]] rung applied to [[labelConfusion]]'s argmin. The
    * declarative form ([[confusionPredDF]], kept as the over-budget
    * fallback and the spec's equality anchor) materializes
    * N·dims·|labels| rows through a posexplode → broadcast-join →
    * double hash/sort-aggregate chain with two extra shuffles (the
    * runtime plan carried 4 exchanges); the kernel streams each vector
    * once past the |labels|×dims mean matrix and emits exactly one
    * (label, pred) row — zero intermediate rows, no shuffle before the
    * |labels|²-sized confusion rollup.
    *
    * Bit-identical by construction: each term is the same
    * floor((xv−m)²·10⁶) long the declarative projection computes (on
    * identical double operands), the per-(vector, cl) sum is integer —
    * order-free — and centroids are scanned in ascending cl with a
    * strict `<`, which IS min_by over (d2_u, cl): the smaller cl wins
    * ties. Join semantics are mirrored exactly: only positions the
    * centroid actually carries contribute (the inner join on pos), a
    * cl sharing NO position with the vector never forms a group —
    * tracked by the per-cl term count — and a vector whose v yields no
    * group at all (empty after the inner join) emits nothing, exactly
    * as posexplode of an empty array drops the row. The collect is
    * bounded by the same [[FlatAssignMaxK]] contract as [[assignTo]]
    * (|labels|·dims rows — 640 at the declared query's 10×64); beyond
    * it the declarative form runs instead, so the library stays total
    * with no driver-memory cliff.
    *
    * Input contract: `vx` carries one row per vec_id ([[canonEmb]]'s
    * groupBy guarantees it for every caller here) — the declarative
    * form's (vec_id, label) groupBy would MERGE duplicate ids where
    * the kernel emits one row each, so the equality only holds on
    * canonical frames. */
  private[graft] def confusionPred(vx: DataFrame, cents: DataFrame): DataFrame = {
    val spark = vx.sparkSession
    val crows = cents
      .select(col("cl").cast("int"), col("pos").cast("long"), col("m"))
      .limit(FlatAssignMaxK + 1).collect()
    if (crows.length > FlatAssignMaxK) return confusionPredDF(vx, cents)
    val cls = crows.map(_.getInt(0)).distinct.sorted
    val maxPos =
      if (crows.isEmpty) 0 else crows.map(_.getLong(1)).max.toInt
    val clIdx = cls.zipWithIndex.toMap
    val ms = Array.fill(cls.length)(new Array[Double](maxPos))
    val has = Array.fill(cls.length)(new Array[Boolean](maxPos))
    crows.foreach { r =>
      val ci = clIdx(r.getInt(0)); val p = r.getLong(1).toInt
      if (p >= 1 && p <= maxPos) { ms(ci)(p - 1) = r.getDouble(2); has(ci)(p - 1) = true }
    }
    val bc = spark.sparkContext.broadcast((cls, ms, has))
    val vIdx = vx.schema.fieldIndex("v")
    val lIdx = vx.schema.fieldIndex("label")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.IntegerType, nullable = true),
      org.apache.spark.sql.types.StructField("pred",
        org.apache.spark.sql.types.IntegerType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    vx.mapPartitions { rows =>
      val (kCls, kMs, kHas) = bc.value
      rows.flatMap { r =>
        val v = r.getSeq[Double](vIdx)
        val n = v.length
        var bestD = 0L; var bestCl = 0; var found = false
        var ci = 0
        while (ci < kCls.length) {
          val m = kMs(ci); val h = kHas(ci)
          val lim = math.min(n, m.length)
          var d = 0L; var terms = 0; var p = 0
          while (p < lim) {
            if (h(p)) {
              val diff = v(p) - m(p)
              d += math.floor(diff * diff * 1000000.0).toLong
              terms += 1
            }
            p += 1
          }
          if (terms > 0 && (!found || d < bestD)) {
            found = true; bestD = d; bestCl = kCls(ci)
          }
          ci += 1
        }
        if (found)
          Iterator.single(org.apache.spark.sql.Row(r.get(lIdx), bestCl))
        else Iterator.empty
      }
    }(enc)
  }

  /** The declarative (posexplode + broadcast-join + aggregate) form of
    * [[confusionPred]] — the over-[[FlatAssignMaxK]] fallback and the
    * bit-equality anchor the kernel is spec-pinned against. */
  private[graft] def confusionPredDF(vx0: DataFrame,
      cents: DataFrame): DataFrame =
    posQuantize(vx0, "vec_id", "label")
      .join(broadcast(cents), Seq("pos"))
      .select(col("vec_id"), col("label"), col("cl"),
        floor((col("xv") - col("m")) * (col("xv") - col("m"))
          * lit(1000000.0)).as("t"))
      .groupBy(col("vec_id"), col("label"), col("cl"))
      .agg(sum(col("t")).as("d2_u"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min_by(col("cl"), struct(col("d2_u"), col("cl"))).as("pred"))
      .select(col("label"), col("pred"))
}
