package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a k× replica of a testdata SF directory so the
  * FULL inventory (all declared queries + bench) can run at ~10× the
  * largest driver SF — whole-inventory scale evidence, not per-leg
  * probes (SCALE_SF1.md). Usage:
  * `sbt "runMain graft.ScaleGen <srcSfDir> <dstDir> <k> [t1,t2,…]"` —
  * the optional fourth arg restricts generation to a table subset
  * (the k=100 dedup/text-spine leg needs only
  * `documents,embeddings`; replicating 60M lineitem rows it never
  * reads would dominate the generation cost).
  *
  * Replication preserves the properties the queries' scale arguments
  * rest on, using constant-density constructions:
  *   - documents: per-copy AFFINE letter cipher (translate is
  *     injective — each copy keeps the base corpus's near-dup
  *     structure, copies are textually disjoint, so dup DENSITY stays
  *     constant; n_chars stays valid because translate preserves
  *     length). Affine, not Caesar: a bare shift repeats every 26
  *     copies, and at k=100 copies i and i+26 carried IDENTICAL text —
  *     measured round 10 before the fix, cand_pairs grew 304× for 10×
  *     docs and q_lsh_pr's ground truth paid 49× the wall clock. The
  *     12 multipliers coprime to 26 × 26 offsets give 312 distinct
  *     injective maps, composed with a copy-keyed reversal variant
  *     ([[reversalVariant]] — the Klein group of shingle-factoring
  *     word/order/string reversals) for k ≤ [[MaxDocCopies]] = 1248,
  *     with copy 0 the identity;
  *   - embeddings: per-copy cyclic dimension rotation composed with a
  *     copy-keyed Rademacher sign vector ([[signsOf]]) — norm- and
  *     within-copy-dot-product-EXACT (sign terms cancel per
  *     component), decorrelated across copies, with (rotation, signs)
  *     pairs spec-proven distinct through k ≤ [[MaxDocCopies]];
  *   - facts (orders/lineitem/events/customer/supplier/part): key
  *     offsets per copy, consistent across referencing tables (copy i's
  *     orders point at copy i's customers; events share the customer
  *     user-key offset so user-keyed joins stay aligned) — per-key
  *     group sizes stay constant, key cardinality grows k×, exactly how
  *     a real corpus grows;
  *   - region/nation: copied once (fixed dimensions at any SF).
  *
  * Output layout matches /root/testdata: one PLAIN parquet file per
  * table named `<table>.parquet` (written via coalesce(1) then moved),
  * so both Sources and the DuckDB oracle harness read it unchanged. */
object ScaleGen {

  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** The 12 multipliers coprime to 26. */
  private val Coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Copy i's target alphabet under the affine cipher
    * p → (a·p + b) mod 26 with a = Coprimes(i/26 mod 12), b = i mod
    * 26 — injective per copy, 312 distinct maps, copy 0 = identity. */
  private[graft] def affineAlpha(i: Int): String = {
    val a = Coprimes((i / 26) % Coprimes.size)
    val b = i % 26
    (0 until 26).map(p => Alpha((a * p + b) % 26)).mkString
  }

  /** Copy i's reversal variant — the second text-disjointness lever,
    * multiplying the cipher's 312 maps to 1248 copies. The four
    * transforms form the Klein group {identity, reverse each word's
    * characters, reverse the word order, reverse the whole string}.
    * Every element FACTORS THROUGH WORD N-GRAM SHINGLES: a per-word
    * character reversal is a per-token injective map, and reversing
    * the word sequence maps each n-gram window onto a window of the
    * reversed document with its words reversed — so two documents'
    * shared-shingle count (hence Jaccard, hence the minhash/LSH dup
    * structure) is IDENTICAL after the transform, while documents in
    * different variants share a shingle only if it is palindromic
    * under the relating group element (ScaleGenReplicateSpec measures
    * zero on the corpus). All four preserve length (n_chars stays
    * valid) and whitespace structure: split/concat_ws round-trips
    * empty tokens, so even doubled spaces survive. */
  private[graft] def reversalVariant(t: Column, r: Int): Column = r match {
    case 0 => t
    case 1 => when(t.isNull, lit(null))
      .otherwise(concat_ws(" ", transform(split(t, " "), w => reverse(w))))
    case 2 => when(t.isNull, lit(null))
      .otherwise(concat_ws(" ", reverse(split(t, " "))))
    case 3 => reverse(t)
    case other => throw new IllegalArgumentException(
      s"reversal variant out of range: $other")
  }

  /** Document-copy text transform: affine cipher (i mod 312) composed
    * with reversal variant (i / 312) — 1248 pairwise-distinct
    * injective maps, copy 0 the identity. */
  private[graft] def docText(t: Column, i: Int): Column =
    reversalVariant(translate(t, Alpha, affineAlpha(i % 312)), i / 312)

  /** The documents replication bound: 312 ciphers × 4 reversal
    * variants. Embeddings share the bound: (rotation, Rademacher-sign)
    * pairs are spec-proven pairwise distinct through it. */
  val MaxDocCopies = 1248

  /** splitmix64-style finalizer — deterministic per-copy bits for
    * [[signsOf]] (the [[graft.engine.Similarity.lshWeight]] mixer
    * family). */
  private[graft] def mix64(i: Long): Long = {
    var x = (i + 1) * 0x9E3779B97F4A7C15L
    x ^= (x >>> 30); x *= 0xBF58476D1CE4E5B9L
    x ^= (x >>> 27); x *= 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Copy i's Rademacher sign vector: bit d of mix64(i) → ±1 for
    * dimension d. Copy 0 is all +1 (the identity, like the cipher's
    * copy 0). */
  private[graft] def signsOf(i: Int): Seq[Float] =
    if (i == 0) Seq.fill(64)(1f)
    else (0 until 64).map(d => if (((mix64(i) >>> d) & 1L) == 1L) -1f else 1f)

  /** Offsets chosen far above any base-key range at the source SFs and
    * far below any widening envelope. */
  private val DocOff = 10000000L       // documents/embeddings
  private val UserOff = 100000000L     // customer/supplier/part/users
  private val OrderOff = 1000000000L   // orders/lineitem/events ids

  private def copiesOf(df: DataFrame, k: Int)(
      one: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until k).map(i => one(df, i)).reduce(_ unionByName _)

  def replicate(s: SparkSession, src: String, table: String,
      k: Int): DataFrame = {
    val base = s.read.parquet(s"$src/$table.parquet")
    table match {
      case "region" | "nation" => base
      case "customer" => copiesOf(base, k)((d, i) =>
        d.withColumn("c_custkey", col("c_custkey") + lit(i * UserOff)))
      case "supplier" => copiesOf(base, k)((d, i) =>
        d.withColumn("s_suppkey", col("s_suppkey") + lit(i * UserOff)))
      case "part" => copiesOf(base, k)((d, i) =>
        d.withColumn("p_partkey", col("p_partkey") + lit(i * UserOff)))
      case "orders" => copiesOf(base, k)((d, i) => d
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * OrderOff))
        .withColumn("o_custkey", col("o_custkey") + lit(i * UserOff)))
      case "lineitem" => copiesOf(base, k)((d, i) => d
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * OrderOff))
        .withColumn("l_partkey", col("l_partkey") + lit(i * UserOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * UserOff)))
      case "events" => copiesOf(base, k)((d, i) => d
        .withColumn("event_id", col("event_id") + lit(i * OrderOff))
        // UserOff is even, so the user_id%2 A/B variant split survives
        .withColumn("user_id", col("user_id") + lit(i * UserOff)))
      case "documents" => copiesOf(base, k) { (d, i) =>
        d.withColumn("doc_id", col("doc_id") + lit(i * DocOff))
          .withColumn("text", docText(col("text"), i))
      }
      case "embeddings" => copiesOf(base, k) { (d, i) =>
        val r = i % 64
        val rot = if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, 64 - r),
            slice(col("embedding"), 1, r))
        // copy-keyed Rademacher signs composed with the rotation: a
        // diagonal ±1 is BIT-EXACT on within-copy dot products (the
        // sign terms cancel per component, so every product term —
        // hence every cosine, norm and dedup decision — is the base
        // copy's to the bit), while cross-copy correlations
        // decorrelate. (rotation, sign-pattern) pairs are pairwise
        // distinct through k = MaxDocCopies (ScaleGenSpec proves it in
        // pure Scala), replacing the old single sign-flip whose
        // distinctness ran out at 128.
        val sg = signsOf(i)
        val v = if (sg.forall(_ == 1f)) rot
          else zip_with(rot, typedLit(sg), (x, s) => x * s)
        d.withColumn("vec_id", col("vec_id") + lit(i * DocOff))
          .withColumn("embedding", v)
      }
      case other => throw new IllegalArgumentException(
        s"no replication rule for table $other")
    }
  }

  /** Write `df` as the single plain file `<dst>/<table>.parquet`
    * (coalesce-to-one then move the part file out of the Spark output
    * directory), matching the testdata layout both Sources and the
    * DuckDB harness expect. */
  private def writeOne(df: DataFrame, dst: String, table: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = s"$dst/.tmp_$table"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains(".crc"))
    require(part.length == 1, s"expected one part file, got ${part.toSeq}")
    Files.move(Paths.get(part.head), Paths.get(s"$dst/$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // best-effort cleanup of the now-empty Spark output dir
    Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }

  def main(rawArgs: Array[String]): Unit = {
    val force = rawArgs.contains("--force")
    val args = rawArgs.filterNot(_ == "--force")
    require(args.length >= 3,
      "usage: ScaleGen <srcSfDir> <dstDir> <k> [t1,t2,…] [--force]")
    val (src, dst, k) = (args(0), args(1), args(2).toInt)
    // 1248 = 312 affine ciphers × 4 reversal variants (the documents
    // disjointness bound, [[MaxDocCopies]]); embeddings carry the same
    // bound via (rotation, Rademacher-sign) pairs (ScaleGenSpec)
    require(k >= 1 && k <= MaxDocCopies, s"k out of range: $k")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val all = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val tables =
      if (args.length > 3) {
        val want = args(3).split(",").map(_.trim).toSet
        val unknown = want -- all.toSet
        require(unknown.isEmpty, s"unknown tables: $unknown")
        all.filter(want)
      } else all
    // (The former k>128 embeddings fail-fast is gone: the Rademacher
    // sign lever carries embedding disjointness to MaxDocCopies, the
    // same bound the top-level require enforces. --force remains an
    // accepted no-op flag for script compatibility.)
    val _ = force
    tables.foreach { t =>
      val df = replicate(spark, src, t, k)
      writeOne(df, dst, t)
      println(s"[scalegen] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
