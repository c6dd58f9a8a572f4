package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.Sessions

/** Dev tool: double an embeddings replica corpus OUTSIDE
  * [[ScaleGen]]'s k ≤ 1248 envelope (VERDICT r13 #2 — one more
  * K-doubling past the flat cap needs ~5M vectors; chaining ScaleGen
  * would collide vec_ids, because a second run's +i·DocOff offsets
  * land exactly on the first run's copy ids). The doubled half gets:
  *
  *   - vec_id + 2^offsetBit — with offsetBit=40 (the first doubling)
  *     that is far above any ScaleGen id (≤ 1247·10^7) and far below
  *     the long envelope, so ids stay globally unique and canonEmb's
  *     keep-one grouping keeps every row; a SECOND doubling (the r15
  *     ~10M leg) passes offsetBit=41, which clears the first run's
  *     maximum (2^40 + 1247·10^7 < 2^41);
  *   - the same rotation∘Rademacher transform family as ScaleGen's
  *     copies, at a copy index OUTSIDE the first run's 0..1247
  *     index space (1249 for the first doubling, 1250 for the
  *     second), so the (rotation, signs) pair is fresh and the new
  *     half decorrelates from every existing copy exactly like
  *     ScaleGen's copies decorrelate from each other — spec-backed:
  *     ScaleGenSpec's exhaustive distinctness checks cover indices
  *     1249/1250 alongside the 0..1247 envelope AND the four
  *     composed-transform families a chained doubling produces
  *     (T_i, T1249∘T_i, T1250∘T_i, T1250∘T1249∘T_i — the
  *     composition stays inside the rotation∘signs group, so the
  *     check is exhaustive, not probabilistic).
  *
  * Output is a multi-part `<dst>/embeddings.parquet` DIRECTORY (this
  * corpus feeds Spark-side runs (SpineSweep, Profile) only, never the
  * single-file DuckDB harness). Deterministic end to end.
  *
  * Usage: `sbt "runMain graft.EmbDouble <src> <dst> [copyIndex=1249]
  * [offsetBit=40]"`. */
object EmbDouble {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: EmbDouble <src> <dst> [idx] [offBit]")
    val (src, dst) = (args(0), args(1))
    val i = if (args.length > 2) args(2).toInt else 1249
    val offsetBit = if (args.length > 3) args(3).toInt else 40
    require(i > ScaleGen.MaxDocCopies,
      s"copy index $i collides with ScaleGen's 0..${ScaleGen.MaxDocCopies - 1}")
    require(offsetBit >= 40 && offsetBit < 62, s"offsetBit $offsetBit")
    val spark = Sessions.tuned(
      SparkSession.builder().master("local[32]"), 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = spark.read.parquet(s"$src/embeddings.parquet")
    // refuse id collisions: every existing id must sit below the new
    // offset, or the +2^offsetBit half lands on existing ids —
    // duplicate vec_ids, which canonEmb's keep-one grouping then
    // SILENTLY halves (the same trap as chaining ScaleGen, made loud)
    val maxId = base.agg(max(col("vec_id"))).head().getLong(0)
    require(maxId < (1L << offsetBit),
      s"EmbDouble: max vec_id=$maxId >= 2^$offsetBit — the doubled ids " +
        "would collide; pass a higher offsetBit (41 for a second " +
        "doubling of a 40-offset corpus)")
    val r = i % 64
    val rot = concat(slice(col("embedding"), r + 1, 64 - r),
      slice(col("embedding"), 1, r))
    val v = zip_with(rot, typedLit(ScaleGen.signsOf(i)), (x, s) => x * s)
    val copy = base
      .withColumn("vec_id", col("vec_id") + lit(1L << offsetBit))
      .withColumn("embedding", v)
    base.unionByName(copy).write.mode("overwrite")
      .parquet(s"$dst/embeddings.parquet")
    val n = spark.read.parquet(s"$dst/embeddings.parquet").count()
    println(s"[embdouble] wrote $dst/embeddings.parquet rows=$n " +
      s"(idx=$i offsetBit=$offsetBit)")
    spark.stop()
  }
}
