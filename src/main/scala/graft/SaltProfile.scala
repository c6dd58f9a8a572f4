package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Sessions, Similarity}

/** Dev tool: per-task balance evidence for the SALTED two-level fine
  * pass (VERDICT r13 #1). The unsalted cogroup keys the whole corpus
  * on ≤ [[Similarity.CoarseCells]] coarse cells, so a clustered
  * corpus — SemDeDup's own premise — lands a dense region's entire
  * population in ONE task. This runner builds a deterministic
  * clustered corpus (a `hotPct`% tight cluster around e0 plus
  * hash-mixed isotropic noise — no RNG, every component is a
  * multiply-xorshift of (vec_id, dim), the [[Similarity.lshWeight]]
  * mixer), runs [[Similarity.assignCellsHier]] at the PRODUCTION
  * coarse size ([[Similarity.coarseFor]]) with an EXPLICIT salts=1
  * (the r13 shape — which, post-r15, also exercises the bare-key
  * bypass plan) and the [[Similarity.HierFineSalts]] cap, and
  * records, per leg:
  *
  *   - wall seconds for the assignment;
  *   - the fine-pass cogroup stage's task-level shuffle-read records
  *     (the stage reading the (cell, salt) exchange — identified as
  *     the stage with the largest total records read): task count,
  *     max, p50. Unsalted, max ≈ the hot cell's population; salted it
  *     must drop toward total/tasks;
  *   - a row checksum (count + sum of hash(vec_id, cell, cos9)) that
  *     must be IDENTICAL across legs — the result-equality the
  *     SimilaritySpec salting tests pin at gate scale, re-asserted at
  *     leg scale.
  *
  * Two optional extras (VERDICT r14 #6 — attribute the salted leg's
  * residual max/p50 ≈ 2.5× imbalance):
  *
  *   - `mode=tight`: the hot rows become a TIGHT-BUT-NOT-IDENTICAL
  *     cluster (e0 plus small mixed noise, cos ≈ 0.97 between
  *     members) instead of exact duplicates — the non-tie regime,
  *     where density-proportional coarse sampling should split the
  *     cluster by itself and neither leg shows a single-task
  *     pathology;
  *   - `advisoryKB>0`: after the two standard legs, re-runs the
  *     salted leg with `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  *     lowered to that value — if the residual imbalance is AQE
  *     coalescing small (cell, salt) groups back together (benign),
  *     max/p50 must drop toward 1; if it were salt-key skew, it would
  *     not move. (Measured r15: it did NOT move — at the session's 32
  *     shuffle partitions AQE has nothing to coalesce, so the r14
  *     "AQE coalescing" attribution was wrong; see `parts`.)
  *   - `parts>0`: re-runs the salted leg with
  *     `spark.sql.shuffle.partitions` raised to that value — the
  *     REDUCER-PACKING hypothesis: with only 32 reducer slots, the 32
  *     hot (cell, salt) keys land ~Poisson over 32 bins and the max
  *     bin draws 3-4 of them (birthday collisions), which is exactly
  *     a max/p50 ≈ 2.5× residual. If that is the cause, more slots
  *     (≈ a real cluster's core count) must spread the hot keys and
  *     drop max toward one hot key's population; per-key salt skew
  *     would not move.
  *
  * Usage: `sbt "runMain graft.SaltProfile [n] [k] [hotPct] [out.json]
  * [mode=tie|tight] [advisoryKB=0] [parts=0]"`
  * (defaults 800000, 8192, 50, SALT_SKEW.json, tie, 0, 0). */
object SaltProfile {

  /** Deterministic mixed noise in [-1, 1): xxhash64 of (vec_id, dim)
    * mapped onto a 2048-step grid — built-in, codegen'd, and immune to
    * ANSI overflow checks (a hand-rolled multiply-xorshift in SQL
    * throws ARITHMETIC_OVERFLOW under Spark 4's ANSI default). */
  private def noise(i: Int): Column =
    (pmod(xxhash64(col("vec_id"), lit(i)), lit(2048L)).cast("double") /
      lit(1024.0)) - lit(1.0)

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 800000L
    val k = if (args.length > 1) args(1).toInt else 8192
    val hotPct = if (args.length > 2) args(2).toInt else 50
    val outPath = if (args.length > 3) args(3) else "SALT_SKEW.json"
    val mode = if (args.length > 4) args(4) else "tie"
    val advisoryKB = if (args.length > 5) args(5).toInt else 0
    val parts = if (args.length > 6) args(6).toInt else 0
    require(mode == "tie" || mode == "tight", s"unknown mode $mode")
    val spark = Sessions.tuned(
      SparkSession.builder().master("local[32]"), 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // clustered corpus: hotPct% of rows are EXACT duplicates of e0 —
    // the realistic worst case (mass-duplicate web corpora): identical
    // vectors make identical argmax decisions, so the whole population
    // lands in ONE coarse cell no matter where the coarse sample
    // falls. (A merely TIGHT cluster does not skew the cogroup: the
    // coarse sample is drawn from the corpus, so a dense region gets
    // proportionally many coarse centroids and splits itself — the
    // unresolvable case is ties; mode=tight MEASURES that claim with
    // a cos ≈ 0.97 cluster instead of exact duplicates.) The rest is
    // isotropic noise.
    val hot = pmod(col("vec_id"), lit(100L)) < lit(hotPct.toLong)
    val v = array((0 until 64).map { i =>
      val base = if (i == 0) lit(1.0) else lit(0.0)
      val hotVal =
        if (mode == "tight") base + noise(i + 1000) * lit(0.05)
        else base
      when(hot, hotVal).otherwise(noise(i))
    }: _*)
    val vs = spark.range(n).select(col("id").as("vec_id"))
      .withColumn("v", v)
      .withColumn("nm", Similarity.l2norm(col("v")))
      .filter(col("nm") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // the count + every leg
    val nReal = vs.count()
    println(s"[salt] n=$nReal k=$k coarse=${Similarity.coarseFor(k)} " +
      s"hotPct=$hotPct mode=$mode advisoryKB=$advisoryKB parts=$parts")

    // per-stage task-level shuffle-read records, captured off the
    // listener bus (single-threaded delivery)
    val taskRecs = scala.collection.mutable.Map[
      Int, scala.collection.mutable.ArrayBuffer[Long]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) taskRecs.synchronized {
          taskRecs.getOrElseUpdate(te.stageId,
            scala.collection.mutable.ArrayBuffer[Long]()) +=
            m.shuffleReadMetrics.recordsRead
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def leg(salts: Int): (Double, Long, Long, (Int, Long, Long)) = {
      taskRecs.synchronized(taskRecs.clear())
      val t0 = System.nanoTime()
      val out = Similarity.assignCellsHier(vs, k, nKnown = nReal,
        salts = salts)
      val (cnt, chk) = out
        .select(count(lit(1)),
          sum(hash(col("vec_id"), col("cell"), round(col("c_cos"), 9))
            .cast("long")))
        .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
        .head()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the listener bus: poll until the observed task count is
      // stable across two 1 s samples (bounded at 15 s) — a fixed
      // sleep can read the map before late onTaskEnd events land and
      // silently understate max/p50
      var prev = -1L
      var stable = 0
      var polls = 0
      while (stable < 2 && polls < 15) {
        Thread.sleep(1000); polls += 1
        val cur = taskRecs.synchronized(
          taskRecs.valuesIterator.map(_.length.toLong).sum)
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      val (stage, recs) = taskRecs.synchronized {
        taskRecs.map { case (s, b) => (s, b.toArray.sorted) }
          .maxBy(_._2.sum)
      }
      val fine = (recs.length, recs.last, recs(recs.length / 2))
      println(f"[salt] salts=$salts%-3d wall=$wall%7.1f s rows=$cnt " +
        f"chk=$chk fine-stage $stage: tasks=${fine._1} " +
        f"max=${fine._2} p50=${fine._3}")
      (wall, cnt, chk, fine)
    }

    // untimed warm-up at a small K: absorbs whole-stage codegen and
    // kernel JIT so neither timed leg pays the one-time setup — the
    // first-run-cold bias would otherwise inflate whichever leg runs
    // first (measured ~1-2 s of one-time plan/JIT cost at gate scale)
    Similarity.assignCellsHier(vs, 64, nKnown = nReal, salts = 2)
      .select(count(lit(1))).head()
    val load0 = scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ").head
    val (w1, c1, k1, f1) = leg(1)
    val (w2, c2, k2, f2) = leg(Similarity.HierFineSalts)
    // optional third leg: same salted shape, AQE's coalesce target
    // lowered — isolates how much of the salted max/p50 residual is
    // AQE merging small (cell, salt) groups back together
    val adv = if (advisoryKB > 0) {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        s"${advisoryKB}kb")
      val r = leg(Similarity.HierFineSalts)
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      Some(r)
    } else None
    // optional fourth leg: same salted shape, MORE reducer slots —
    // isolates hot-key birthday packing over the 32 default slots
    // (the cluster-realistic dial: slots ≈ executor cores)
    val prt = if (parts > 0) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val r = leg(Similarity.HierFineSalts)
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      Some(r)
    } else None
    // combined leg: more slots AND a low coalesce target — parts alone
    // is null (AQE coalesces the extra slots straight back to the
    // ~64 MB default advisory), advisory alone is null (32 initial
    // partitions leave nothing to coalesce); only together do the
    // (cell, salt) groups actually stay spread, so this is the leg
    // that separates "AQE re-merging" from "per-key salt skew"
    val both = if (parts > 0 && advisoryKB > 0) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        s"${advisoryKB}kb")
      val r = leg(Similarity.HierFineSalts)
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      Some(r)
    } else None
    val load1 = scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ").head
    require(c1 == c2 && k1 == k2,
      s"salted result diverged: rows $c1/$c2 chk $k1/$k2")
    (adv.toSeq ++ prt.toSeq ++ both.toSeq).foreach { case (_, c3, k3, _) =>
      require(c1 == c3 && k1 == k3,
        s"extra-leg result diverged: rows $c1/$c3 chk $k1/$k3") }
    val advJson = adv.map { case (w3, _, _, f3) =>
      s""","salts${Similarity.HierFineSalts}_adv${advisoryKB}kb":""" +
      s"""{"wall_sec":${f"$w3%.1f"},"tasks":${f3._1},""" +
      s""""max_task_records":${f3._2},"p50_task_records":${f3._3}}"""
    }.getOrElse("") + prt.map { case (w4, _, _, f4) =>
      s""","salts${Similarity.HierFineSalts}_parts$parts":""" +
      s"""{"wall_sec":${f"$w4%.1f"},"tasks":${f4._1},""" +
      s""""max_task_records":${f4._2},"p50_task_records":${f4._3}}"""
    }.getOrElse("") + both.map { case (w5, _, _, f5) =>
      s""","salts${Similarity.HierFineSalts}_parts${parts}_adv""" +
      s"""${advisoryKB}kb":{"wall_sec":${f"$w5%.1f"},"tasks":${f5._1},""" +
      s""""max_task_records":${f5._2},"p50_task_records":${f5._3}}"""
    }.getOrElse("")
    val json =
      s"""{"n":$nReal,"k":$k,"coarse":${Similarity.coarseFor(k)},""" +
      s""""hot_pct":$hotPct,"mode":"$mode","rows":$c1,""" +
      s""""checksum_equal":true,""" +
      s""""load_before":$load0,"load_after":$load1,""" +
      s""""salts1":{"wall_sec":${f"$w1%.1f"},"tasks":${f1._1},""" +
      s""""max_task_records":${f1._2},"p50_task_records":${f1._3}},""" +
      s""""salts${Similarity.HierFineSalts}":{"wall_sec":${f"$w2%.1f"},""" +
      s""""tasks":${f2._1},"max_task_records":${f2._2},""" +
      s""""p50_task_records":${f2._3}}$advJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      json + "\n")
    println(s"[salt] wrote $outPath")
    spark.stop()
  }
}
