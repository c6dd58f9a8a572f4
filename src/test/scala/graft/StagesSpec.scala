package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import graft.engine.{Sources, Stages, TextOps}

/** The materialized-stage cache must be transparent: parquet-backed
  * stages give byte-identical values to the unshared pipeline, build
  * exactly once per (stage, dir) per JVM, and survive a full
  * `spark.catalog.clearCache()` (the bench harness clears between
  * queries — the whole point of the checkpoint). */
class StagesSpec extends SparkSpec {

  test("materialize builds once per key and survives clearCache") {
    val builds = new AtomicInteger(0)
    def stage() = Stages.materialize(spark, "spec_count", "/tmp/spec-in") {
      builds.incrementAndGet()
      spark.range(10).toDF("id")
    }
    assert(stage().count() == 10)
    spark.catalog.clearCache()
    assert(stage().count() == 10)
    assert(builds.get() == 1)
    // distinct dir -> distinct stage
    Stages.materialize(spark, "spec_count", "/tmp/spec-in2") {
      builds.incrementAndGet()
      spark.range(3).toDF("id")
    }
    assert(builds.get() == 2)
  }

  test("a stage may materialize its prerequisite stage inside its build") {
    // regression: with the memo as a bare ConcurrentHashMap.computeIfAbsent,
    // this nesting threw IllegalStateException("Recursive update") whenever
    // the two keys shared a hash bin (data-directory dependent)
    val out = Stages.materialize(spark, "spec_outer", "/tmp/spec-nest") {
      Stages.materialize(spark, "spec_inner", "/tmp/spec-nest") {
        spark.range(7).toDF("id")
      }.selectExpr("id * 2 AS id2")
    }
    assert(out.count() == 7)
  }

  test("an already-published pointer is adopted without rebuilding") {
    // publish once, wipe the in-JVM memo (Stages.reset), call again: the
    // second call must resolve via the on-disk pointer — the same path a
    // fresh JVM sharing a persistent root takes — and must NOT rebuild.
    // "Build" = a parquet write (an attempt directory): the build THUNK
    // is evaluated once per memo miss for the definition fingerprint
    // (plan construction only), so it is not the thing to count.
    val dir = java.nio.file.Files.createTempDirectory("spec-ptr").toString
    def stage() = Stages.materialize(spark, "spec_adopt", dir) {
      spark.range(5).toDF("id")
    }
    def attempts(): Int = {
      val rootField = Stages.getClass.getDeclaredField("root")
      rootField.setAccessible(true)
      new java.io.File(rootField.get(Stages).asInstanceOf[String])
        .listFiles()
        .count(f => f.getName.startsWith("spec_adopt-") && f.isDirectory)
    }
    assert(stage().count() == 5)
    assert(attempts() == 1)
    Stages.reset() // wipe the in-JVM memo: next call must go to the FS
    assert(stage().count() == 5)
    assert(attempts() == 1) // adopted, not rebuilt
  }

  test("a changed stage definition gets a new path, never the stale stage") {
    // the persistent-root staleness hole: same stage name + same input,
    // but the code computing the stage changed between "sessions"
    // (simulated by a memo reset). The old pointer must NOT be adopted.
    val dir = java.nio.file.Files.createTempDirectory("spec-def").toString
    assert(Stages.materialize(spark, "spec_def", dir) {
      spark.range(5).toDF("id")
    }.count() == 5)
    Stages.reset()
    assert(Stages.materialize(spark, "spec_def", dir) {
      spark.range(7).toDF("id") // "new code" for the same stage
    }.count() == 7, "stale stage served after definition change")
  }

  test("a pointer naming a missing attempt dir is re-elected, not served") {
    // tmp reapers can age out the data directory while the tiny pointer
    // file survives; the resolved path would fail every read forever
    // since pointers are never replaced — materialize must detect the
    // dangling pointer, delete it, and rebuild.
    val dir = java.nio.file.Files.createTempDirectory("spec-dangle").toString
    def stage() = Stages.materialize(spark, "spec_dangle", dir) {
      spark.range(4).toDF("id")
    }
    assert(stage().count() == 4)
    Stages.reset()
    val rootField = Stages.getClass.getDeclaredField("root")
    rootField.setAccessible(true)
    val root = new java.io.File(rootField.get(Stages).asInstanceOf[String])
    root.listFiles()
      .filter(f => f.getName.startsWith("spec_dangle-") && f.isDirectory)
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    assert(stage().count() == 4, "dangling pointer not re-elected")
  }

  test("an incomplete pointer (writer died mid-publish) fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("spec-ptr2").toString
    val builds = new AtomicInteger(0)
    def stage() = Stages.materialize(spark, "spec_trunc", dir) {
      builds.incrementAndGet(); spark.range(2).toDF("id")
    }
    stage()
    // truncate the pointer: drop the terminator line
    Stages.reset()
    // test environment pins a JVM-private temp root (SparkSpec) so test
    // stages never land in the per-checkout persistent cache
    assert(sys.props.get("graft.stages.dir").exists(_.contains("graft-test-stages")))
    // find the pointer file under the temp root via the second call path:
    // corrupt it by rewriting without the terminator
    val tmpRootField = Stages.getClass.getDeclaredField("root")
    tmpRootField.setAccessible(true)
    val rootDir = tmpRootField.get(Stages).asInstanceOf[String]
    val ptrs = new java.io.File(rootDir).listFiles()
      .filter(f => f.getName.startsWith("spec_trunc-") && f.getName.endsWith(".ptr"))
    assert(ptrs.nonEmpty)
    val content = new String(
      java.nio.file.Files.readAllBytes(ptrs.head.toPath), "UTF-8")
    // rewriting outside Hadoop leaves a stale .crc sidecar — drop it so
    // the read exercises the incomplete-pointer path, not a checksum trip
    def dropCrc(): Unit = {
      val crc = new java.io.File(ptrs.head.getParent, s".${ptrs.head.getName}.crc")
      if (crc.exists()) crc.delete()
    }
    java.nio.file.Files.write(ptrs.head.toPath,
      content.dropRight(5).getBytes("UTF-8")) // strip "\n#end"
    dropCrc()
    val e = intercept[IllegalStateException] { stage().count() }
    assert(e.getMessage.contains("incomplete"))
    // restore so other tests sharing the root see a valid pointer
    java.nio.file.Files.write(ptrs.head.toPath, content.getBytes("UTF-8"))
    dropCrc()
  }

  test("a published stage with a part file deleted is rebuilt, not served") {
    val dir = java.nio.file.Files.createTempDirectory("spec-truncated").toString
    val builds = new AtomicInteger(0)
    def stage() = Stages.resolve(spark, "spec_truncated", dir) {
      builds.incrementAndGet(); spark.range(50).toDF("id")
    }
    val first = stage()
    assert(first.manifest.rows == 50 && first.manifest.files == 1)
    val parts = new java.io.File(first.path).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
    parts.foreach(_.delete())
    Stages.reset()
    val again = stage()
    assert(again.path != first.path, "the truncated attempt was served")
    assert(again.read(spark).count() == 50)
    assert(new java.io.File(again.path).listFiles().count(_.getName.startsWith("part-")) == 1)
  }

  test("a rewritten input file gives a new stage path within one JVM") {
    val dir = java.nio.file.Files.createTempDirectory("spec-refresh")
    val input = dir.resolve("t.txt")
    java.nio.file.Files.write(input, "a".getBytes("UTF-8"))
    def stage() = Stages.resolve(spark, "spec_refresh", dir.toString) {
      spark.range(3).toDF("id")
    }
    val before = stage()
    assert(stage().path == before.path)
    java.nio.file.Files.write(input, "bb".getBytes("UTF-8"))
    val after = stage()
    assert(after.path != before.path, "a rewritten input kept the old stage")
    assert(after.read(spark).count() == 3)
  }

  test("each warmed stage's manifest holds the schema and rows a bare read sees") {
    Stages.reset()
    graft.engine.Warm.stages(spark, sf)
    val stages = Stages.resolved
    assert(stages.map(_.stage).toSet.size == 20, stages.map(_.stage))
    for (p <- stages) {
      val bare = spark.read.parquet(p.path)
      assert(p.manifest.schema == bare.schema, s"${p.stage}: schema")
      assert(p.manifest.schema.json == bare.schema.json, s"${p.stage}: field metadata")
      assert(p.manifest.rows == bare.count(), s"${p.stage}: rows")
    }
  }

  test("dedupIncremental drops corpus dups and keep-first batch dups") {
    import spark.implicits._
    def doc(lo: Int, n: Int): String = (lo until lo + n).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, doc(0, 50)), (2L, doc(100, 50)), (3L, doc(200, 50)))
      .toDF("doc_id", "text")
    val cSets = TextOps.shingleSets(corpus)
    val cSig = TextOps.minhashSignatureFromSets(cSets)
    val nearOf2 = (doc(100, 49).split(" ") :+ "zzz").mkString(" ")
    val batch = Seq(
      (101L, doc(0, 50)),   // exact dup of corpus doc 1 -> dropped
      (102L, doc(300, 50)), // novel -> kept
      (103L, doc(300, 50)), // dup of batch doc 102 -> dropped (keep-first)
      (104L, doc(400, 50)), // novel -> kept
      (105L, nearOf2))      // 49/50-token near-dup of corpus doc 2 -> dropped
      .toDF("doc_id", "text")
    val result = TextOps.dedupIncremental(batch, cSets, cSig, 0.8)
    val kept = result.select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(102L, 104L))
    // the incremental path must stay equi-join shaped: batch bands
    // against corpus bands, never a pairwise compare
    val p = result.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedupIncremental rejects a hash-family mismatch via the signature stamp") {
    import spark.implicits._
    def doc(lo: Int, n: Int): String = (lo until lo + n).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, doc(0, 50)), (2L, doc(100, 50))).toDF("doc_id", "text")
    val cSets = TextOps.shingleSets(corpus)
    val cSigH28 = TextOps.minhashSignatureFromSets(cSets,
      graft.engine.PortableHash.h28)
    // an exact corpus dup that a silent family mismatch would let through
    val batch = Seq((101L, doc(0, 50))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextOps.dedupIncremental(batch, cSets, cSigH28) // default fast28
    }
    assert(e.getMessage.contains("hash-family mismatch"))
    // the stamp survives the production layout: parquet round-trip (the
    // Stages shape) keeps the field metadata, so the mismatch still
    // throws on a re-read frame — and the MATCHING family still works
    val dir = java.nio.file.Files.createTempDirectory("famstamp").toString
    cSigH28.write.parquet(s"$dir/sig")
    val reread = spark.read.parquet(s"$dir/sig")
    val e2 = intercept[IllegalArgumentException] {
      TextOps.dedupIncremental(batch, cSets, reread)
    }
    assert(e2.getMessage.contains("hash-family mismatch"))
    val kept = TextOps.dedupIncremental(batch, cSets, reread,
        hash = graft.engine.PortableHash.h28)
      .select("doc_id").as[Long].collect()
    assert(kept.isEmpty, "matching family must still dedup the exact dup")
  }

  test("shared shingle/signature/pair stages equal the unshared pipeline") {
    // same family both sides (h28, what the staged tables pin): this
    // test isolates shared-vs-unshared, not the hash family
    val docs = Sources.documents(spark, sf)
    val sig0 = TextOps.minhashSignature(docs, graft.engine.PortableHash.h28)
    val sig1 = TextOps.sharedSignature(spark, sf)
    assert(sig0.exceptAll(sig1).count() == 0 && sig1.exceptAll(sig0).count() == 0)

    val pairs0 = TextOps.jaccardPairs(docs, 0.8, graft.engine.PortableHash.h28)
      .select(col("a"), col("b"), col("jacc"))
    val pairs1 = TextOps.sharedCandPairs(spark, sf)
      .filter(col("jacc") >= 0.8).select(col("a"), col("b"), col("jacc"))
    assert(pairs0.exceptAll(pairs1).count() == 0 &&
      pairs1.exceptAll(pairs0).count() == 0)
    spark.catalog.clearCache() // jaccardPairs persists its two tables
  }

  test("reapUnreferenced: superseded unit reaped; live and too-young survive") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val root = Files.createTempDirectory("reap-spec").toString
    val oldMs = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    // three published units in the on-disk layout materialize writes:
    // <unit>.ptr naming <unit>-attempt-<uuid>, plus a loser attempt
    def publishUnit(unit: String, ageOld: Boolean): Unit = {
      val attempt = s"$root/$unit-attempt-deadbeef"
      val loser = s"$root/$unit-attempt-cafebabe"
      Seq(attempt, loser).foreach { d =>
        Files.createDirectories(Paths.get(d))
        Files.write(Paths.get(d, "part-0.parquet"), Array[Byte](1, 2))
      }
      Files.write(Paths.get(s"$root/$unit.ptr"),
        (attempt + "\n#end").getBytes("UTF-8"))
      // a genuinely old publish has old part files too — the reaper
      // ages by the newest mtime at ANY depth (fresh nested children
      // mean in-flight, see the orphan test's slow_pub case)
      if (ageOld) Seq(s"$root/$unit.ptr",
          s"$attempt/part-0.parquet", s"$loser/part-0.parquet",
          attempt, loser).foreach { f =>
        Files.setLastModifiedTime(Paths.get(f), FileTime.fromMillis(oldMs))
      }
    }
    publishUnit("live_stage-aaaaaaaaaaaa", ageOld = true)
    publishUnit("dead_stage-bbbbbbbbbbbb", ageOld = true)
    publishUnit("young_stage-cccccccccccc", ageOld = false)
    val reaped = Stages.reapUnreferenced(spark, root,
      liveUnits = Set("live_stage-aaaaaaaaaaaa"), minAgeDays = 7)
    assert(reaped == Seq("dead_stage-bbbbbbbbbbbb"))
    def exists(p: String) = Files.exists(Paths.get(p))
    // dead: pointer and BOTH attempts gone
    assert(!exists(s"$root/dead_stage-bbbbbbbbbbbb.ptr"))
    assert(!exists(s"$root/dead_stage-bbbbbbbbbbbb-attempt-deadbeef"))
    assert(!exists(s"$root/dead_stage-bbbbbbbbbbbb-attempt-cafebabe"))
    // live (old but referenced) and young (unreferenced but recent) intact
    for (u <- Seq("live_stage-aaaaaaaaaaaa", "young_stage-cccccccccccc")) {
      assert(exists(s"$root/$u.ptr"), s"$u pointer must survive")
      assert(exists(s"$root/$u-attempt-deadbeef"), s"$u attempt must survive")
    }
    // a second pass is a no-op (idempotent)
    assert(Stages.reapUnreferenced(spark, root,
      Set("live_stage-aaaaaaaaaaaa"), 7).isEmpty)
  }

  test("reapUnreferenced: pointerless orphan attempts collected, age-gated") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val root = Files.createTempDirectory("reap-orphan-spec").toString
    val oldMs = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    // debris shapes: a publish that died before its pointer write (old
    // + young), and an old orphan whose unit the JVM still references
    // ageChildren=false models a LONG in-flight publish on HDFS/S3A:
    // nested writes don't bump the parent dir's mtime, so the dir can
    // look horizon-old while its part files are seconds fresh — the
    // age gate must take the max over the dir AND its children
    def orphan(unit: String, ageOld: Boolean,
        ageChildren: Boolean = true): String = {
      val d = s"$root/$unit-attempt-0ddba11"
      Files.createDirectories(Paths.get(d))
      Files.write(Paths.get(d, "part-0.parquet"), Array[Byte](1))
      if (ageOld) {
        if (ageChildren)
          Files.setLastModifiedTime(Paths.get(d, "part-0.parquet"),
            FileTime.fromMillis(oldMs))
        Files.setLastModifiedTime(Paths.get(d), FileTime.fromMillis(oldMs))
      }
      d
    }
    val dead = orphan("crashed_pub-dddddddddddd", ageOld = true)
    val young = orphan("young_pub-eeeeeeeeeeee", ageOld = false)
    val live = orphan("live_pub-ffffffffffff", ageOld = true)
    val inflight = orphan("slow_pub-cccccccccccc", ageOld = true,
      ageChildren = false)
    def exists(p: String) = Files.exists(Paths.get(p))
    // dry run: reports the dead orphan, deletes nothing
    val dry = Stages.reapUnreferenced(spark, root,
      liveUnits = Set("live_pub-ffffffffffff"), minAgeDays = 7,
      dryRun = true)
    assert(dry == Seq("crashed_pub-dddddddddddd-attempt-0ddba11"))
    assert(exists(dead) && exists(young) && exists(live))
    // real run: only the old, unreferenced, pointerless orphan goes
    val reaped = Stages.reapUnreferenced(spark, root,
      liveUnits = Set("live_pub-ffffffffffff"), minAgeDays = 7)
    assert(reaped == Seq("crashed_pub-dddddddddddd-attempt-0ddba11"))
    assert(!exists(dead), "old pointerless orphan must be collected")
    assert(exists(young), "young orphan must survive the age gate")
    assert(exists(live), "live unit's attempt must survive pointerless")
    assert(exists(inflight),
      "old-looking dir with fresh children is an in-flight publish — survives")
  }

  test("a fragmented stage write is compacted toward the file-size target") {
    // an explicit repartition(8) survives AQE, so the raw write yields 8
    // tiny part files; with the 256 MB default target the ideal count is
    // 1 — the published stage must hold ONE part file with identical data
    val dir = java.nio.file.Files.createTempDirectory("spec-compact").toString
    val staged = Stages.materialize(spark, "spec_compact", dir) {
      spark.range(1000).toDF("id").repartition(8)
    }
    assert(staged.count() == 1000)
    assert(staged.select(sum(col("id"))).head.getLong(0) == 999L * 1000 / 2)
    val rootField = Stages.getClass.getDeclaredField("root")
    rootField.setAccessible(true)
    val root = new java.io.File(rootField.get(Stages).asInstanceOf[String])
    val attempts = root.listFiles().filter(f =>
      f.getName.startsWith("spec_compact-") && f.isDirectory)
    assert(attempts.length == 1)
    val partFiles = attempts.head.listFiles()
      .filter(f => f.getName.startsWith("part-"))
    assert(partFiles.length == 1,
      s"expected 1 compacted part file, got ${partFiles.length}")
    // no leftover -compact swap directory
    assert(!attempts.head.getName.endsWith("-compact"))
  }

  test("an already-healthy stage layout is not rewritten") {
    // a single-partition write is already at the ideal count — the
    // compactor must leave it alone: the resolved attempt keeps its one
    // part file, same name and mtime, across reads and re-resolution
    val dir = java.nio.file.Files.createTempDirectory("spec-nocompact").toString
    def stage() = Stages.materialize(spark, "spec_nocompact", dir) {
      spark.range(100).toDF("id").coalesce(1)
    }
    val staged = stage()
    val rootField = Stages.getClass.getDeclaredField("root")
    rootField.setAccessible(true)
    val root = new java.io.File(rootField.get(Stages).asInstanceOf[String])
    def parts() = {
      val attempts = root.listFiles().filter(f =>
        f.getName.startsWith("spec_nocompact-") && f.isDirectory)
      assert(attempts.length == 1 && !attempts.head.getName.endsWith("-compact"),
        s"expected one attempt dir, got ${attempts.map(_.getName).toSeq}")
      attempts.head.listFiles().filter(_.getName.startsWith("part-"))
        .map(f => (f.getName, f.lastModified())).toSeq
    }
    val original = parts()
    assert(original.size == 1, s"expected 1 part file, got $original")
    assert(staged.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getName).toSeq ==
      original.map(_._1))
    assert(staged.count() == 100)
    assert(stage().count() == 100)
    assert(parts() == original, "the healthy attempt's part file was rewritten")
  }

  test("a stale -compact dir from a crashed compaction is reaped on resolve") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val dir = java.nio.file.Files.createTempDirectory("spec-reap-compact").toString
    def stage() = Stages.materialize(spark, "spec_reap_compact", dir) {
      spark.range(6).toDF("id")
    }
    assert(stage().count() == 6)
    val rootField = Stages.getClass.getDeclaredField("root")
    rootField.setAccessible(true)
    val root = new java.io.File(rootField.get(Stages).asInstanceOf[String])
    val attempts = root.listFiles().filter(f =>
      f.getName.startsWith("spec_reap_compact-") && f.isDirectory)
    assert(attempts.length == 1)
    val attempt = attempts.head
    def parts() = attempt.listFiles().filter(_.getName.startsWith("part-"))
      .map(f => (f.getName, f.lastModified())).toSeq.sorted
    val original = parts()
    // the swap dir a compaction of another attempt left when it died:
    // <stage>-attempt-<id>-compact, older than the reap horizon
    val unit = attempt.getName.substring(0, attempt.getName.lastIndexOf("-attempt-"))
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val debris = new Path(root.getPath, s"$unit-attempt-0badc0de-compact")
    fs.mkdirs(debris)
    fs.create(new Path(debris, "part-00000.parquet")).close()
    fs.setTimes(debris, System.currentTimeMillis() - 10L * 24 * 3600 * 1000, -1)
    Stages.reset()
    assert(stage().count() == 6)
    assert(!fs.exists(debris), "stale -compact dir survived the resolve")
    assert(attempt.isDirectory && parts() == original,
      "the resolved attempt was touched")
  }

  test("liveStageUnits names every unit this JVM resolved") {
    Stages.materialize(spark, "spec_live_units", "/tmp/spec-in") {
      spark.range(2).toDF("id")
    }
    val units = Stages.liveStageUnits
    assert(units.exists(_.startsWith("spec_live_units-")),
      s"resolved unit missing from live set: $units")
    assert(units.forall(!_.contains("-attempt-")),
      "live units must be pointer basenames, not attempt paths")
  }

  test("fast28 (library default) and h28 (oracle parity) make the same dedup decisions") {
    // The two families produce different signatures, but the surviving
    // near-dup PAIRS must agree: banding only proposes candidates and
    // the exact-Jaccard verification is family-independent, so parity
    // holds as long as true near-dups band-collide under both families.
    val docs = Sources.documents(spark, sf)
    def pairs(h: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      TextOps.jaccardPairs(docs, 0.8, h).select("a", "b", "jacc")
    val pf = pairs(graft.engine.PortableHash.fast28)
    val ph = pairs(graft.engine.PortableHash.h28)
    assert(pf.exceptAll(ph).count() == 0 && ph.exceptAll(pf).count() == 0)
    assert(ph.count() > 0, "vacuous parity: no near-dup pairs in the corpus")
    spark.catalog.clearCache()
  }
}
