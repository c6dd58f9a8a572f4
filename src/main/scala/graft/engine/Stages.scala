package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** What a published stage holds, recorded once when it is built: the
  * schema `spark.read.parquet` infers for it (field metadata included),
  * its exact rows summed from the part-file footers, its part files'
  * bytes and count, the codec of its column chunks and its build
  * seconds. */
final case class Manifest(schema: StructType, rows: Long, bytes: Long,
    files: Int, codec: String, buildS: Double) {
  private[engine] def render: String =
    s"rows=$rows\nbytes=$bytes\nfiles=$files\ncodec=$codec\nbuild_s=$buildS\n" +
      s"schema=${schema.json}"
}

private[engine] object Manifest {
  /** The manifest of `render`'s lines, or None when a field is missing
    * or malformed. */
  def parse(lines: Seq[String]): Option[Manifest] = {
    val kv = lines.flatMap { l =>
      val i = l.indexOf('=')
      if (i > 0) Some(l.take(i) -> l.drop(i + 1)) else None
    }.toMap
    try Some(Manifest(
      DataType.fromJson(kv("schema")).asInstanceOf[StructType],
      kv("rows").toLong, kv("bytes").toLong, kv("files").toInt,
      kv("codec"), kv("build_s").toDouble))
    catch { case scala.util.control.NonFatal(_) => None }
  }
}

/** A resolved stage: the attempt directory its pointer names, and the
  * pointer's manifest. */
final case class Published(stage: String, path: String, manifest: Manifest) {
  /** The stage's rows, read with the manifest's schema: no Spark job. */
  def read(s: SparkSession): DataFrame =
    s.read.schema(manifest.schema).parquet(path)
}

/** Per-JVM materialization of shared pipeline stages.
  *
  * Several declared queries share an expensive prefix: the shingle-set,
  * minhash-signature and LSH-candidate-pair tables feed q_dedup_minhash,
  * q_dedup_ngram, q_minhash_est, q_dup_clusters and q_simhash_near. Run
  * standalone (the bench harness clears the Spark cache between queries,
  * and `persist` frames die with it), each query would rebuild the whole
  * split→shingle→hash pipeline from the raw corpus.
  *
  * At 100 TB the standard practice is to materialize the signature table
  * once — an O(docs)-sized parquet on the object store, tiny next to the
  * corpus — and let every downstream dedup consumer scan that instead of
  * re-deriving it. This object is that checkpoint: the first consumer of
  * a (stage, input-dir) pair computes the stage and writes it as parquet;
  * every later consumer reads the files. Being parquet-backed, the stage
  * survives `spark.catalog.clearCache()`, and the result is value-
  * identical to the unshared pipeline — the stage IS the same
  * deterministic frame, round-tripped through its own schema.
  *
  * Stage paths are content- AND definition-keyed: the digest covers the
  * stage name, the input dir, a fingerprint of the input's file listing
  * (name, size, mtime of every file), the canonicalized logical plan
  * that defines the stage and [[LayoutVersion]] — so regenerating the
  * corpus under the same path, changing the code that computes a stage,
  * or changing what a published stage holds yields a different stage
  * path rather than silently serving stale data. Writers build into a
  * private attempt directory and PUBLISH via a pointer file written with
  * create-exclusive semantics — never by renaming a directory onto the
  * target path. A directory rename has a cross-process TOCTOU: if
  * another JVM commits between our existence check and our rename, HDFS
  * `rename(tmp, target)` moves tmp *inside* the committed target (and
  * still returns true), leaving stray debris in the stage output. With a
  * pointer file, the loser of the publish race just deletes its own
  * attempt and reads the winner's.
  *
  * Stage files are parquet with zstd column chunks ([[Codec]], a fixed
  * choice: stages are written once and scanned by every consumer, so
  * the denser codec pays on every scan).
  *
  * The pointer is self-describing. One file, created in one step, it
  * holds the attempt path, then the stage's [[Manifest]] as
  * `key=value` lines (`rows`, `bytes`, `files`, `codec`, `build_s`, and
  * `schema` as `StructType.json`), then the `#end` terminator:
  * {{{
  * /stages/corpus-0a1b2c3d4e5f-attempt-9f8e7d6c
  * rows=1000
  * bytes=38189
  * files=1
  * codec=zstd
  * build_s=0.84
  * schema={"type":"struct","fields":[…]}
  * #end
  * }}}
  * So a stage hit reads with the manifest's schema and launches no
  * Spark job (a bare `spark.read.parquet` runs one to infer the
  * schema), and consumers take the stage's row count from the manifest
  * ([[resolve]]) instead of scanning. The schema is inferred once per
  * build, from the written files, so it is exactly what a bare read
  * would report, field metadata (the minhash family stamp) included. On
  * every memo miss the attempt's part files and bytes are checked
  * against the manifest: a pointer to a truncated or missing attempt is
  * dead and is re-elected, as below. */
object Stages {

  /** Checkpoint root. Defaults to a per-checkout persistent directory
    * under java.io.tmpdir so stages survive the JVM and repeated
    * harness invocations (Verify, then Bench, then tests — each a
    * fresh JVM) reuse them instead of paying full rebuilds; safe
    * because stage paths are content-keyed (regenerated input ⇒ new
    * fingerprint ⇒ new path, stale entries simply go unreferenced —
    * and [[reapUnreferenced]] is the lifecycle policy that collects
    * them on a long-lived root).
    * On a cluster set `-Dgraft.stages.dir=s3://…/stages` (any
    * Hadoop-FS URI Spark can write) so stages land beside the corpus
    * and are shared across drivers. */
  private lazy val root: String =
    sys.props.get("graft.stages.dir").getOrElse {
      val checkout = md5hex(sys.props.getOrElse("user.dir", "/"))
      val p = java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft-stages-$checkout")
      java.nio.file.Files.createDirectories(p)
      p.toString
    }

  /** The root this JVM's stages resolve under — for operational tools
    * ([[graft.StageGc]]) that must reap the same root the library
    * writes to. */
  def defaultRoot: String = root

  private val done = new java.util.concurrent.ConcurrentHashMap[String, Published]()
  private val buildLock = new Object

  /** The parquet codec of every stage file. */
  private val Codec = "zstd"

  /** Version of what a published stage holds, part of every stage
    * path's digest. 2: zstd files and a manifest in the pointer. A
    * pointer of an older layout is therefore never adopted. */
  private val LayoutVersion = 2

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** Fingerprint of the input directory's (recursive) file listing —
    * path, length, mtime per file. Listing only; never reads data. It
    * walks with `listStatus`: Hadoop's recursive `listFiles` builds a
    * `LocatedFileStatus` per file, which on the local filesystem forks
    * a process to read its permissions. Not memoized: every call sees
    * the directory as it is now, so an input rewritten in place gets a
    * new fingerprint in the same JVM. */
  private[engine] def fingerprint(s: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val parts = Seq.newBuilder[String]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { f =>
      if (f.isDirectory) walk(f.getPath)
      else parts += s"${f.getPath}|${f.getLen}|${f.getModificationTime}"
    }
    try walk(p) catch { case _: java.io.FileNotFoundException => return "absent" }
    md5hex(parts.result().sorted.mkString("\n"))
  }

  /** The parquet-backed stage `stage` of input directory `dir`: built by
    * `build` at most once per content key (a pointer published by an
    * earlier JVM is reused when the root is persistent), read from files
    * afterwards. Builds are serialized under one lock — reentrant, so a
    * stage may materialize its own prerequisite stages inside its build
    * (a nested ConcurrentHashMap.computeIfAbsent here would throw
    * "Recursive update" whenever two stage keys share a bin).
    *
    * Cross-JVM publish protocol (shared persistent root): each writer
    * builds into its own UNIQUE attempt directory, then races to CREATE
    * `<stage>.ptr` itself with `fs.create(overwrite = false)` — the
    * create of the pointer IS the election (atomic create-exclusive on
    * HDFS and local filesystems). Exactly one creator succeeds and
    * writes its attempt path into the pointer; every other writer gets
    * FileAlreadyExistsException, deletes its own attempt, and follows
    * the winner's pointer. The pointer, once created, is NEVER replaced
    * or renamed onto — so a resolved attempt path stays valid for the
    * lifetime of the root and no committed output can be deleted by a
    * late writer (a rename-onto-pointer publish would silently REPLACE
    * the pointer on POSIX, flipping the winner after other JVMs already
    * resolved it). Readers that catch the sub-millisecond window between
    * create and close see a pointer without its terminator and retry
    * ([[readPointer]]).
    *
    * Caveat: create-exclusive is truly atomic on HDFS; Hadoop's local
    * filesystem and S3A implement it as exists-then-create, so two
    * writers can in principle both pass the election. A writer therefore
    * re-reads the pointer after publishing and, if it names a different
    * attempt, deletes NOTHING (another JVM may have resolved our attempt
    * before the content settled) — the unreferenced output is left for
    * the age-gated reaper rather than risking a dangling reader. */
  def materialize(s: SparkSession, stage: String, dir: String)(
      build: => DataFrame): DataFrame =
    resolve(s, stage, dir)(build).read(s)

  /** The published stage [[materialize]] reads: its path and manifest,
    * for consumers that need the stage's row count or schema rather
    * than (or besides) its rows. Same memo, same build protocol. */
  def resolve(s: SparkSession, stage: String, dir: String)(
      build: => DataFrame): Published = {
    // In-JVM memo key: the input-dir file listing (name/size/mtime) is
    // part of it — keyed by (stage, dir) alone, a long-lived driver
    // would keep serving the old stage after the corpus under `dir` is
    // regenerated. Costs one metadata-only listing per call. The stage
    // DEFINITION is deliberately NOT in this key: code cannot change
    // within a JVM, and leaving it out keeps `build` unevaluated on
    // memo hits.
    val key = s"$stage|$dir|${fingerprint(s, dir)}"
    val cached = done.get(key)
    if (cached != null) cached else buildLock.synchronized {
      val again = done.get(key)
      if (again != null) again
      else {
        // Force plan CONSTRUCTION (not execution) once per miss: the
        // FS path additionally carries the canonicalized defining
        // plan, so on a PERSISTENT root a code change to how a stage
        // is computed yields a new stage path instead of every
        // checkout silently serving whichever definition built first.
        // Transitive by construction — a stage reading another stage
        // embeds that stage's (already fingerprinted) path in its own
        // plan. Canonicalized, so expression-id churn does not move
        // the key.
        val df = build
        val defFp = md5hex(df.queryExecution.logical.canonicalized.toString)
        val p = s"$root/$stage-${md5hex(s"$key|$defFp|layout=$LayoutVersion")}"
        val fs = new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)
        val ptr = new Path(s"$p.ptr")
        var resolved: Published = null
        var rounds = 0
        while (resolved == null) {
          rounds += 1
          if (!fs.exists(ptr)) {
            val attempt = new Path(
              s"$p-attempt-${java.util.UUID.randomUUID().toString.take(8)}")
            val t0 = System.nanoTime()
            df.write.mode("overwrite").option("compression", Codec)
              .parquet(attempt.toString)
            // the one schema inference of this stage: every hit reads
            // with it (as `Published.read`)
            val schema = s.read.parquet(attempt.toString).schema
            compactAttempt(s, fs, attempt, schema)
            val buildS = (System.nanoTime() - t0) / 1e9
            System.err.println(f"[stages] built $stage in $buildS%.2f s")
            val manifest = describe(fs, attempt, schema, buildS)
            if (!publish(fs, ptr, s"$attempt\n${manifest.render}")) {
              // clean loss (our create-exclusive threw pointer-exists: we
              // never published our path anywhere) — ours is unreferenced
              fs.delete(attempt, true)
            }
            // If we "won" but the pointer ends up naming someone else, a
            // filesystem without atomic create-exclusive (S3A, NFS) let
            // two writers through the election. Another JVM may already
            // have resolved OUR attempt before the content flipped, so
            // deleting either output here risks dangling readers — leave
            // both for the age-gated reaper and follow the pointer.
          }
          val text =
            try readPointer(fs, ptr)
            catch {
              // a publisher whose post-win write failed deletes its broken
              // pointer (see publish); a reader that raced past the
              // exists-check must RE-ELECT, not crash — bounded so a
              // persistently vanishing pointer still surfaces as an error
              case _: java.io.FileNotFoundException if rounds < 3 => null
            }
          // A pointer can outlive its attempt directory, or part of it,
          // on a persistent root (tmp reapers age out the big data files
          // but keep the tiny pointer file). A pointer whose attempt does
          // not hold the part files and bytes its manifest names is
          // permanently dead by protocol (pointers are never replaced),
          // so delete it and RE-ELECT rather than memoizing a path every
          // read would fail on, or serving a stage missing rows.
          if (text != null) {
            val lines = text.split('\n').toSeq
            val pub = Manifest.parse(lines.drop(1))
              .map(Published(stage, lines.head.trim, _))
            if (pub.exists(intact(fs, _))) resolved = pub.get
            else {
              if (rounds >= 3)
                throw new IllegalStateException(s"stage $stage: pointer $ptr " +
                  s"names a missing or truncated dir ${lines.head.trim}")
              fs.delete(ptr, false)
            }
          }
        }
        // reap on EVERY memo miss, not only the build branch: double-win
        // losers and crashed writers from past sessions must remain
        // collectable after the pointer exists, else they leak forever
        // on a persistent root. Age-gated + name-keyed, so it never
        // touches the resolved output or an in-flight build.
        reapStaleAttempts(fs, p, resolved.path)
        done.put(key, resolved)
        resolved
      }
    }
  }

  /** The part files of an attempt directory. */
  private def partFiles(fs: FileSystem, attempt: Path): Seq[FileStatus] =
    fs.listStatus(attempt).toSeq
      .filter(st => !st.isDirectory && st.getPath.getName.startsWith("part-"))

  /** The manifest of a finished attempt: rows and codecs from its
    * part-file footers (no Spark job), bytes and files from its
    * listing. A stage with no row group (zero rows) has codec `none`. */
  private def describe(fs: FileSystem, attempt: Path, schema: StructType,
      buildS: Double): Manifest = {
    val parts = partFiles(fs, attempt)
    val blocks = parts.flatMap { st =>
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, fs.getConf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.asScala
    }
    val codecs = blocks.flatMap(_.getColumns.asScala.map(_.getCodec.name.toLowerCase))
      .distinct.sorted
    Manifest(schema, blocks.map(_.getRowCount).sum, parts.map(_.getLen).sum,
      parts.size, if (codecs.isEmpty) "none" else codecs.mkString(","), buildS)
  }

  /** Whether the attempt a pointer names still holds the part files and
    * bytes of its manifest. */
  private def intact(fs: FileSystem, pub: Published): Boolean =
    try {
      val parts = partFiles(fs, new Path(pub.path))
      parts.size == pub.manifest.files &&
        parts.map(_.getLen).sum == pub.manifest.bytes
    } catch { case _: java.io.FileNotFoundException => false }

  /** Target stage parquet file size: 256 MiB. Stage writes inherit the
    * build plan's output partitioning — at cluster core counts (or with
    * AQE's parallelism-first coalescing) that is MANY small files, and
    * every downstream consumer then pays per-file open/footer overhead
    * on each of its rescans while the driver pays listing time (guide
    * §6: aim for 128 MB–1 GB output files). The value sits at the low
    * end of the §6 band so local runs exercise the same code path a
    * cluster uses. */
  private val TargetFileBytes: Long = 256L * 1024 * 1024

  /** Compact a just-written attempt directory toward
    * [[TargetFileBytes]]-sized files: if the write produced more part
    * files than `ceil(bytes/target)` AND the average file is under half
    * the target, read the attempt back, `coalesce` to the ideal count,
    * and atomically swap the compacted copy in. Runs BEFORE publish, on
    * the writer's private attempt dir — no reader can observe the swap.
    * The cost (one read+write of the stage-sized table, never the
    * corpus) is paid once per corpus at build time and lands in the
    * bench's disclosed `stages_sec`; every consumer scan afterwards
    * opens `ideal` files instead of one per build-side task. Skipped
    * when the layout is already healthy, so a stage whose files average
    * ≥ target/2 — e.g. a big stage written through well-sized shuffle
    * partitions — pays nothing. `coalesce` (not repartition) keeps the
    * rewrite shuffle-free, and reading back the finished parquet makes
    * the sizing exact where any pre-write estimate (plan statistics)
    * can be off by the compression factor. */
  private def compactAttempt(s: SparkSession, fs: FileSystem,
      attempt: Path, schema: StructType): Unit = {
    val parts = partFiles(fs, attempt)
    val n = parts.length
    if (n <= 1) return
    val bytes = parts.map(_.getLen).sum
    val ideal = math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes)
    if (n <= ideal || bytes / n >= TargetFileBytes / 2) return
    val tmp = new Path(s"$attempt-compact")
    s.read.schema(schema).parquet(attempt.toString)
      .coalesce(ideal.toInt)
      .write.mode("overwrite").option("compression", Codec).parquet(tmp.toString)
    // private pre-publish swap: a failure here fails the build (the
    // attempt was never published), so partial states cannot be read
    fs.delete(attempt, true)
    if (!fs.rename(tmp, attempt))
      throw new java.io.IOException(
        s"stage compaction: rename $tmp -> $attempt failed")
    System.err.println(s"[stages] compacted ${attempt.getName}: " +
      s"$n files ($bytes B) -> $ideal")
  }

  /** Terminator line proving a pointer was completely written. */
  private val PtrEnd = "\n#end"

  /** Attempt directories older than this with no pointer referencing
    * them are reaped. Deliberately much longer than any plausible stage
    * build (a week, not hours): an IN-FLIGHT writer's attempt older than
    * the horizon would be deleted under its running job, so the gate errs
    * far on the side of leaking debris over breaking a slow build. */
  private val ReapAgeMs: Long = 7L * 24 * 3600 * 1000

  /** Race to create `ptr` (create-exclusive) naming `content`; true iff
    * this caller won the election. Only "pointer already exists" AT
    * CREATE counts as losing. A write/close failure AFTER winning is a
    * real error: the pointer exists but is incomplete, so the broken
    * pointer is best-effort deleted (letting a later writer re-elect)
    * and the failure propagates — classifying it as "lost" would make
    * materialize delete the attempt this pointer references. */
  private def publish(fs: org.apache.hadoop.fs.FileSystem,
      ptr: org.apache.hadoop.fs.Path, content: String): Boolean = {
    val out = try fs.create(ptr, false) catch { // create-exclusive: the election
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
      case e: java.io.IOException if fs.exists(ptr) => return false // HDFS variant
    }
    try {
      try out.write((content + PtrEnd).getBytes("UTF-8")) finally out.close()
      true
    } catch {
      case e: Throwable =>
        try fs.delete(ptr, false)
        catch { case _: java.io.IOException => () }
        throw e
    }
  }

  /** Read the attempt path a pointer names, retrying through the
    * create-to-close window (a complete pointer ends with [[PtrEnd]]).
    * A pointer that never completes — its writer died mid-write — is
    * reported with the path to delete to force a rebuild. */
  private def readPointer(fs: org.apache.hadoop.fs.FileSystem,
      ptr: org.apache.hadoop.fs.Path): String = {
    var attempts = 0
    while (true) {
      val in = fs.open(ptr)
      val text = try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
      if (text.endsWith(PtrEnd))
        return text.dropRight(PtrEnd.length).trim
      attempts += 1
      if (attempts >= 50)
        throw new IllegalStateException(
          s"stage pointer $ptr incomplete after ${attempts} reads — its " +
            s"writer likely died mid-publish; delete the pointer to rebuild")
      Thread.sleep(100)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delete `$p-attempt-*` directories that the committed pointer does
    * not reference and whose age exceeds [[ReapAgeMs]] — crashed-writer
    * debris. The resolved attempt is identified BY NAME (attempt names
    * embed a UUID, so names are unique): listStatus returns fully-
    * qualified paths while the pointer stores the configured-root form,
    * so a string compare of full paths would mismatch on qualification
    * alone and delete the committed output. Best-effort: failures are
    * ignored (another reaper may have raced us).
    *
    * A crashed [[compactAttempt]] leaves `<attempt>-compact` behind.
    * It is reaped here only because its name is
    * `<stage>-attempt-<id>-compact`, which starts with the same
    * `<stage>-attempt-` prefix; renaming that swap directory must keep
    * the prefix or extend this filter. */
  private def reapStaleAttempts(fs: org.apache.hadoop.fs.FileSystem,
      p: String, resolved: String): Unit =
    try {
      val parent = new org.apache.hadoop.fs.Path(p).getParent
      val prefix = new org.apache.hadoop.fs.Path(p).getName + "-attempt-"
      val resolvedName = new org.apache.hadoop.fs.Path(resolved).getName
      val now = System.currentTimeMillis()
      fs.listStatus(parent).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(prefix) &&
            st.getPath.getName != resolvedName &&
            now - st.getModificationTime > ReapAgeMs)
          fs.delete(st.getPath, true)
      }
    } catch { case _: java.io.IOException => () }

  /** Drop the memo map (test isolation). Safe because stage paths are
    * content-keyed: rebuilt inputs produce new paths, so clearing the
    * map never resurrects stale data — files are left for the temp-dir
    * reaper (or a [[reapUnreferenced]] pass on a persistent root). */
  def reset(): Unit = done.clear()

  /** The stages this JVM has resolved since the last [[reset]], by
    * stage name — the WarmSpec completeness guard diffs the names across
    * "warm, then construct every declared plan" to catch a stage
    * accessor that was added without a [[Warm.stages]] entry (its build
    * cost would silently land on the first bench consumer instead of
    * `stages_sec`), and Profile reports their manifests. */
  private[graft] def resolved: Seq[Published] =
    done.values().asScala.toSeq.sortBy(p => (p.stage, p.path))

  private[graft] def resolvedStageNames: Set[String] = resolved.map(_.stage).toSet

  /** Published stage UNITS (`<stage>-<contenthash>` pointer basenames)
    * this JVM currently references — the live set for
    * [[reapUnreferenced]]. Derived from the memoized attempt paths by
    * stripping the `-attempt-<uuid>` suffix. A caller building a GC
    * pass first warms every stage it serves ([[graft.Warm.stages]]),
    * then hands this set to the reaper — anything published under the
    * root that no current definition resolves to is a superseded code
    * version's leftover. */
  def liveStageUnits: Set[String] =
    resolved.map { p =>
      val name = new Path(p.path).getName
      val cut = name.lastIndexOf("-attempt-")
      if (cut >= 0) name.substring(0, cut) else name
    }.toSet

  /** Garbage-collect published stage units under `root` that are (a)
    * NOT in `liveUnits` and (b) older than `minAgeDays` — the
    * lifecycle policy for a long-lived persistent root, where stage
    * paths from superseded code versions or regenerated corpora
    * otherwise accumulate without bound (paths are content-keyed, so
    * stale entries simply go unreferenced rather than being
    * overwritten). For each dead unit the POINTER is deleted first —
    * no new reader can resolve a half-deleted unit; by protocol a
    * pointerless attempt dir is already invisible — then every
    * `<unit>-attempt-*` directory. Age is the NEWEST mtime across the
    * unit's pointer and attempts, and the horizon should dwarf any
    * running job's lifetime (default mirrors [[ReapAgeMs]]'s
    * leak-over-break bias): a reader that resolved the pointer before
    * the reap and is still mid-scan is the one race this cannot see,
    * and the age gate is what makes it implausible. A second pass
    * collects POINTERLESS orphan attempt directories — debris from a
    * publish that crashed before its pointer write, or from a prior
    * reaper that deleted the pointer then died mid-attempt-delete;
    * such attempts are invisible by protocol so only the age gate
    * (a publish older than the horizon is dead, not slow) guards an
    * in-flight publisher. Both passes work off one upfront listStatus
    * snapshot: an attempt created between listing and deletion simply
    * survives until a later pass. Best-effort per unit (a concurrent
    * reaper may have raced us); returns the reaped unit names, with
    * orphan attempts reported by their full directory name.
    *
    * Operational entry point: [[graft.StageGc]] (a main) warms every
    * declared stage, resolves [[liveStageUnits]], and runs this with a
    * `--dry-run` mode — suitable for a cron on a persistent root. */
  /** Effective age of a reap candidate directory: the newest mtime
    * ANYWHERE under it, not just its direct children — on HDFS/S3A
    * (and local FS) a nested file write bumps only its IMMEDIATE
    * parent, and Spark writes part files two levels down under
    * `_temporary/<jobAttempt>/<taskAttempt>/`, so a long in-flight
    * publish can look horizon-old at both the top and direct-child
    * levels while its part files are seconds fresh — the deep walk
    * sees those part files directly. (Deliberately NOT "skip if a
    * `_temporary` child exists": a publisher that crashed without the
    * committer's abort leaves `_temporary` behind forever, and an
    * unconditional skip would turn that debris immortal; under the
    * mtime rule it ages out like everything else.) Max over the dir
    * mtime + every FILE at any depth (listFiles recursive) + every
    * DIRECT child (covers empty subdirs' own mtimes). Walks run only
    * for already-horizon-old candidates; unlistable dirs are treated
    * as fresh (leak over break). */
  private def newestUnder(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Long =
    try {
      var mx = st.getModificationTime
      fs.listStatus(st.getPath)
        .foreach(c => mx = math.max(mx, c.getModificationTime))
      val it = fs.listFiles(st.getPath, true)
      while (it.hasNext) mx = math.max(mx, it.next().getModificationTime)
      mx
    } catch { case _: java.io.IOException => Long.MaxValue }

  def reapUnreferenced(s: SparkSession, root: String,
      liveUnits: Set[String], minAgeDays: Int = 7,
      dryRun: Boolean = false): Seq[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Seq.empty
    val entries = fs.listStatus(rootPath)
    val horizon =
      System.currentTimeMillis() - minAgeDays.toLong * 24 * 3600 * 1000
    val reaped = Seq.newBuilder[String]
    val ptrUnits = entries.iterator
      .filter(st => !st.isDirectory && st.getPath.getName.endsWith(".ptr"))
      .map(_.getPath.getName.dropRight(4)).toSet
    entries.iterator
      .filter(st => !st.isDirectory && st.getPath.getName.endsWith(".ptr"))
      .foreach { ptrSt =>
        val unit = ptrSt.getPath.getName.dropRight(4)
        if (!liveUnits.contains(unit)) {
          val attempts = entries.filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(s"$unit-attempt-"))
          // deep age, not just top-level mtimes: an in-flight publish
          // into a NEW attempt of a stale unit is only visible in the
          // attempt's nested _temporary tree (see newestUnder)
          val newest = (ptrSt.getModificationTime +:
            attempts.map(a => newestUnder(fs, a)).toSeq).max
          if (newest <= horizon) {
            try {
              if (!dryRun) {
                fs.delete(ptrSt.getPath, false)
                attempts.foreach(a => fs.delete(a.getPath, true))
              }
              reaped += unit
            } catch { case _: java.io.IOException => () }
          }
        }
      }
    // orphan pass: attempts whose unit has no pointer in the snapshot
    entries.iterator
      .filter { st =>
        st.isDirectory && st.getPath.getName.contains("-attempt-")
      }
      .foreach { st =>
        val name = st.getPath.getName
        val unit = name.substring(0, name.lastIndexOf("-attempt-"))
        if (!ptrUnits.contains(unit) && !liveUnits.contains(unit) &&
            st.getModificationTime <= horizon) {
          val newest = newestUnder(fs, st)
          if (newest <= horizon) {
            try {
              if (!dryRun) fs.delete(st.getPath, true)
              reaped += name
            } catch { case _: java.io.IOException => () }
          }
        }
      }
    reaped.result()
  }
}
