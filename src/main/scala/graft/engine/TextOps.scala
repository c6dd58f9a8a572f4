package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.LongType

/** Text-analysis and deduplication operators for large-scale training-data
  * pipelines (SURVEY.md §2D + the driver's north star): tokenization,
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting, exact dedup, MinHash+LSH, SimHash, and n-gram Jaccard
  * verification.
  *
  * Scale notes (the 100 TB discipline):
  *  - nothing here is O(n²) over documents — candidate pairs come only
  *    from LSH band buckets (equi-join on the band signature), never from
  *    a pairwise compare;
  *  - every aggregation is a doc_id-keyed hash agg with map-side partial
  *    aggregation; explodes fan out linearly in corpus token count;
  *  - the hash family is pluggable ([[PortableHash]] docs): MD5-derived
  *    for oracle parity, `xxhash64` for production throughput.
  */
object TextOps {
  import PortableHash.{h28, fast28, minhashJ, P}

  // Spark's slf4j binding — warnings land in the same log stream as
  // executor/driver logs instead of a bare System.err line
  private lazy val logger = org.slf4j.LoggerFactory.getLogger("graft.dedup")

  val NumHashes = 12
  val Bands = 4 // 4 bands × 3 rows

  /** Canonical corpus: ONE row per non-null doc_id — the ingest-dedup
    * contract every doc-pipeline query reads through (DuckDB mirror:
    * [[Registry0.DocsCte]], injected into every oracle that touches the
    * documents table). Raw corpora can carry replayed rows and id
    * collisions; queries keyed by doc_id (signatures, windows ordered
    * by doc_id, pair graphs) are ill-defined on them, and the two
    * engines resolve the ambiguity differently — the round-5 fuzz
    * showed 18 of 131 queries diverging on duplicate-id data. The
    * survivor is the row minimizing md5 over the sentinel-delimited
    * field tuple: arbitrary but deterministic, bit-identical across
    * engines, and tie-safe (equal keys ⇒ identical rows).
    *
    * Scale: one corpus shuffle keyed by doc_id with map-side partial
    * min_by — the same pass a production ingest runs once and
    * checkpoints. It IS checkpointed (Stages.materialize, like every
    * shared stage): the first consumer pays the one shuffle and writes
    * canonical parquet; every other query — and every later JVM on the
    * persistent stage root — scans that parquet with full column
    * pruning and filter pushdown, exactly as it scanned the raw corpus
    * before. Without the checkpoint, all ~70 documents-reading queries
    * would each re-shuffle full rows (text included) and lose scan
    * pruning through the aggregate. */
  def corpus(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "corpus", d)(corpusOf(s, d))

  /** The canonicalization pass behind [[corpus]], un-checkpointed. */
  private def corpusOf(s: SparkSession, d: String): DataFrame = {
    // \u0001 delimiter / \u0002 null sentinel (coalesce BEFORE
    // concat_ws: both engines' concat_ws SKIPS nulls, which would merge
    // distinct field tuples); mirrored by chr(1)/chr(2) in DocsCte
    val nul = lit("\u0002")
    val key = md5(concat_ws("\u0001",
      coalesce(col("text"), nul), coalesce(col("source"), nul),
      coalesce(col("lang"), nul),
      coalesce(col("n_chars").cast("string"), nul)))
    Sources.documents(s, d)
      .filter(col("doc_id").isNotNull)
      .groupBy(col("doc_id"))
      // text := coalesce(text, ''): downstream, Spark's array ops keep
      // a null-text row (null arrays) while SQL unnest drops it — every
      // consumer would need its own null-text rule. The canonical
      // corpus instead normalizes absent text to empty (same "no
      // content" meaning) so both engines walk identical rows.
      .agg(min_by(struct(coalesce(col("text"), lit("")).as("text"),
        col("lang"), col("source"), col("n_chars")), key).as("r"))
      .select(col("doc_id"), col("r.text").as("text"),
        col("r.lang").as("lang"), col("r.source").as("source"),
        col("r.n_chars").as("n_chars"))
  }

  def tokens(text: Column): Column = split(text, " ")

  /** 3-token shingles in document order (empty for docs under 3 tokens).
    *
    * Duplicates are NOT removed — `array_distinct` measured ~4× the cost
    * of the whole rest of the minhash pipeline at sf0.1, and the
    * consumers tolerate it in two different ways: MinHash `min` and
    * `array_intersect`/`array_union` are duplicate-INSENSITIVE, while
    * [[simhashShingles]] is occurrence-WEIGHTED by design (each repeat
    * of a shingle contributes another ±1 to every bit sum) and its
    * DuckDB twin (`simhashShingleCtes`) deliberately mirrors the
    * non-distinct construction. A new consumer that needs true set
    * semantics must dedup at its own boundary.
    * Built from two `zip_with`s over `slice`s (vectorized over the
    * already-split token array) rather than `transform(sequence(...))`
    * with per-element `element_at`, which benched ~5× slower. */
  def shingles3(toks: Column): Column = {
    val m = greatest(size(toks) - 2, lit(0))
    zip_with(
      zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
        (a, b) => concat(a, lit(" "), b)),
      slice(toks, lit(3), m),
      (ab, c) => concat(ab, lit(" "), c))
  }

  /** Struct-array twin of [[shingles2]] whose explode stays codegen'd:
    * `explode(zipGrams2(t))` then [[gram2]] on the struct computes
    * exactly `explode(shingles2(t))` — same strings, same multiset —
    * but ~4× faster cold and ~40% faster steady (measured at sf0.1):
    * zip_with's concat lambda is interpreted per array element, while
    * arrays_zip/slice and a post-explode concat all participate in
    * whole-stage codegen. Use this pair wherever the grams are exploded
    * immediately; array-form consumers (the per-row [[runStats]] folds)
    * keep [[shingles2]]. */
  def zipGrams2(toks: Column): Column = {
    val m = greatest(size(toks) - 1, lit(0))
    arrays_zip(slice(toks, lit(1), m), slice(toks, lit(2), m))
  }

  /** Re-joins a [[zipGrams2]] struct to the bigram string (post-explode,
    * codegen'd). */
  def gram2(p: Column): Column =
    concat(p.getField("0"), lit(" "), p.getField("1"))

  /** [[zipGrams2]]'s trigram sibling — the explode-side twin of
    * [[shingles3]]. */
  def zipGrams3(toks: Column): Column = {
    val m = greatest(size(toks) - 2, lit(0))
    arrays_zip(slice(toks, lit(1), m), slice(toks, lit(2), m),
      slice(toks, lit(3), m))
  }

  /** Re-joins a [[zipGrams3]] struct to the trigram string. */
  def gram3(p: Column): Column =
    concat(p.getField("0"), lit(" "), p.getField("1"),
      lit(" "), p.getField("2"))

  /** doc_id → its shingle array — NOT distinct ([[shingles3]]'s doc):
    * occurrence-weighted by construction; consumers are either
    * duplicate-insensitive (min, array_intersect/union) or deliberately
    * occurrence-weighted with a matching oracle (shingle simhash). A
    * set-semantic consumer must dedup at its own boundary.
    * The token array is materialized
    * in its own projection first: splicing `split(text)` into the shingle
    * lambda would re-split the text for every element_at call — O(tokens²)
    * per document (observed 4× slowdown at sf0.1). CollapseProject keeps
    * the two projections separate because the alias is non-cheap and
    * multiply-referenced. */
  def shingleSets(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    docs.select(keep :+ tokens(col("text")).as("toks"): _*)
      .select(keep :+ shingles3(col("toks")).as("s"): _*)
  }

  /** Add MinHash signature columns h0..h11 to any frame carrying an
    * `hx` shingle-hash-array column — the SINGLE definition of the
    * signature construction (batch, shared-stage and streaming paths
    * all route here). Stateless per row: 12 `array_min`s over
    * `transform`s of the stored hashes — zero shuffle, no state, so the
    * same expressions work on a streaming frame. An empty/null `hx`
    * yields null signature columns; callers choose to filter (batch
    * signature tables) or keep (streaming pass-through of sub-3-token
    * docs). */
  def withSignatureFromHx(df: DataFrame): DataFrame =
    (0 until NumHashes).foldLeft(df) { (d, j) =>
      d.withColumn(s"h$j",
        array_min(transform(col("hx"), x => minhashJ(x, j))))
    }

  /** MinHash signature (doc_id, h0..h11) from a shingle-set table —
    * computed STATELESSLY per row via [[withSignatureFromHx]]. Zero
    * shuffle — the signature is a pure map over the corpus scan, where
    * the explode + doc_id groupBy formulation it replaces shuffled
    * every shingle hash (values identical: same minima over the same
    * multiset). Docs with no shingles (< 3 tokens) drop out, matching
    * the explode semantics. The hash array is materialized in its own
    * projection first — a spliced `transform(h28(...))` would re-hash
    * per array_min ([[shingleSets]]'s lesson). */
  def minhashSignatureFromSets(sets: DataFrame,
      hash: Column => Column = fast28): DataFrame = {
    val hx = sets.filter(size(col("s")) > 0)
      .select(col("doc_id"), transform(col("s"), sh => hash(sh)).as("hx"))
    stampFamily(withSignatureFromHx(hx)
      .select(col("doc_id") +: (0 until NumHashes).map(j => col(s"h$j")): _*),
      PortableHash.familyFingerprint(sets.sparkSession, hash))
  }

  /** Schema-metadata key carrying a signature table's hash-family
    * fingerprint ([[PortableHash.familyFingerprint]]). Field metadata
    * survives the parquet round-trip through [[Stages]], so a staged
    * corpus index keeps its stamp across JVMs — which is what lets
    * [[dedupIncremental]] reject a mismatched `hash` argument
    * structurally instead of by scaladoc caveat. */
  val FamilyStampKey = "graft.hash_family_fp"

  /** Stamp `h0` with the family fingerprint (the signature columns are
    * the values a family mismatch corrupts). */
  private def stampFamily(sig: DataFrame, fp: String): DataFrame =
    sig.withColumn("h0", col("h0").as("h0",
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString(FamilyStampKey, fp).build()))

  /** The stamped family fingerprint of a signature frame, if present. */
  private def stampedFamily(sig: DataFrame): Option[String] =
    sig.schema.fields.find(_.name == "h0")
      .filter(_.metadata.contains(FamilyStampKey))
      .map(_.metadata.getString(FamilyStampKey))

  /** Shared family-mismatch guard for every consumer that pairs a
    * `hash` argument with a prebuilt signature frame (the batch
    * [[dedupIncremental]] AND the streaming twin,
    * [[graft.streaming.StreamOps.dedupStreamAgainstCorpus]]): a
    * stamped `corpusSig` whose family differs from `hash` throws;
    * only a hand-built, unstamped frame skips the check — and since
    * that unguarded path still carries the silent-no-op trap (a
    * mismatched family never band-collides), pairing an unstamped
    * frame with a NON-DEFAULT `hash` logs a one-line warning so the
    * skipped check is at least visible. */
  private[graft] def requireFamilyMatch(corpusSig: DataFrame,
      hash: Column => Column): Unit =
    stampedFamily(corpusSig) match {
      case Some(fp) =>
        val argFp =
          PortableHash.familyFingerprint(corpusSig.sparkSession, hash)
        require(fp == argFp,
          s"hash-family mismatch: corpusSig is stamped with family " +
            s"fingerprint [$fp] but the `hash` argument computes [$argFp]. " +
            "Mismatched families never band-collide, so dedup would " +
            "silently drop nothing — pass the family the corpus index was " +
            "built with (PortableHash.h28 for the staged oracle tables, " +
            "fast28 for the library default).")
      case None =>
        // canonical-tree comparison first — free, no Spark job, and
        // the common default-`hash` call is decided right here. Only
        // a DIFFERENT tree falls back to the behavioral fingerprint
        // (memoized: at most one tiny job per family per JVM), so an
        // equivalent reformulation of the default family still avoids
        // a spurious warning.
        val probe = lit("graft:family:probe:0")
        lazy val s = corpusSig.sparkSession
        if (hash(probe).toString != fast28(probe).toString &&
            PortableHash.familyFingerprint(s, hash) !=
              PortableHash.familyFingerprint(s, fast28)) {
          logger.warn("corpusSig carries no hash-family " +
            "stamp but a non-default `hash` was passed — the family " +
            "match CANNOT be verified. If the frame was built with a " +
            "different family, dedup will silently drop nothing; " +
            "rebuild the index via minhashSignature (which stamps it) " +
            "to make this check structural.")
        }
    }

  /** MinHash signature straight from documents. `hash` selects the
    * family: [[PortableHash.fast28]] (xxhash64, production throughput —
    * the library default) or [[PortableHash.h28]] (MD5-derived, used by
    * the oracle-checked staged tables, [[sharedShingleSets]]). Tables
    * built with different families never band-collide — keep one family
    * per corpus index and everything derived from it. */
  def minhashSignature(docs: DataFrame,
      hash: Column => Column = fast28): DataFrame =
    minhashSignatureFromSets(shingleSets(docs), hash)

  /** LSH band rows: (doc_id, band, sig) — docs sharing a (band, sig)
    * bucket are near-dup candidates. ONE explode over the signature
    * frame, not a union of [[Bands]] selects: a union duplicates the
    * whole upstream subtree per band, so every consumer (and worse,
    * the candidate self-join, which squares it) would re-run the
    * signature pipeline [[Bands]]× — q_dedup_incr's pre-fix plan
    * scanned the corpus 16 times. Same rows either way. */
  def minhashBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array((0 until Bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws("_", col(s"h${3 * b}"), col(s"h${3 * b + 1}"),
            col(s"h${3 * b + 2}")).as("sig"))
      }: _*)).as("z"))
      .select(col("doc_id"), col("z").getField("band").as("band"),
        col("z").getField("sig").as("sig"))

  /** Candidate pairs (a < b) from LSH banding — the scale path: an
    * equi-join on (band, sig), never a cross join. */
  def candidatePairs(sig: DataFrame): DataFrame = {
    val bands = minhashBands(sig)
    val x = bands.alias("x")
    val y = bands.alias("y")
    x.join(y, col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Exact n-gram Jaccard verification of LSH candidates, from
    * already-built shingle-set and signature tables. */
  def jaccardPairsFrom(sets: DataFrame, sig: DataFrame,
      threshold: Double): DataFrame =
    candidatePairs(sig)
      .join(sets.select(col("doc_id").as("a"), col("s").as("sa")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("s").as("sb")), Seq("b"))
      .withColumn("jacc",
        size(array_intersect(col("sa"), col("sb"))) /
          size(array_union(col("sa"), col("sb"))))
      .filter(col("jacc") >= threshold)
      .select(col("a"), col("b"), col("jacc"))

  /** Exact n-gram Jaccard verification of LSH candidates.
    *
    * The signature and shingle-set tables are persisted: both sides of
    * the band self-join (and the two candidate-set joins) would otherwise
    * recompute the full explode+hash pipeline — 8 scans instead of 1.
    * Both tables are O(docs), tiny next to the corpus, so at scale this
    * is a cache/checkpoint of the signature table — standard practice
    * (and what the declared queries do via [[Stages]]). The persisted
    * frames live until the caller clears them (`spark.catalog.
    * clearCache()` or unpersist) — repeated callers on a long-lived
    * session should prefer the [[Stages]]-backed query paths.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double,
      hash: Column => Column = fast28): DataFrame = {
    val sets = shingleSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = minhashSignatureFromSets(sets, hash)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    jaccardPairsFrom(sets, sig, threshold)
  }

  /** Incremental near-dup dedup: filter a NEW batch of documents against
    * an already-indexed corpus — the operation a training-data pipeline
    * runs when the next crawl batch arrives, and the reason the corpus
    * signature table is materialized ([[Stages]]) rather than rebuilt.
    *
    * A batch doc is dropped when it near-dups (exact shingle Jaccard ≥
    * `threshold`, candidates from LSH banding) either any corpus doc or
    * an earlier batch doc (smaller `doc_id`), regardless of whether that
    * earlier doc itself survives — the single-pass greedy semantics every
    * large-scale dedup uses; transitive cluster-level keep-one is the
    * batch [[dupClusters]] operator's job.
    *
    * Scale: only the batch is shingled fresh; the corpus contributes its
    * O(|docs|) signature and shingle-set tables. The candidate join
    * shuffles (band, sig) keys — batch bands against corpus bands — so
    * per-batch cost is O(batch + collisions), never O(corpus).
    *
    * `hash` MUST be the family `corpusSig` was built with (different
    * families never band-collide → silent no-op dedup): [[PortableHash.
    * fast28]] pairs with the [[minhashSignature]] library default;
    * pass [[PortableHash.h28]] when indexing against the oracle-staged
    * [[sharedSignature]] tables. ENFORCED structurally: every signature
    * frame the library builds carries its family fingerprint as schema
    * metadata (surviving the staged-parquet round-trip), and a stamped
    * `corpusSig` whose family differs from `hash` throws here instead
    * of silently returning the whole batch. Only a hand-built,
    * unstamped signature frame skips the check. */
  def dedupIncremental(newDocs: DataFrame, corpusSets: DataFrame,
      corpusSig: DataFrame, threshold: Double = 0.8,
      hash: Column => Column = fast28): DataFrame = {
    requireFamilyMatch(corpusSig, hash)
    // deliberately NOT persisted: the batch tables are re-derived by the
    // few joins below, but the batch is small by definition, and this
    // function's use case — one call per arriving batch on a long-lived
    // driver — would leak a pinned cache entry per call (CacheManager
    // never auto-drops plans).
    val bSets = shingleSets(newDocs)
    val bSig = minhashSignatureFromSets(bSets, hash)
    dedupIncrementalFrom(newDocs, bSets, bSig, corpusSets, corpusSig,
      threshold)
  }

  /** [[dedupIncremental]] with the batch's shingle-set and signature
    * tables supplied by the caller — the entry point when the batch is a
    * slice of an already-indexed corpus (the declared [[dedupIncrQuery]]:
    * its "arriving batch" is carved out of the same corpus whose staged
    * [[sharedShingleSets]]/[[sharedSignature]] parquet already hold both
    * tables, so re-deriving them from raw text would tokenize+shingle+
    * hash the batch once per consumer subtree — the pre-r15 plan ran the
    * full split/zip_with/md5 pipeline inside THREE separate scans).
    * `batchSets`/`batchSig` must be the [[shingleSets]]/
    * [[minhashSignatureFromSets]] frames of exactly `newDocs`'s rows,
    * same hash family as `corpusSig` — enforced via the signature
    * family stamps when both frames carry one. */
  def dedupIncrementalFrom(newDocs: DataFrame, batchSets: DataFrame,
      batchSig: DataFrame, corpusSets: DataFrame, corpusSig: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    for (bf <- stampedFamily(batchSig); cf <- stampedFamily(corpusSig))
      require(bf == cf, s"hash-family mismatch: batchSig is stamped " +
        s"[$bf] but corpusSig is stamped [$cf] — mismatched families " +
        "never band-collide, so dedup would silently drop nothing.")
    val bSets = batchSets
    val bSig = batchSig
    val bBands = minhashBands(bSig)
    val cBands = minhashBands(corpusSig)
    // batch vs corpus: any band collision, verified by exact Jaccard
    val vsCorpus = bBands.alias("x")
      .join(cBands.alias("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
      .join(bSets.select(col("doc_id").as("a"), col("s").as("sa")), Seq("a"))
      .join(corpusSets.select(col("doc_id").as("b"), col("s").as("sb")), Seq("b"))
      .filter(size(array_intersect(col("sa"), col("sb"))) /
        size(array_union(col("sa"), col("sb"))) >= threshold)
      .select(col("a").as("doc_id"))
    // batch vs earlier batch doc: standard keep-first pair drop
    val inBatch = jaccardPairsFrom(bSets, bSig, threshold)
      .select(col("b").as("doc_id"))
    newDocs.join(vsCorpus.unionByName(inBatch).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** [[dedupIncremental]] as a declared, oracle-checked query: every
    * 5th doc_id plays the arriving batch, the rest the already-indexed
    * corpus (whose signature and shingle-set tables come straight off
    * the [[Stages]]-materialized [[sharedSignature]] /
    * [[sharedShingleSets]] parquet — the exact production layout the
    * operator is built for). Returns the surviving batch docs.
    *
    * Uses [[PortableHash.h28]] (the staged tables' family — a mismatch
    * would throw on the stage's fingerprint stamp, see
    * [[dedupIncremental]]). The
    * oracle derives the same answer from the full-corpus candidate/
    * Jaccard pair table: a batch doc is dropped iff it has a ≥-threshold
    * pair with ANY smaller doc_id (corpus or earlier batch — both drop
    * it) or with a LARGER corpus doc_id (corpus comparison is
    * symmetric; a larger batch partner is the one dropped instead). */
  def dedupIncrQuery(s: SparkSession, d: String): DataFrame = {
    val isBatch = col("doc_id") % 5 === 0
    val batch = corpus(s, d).filter(isBatch)
    // Both the batch's and the corpus's index tables are row slices of
    // the SAME staged parquet ([[sharedShingleSets]]/[[sharedSignature]]
    // are built over the whole corpus; shingling and the signature are
    // pure per-row functions of `text`, so filtering commutes with
    // building them) — so the batch side reads the stage too instead of
    // re-running tokenize→shingle→h28→minhash on raw text inside every
    // consumer subtree. Plan effect at sf0.1: the three split/zip_with/
    // md5 scan pipelines collapse to columnar rescans of the stage.
    val sets = sharedShingleSets(s, d)
    val sig = sharedSignature(s, d)
    val cSets = sets.filter(!isBatch).select(col("doc_id"), col("s"))
    val cSig = sig.filter(col("doc_id") % 5 =!= 0)
    val bSets = sets.filter(isBatch).select(col("doc_id"), col("s"))
    val bSig = sig.filter(isBatch)
    dedupIncrementalFrom(batch, bSets, bSig, cSets, cSig, NearDupJaccard)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  // ---- shared materialized stages ------------------------------------
  // The five LSH/dedup queries share the split→shingle→hash prefix; each
  // stage below is parquet-materialized once per JVM ([[Stages]]) so the
  // prefix is computed once per corpus, not once per query — the 100 TB
  // shape: a signature table checkpointed beside the corpus, consumed by
  // every downstream dedup pass. Values are identical to the unshared
  // pipeline (the stage is the same deterministic frame).

  /** doc_id → 3-token shingle array + its h28 hash array (+ `source`,
    * carried through so the sketch queries group without re-reading the
    * corpus), materialized once per corpus. Storing `hx` beside `s`
    * means the whole dedup family hashes each shingle exactly once per
    * corpus: the signature, simhash and sketch consumers read stored
    * hashes instead of re-running md5 over every shingle. */
  def sharedShingleSets(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "shingle_sets", d)(
      shingleSets(corpus(s, d), carry = Seq("source"))
        .withColumn("hx", transform(col("s"), sh => h28(sh))))

  /** MinHash signature table from the materialized shingle sets —
    * [[withSignatureFromHx]] over the STORED hash array. */
  def sharedSignature(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "minhash_sig", d) {
      // stamped INSIDE the materialize block so the family fingerprint
      // is written into (and read back from) the staged parquet —
      // sharedShingleSets stores h28 hashes, so the stage is h28-family
      stampFamily(
        withSignatureFromHx(sharedShingleSets(s, d).filter(size(col("s")) > 0))
          .select(col("doc_id") +: (0 until NumHashes).map(j => col(s"h$j")): _*),
        PortableHash.familyFingerprint(s, h28))
    }

  /** LSH candidate pairs `(a, b, n_eq, jacc)` — signature agreement
    * count and exact n-gram Jaccard for every banding candidate; the
    * common start of q_dedup_ngram, q_minhash_est and q_dup_clusters.
    * Parquet-backed, so the band self-join and the four set/signature
    * joins read O(docs) files instead of re-running the corpus scan. */
  def sharedCandPairs(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "cand_pairs", d) {
      val sets = sharedShingleSets(s, d)
      val sig = sharedSignature(s, d)
      val sa = sig.toDF(sig.columns.toIndexedSeq.map {
        case "doc_id" => "a"; case c => s"${c}a" }: _*)
      val sb = sig.toDF(sig.columns.toIndexedSeq.map {
        case "doc_id" => "b"; case c => s"${c}b" }: _*)
      val nEq = (0 until NumHashes)
        .map(j => when(col(s"h${j}a") === col(s"h${j}b"), 1L).otherwise(0L))
        .reduce(_ + _)
      candidatePairs(sig)
        .join(sa, Seq("a")).join(sb, Seq("b"))
        .withColumn("n_eq", nEq)
        .join(sets.select(col("doc_id").as("a"), col("s").as("ssa")), Seq("a"))
        .join(sets.select(col("doc_id").as("b"), col("s").as("ssb")), Seq("b"))
        .select(col("a"), col("b"), col("n_eq"),
          (size(array_intersect(col("ssa"), col("ssb"))).cast("double") /
            size(array_union(col("ssa"), col("ssb")))).as("jacc"))
    }

  /** Size of the fixed benchmark set for the contamination check — a
    * CONSTANT (the first [[BenchmarkDocs]] doc_ids stand in for a held-
    * out eval suite), deliberately not a corpus fraction: the benchmark
    * n-gram set must stay broadcast-sized however big the corpus grows
    * (the [[Similarity.NumQueries]] discipline). */
  val BenchmarkDocs = 64L

  /** Benchmark-contamination check: for every corpus document, how many
    * of its distinct shingle hashes also occur in the benchmark set —
    * the n-gram-overlap decontamination pass every training-data
    * pipeline runs against its eval suites before training.
    *
    * Scale: the benchmark's distinct-hash table is benchmark-sized and
    * broadcast, so the corpus side is ONE map-side semi join per
    * exploded shingle (the distributed form of "bloom filter of
    * benchmark n-grams"), followed by a doc_id-keyed count of HITS only;
    * per-doc totals come from `array_distinct` on the stored hash array
    * — no corpus-wide shuffle anywhere. Distinctness is taken over the
    * 28-bit HASHES on both engines (the oracle mirrors this), so an
    * in-document hash collision cannot split the engines. */
  def contamination(s: SparkSession, d: String): DataFrame = {
    val sets = sharedShingleSets(s, d).filter(size(col("s")) > 0)
    val bm = sets.filter(col("doc_id") < BenchmarkDocs)
      .select(explode(col("hx")).as("x")).distinct()
      .withColumn("hit", lit(1L))
    // ONE corpus-side pass: carry the per-doc distinct-hash count through
    // the explode as a grouping key, mark hits with a broadcast LEFT join
    // (not semi — zero-hit docs must survive to the report), and count in
    // the same O(docs) aggregation. The previous shape scanned the stage
    // a second time for per-doc totals and joined the two back together.
    sets.filter(col("doc_id") >= BenchmarkDocs)
      .select(col("doc_id"), array_distinct(col("hx")).as("xd"))
      .select(col("doc_id"), size(col("xd")).cast("long").as("n_sh"),
        explode(col("xd")).as("x"))
      .join(broadcast(bm), Seq("x"), "left")
      .groupBy("doc_id", "n_sh")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("hit_frac", col("n_hit").cast("double") / col("n_sh"))
      .withColumn("flag",
        when(col("n_hit") > 0, lit("contaminated")).otherwise(lit("clean")))
      .select("doc_id", "n_sh", "n_hit", "hit_frac", "flag")
      .orderBy("doc_id")
  }

  /** 28-bit simhash of a feature-hash ARRAY column: bit b of the
    * signature is set iff bit b is 1 in the majority of feature hashes
    * — popcount form, sum((x>>b)&1) with bit set iff 2·S_b > n
    * (equivalent to the signed ±1 formulation: the ±1 sum is 2·S_b − n).
    *
    * Computed STATELESSLY per row as 28 `aggregate` folds over the
    * array. The explode + doc_id groupBy it replaces shuffled one row
    * per feature across the corpus; this form is a pure map over the
    * corpus scan — zero shuffle, stream-safe, and measured faster even
    * at sf0.1 (identical values: same majority over the same multiset).
    * An empty array yields signature 0 — callers that must drop
    * feature-less docs filter before calling. */
  def simhashOfHashes(hx: Column): Column = {
    val n = size(hx)
    (0 until 28).map { b =>
      val s = aggregate(hx, lit(0L),
        (acc, x) => acc + shiftright(x, b).bitwiseAND(1L))
      when(s * 2 > n, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SimHash over distinct unigram tokens. */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        transform(array_distinct(tokens(col("text"))), t => h28(t)).as("ux"))
      .select(col("doc_id"), simhashOfHashes(col("ux")).as("simhash"))

  /** SimHash over 3-token shingles — far more discriminative than
    * unigrams when documents share a vocabulary (measured on the test
    * corpus: unigram signatures collapse — ~half of all pairs within
    * hamming 6 — while shingle signatures separate planted near-dups
    * (≤4 bits) from background (≥6 bits)). Occurrence-weighted (the
    * shingle array is non-distinct, [[shingles3]]'s doc). Docs with no
    * shingles are dropped, matching the explode+groupBy semantics this
    * replaces. */
  def simhashShingles(docs: DataFrame): DataFrame =
    shingleSets(docs).filter(size(col("s")) > 0)
      .select(col("doc_id"), transform(col("s"), sh => h28(sh)).as("hx"))
      .select(col("doc_id"), simhashOfHashes(col("hx")).as("simhash"))

  /** Rolling-weight document fingerprint: Σ h28(tok_i)·w(i mod 16) mod P,
    * w(k) = (1103515245·k + 12345) mod P. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("x", h28(col("tok")))
      .withColumn("w", (lit(1103515245L) * (col("pos") % 16) + lit(12345L)) % lit(P))
      .groupBy(col("doc_id"))
      .agg((sum((col("x") * col("w")) % lit(P)) % lit(P)).as("fp"))

  // ---- declared queries ----------------------------------------------

  // Reads the staged (doc_id, tok, lc) table instead of re-exploding
  // raw text: total occurrences = Σ lc and doc frequency = the stage's
  // row count per tok (stage keys are distinct (doc_id, tok), so
  // count(1) IS countDistinct(doc_id)) — integer-identical, one
  // columnar rescan instead of a corpus tokenize, and the shuffle
  // carries per-(doc,tok) partials instead of raw token occurrences.
  def textTokens(s: SparkSession, d: String): DataFrame =
    sharedDocToks(s, d)
      .groupBy(col("tok"))
      .agg(sum(col("lc")).as("c"), count(lit(1)).as("n_docs"))
      .orderBy(col("c").desc, col("tok"))

  def tokenCount(s: SparkSession, d: String): DataFrame =
    corpus(s, d).select(
      col("doc_id"),
      size(tokens(col("text"))).cast(LongType).as("n_ws"),
      regexp_count(col("text"), lit("[a-z]+")).cast(LongType).as("n_alpha"),
      regexp_count(col("text"), lit("[a-z]{1,4}")).cast(LongType).as("n_bpe"),
      col("n_chars"))
      .orderBy("doc_id")

  def docStats(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("source", "lang")

  private val StopWords = Seq("the", "a", "of", "and", "in")

  /** Language-ID heuristic: stopword-ratio classifier (labels in the
    * synthetic corpus are random, so this demonstrates the operator,
    * deterministically, rather than recovering the label). */
  def langId(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("tok").isin(StopWords: _*), 1).otherwise(0)).as("n_stop"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tok"))
      .withColumn("pred_lang",
        when(col("stop_ratio") >= 0.05, lit("en")).otherwise(lit("und")))
      .select("doc_id", "lang", "n_tok", "n_stop", "stop_ratio", "pred_lang")
      .orderBy("doc_id")

  /** Quality-grade thresholds — single-sourced into [[qualityScore]],
    * [[qualitySample]] and both generated oracles. */
  val QHighTok = 60L
  val QHighTtr = 0.55
  val QMidTok = 30L

  /** The grade column over (n_tok, n_uniq) — the ONE definition of the
    * high/mid/low quality strata. */
  def gradeCol(nTok: Column, nUniq: Column): Column =
    when(nTok >= QHighTok && nUniq.cast("double") / nTok >= QHighTtr,
      lit("high"))
      .when(nTok >= QMidTok, lit("mid"))
      .otherwise(lit("low"))

  /** DuckDB twin of [[gradeCol]]. */
  def duckGrade(nTok: String, nUniq: String): String =
    s"CASE WHEN $nTok >= $QHighTok AND CAST($nUniq AS DOUBLE)/$nTok " +
      s">= $QHighTtr THEN 'high' WHEN $nTok >= $QMidTok THEN 'mid' " +
      "ELSE 'low' END"

  // Stage-fed ([[sharedDocToks]]): n_tok = Σ lc, n_uniq = row count
  // (stage keys are distinct (doc_id, tok)), sum_len = Σ len(tok)·lc —
  // integer-identical to the explode form, minus the corpus tokenize
  // and the countDistinct's extra aggregation pass.
  def qualityScore(s: SparkSession, d: String): DataFrame =
    sharedDocToks(s, d)
      .groupBy(col("doc_id"))
      .agg(sum(col("lc")).as("n_tok"),
        count(lit(1)).as("n_uniq"),
        sum(length(col("tok")) * col("lc")).as("sum_len"))
      .withColumn("ttr", col("n_uniq").cast("double") / col("n_tok"))
      .withColumn("mean_tok_len", col("sum_len").cast("double") / col("n_tok"))
      .withColumn("grade", gradeCol(col("n_tok"), col("n_uniq")))
      .select("doc_id", "n_tok", "n_uniq", "ttr", "mean_tok_len", "grade")
      .orderBy("doc_id")

  def fingerprintQ(s: SparkSession, d: String): DataFrame =
    fingerprint(corpus(s, d)).orderBy("doc_id")

  /** Parts-per-million denominator for [[qualitySample]]. */
  val QsPpm = 1000000L

  /** Keep rates per quality grade (ppm) — high-quality text is kept
    * whole, mid down-weighted, low heavily down-weighted: the
    * quality-temperature mixing step of a pretraining data recipe.
    * Ordered for deterministic SQL generation. */
  val QsRates: Seq[(String, Long)] =
    Seq("high" -> 1000000L, "mid" -> 500000L, "low" -> 100000L)

  /** Quality-weighted (temperature) sampling report: grade each
    * document with [[qualityScore]]'s thresholds, keep it iff
    * `h28('qs_'||doc_id) mod 10^6 < rate(grade)` — membership is a pure
    * hash of doc_id (reproducible, order-independent, stable under
    * corpus growth, the [[mixSample]] discipline applied to quality
    * strata), and report per grade the totals, the rate, and the kept
    * doc/token counts. The grade flags are per-row ([[runStats]] fold —
    * no explode, no join); the report is one 3-key agg. */
  /** Per-document quality flags + sampling decision — stateless per
    * row (the [[runStats]] fold), the shared front half of
    * [[qualitySample]] and the streaming at-ingest quality gate
    * (`StreamOps.qualityGateStream`). ADDS (n_tok, n_uniq, grade,
    * rate_ppm, keep) to the input columns — preserving the frame (text
    * included) is what lets the streaming gate stay a pure per-row
    * filter instead of a stateful re-join to recover the document. */
  def qualityFlags(docs: DataFrame): DataFrame = {
    // rate is a map LOOKUP, not a when-chain: a when-chain references
    // `grade` once per stratum, and under downstream column pruning
    // (qualitySample drops n_uniq) the runStats fold collapses into
    // `grade` as a single-reference column — the when-chain then pastes
    // the fold (and its array_sort) once per stratum into the merged
    // Project (measured 7.3 s for a 3-row report at sf0.1; 0.7 s
    // steady). element_at(map(...)) references grade exactly once, so
    // the fold is evaluated once per row wherever it lands.
    val rate = element_at(
      map(QsRates.flatMap { case (g, r) => Seq(lit(g), lit(r)) }: _*),
      col("grade"))
    docs
      .withColumn("__toks", tokens(col("text")))
      .withColumn("n_tok", size(col("__toks")).cast(LongType))
      .withColumn("n_uniq", runStats(col("__toks")).getField("uniq"))
      .drop("__toks")
      .withColumn("grade", gradeCol(col("n_tok"), col("n_uniq")))
      .withColumn("rate_ppm", rate)
      .withColumn("keep",
        h28(concat(lit("qs_"), col("doc_id"))) % QsPpm < col("rate_ppm"))
  }

  def qualitySample(s: SparkSession, d: String): DataFrame =
    // spreadSmall: the qualityFlags folds are per-row compute over a
    // one-split corpus scan at sub-cluster SFs (size-gated no-op at
    // scale; the grade aggregate after it is 4 rows either way)
    qualityFlags(Layout.spreadSmall(corpus(s, d), Seq(col("doc_id"))))
      .groupBy("grade")
      .agg(count(lit(1)).as("n_total"), first(col("rate_ppm")).as("rate_ppm"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("kept_tok"))
      .orderBy("grade")

  /** 2-token shingles in document order (empty for docs under 2 tokens)
    * — same vectorized zip_with-over-slices construction as
    * [[shingles3]], non-distinct (occurrence-weighted consumers). */
  def shingles2(toks: Column): Column = adjacentPairs(toks, " ")

  /** Adjacent-element pairs of an array column joined by `sep` — the
    * shared construction behind [[shingles2]] (token bigrams) and
    * [[bpeStep]] (character pairs, empty separator). */
  private def adjacentPairs(xs: Column, sep: String): Column = {
    val m = greatest(size(xs) - 1, lit(0))
    zip_with(slice(xs, lit(1), m), slice(xs, lit(2), m),
      (a, b) => if (sep.isEmpty) concat(a, b) else concat(a, lit(sep), b))
  }

  /** Per-document repetition signals — the Gopher-style quality filters
    * a curation pipeline applies before training: duplicate-token
    * fraction (1 − distinct/total) and top-bigram fraction (most
    * frequent 2-gram's share of all 2-grams). Highly repetitive
    * documents (boilerplate, keyword stuffing, generation loops) score
    * high on both. Every ratio is an exact integer quotient cast to
    * double — bit-deterministic cross-engine. Two doc_id-keyed hash
    * aggs with map-side partials; docs with a single token have no
    * bigrams and drop out (mirrored by the oracle's inner join). */
  /** (uniq, best) distinct-count and max-occurrence-run of an array,
    * computed per row in ONE fold over its sorted form — the shared
    * definition behind [[repetitionStats]] and [[filterFunnel]]'s
    * unigram and bigram stats. Replaces the explode → (doc_id, gram)
    * groupBy → doc_id groupBy formulation: values are identical (an
    * element's occurrence count is the length of its run once sorted),
    * but this is a pure map over the corpus scan — the corpus-wide
    * one-row-per-token shuffle disappears, the [[simhashOfHashes]]
    * discipline. The `uniq === 0` guard distinguishes the fold seed
    * from a genuine leading empty-string element. */
  private def runStats(arr: Column): Column =
    aggregate(array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit(0L).as("uniq")),
      (acc, x) => {
        val isNew = x =!= acc.getField("prev") || acc.getField("uniq") === 0L
        val run = when(isNew, lit(1L)).otherwise(acc.getField("run") + 1L)
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"),
          (acc.getField("uniq") +
            when(isNew, lit(1L)).otherwise(lit(0L))).as("uniq"))
      })

  def repetitionStats(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast(LongType))
      .withColumn("us", runStats(col("toks")))
      .withColumn("bgs", shingles2(col("toks")))
      .withColumn("n_big", size(col("bgs")).cast(LongType))
      // docs with a single token have no bigrams and drop out, matching
      // the previous inner join and the oracle's join
      .filter(col("n_big") > 0)
      .withColumn("bs", runStats(col("bgs")))
      .select(col("doc_id"), col("n_tok"),
        col("us.uniq").as("n_uniq"), col("us.best").as("max_tok"),
        col("n_big"), col("bs.best").as("max_big"))
      .withColumn("dup_frac",
        (col("n_tok") - col("n_uniq")).cast("double") / col("n_tok"))
      .withColumn("big_frac", col("max_big").cast("double") / col("n_big"))
      .withColumn("grade",
        when(col("big_frac") >= RepetitiveBigramFrac, lit("repetitive"))
          .otherwise(lit("ok")))
      .select("doc_id", "n_tok", "n_uniq", "max_tok", "n_big", "max_big",
        "dup_frac", "big_frac", "grade")
      .orderBy("doc_id")

  /** Top-bigram share at/above which a document is graded repetitive
    * (the corpus distribution at sf0.01 spans 0.011–0.167). */
  val RepetitiveBigramFrac = 0.08

  /** Exact dedup keep-first. The dedup key is md5(normalized text), not
    * the text itself: the window then partitions on a 128-bit digest, so
    * Catalyst prunes the text column *before* the exchange — at corpus
    * scale the shuffle carries 16-byte keys instead of the whole corpus.
    * (Same practice as every large-scale exact-dedup pipeline; a digest
    * collision is ~2^-64 and would only merge two docs' counts.) */
  def dedupExact(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("nk")).orderBy(col("doc_id"))
    corpus(s, d)
      .withColumn("nk", md5(lower(trim(col("text")))))
      .withColumn("rn", row_number().over(w))
      .withColumn("dup_cnt", count(lit(1)).over(Window.partitionBy(col("nk"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("dup_cnt"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Cross-source exact dedup with provenance priority: one surviving
    * document per normalized content key, preferring the most trusted
    * source (lowest numeric suffix — stand-in for the wiki > books >
    * crawl ranking a real pipeline uses) and breaking ties on doc_id
    * then source. Same scale shape as [[dedupExact]]: everything after
    * the scan carries (doc_id, source, 16-byte md5 digest, prio) — the
    * shuffle never moves document text.
    *
    * ONE aggregation, no window, no join: the survivor is a `min_by`
    * riding the same groupBy(nk) as the group stats, so Spark plans a
    * partial (map-side) aggregate — the round-4 formulation put
    * count + collect_set in an unbounded-frame window over the digest
    * partition, which re-buffered every group per row and benched 6×
    * slower driver-side. try_cast + coalesce sentinels: a malformed
    * 'srcN' suffix must lose the priority race (not null-poison the
    * min_by key), matching the oracle's ASC NULLS LAST. */
  def crossSourceDedup(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .withColumn("nk", md5(lower(trim(col("text")))))
      .withColumn("prio", expr("try_cast(substring(source, 4) AS int)"))
      .groupBy(col("nk"))
      .agg(
        min_by(struct(col("doc_id"), col("source")),
          struct(coalesce(col("prio"), lit(Int.MaxValue)),
            coalesce(col("doc_id"), lit(Long.MaxValue)),
            coalesce(col("source"), lit("")))).as("surv"),
        count(lit(1)).as("n_dups"),
        countDistinct(col("source")).as("n_sources"))
      .select(col("surv.doc_id").as("doc_id"),
        col("surv.source").as("source"), col("n_dups"), col("n_sources"))
      .orderBy("doc_id", "source", "n_dups", "n_sources")

  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    sharedSignature(s, d).orderBy("doc_id")

  /** Exact-Jaccard threshold above which an LSH candidate pair counts as
    * a near-duplicate — the SINGLE source for q_dedup_ngram,
    * q_dup_clusters and q_dedup_apply (Spark and oracle sides). */
  val NearDupJaccard = 0.8

  def dedupNgram(s: SparkSession, d: String): DataFrame =
    sharedCandPairs(s, d).filter(col("jacc") >= NearDupJaccard)
      .select("a", "b", "jacc").orderBy("a", "b")

  /** Source-pair near-dup leakage matrix: for every unordered source
    * pair, how many verified near-dup pairs cross it — the report that
    * tells a curation team which crawl feeds are re-serving each
    * other's content (and whether an eval source leaks into training).
    * Reads the materialized pair stage (O(pairs)), joins doc→source on
    * ids only; `least/greatest` canonicalize the pair so the matrix is
    * triangular. Same-source pairs count on the diagonal. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val pr = sharedCandPairs(s, d)
      .filter(col("jacc") >= NearDupJaccard).select("a", "b")
    val src = corpus(s, d).select(col("doc_id"), col("source"))
    pr.join(src.toDF("a", "sa"), Seq("a"))
      .join(src.toDF("b", "sb"), Seq("b"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** Connected components over the verified near-dup pairs — the shared
    * cluster assignment behind [[dupClusters]] and [[dedupApply]] (one
    * definition, so the cluster report and the materialized deduped
    * corpus can never disagree on membership). */
  // Parquet-staged ([[Stages]]): three declared queries (dup_clusters,
  // cluster_sizes, dedup_apply) consume the same deterministic label
  // frame, and each used to re-run the full iterative propagation loop
  // (joins + per-round convergence actions). Staging runs the loop once
  // per corpus — the "checkpoint the labels beside the pair table"
  // shape a real dedup pipeline uses — and the consumers become
  // columnar rescans. The loop's own per-round caches release via
  // clearCache/session end like every kernel-tier cache here.
  private[engine] def nearDupComponents(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "neardup_components", d)(
      Components.connectedComponents(
        sharedCandPairs(s, d).filter(col("jacc") >= NearDupJaccard)
          .select(col("a"), col("b"))))

  /** SimHash near-dup pairs: hamming(simhash_a, simhash_b) ≤ 3, with
    * candidates from band-LSH over the 28-bit shingle signature — 4
    * bands of 7 bits, so by pigeonhole any pair within distance 3 agrees
    * on at least one band and recall is EXACT while candidates come from
    * an equi-join on (band, bits), never a pairwise compare.
    * Verification is the codegen'd built-in bit_count(xor). */
  val NearBands = 4
  val NearBandBits = 7
  val NearMaxHamming: Int = NearBands - 1

  def simhashNearPairs(sh: DataFrame): DataFrame = {
    val mask = (1 << NearBandBits) - 1
    // one explode over the simhash frame (the minhashBands lesson: a
    // union of per-band selects duplicates the subtree per band, and
    // the self-join below squares it)
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until NearBands).map { b =>
          struct(lit(b).as("band"), shiftright(col("simhash"),
            NearBandBits * b).bitwiseAND(mask).as("bits"))
        }: _*)).as("z"))
      .select(col("doc_id"), col("simhash"),
        col("z").getField("band").as("band"),
        col("z").getField("bits").as("bits"))
    val x = bands.alias("x")
    val y = bands.alias("y")
    x.join(y, col("x.band") === col("y.band") &&
        col("x.bits") === col("y.bits") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .cast(LongType).as("ham"))
      .distinct()
      .filter(col("ham") <= NearMaxHamming)
  }

  /** Per-doc shingle simhash, staged — a pure map over the
    * [[sharedShingleSets]] scan (no explode, no shuffle). */
  def sharedSimhashShingle(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "simhash_shingle", d)(
      sharedShingleSets(s, d).filter(size(col("s")) > 0)
        .select(col("doc_id"), simhashOfHashes(col("hx")).as("simhash")))

  def simhashNear(s: SparkSession, d: String): DataFrame =
    // spreadSmall: the banded self-join probes ~N²/(bands·2^bits) pairs
    // from a stage scan measuring under ONE byte-sized split — at the
    // 10× SF the entire fanout ran on a single core (19.3 s steady,
    // worst query of the leg). Size-gated: a no-op once the stage
    // outgrows shuffle.partitions × maxPartitionBytes.
    simhashNearPairs(Layout.spreadSmall(
      sharedSimhashShingle(s, d), Seq(col("doc_id")))).orderBy("a", "b")

  /** Sketch-quality measurement: for every LSH candidate pair, the
    * MinHash-estimated Jaccard (fraction of equal signature components)
    * next to the exact n-gram Jaccard — the number you look at when
    * tuning bands/rows before a 100 TB run. Both columns are exact
    * integer ratios (bit-deterministic cross-engine). */
  def minhashEstimate(s: SparkSession, d: String): DataFrame =
    sharedCandPairs(s, d)
      .select(col("a"), col("b"), col("n_eq"),
        (col("n_eq").cast("double") / NumHashes).as("est"), col("jacc"))
      .orderBy("a", "b")

  /** Duplicate clusters: MinHash+LSH candidates → exact Jaccard ≥ 0.8 →
    * connected components → one row per cluster (canonical = min doc_id).
    * The full near-dup pipeline a curation pass runs before choosing one
    * representative per group. */
  def dupClusters(s: SparkSession, d: String): DataFrame =
    nearDupComponents(s, d)
      .groupBy(col("component").as("cluster"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("cluster")

  /** Cluster-size histogram over the near-dup components — the dedup
    * QA read-out: a healthy corpus shows a long tail of pairs/triples;
    * a giant cluster means a boilerplate template (or a too-loose
    * threshold) is gluing unrelated documents, and deleting "dups"
    * would take real content with it. One extra component-keyed and
    * size-keyed aggregation over the already-computed components —
    * output bounded by the largest cluster size. */
  def clusterSizes(s: SparkSession, d: String): DataFrame =
    nearDupComponents(s, d)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("n_members"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("n_members", "n_clusters")

  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    val sh = simhash(corpus(s, d))
    sh.withColumn("n_same",
        count(lit(1)).over(Window.partitionBy(col("simhash"))))
      .select("doc_id", "simhash", "n_same")
      .orderBy("doc_id")
  }

  /** Deterministic stratified train/valid/test split (80/10/10): the
    * split is a pure function of doc_id (salted portable hash mod 100),
    * so it is reproducible across runs, engines and cluster sizes, and
    * rows never migrate between splits when the corpus grows — the
    * property a training pipeline needs from its split step. One scan +
    * one small agg; the assignment itself is shuffle-free. */
  /** Pure-function train/valid/test assignment (salted portable hash
    * mod 100, 80/10/10) — the ONE definition behind [[splitStrata]] and
    * [[splitLeakage]] (DuckDB twin: TextRegistry.duckSplit). */
  def splitOf(id: Column): Column = {
    val bucket = h28(concat(lit("split_"), id)) % 100
    when(bucket < 80, lit("train")).when(bucket < 90, lit("valid"))
      .otherwise(lit("test"))
  }

  def splitStrata(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .withColumn("split", splitOf(col("doc_id")))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("source", "split")

  /** Split-leakage audit: near-duplicate pairs whose members land in
    * DIFFERENT train/valid/test splits — the eval contamination a
    * doc-level random split silently produces (a test doc with a train
    * near-dup measures memorization, not generalization; the
    * Lee et al. dedup literature's core warning). Composes the two
    * existing stages: the verified near-dup pair table and
    * [[splitStrata]]'s pure-function split assignment — the split is
    * recomputed from doc_id (no join), so the audit costs one scan of
    * the O(true dups) pair stage and a ≤6-row aggregate. A non-zero
    * cross-split row is the signal to switch to cluster-level splitting
    * (assign whole [[nearDupComponents]] components to one split). */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    sharedCandPairs(s, d)
      .filter(col("jacc") >= NearDupJaccard)
      .select(splitOf(col("a")).as("xa"), splitOf(col("b")).as("xb"))
      .select(least(col("xa"), col("xb")).as("split_a"),
        greatest(col("xa"), col("xb")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaky", col("split_a") =!= col("split_b"))
      .orderBy("split_a", "split_b")
  }

  /** TF-IDF top-3 terms per document. The rarity weight is the rational
    * (N+1)/(df+1) rather than its logarithm: monotone-equivalent for
    * ranking, and — unlike `ln`, which IEEE 754 does not require to be
    * correctly rounded — built only from +,*,/ so the weight is
    * bit-identical across engines (the determinism contract every
    * declared query obeys). Two shuffles (doc-term agg, term df agg) and
    * a scalar broadcast for N; top-3 rank benefits from the partial
    * WindowGroupLimit like every rank filter. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = corpus(s, d)
    // Stage-fed ([[sharedDocToks]]): the stage IS the (doc, term, tf)
    // table — `lc` is the per-doc occurrence count the explode+groupBy
    // used to rebuild, and doc frequency is the per-term row count
    // (stage keys are distinct (doc_id, tok)). Integer-identical; drops
    // two corpus tokenizes and the (doc, term) pre-aggregation shuffle
    // (the window's doc-keyed exchange remains the only token-table
    // shuffle).
    val dt = sharedDocToks(s, d)
    val tf = dt.select(col("doc_id"), col("tok").as("term"),
        col("lc").as("n"))
      .withColumn("n_tok", sum(col("n")).over(Window.partitionBy(col("doc_id"))))
    val dfreq = dt.groupBy(col("tok").as("term"))
      .agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("w").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("w", (col("n").cast("double") / col("n_tok")) *
        ((col("n_docs") + 1).cast("double") / (col("df") + 1)))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("n"), col("df"),
        round(col("w"), 6).as("w6"), col("rk"))
      .orderBy("doc_id", "rk", "term")
  }

  /** End-to-end curation pipeline (the composed training-data pass a
    * user of the engine would actually run): token-stats → quality
    * filter (≥30 tokens, type-token ratio ≥ 0.4) → exact dedup
    * keep-first → per-language rollup. One explode+agg, one broadcast-
    * able join back to docs, one dedup shuffle, one final agg — every
    * stage is a declared operator elsewhere in this module; this query
    * verifies they compose. Long sums only (no double aggregation), so
    * the result is bit-deterministic at any partitioning. */
  def curateDocs(s: SparkSession, d: String): DataFrame = {
    val docs = corpus(s, d)
    // stage-fed token stats (see [[qualityScore]]): Σ lc and the
    // distinct-(doc,tok) row count off [[sharedDocToks]], not a fresh
    // corpus explode — integer-identical
    val toks = sharedDocToks(s, d)
      .groupBy("doc_id")
      .agg(sum(col("lc")).as("n_tok"), count(lit(1)).as("n_uniq"))
    val quality = docs.join(toks, Seq("doc_id"))
      .filter(col("n_tok") >= 30 &&
        col("n_uniq").cast("double") / col("n_tok") >= 0.4)
    // digest key, the dedupExact discipline: partitioning the window
    // on the raw normalized text would ship whole-corpus text as the
    // shuffle KEY; with 128-bit digests an ACCIDENTAL collision is
    // ~2^-64 per pair, so on non-adversarial corpora keep-first groups
    // — and therefore results — are identical while the exchange
    // carries 16-byte keys. The assumption is collision-freedom, not
    // injectivity: md5 collisions are constructible (chosen-prefix),
    // so a corpus containing ADVERSARIAL colliding documents could be
    // silently merged — a pipeline ingesting hostile text should swap
    // this family's key to sha2(…, 256) at the boundary. Only the
    // digest, doc_id and the aggregated columns travel (text pruned
    // before the exchange).
    val w = Window.partitionBy(col("nk")).orderBy(col("doc_id"))
    val deduped = quality
      .withColumn("nk", md5(lower(trim(col("text")))))
      .select(col("nk"), col("doc_id"), col("lang"), col("n_tok"),
        col("n_uniq"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    deduped.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tok"),
        sum(col("n_uniq")).as("total_uniq"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")
  }

  /** Token-window chunking parameters: window of [[ChunkSize]] tokens
    * advancing by [[ChunkStride]] (16-token overlap) — the pre-training
    * preprocessing step that turns variable-length documents into
    * model-context-sized pieces. */
  val ChunkSize = 64
  val ChunkStride = 48

  /** Chunk every document into overlapping token windows: one output row
    * per (doc, window start), with the chunk's token count and an md5
    * signature of its text (the signature, not the text, keeps the
    * output — and any downstream chunk-level dedup shuffle — small).
    * Start positions are 0, stride, 2·stride, … while they land inside
    * the document, so every token is covered and the tail chunk may be
    * short. Pure map + bounded explode (fan-out = ⌈n_tok/stride⌉):
    * shuffle-free, linear in corpus token count. */
  /** (doc_id, chunk_id, n_tok_chunk, sig) for every token window of a
    * (doc_id, text) frame — THE single definition of the chunk geometry
    * and signature. The batch query ([[chunkDocs]]), the span-dedup agg
    * ([[spanDedup]]), the streaming twin (`StreamOps.chunkStream`) and
    * the scale probe all route here: `cleanSpanStream`'s anti-join
    * depends on bit-exact digest equality between the stream side and a
    * batch-built index, so a second copy of the geometry that drifted
    * would silently pass every contaminated chunk. Stateless per row
    * (map + bounded explode) — valid on batch AND streaming frames. */
  def chunkSigs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast(LongType))
      .withColumn("chunk_id",
        explode(sequence(lit(0L), expr(s"(n_tok - 1) DIV $ChunkStride"))))
      .withColumn("chunk",
        slice(col("toks"), (col("chunk_id") * ChunkStride + 1).cast("int"),
          lit(ChunkSize)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast(LongType).as("n_tok_chunk"),
        md5(concat_ws(" ", col("chunk"))).as("sig"))

  def chunkDocs(s: SparkSession, d: String): DataFrame =
    chunkSigs(corpus(s, d)).orderBy("doc_id", "chunk_id")

  /** Cross-document span dedup: token windows (the [[chunkSigs]] chunks)
    * whose exact text occurs in two or more distinct documents — the
    * substring-level duplication detector ("copy-paste span" finder)
    * that document-level dedup misses when boilerplate is embedded in
    * otherwise-distinct pages. The shuffle carries 16-byte chunk
    * digests, never chunk text ([[dedupExact]]'s discipline), and the
    * aggregation is one digest-keyed hash agg with map-side partials.
    * Output: one row per repeated span with its occurrence counts and
    * first (doc, chunk) location. */
  def spanDedup(s: SparkSession, d: String): DataFrame =
    chunkSigs(corpus(s, d))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        min(struct(col("doc_id"), col("chunk_id"))).getField("chunk_id")
          .as("first_chunk"))
      .filter(col("n_docs") >= 2)
      .select("sig", "n_spans", "n_docs", "first_doc", "first_chunk")
      .orderBy("sig")

  /** Materialize the DEDUPLICATED corpus: drop every non-canonical
    * member of each near-dup cluster (canonical = min doc_id, from
    * [[dupClusters]]' connected components over the verified LSH pairs)
    * — the end-product table every upstream dedup operator here exists
    * to produce. The anti join keys on doc_id only; document text never
    * joins or shuffles. */
  def dedupApply(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .join(
        nearDupComponents(s, d)
          .filter(col("id") =!= col("component"))
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "lang", "n_chars")
      .orderBy("doc_id")

  /** Expected content-defined chunk length: a token is a chunk boundary
    * when its hash ≡ 0 (mod [[CdcMask]]), so chunks average ~64 tokens. */
  val CdcMask = 64L

  /** Content-defined chunking: chunk boundaries fall where the TOKEN
    * HASH (not the position) satisfies h ≡ 0 mod [[CdcMask]] — so
    * inserting or deleting text shifts only the chunks it touches,
    * while [[chunkDocs]]' fixed windows all shift after an edit. This
    * is the chunking a span-level dedup uses when documents are edited
    * versions of each other (the storage-dedup / delta-encoding
    * technique applied to training text). Computed per row (array HOFs
    * — filter for boundary positions, zip_with for [start, end) spans):
    * shuffle-free, linear, stream-safe. Output: (doc_id, chunk_idx,
    * n_tok_chunk, sig). */
  def cdcChunks(s: SparkSession, d: String): DataFrame =
    // spreadSmall (batch path only — the streaming caller feeds
    // [[cdcChunkSigs]] directly): the per-row chunking folds cost far
    // more than the scan bytes, and the staged corpus arrives as one
    // split at sub-cluster SFs. Size-gated no-op at scale.
    cdcChunkSigs(Layout.spreadSmall(corpus(s, d), Seq(col("doc_id"))))
      .orderBy("doc_id", "chunk_idx")

  /** The frame-level CDC chunker behind [[cdcChunks]] (single
    * definition, [[chunkSigs]] discipline); valid on batch and
    * streaming (doc_id, text) frames. */
  def cdcChunkSigs(docs: DataFrame): DataFrame = {
    val t = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      // ascending 1-based boundary positions — ONE h28 per token, and
      // every step element-LOCAL (zip_with/filter lambdas that only
      // touch their own element). Two prior shapes were quadratic or
      // near: `element_at(hashArray, i)` inside a filter lambda lets
      // CollapseProject inline the single-referenced hash array into
      // the lambda body, re-evaluating all n md5s per element
      // (measured 22+ s at sf0.1); and splicing the bpos expression
      // into both branches of a `when` re-hashed every token per
      // reference (7 s). This shape: ~1 s.
      .withColumn("bpos", filter(
        zip_with(col("toks"), sequence(lit(1), col("n")),
          (tk, i) => when(h28(tk) % CdcMask === 0, i)),
        x => x.isNotNull))
    // always close the last chunk at n; array_distinct collapses the
    // case where n is already a boundary. `bounds` is referenced three
    // times below (slice, size, zip_with) — multiply-referenced and
    // non-cheap, so CollapseProject keeps it materialized per row.
    val withBounds = t.withColumn("bounds",
      array_distinct(concat(col("bpos"), array(col("n")))))
    // chunk k spans (starts(k), bounds(k)]: starts = 0 ++ bounds.init
    val starts = concat(array(lit(0)),
      slice(col("bounds"), lit(1), size(col("bounds")) - 1))
    withBounds
      .withColumn("spans", zip_with(starts, col("bounds"),
        (st, e) => struct(st.as("st"), e.as("e"))))
      .select(col("doc_id"), col("toks"),
        posexplode(col("spans")).as(Seq("chunk_idx", "sp")))
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        (col("sp.e") - col("sp.st")).cast(LongType).as("n_tok_chunk"),
        md5(concat_ws(" ",
          slice(col("toks"), col("sp.st") + 1, col("sp.e") - col("sp.st"))))
          .as("sig"))
  }

  /** Token budget per packed training sequence. */
  val PackBudget = 256L

  /** Sequence packing (concat-and-chop): lay documents end-to-end in
    * deterministic (source, doc_id) order and cut every [[PackBudget]]
    * tokens — each doc reports the sequence its first token lands in and
    * the offset within it. Packing is PER SOURCE: the running sum is a
    * window over the source partition, so at 100 TB each shard packs
    * independently (the global-order variant would serialize the corpus
    * through one partition — exactly the non-scalable shape this
    * avoids; real pipelines pack within shards for the same reason).
    * One shuffle on source, no joins.
    *
    * Determinism: the running sum is windowed over (doc_id, n_tok) — if
    * the input carries duplicate doc_ids, rows that tie on BOTH keys are
    * interchangeable (same contribution, same output), so the result
    * multiset is engine-independent. The final sort is a total order over
    * every output column (SURVEY §2C rule). */
  def packSeqs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("doc_id"), col("n_tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    corpus(s, d)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast(LongType).as("n_tok"))
      .withColumn("tok_end", sum(col("n_tok")).over(w))
      .withColumn("tok_start", col("tok_end") - col("n_tok"))
      .withColumn("seq_id", expr(s"tok_start DIV $PackBudget"))
      .withColumn("seq_off", col("tok_start") % PackBudget)
      .select("doc_id", "source", "n_tok", "seq_id", "seq_off")
      .orderBy("doc_id", "source", "n_tok", "seq_id", "seq_off")
  }

  /** Power-of-two token-length bucket boundaries for [[lenBuckets]]. */
  val LenBucketBounds: Seq[Long] = Seq(16L, 32L, 64L, 128L, 256L, 512L)

  /** Token-length histogram over power-of-two buckets — the sequence-
    * length distribution a pipeline inspects before choosing a packing
    * budget ([[PackBudget]]): bucket_lo ≤ n_tok < next bound, plus doc
    * and token totals and the share of tokens a [[PackBudget]]-token
    * window would truncate per doc (docs longer than the budget).
    * Pure map + 7-key agg with map-side partials; all integers. */
  def lenBuckets(s: SparkSession, d: String): DataFrame = {
    // ascending fold: the outermost `when` tests the LARGEST bound, so
    // a 600-token doc lands in 512, not the first bound it exceeds
    val lo = LenBucketBounds.foldLeft(lit(0L)) { (acc, b) =>
      when(col("n_tok") >= b, lit(b)).otherwise(acc)
    }
    corpus(s, d)
      .select(size(tokens(col("text"))).cast(LongType).as("n_tok"))
      .select(lo.as("bucket_lo"), col("n_tok"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tot_tok"),
        sum(greatest(col("n_tok") - PackBudget, lit(0L))).as("over_budget_tok"))
      .orderBy("bucket_lo")
  }

  /** Max documents kept per source by [[domainCap]]. */
  val DomainCap = 15L

  /** Per-domain capping: keep at most [[DomainCap]] documents per
    * source, chosen by deterministic hash rank (an unbiased, reproducible
    * sample — not "first N", which would bias toward old doc_ids). The
    * balancing pass a curation pipeline runs so one dominant crawl
    * domain cannot swamp the mixture. Rank filter gets the partial
    * WindowGroupLimit push-down: each map task keeps ≤ cap rows per
    * source before the exchange, so the shuffle carries O(sources·cap),
    * not the corpus. */
  def domainCap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("hk"), col("doc_id"))
    corpus(s, d)
      .withColumn("hk", h28(concat(lit("cap_"), col("doc_id"))))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= DomainCap)
      .select("source", "rk", "doc_id", "n_chars")
      .orderBy("source", "rk")
  }

  /** Parts-per-million denominator for [[mixSample]]'s exact integer
    * sampling rates. */
  val MixPpm = 1000000L

  /** Deterministic mixture resampling: downsample every source to the
    * size of the SMALLEST source (rate = ⌊min_count·10^6/count_s⌋ ppm,
    * membership = portable hash of doc_id under the rate) — the
    * mixture-balancing pass a training pipeline runs so dominant crawl
    * sources don't swamp curated ones. Complements [[domainCap]]: the
    * cap is a hard per-source limit, this preserves relative structure
    * at equalized scale. Reproducible across runs, engines and cluster
    * sizes, and a document's membership never changes when OTHER
    * sources grow (rate depends only on its own source's count and the
    * min). Scale: one tiny per-source count agg broadcast back, one
    * corpus scan with a pushed hash filter, one per-source agg — no
    * corpus shuffle. Output: (source, n_total, rate_ppm, n_kept). */
  def mixSample(s: SparkSession, d: String): DataFrame = {
    val docs = corpus(s, d)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
    val m = counts.agg(min(col("n_total")).as("m"))
    val rates = counts.crossJoin(broadcast(m))
      .withColumn("rate_ppm", expr(s"(m * $MixPpm) DIV n_total"))
      .select("source", "n_total", "rate_ppm")
    // LEFT join the kept counts back onto the rate table: a source
    // sampled down to ZERO survivors must still appear with n_kept = 0 —
    // the report exists to distinguish "downsampled to nothing" from
    // "absent from the corpus"
    val kept = docs.select("source", "doc_id")
      .join(broadcast(rates.select("source", "rate_ppm")), Seq("source"))
      .filter(h28(concat(lit("mix_"), col("doc_id"))) % MixPpm < col("rate_ppm"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("source"), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .select("source", "n_total", "rate_ppm", "n_kept")
      .orderBy("source")
  }

  /** Curation funnel report: how many documents (and tokens) survive
    * each successive filter stage — the observability table a pipeline
    * owner reads before committing a 100 TB run. Stages nest (each
    * applies on top of the previous):
    *   0 all → 1 n_tok ≥ 30 → 2 type-token ratio ≥ 0.4 →
    *   3 not repetitive (top-bigram share < [[RepetitiveBigramFrac]]) →
    *   4 exact-dedup survivor (keep-first among stage-3 survivors).
    * The per-doc flags are computed PER ROW ([[runStats]] folds — no
    * explodes, no joins, no shuffle); the report is a 5-way indicator
    * aggregation of that single flag table — no per-stage rescans. */
  def filterFunnel(s: SparkSession, d: String): DataFrame = {
    // spreadSmall: every per-doc fold (tokenize, runStats ×2, bigram
    // shingles, digest) runs BELOW the nk exchange, i.e. inside the
    // corpus scan's task(s) — one core at sub-cluster SFs. Size-gated
    // no-op once the corpus outgrows the session's scan parallelism.
    val flags = Layout.spreadSmall(corpus(s, d), Seq(col("doc_id")))
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast(LongType))
      .withColumn("n_uniq", runStats(col("toks")).getField("uniq"))
      .withColumn("bgs", shingles2(col("toks")))
      // guard the zero-bigram case explicitly: under ANSI mode (Spark 4
      // default) 0/0 THROWS rather than returning null-for-coalesce
      .withColumn("big_frac",
        when(size(col("bgs")) > 0,
          runStats(col("bgs")).getField("best").cast("double") /
            size(col("bgs")))
          .otherwise(lit(0.0)))
      .withColumn("q1", col("n_tok") >= 30)
      .withColumn("q2", col("q1") &&
        col("n_uniq").cast("double") / col("n_tok") >= 0.4)
      .withColumn("q3", col("q2") && col("big_frac") < RepetitiveBigramFrac)
    // stage 4 = keep-first exact dedup AMONG stage-3 survivors: a q3 row
    // survives iff it is the first q3 row of its digest group (cumulative
    // q3 count == 1). One window over the single flag pass — no second
    // execution of the per-row folds, no join-back; the shuffle carries
    // (doc_id, digest, flags), never text.
    val w = Window.partitionBy(col("nk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = flags
      .withColumn("nk", md5(lower(trim(col("text")))))
      .withColumn("q4", col("q3") &&
        sum(when(col("q3"), 1L).otherwise(0L)).over(w) === 1L)
      .select(col("n_tok"), explode(array(
        struct(lit(0L).as("stage"), lit("all").as("name"), lit(true).as("pass")),
        struct(lit(1L).as("stage"), lit("min_tokens").as("name"), col("q1").as("pass")),
        struct(lit(2L).as("stage"), lit("ttr").as("name"), col("q2").as("pass")),
        struct(lit(3L).as("stage"), lit("repetition").as("name"), col("q3").as("pass")),
        struct(lit(4L).as("stage"), lit("exact_dedup").as("name"), col("q4").as("pass"))
      )).as("st"))
      .select(col("st.stage").as("stage"), col("st.name").as("name"),
        col("st.pass").as("pass"), col("n_tok"))
    staged.groupBy("stage", "name")
      .agg(sum(when(col("pass"), 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("pass"), col("n_tok")).otherwise(0L)).as("total_tok"))
      .orderBy("stage")
  }

  /** Vocabulary size cap for [[vocabBuild]]. */
  val VocabSize = 1000

  /** Top-bigram list size for [[topNgrams]]. */
  val TopNgrams = 50

  /** Vocabulary construction for tokenizer training: global token
    * counts, frequency rank, and the cumulative corpus coverage of the
    * top-[[VocabSize]] tokens — the table a BPE/unigram tokenizer build
    * starts from, and the coverage curve that decides the vocab size.
    *
    * Scale: the explode is linear in corpus tokens; `groupBy(tok)` is a
    * hash agg with map-side partials that shrinks to the distinct-token
    * table; the global rank is `ORDER BY c DESC LIMIT VocabSize` —
    * TakeOrderedAndProject (per-partition top-K, driver merges K·P
    * rows), never a full sort of the vocabulary; the cumulative-sum
    * window runs over the ≤[[VocabSize]] retained rows only (bounded,
    * so the single-partition window is safe). Counts and cumulative
    * counts are exact integers; coverage is one integer quotient cast
    * to double — bit-deterministic cross-engine. */
  /** (tok, f) corpus token frequencies — one linear explode into a
    * map-side-partial hash agg; the SINGLE definition of
    * tokenization-for-counting behind [[vocabBuild]], [[bpeStep]] and
    * [[bpeTrain]]. */
  def tokenFreq(s: SparkSession, d: String): DataFrame =
    // Σ lc over the staged (doc_id, tok, lc) table == the occurrence
    // count of the former corpus explode, without re-tokenizing — and
    // the tok-keyed shuffle carries per-(doc,tok) partials, not raw
    // occurrences
    sharedDocToks(s, d)
      .groupBy("tok").agg(sum(col("lc")).as("f"))

  def vocabBuild(s: SparkSession, d: String): DataFrame = {
    val counts = tokenFreq(s, d).select(col("tok"), col("f").as("c"))
    val total = counts.agg(sum("c").as("tt"))
    val ord = Window.orderBy(col("c").desc, col("tok"))
    counts.orderBy(col("c").desc, col("tok")).limit(VocabSize)
      .crossJoin(broadcast(total))
      .withColumn("rk", row_number().over(ord).cast(LongType))
      .withColumn("cum_c",
        sum("c").over(ord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("coverage", col("cum_c").cast("double") / col("tt"))
      .select("rk", "tok", "c", "cum_c", "coverage")
      .orderBy("rk")
  }

  /** Corpus-level top-[[TopNgrams]] bigrams by occurrence (with document
    * frequency) — the boilerplate detector: a phrase whose count is far
    * above its document frequency is a template repeated within pages;
    * one that appears in most documents is sitewide chrome. Same scale
    * shape as [[vocabBuild]]: linear explode, hash agg with partials,
    * top-K via TakeOrderedAndProject, rank windowed over ≤K rows. */
  def topNgrams(s: SparkSession, d: String): DataFrame = {
    val ord = Window.orderBy(col("c").desc, col("bg"))
    corpus(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(zipGrams2(col("toks"))).as("p"))
      .groupBy(gram2(col("p")).as("bg"))
      .agg(count(lit(1)).as("c"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("c").desc, col("bg")).limit(TopNgrams)
      .withColumn("rk", row_number().over(ord).cast(LongType))
      .select("rk", "bg", "c", "n_docs")
      .orderBy("rk")
  }

  /** Per-source distinctive terms: top-[[TopicTermsK]] tokens ranked by
    * over-representation — the token's in-source frequency minus its
    * corpus-wide frequency, both in ppm (exact BIGINT floor division;
    * the integer ppm products stay in range up to ~9e12 tokens per
    * group). The corpus-card signal mixture design reads to see WHAT a
    * source actually contains before weighting it.
    *
    * Scale: both frequency tables aggregate the [[sharedDocToks]] stage
    * (corpus tokenized once, ever); the source join carries the thin
    * (doc_id, source) projection; the scalar corpus total broadcasts;
    * the final rank is a per-source window over the source×vocab
    * aggregate with a WindowGroupLimit partial. Window order
    * (lift desc, tok) is tie-free by construction — tok is unique
    * within a source after the (source, tok) aggregate. */
  def topicTerms(s: SparkSession, d: String): DataFrame = {
    val dt = sharedDocToks(s, d)
    val src = corpus(s, d).select(col("doc_id"), col("source"))
    val st = dt.join(src, Seq("doc_id"))
      .groupBy(col("source"), col("tok")).agg(sum(col("lc")).as("n"))
    // source totals as a window over st, not a groupBy+join back onto
    // it: the join form re-ran the whole corpus-scale (source, tok)
    // aggregate a second time under the totals branch (two identical
    // exchanges in the runtime plan — no reuse fired); the window runs
    // over the already-reduced source×vocab frame. Same tot per source
    // — with the former INNER join's null-key semantics made explicit:
    // a null-source row never matched the totals join (null ≠ null),
    // so the filter drops the null-source group the window would
    // otherwise keep (caught by the seed-215 differential fuzz — the
    // plain SF corpora carry no null sources, the fuzzed ones do).
    val ct = dt.groupBy(col("tok")).agg(sum(col("lc")).as("cn"))
    val ctot = dt.agg(sum(col("lc")).as("ctot"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("lift_ppm").desc, col("tok"))
    st.filter(col("source").isNotNull)
      .withColumn("tot",
        sum(col("n")).over(Window.partitionBy(col("source"))))
      .join(ct, Seq("tok"))
      .crossJoin(broadcast(ctot))
      // decimal(38,0) ppm-widening: n/cn are TOKEN counts (~10^14 at
      // 100 TB) — count*10^6 overflows int64 long before that
      .withColumn("src_ppm",
        expr("CAST(n AS DECIMAL(38,0)) * 1000000 DIV tot"))
      .withColumn("corpus_ppm",
        expr("CAST(cn AS DECIMAL(38,0)) * 1000000 DIV ctot"))
      .withColumn("lift_ppm", col("src_ppm") - col("corpus_ppm"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= TopicTermsK)
      .select("source", "rk", "tok", "src_ppm", "corpus_ppm", "lift_ppm")
      .orderBy("source", "rk")
  }

  /** Ranks kept per source by [[topicTerms]]. */
  val TopicTermsK = 3L

  /** Maximum document frequency for a shingle hash to count toward
    * [[lshPrecisionRecall]]'s exact ground truth. Hashes hotter than
    * this are boilerplate, carry no dedup signal, and would make the
    * postings self-join super-linear (df² per hash); capping bounds the
    * join at cap·Σdf — linear in the corpus. */
  val LshPrDfCap = 128L

  /** LSH band-collision diagnostics — the b/r tuning curve read before
    * committing a banding to a 100 TB dedup run: per band, the bucket
    * count, the largest bucket, how many buckets collide at all, and
    * the exact candidate-pair workload Σ k·(k−1)/2 the band would feed
    * the verifier. A band whose max bucket explodes signals boilerplate
    * (or too few rows per band) BEFORE the pair join runs — this query
    * costs one aggregation over the already-staged signature table,
    * while a mis-tuned pair join costs hours.
    *
    * Scale: reads the O(docs) [[sharedSignature]] stage; one
    * (band, sig)-keyed count with map-side partials, then a
    * [[Bands]]-row rollup. Nothing touches the corpus. */
  def bandCollisions(s: SparkSession, d: String): DataFrame =
    minhashBands(sharedSignature(s, d))
      .groupBy(col("band"), col("sig")).agg(count(lit(1)).as("bsz"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("bsz")).as("max_bucket"),
        sum(when(col("bsz") > 1, lit(1L)).otherwise(lit(0L)))
          .as("n_colliding"),
        sum(expr("bsz * (bsz - 1) DIV 2")).as("n_cand_pairs"))
      .select(col("band").cast(LongType).as("band"), col("n_buckets"),
        col("max_bucket"), col("n_colliding"), col("n_cand_pairs"))
      .orderBy("band")

  /** LSH quality report: precision/recall of the banded candidate set
    * against EXACT shingle-Jaccard ground truth, per threshold — the
    * measurement that justifies (or indicts) the b/r banding choice
    * before a 100 TB dedup run trusts it.
    *
    * Ground truth AND Jaccard both live in the deduplicated 28-bit
    * shingle-hash (h28) universe, restricted to INFORMATIVE hashes —
    * hashes whose document frequency is ≤ [[LshPrDfCap]]. A hot
    * (boilerplate/stopword-ish) 3-gram shared by 10⁵ docs contributes
    * 10¹⁰ pairs to a naive postings self-join while carrying no dedup
    * signal; dropping df>cap hashes from BOTH the pair join and the
    * per-doc nh counts (the same discard, so inter and union stay
    * self-consistent) bounds the join at Σ_{df≤cap} df² ≤ cap·Σdf =
    * O(cap · docs · shingles) — linear in the corpus, the standard
    * "discard uninformative hot features" move (the [[PostingsCap]]
    * discipline applied to ground truth). The pair set is every pair
    * sharing ≥ 1 kept hash (an inverted-index self-join, never
    * all-pairs), `inter` is the shared-hash count straight off that
    * join, and `union` is nh(a) + nh(b) − inter from the per-doc
    * kept-hash counts — O(1) per pair, no per-pair array
    * intersection of raw shingle strings. An h28 collision
    * can merge two distinct shingles (slightly inflating J) — the
    * standard hashed-feature approximation, identical in both engines
    * bit for bit and consistent with the candidate side, which banded
    * the very same hashes. Threshold tests are the cross-multiplied
    * integer inequality `inter·100 ≥ τ·union` (no double compare), and
    * every count/ratio is integer/floor-ppm, so both engines agree bit
    * for bit.
    *
    * One pass over the pair table: thresholds are exploded onto it
    * (×5), then a 5-key aggregate; the candidate total is a one-row
    * broadcast.
    *
    * The ground-truth postings read the parquet-staged
    * [[sharedCappedPosts]] (no session-cache entry, no per-call
    * rebuild): the explode+distinct+df-filter pays once per corpus in
    * the warm pass, and all four posting consumers (df filter, nh,
    * both self-join sides) rescan columnar files. */
  /** df-capped ground-truth postings `(doc_id, h)` from a shingle-set
    * frame carrying an `hx` hash array: distinct per-doc hashes minus
    * every hash with document frequency > [[LshPrDfCap]]. The shared
    * building block of [[lshPrecisionRecall]] and the ScaleProbe leg
    * that measures its linearity. */
  def cappedPosts(sets: DataFrame): DataFrame = {
    val rawPosts = sets
      .select(col("doc_id"), explode(col("hx")).as("h")).distinct()
    val keep = rawPosts.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= LshPrDfCap).select(col("h"))
    // O(docs·shingles) rows read by four consumers (df filter, nh, both
    // self-join sides) — persist so the explode+distinct runs once
    // (harness clearCache() releases it per query). The DECLARED query
    // path reads [[sharedCappedPosts]] instead (parquet-staged, no
    // persist); this direct form serves ad-hoc frames (ScaleProbe).
    rawPosts.join(keep, Seq("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** [[cappedPosts]] of the shared shingle stage, parquet-materialized
    * ([[Stages]]): the postings are deterministic per corpus, so the
    * explode+distinct+df-filter pays once per corpus (disclosed in the
    * bench's stages_sec) and the four downstream reads become columnar
    * rescans — the same checkpoint-beside-the-corpus shape as the
    * signature/pair stages. Built WITHOUT the persist (the parquet IS
    * the reuse), so library callers accrue no pinned cache entry. */
  def sharedCappedPosts(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "capped_posts", d) {
      val sets = sharedShingleSets(s, d)
      val rawPosts = sets
        .select(col("doc_id"), explode(col("hx")).as("h")).distinct()
      val keep = rawPosts.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= LshPrDfCap).select(col("h"))
      rawPosts.join(keep, Seq("h"))
    }

  def lshPrecisionRecall(s: SparkSession, d: String): DataFrame = {
    val posts = sharedCappedPosts(s, d)
    // nh is attached to the postings BEFORE the pair self-join (one
    // broadcast of the doc-sized count table onto each side) instead of
    // joined twice onto the aggregated pair table: the runtime plan
    // showed the nh aggregate's shuffle + broadcast built TWICE (no
    // exchange reuse fired), i.e. two extra jobs per call. Carrying the
    // 8-byte count through the pair join costs one long per posting row
    // map-side; the (a,b) aggregate keeps it as a grouping key that is
    // functionally dependent on the doc key, so groups — and therefore
    // inter/union arithmetic — are unchanged row for row.
    val nh = posts.groupBy(col("doc_id")).agg(count(lit(1)).as("nh"))
    // Hash-distribute the postings by the join key BEFORE the pair
    // self-join. The join fans out ~Σdf² rows from its streamed input,
    // but the staged postings table is small relative to the 256 MB
    // scan split, so the streamed side arrives as a handful of scan
    // tasks (ONE at the gate SF — the executed plan showed the whole
    // pair generation + partial aggregate on a single core, which is
    // also why 8 cores beat 32 on this query). Partition count follows
    // spark.sql.shuffle.partitions (cores locally, cluster-configured
    // in production — never a constant); the explicit count keeps AQE
    // from coalescing the pre-fanout partitions back down by their
    // (tiny) input size, which is exactly the misleading signal here:
    // partition cost is df², not bytes in. At cluster scale a sort-merge
    // pair join would hash-partition both sides on h anyway, so this
    // exchange replaces — never adds to — the join's own shuffle, and
    // the y-side reuses it (ReusedExchange) instead of re-scanning.
    val shufflePartitions = Bridge.conf(s).numShufflePartitions
    val postsN = posts.repartition(shufflePartitions, col("h"))
      .join(broadcast(nh), Seq("doc_id"))
    val gtPairs = postsN.alias("x")
      .join(postsN.alias("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.nh").as("na"), col("y.nh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("a"), col("b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
    val cand = sharedCandPairs(s, d).select(col("a"), col("b"))
    val flagged = gtPairs.join(
      cand.withColumn("is_cand", lit(true)), Seq("a", "b"), "left")
      .withColumn("is_cand", coalesce(col("is_cand"), lit(false)))
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    flagged
      .withColumn("tau", explode(array(Seq(50, 60, 70, 80, 90)
        .map(t => lit(t.toLong)): _*)))
      .groupBy(col("tau"))
      .agg(sum(when(col("inter") * 100 >= col("tau") * col("uni"), 1L)
          .otherwise(0L)).as("n_true"),
        sum(when(col("is_cand") &&
            col("inter") * 100 >= col("tau") * col("uni"), 1L)
          .otherwise(0L)).as("n_cand_true"))
      .crossJoin(broadcast(nCand))
      // decimal(38,0) widening: these are PAIR counts — at 100 TB the
      // capped ground truth still reaches ~cap·Σdf/2 ≫ 9.2·10¹² pairs,
      // where count·10⁶ overflows int64. Quotients stay BIGINT.
      .withColumn("precision_ppm",
        when(col("n_cand") > 0,
          expr("CAST(n_cand_true AS DECIMAL(38,0)) * 1000000 DIV n_cand"))
          .otherwise(0L))
      .withColumn("recall_ppm",
        when(col("n_true") > 0,
          expr("CAST(n_cand_true AS DECIMAL(38,0)) * 1000000 DIV n_true"))
          .otherwise(0L))
      .select(col("tau"), col("n_true"), col("n_cand_true"), col("n_cand"),
        col("precision_ppm"), col("recall_ppm"))
      .orderBy("tau")
  }

  /** Zipf-law fit over the top-100 token frequencies: the least-squares
    * slope of log-frequency against log-rank — the corpus-health
    * fingerprint (natural text sits near −1; template floods and
    * boilerplate bend it).
    *
    * Determinism: rank and frequency are exact integers; the only
    * transcendental is ln, floor-quantized to micro units BEFORE any
    * aggregation (the [[weightedSample]] precedent — a boundary-crossing
    * ulp disagreement is the accepted negligible risk); the regression
    * sums are exact int64 products of micro-quantized values, and the
    * final slope is one long→double division, bit-identical on
    * identical operands. Slope is emitted as num/den DOUBLES to avoid
    * any integer-division rounding question on the negative numerator.
    * (Verified against DuckDB 1.0.0 — the pinned oracle version: its
    * integer `//` TRUNCATES toward zero, `SELECT -7 // 2` = −3, exactly
    * matching Spark's DIV, and `%` is truncated-remainder in both. So
    * every DIV/`//` and %/% pair in this repo is portable even on
    * negative operands; DuckDB's parquet reader also TRUNCATES ns→µs
    * at the scan — see the Sources.events semantics matrix — and the
    * flooring constructs, Spark's window() starts and date casts, are
    * mirrored by explicit flooring SQL where they occur.)
    *
    * Scale: the frequency table is vocab-sized; its top-100 head is
    * TakeOrderedAndProject, and the window ranks 100 rows. */
  def tokZipf(s: SparkSession, d: String): DataFrame = {
    val freq = sharedDocToks(s, d)
      .groupBy(col("tok")).agg(sum(col("lc")).cast(LongType).as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(100)
    val ranked = freq.withColumn("rank", row_number()
      .over(Window.orderBy(col("freq").desc, col("tok"))).cast(LongType))
    ranked
      .withColumn("lx",
        floor(log(col("rank").cast("double")) * 1000000).cast(LongType))
      .withColumn("ly",
        floor(log(col("freq").cast("double")) * 1000000).cast(LongType))
      .agg(count(lit(1)).as("n"),
        sum(col("lx")).cast(LongType).as("sx"),
        sum(col("ly")).cast(LongType).as("sy"),
        sum(col("lx") * col("ly")).cast(LongType).as("sxy"),
        sum(col("lx") * col("lx")).cast(LongType).as("sxx"))
      // zero-denominator guard (degenerate single-token vocabulary):
      // Spark double x/0 yields NaN/Infinity while DuckDB's behavior is
      // version-dependent — pin NULL in both engines
      .withColumn("slope",
        expr("CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE " +
          "CAST(n * sxy - sx * sy AS DOUBLE) / " +
          "CAST(n * sxx - sx * sx AS DOUBLE) END"))
      .select(col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"),
        col("slope"))
  }

  /** Heaps-law vocabulary-growth curve: distinct-token count as a
    * function of cumulative tokens processed, at ten document-count
    * checkpoints — the "is new data still bringing new words" signal a
    * curation loop watches (a flattening curve says the crawl is
    * re-serving known content).
    *
    * The prefix order is ascending doc_id (unique in the canonical
    * corpus, so the curve is tie-free by construction). Vocabulary at
    * a checkpoint counts tokens whose FIRST-occurrence doc_id is ≤ the
    * checkpoint boundary — one vocab-sized frame joined against ten
    * broadcast boundaries, never a distinct-over-growing-prefix
    * window. All integer. */
  /** Staged per-doc token totals: rankedCum's two passes would each
    * re-aggregate the corpus-sized token stage; the doc-sized reduction
    * is built once and re-scanned cheaply (the cum_share pattern). */
  def sharedHeapsPerDoc(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "heaps_perdoc", d)(
      sharedDocToks(s, d).groupBy(col("doc_id"))
        .agg(sum(col("lc")).cast(LongType).as("n_tok")))

  def heapsLaw(s: SparkSession, d: String): DataFrame = {
    val perDoc = sharedHeapsPerDoc(s, d)
    // rank + running token sum over the doc sequence ride the range-
    // partitioned two-pass (Layout.rankedCum), not a global window —
    // this half of the query is doc-count-sized and was the repo's
    // last O(N)-rows-through-one-partition sort; n_rows doubles as the
    // doc count, replacing the old max(r) aggregate + crossJoin.
    val ranked = Layout.rankedCum(perDoc, Seq(col("doc_id")), col("n_tok"))
      .withColumnRenamed("cum", "cum_tok")
    // checkpoint = last doc of each decile of the doc sequence
    val checks = ranked
      .filter(col("r") * 10 % col("n_rows") < lit(10))
      .withColumn("decile", expr("r * 10 DIV n_rows"))
      .groupBy(col("decile"))
      .agg(max(col("doc_id")).as("boundary_doc"),
        max(col("r")).as("n_docs_seen"),
        max(col("cum_tok")).as("cum_tok"))
    val firstOcc = sharedDocToks(s, d).groupBy(col("tok"))
      .agg(min(col("doc_id")).as("first_doc"))
    firstOcc.crossJoin(broadcast(checks))
      .filter(col("first_doc") <= col("boundary_doc"))
      .groupBy(col("decile"), col("n_docs_seen"), col("cum_tok"))
      .agg(count(lit(1)).as("vocab"))
      .orderBy("decile")
  }

  /** Token budget for [[mixTokens]] — a CONSTANT training-mix target
    * (not a corpus fraction): the planner answers "how much of each
    * source fits an N-token budget", and N is a training decision. */
  val MixTokenBudget = 20000L

  /** Token-budget mixture planner: given [[MixTokenBudget]] split
    * uniformly across sources, the per-source sampling rate (floor
    * ppm, capped at 1) and the expected token yield — the arithmetic a
    * pipeline runs before a mixture-sampled training dump.
    *
    * Reads per-source token supply off the shared doc_toks stage (one
    * tokenize per corpus); the source frame is |sources|-sized, so the
    * distinct-count and every division run on a broadcast-scale table.
    * All integer/floor-ppm. At real token volumes target·10⁶ nears
    * int64, so both rate/yield products are widened to decimal(38,0)
    * before the DIV (the q_len_zscore discipline) — quotients stay
    * BIGINT and outputs are unchanged; the oracle mirrors with
    * HUGEINT. */
  def mixTokens(s: SparkSession, d: String): DataFrame = {
    val perSrc = sharedDocToks(s, d)
      .join(corpus(s, d).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("lc")).cast(LongType).as("src_tok"))
    // row count, NOT countDistinct: a null source is still a per-source
    // group that receives a target share — distinct-counting would
    // exclude it from the divisor and oversubscribe the budget
    val nSrc = perSrc.agg(count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(nSrc))
      .withColumn("target_tok",
        expr(s"$MixTokenBudget DIV n_sources"))
      // decimal(38,0) widening: target_tok·10⁶ and src_tok·rate wrap
      // int64 past ~9.2·10¹² tokens (per source / per budget share) —
      // reachable at a 100 TB corpus. Widened products are exact;
      // DIV returns BIGINT, so outputs are unchanged.
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr("CAST(target_tok AS DECIMAL(38,0)) * 1000000 DIV src_tok")))
      .withColumn("expected_tok",
        expr("CAST(src_tok AS DECIMAL(38,0)) * rate_ppm DIV 1000000"))
      .select(col("source"), col("src_tok"), col("target_tok"),
        col("rate_ppm"), col("expected_tok"))
      .orderBy("source")
  }

  /** Per-source language-mix profile: the [[langId]] stopword
    * classifier rolled up to (source, predicted language) with
    * integer-ppm shares of each source's documents — the intake report
    * that shows which feeds are drifting off-language.
    *
    * The per-source total is a partition window (not a join), so a
    * null source forms its own group instead of being dropped by
    * null-unsafe join equality. Token counts come from the shared
    * doc_toks stage (Σ local counts ≡ token count — the corpus is
    * tokenized once per corpus, not once more here); source attaches
    * via a thin doc_id-keyed join. */
  def langMix(s: SparkSession, d: String): DataFrame = {
    val perDoc = sharedDocToks(s, d)
      .groupBy(col("doc_id"))
      .agg(sum(col("lc")).as("n_tok"),
        sum(when(col("tok").isin(StopWords: _*), col("lc")).otherwise(0L))
          .as("n_stop"))
      .join(corpus(s, d).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .select(col("source"),
        when(col("n_stop").cast("double") / col("n_tok") >= 0.05,
          lit("en")).otherwise(lit("und")).as("pred_lang"))
    perDoc
      .groupBy(col("source"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("total",
        sum(col("n_docs")).over(Window.partitionBy(col("source"))))
      // decimal(38,0) ppm-widening (repo invariant, SCALE.md r8)
      .withColumn("share_ppm",
        expr("CAST(n_docs AS DECIMAL(38,0)) * 1000000 DIV total"))
      .select(col("source"), col("pred_lang"), col("n_docs"),
        col("share_ppm"))
      .orderBy("source", "pred_lang")
  }

  /** Per-source character-class composition — alpha / digit / space /
    * other counts and ppm shares: the cheap script/encoding screen that
    * flags a source gone wrong (binary spill, markup floods, digit
    * tables) before any tokenizer runs. Classes are explicit ASCII
    * sets, counted per CODEPOINT by regexp in both engines (Java regex
    * and RE2 both iterate code points, so astral-plane text counts
    * identically — never `length()`, which counts UTF-16 units in the
    * JVM but codepoints in DuckDB).
    *
    * Scale: pure per-row map over the corpus scan + a source-keyed agg
    * with map-side partials; no shuffle beyond |sources| rows. */
  def charClasses(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .select(col("source"),
        regexp_count(col("text"), lit("[a-zA-Z]")).cast(LongType).as("a"),
        regexp_count(col("text"), lit("[0-9]")).cast(LongType).as("dg"),
        regexp_count(col("text"), lit(" ")).cast(LongType).as("sp"),
        regexp_count(col("text"), lit("[^a-zA-Z0-9 ]")).cast(LongType).as("ot"))
      .groupBy("source")
      .agg(sum(col("a")).as("n_alpha"), sum(col("dg")).as("n_digit"),
        sum(col("sp")).as("n_space"), sum(col("ot")).as("n_other"))
      .withColumn("tot",
        col("n_alpha") + col("n_digit") + col("n_space") + col("n_other"))
      // decimal(38,0) widening: per-source CHARACTER counts reach
      // ~10¹⁴ at a 100 TB corpus — count·10⁶ overflows int64
      .withColumn("alpha_ppm",
        when(col("tot") > 0,
          expr("CAST(n_alpha AS DECIMAL(38,0)) * 1000000 DIV tot")))
      .withColumn("other_ppm",
        when(col("tot") > 0,
          expr("CAST(n_other AS DECIMAL(38,0)) * 1000000 DIV tot")))
      .select("source", "n_alpha", "n_digit", "n_space", "n_other",
        "alpha_ppm", "other_ppm")
      .orderBy("source")

  /** Bigram conditional-probability table (first-order LM): for the
    * [[BigramLmHeads]] most frequent head tokens, the top-
    * [[BigramLmK]] next tokens with conditional probability in exact
    * integer ppm — the Markov companion to [[unigramSurprisal]]: a
    * glance at what the corpus actually continues "the"/"of" with
    * exposes template floods that unigram stats smooth over.
    *
    * Scale: bigram counts aggregate one corpus explode (map-side
    * partials, vocab²-bounded but Zipf-thin in practice); head totals
    * are a head-keyed rollup of that table; head selection is a global
    * top-K via TakeOrderedAndProject (never an unpartitioned window
    * over the vocab); the 20-row head set broadcasts back. Window
    * order (n desc, nxt) is tie-free — nxt is unique per head after
    * the (head, nxt) aggregate. */
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    // persisted (memory, disk spill): both consumers — the top-head
    // totals and the main join — otherwise re-run the corpus-scale
    // tokenize+zip+explode+aggregate (two full Generate+agg pipelines
    // in the measured runtime plan; exchange reuse did not fire). The
    // cached frame is bigram-VOCABULARY-sized, not corpus-sized; the
    // harness clearCache() releases it per query (library callers: the
    // cappedPosts note applies — clearCache/session end is the release
    // path). No SortOrder lives below the persist, so the registry's
    // portableOrder rewrite cannot defeat the cache lookup (the
    // rankedCum lesson).
    val bc = corpus(s, d)
      .select(tokens(col("text")).as("toks"))
      .select(explode(zipGrams2(col("toks"))).as("p"))
      .select(col("p").getField("0").as("head"),
        col("p").getField("1").as("nxt"))
      .groupBy("head", "nxt").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = bc.groupBy("head").agg(sum(col("n")).as("htot"))
      .orderBy(col("htot").desc, col("head")).limit(BigramLmHeads)
    val w = Window.partitionBy(col("head"))
      .orderBy(col("n").desc, col("nxt"))
    bc.join(broadcast(top), Seq("head"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= BigramLmK)
      // decimal(38,0) widening: a hot head's bigram count tracks total
      // corpus tokens (~10¹⁴ at 100 TB) — count·10⁶ overflows int64
      .withColumn("cond_ppm",
        expr("CAST(n AS DECIMAL(38,0)) * 1000000 DIV htot"))
      .select("head", "rk", "nxt", "n", "htot", "cond_ppm")
      .orderBy("head", "rk")
  }

  /** Head-token and per-head continuation counts for [[bigramLm]]. */
  val BigramLmHeads = 20
  val BigramLmK = 3L

  /** Per-document token occurrence counts `(doc_id, tok, lc)`,
    * parquet-staged — the unigram sibling of the [[ngramNovelty]]
    * doc-gram stage: every consumer (inverted index, co-occurrence)
    * reads this thin table instead of re-tokenizing the corpus, so the
    * raw text is scanned exactly ONCE per corpus however many queries
    * run. Distinct (doc_id, tok) pairs are the stage's keys; `lc`
    * carries the within-doc occurrence count for collection-frequency
    * consumers. */
  def sharedDocToks(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "doc_toks", d)(
      corpus(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("lc")))

  /** Fixed-point scale (millibits) for the per-term surprisal quantum.
    * Deliberately coarse: the per-term double is floor-quantized BEFORE
    * the per-doc sum so the aggregate is exact integer arithmetic
    * (order-independent, cross-engine identical — the
    * [[Similarity.KmeansFixedPoint]] discipline); a coarser quantum also
    * keeps the probability that an engine-side log2 ulp difference
    * crosses a floor boundary negligible. */
  val SurprisalScale = 1000L

  /** Unigram-LM surprisal per document — the CCNet-style perplexity
    * quality signal: fit the corpus's own unigram distribution and
    * score each document by mean per-token surprisal, in bits
    * (−log2 cf/total). Boilerplate and low-content documents score low
    * (their tokens are corpus-frequent); lexically unusual documents
    * score high; both tails are what a quality-filtering pass inspects
    * before training.
    *
    * Scale: both the collection-frequency aggregate and the scoring
    * join read the [[sharedDocToks]] stage (raw text tokenized once per
    * corpus, ever). `cf` is a vocab-sized tok-keyed aggregate; the
    * scoring join shuffles on `tok` (AQE broadcasts it when the vocab
    * slice measures small) and the per-doc roll-up is a map-side-
    * partial sum over exact millibit integers — doubles never cross an
    * engine or partition boundary unquantized. */
  def unigramSurprisal(s: SparkSession, d: String): DataFrame = {
    val dt = sharedDocToks(s, d)
    val cf = dt.groupBy("tok").agg(sum("lc").as("cf"))
    // corpus token total off the DOC-sized [[sharedHeapsPerDoc]] stage:
    // Σ n_tok ≡ Σ cf ≡ Σ lc (integer-identical — the same multiset of
    // local counts summed in a different grouping order). Rolling up cf
    // here made the runtime plan build the vocab-keyed cf aggregate
    // TWICE (the join consumer broadcasts it, the total consumer rolls
    // it up to one row — different exchange types, no runtime reuse).
    val tot = sharedHeapsPerDoc(s, d).agg(sum(col("n_tok")).as("tot"))
    dt.join(cf, Seq("tok"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lc"),
        floor(col("lc") * log2(col("tot").cast("double") / col("cf")) *
          SurprisalScale).as("mb"))
      .groupBy("doc_id")
      .agg(sum("lc").cast(LongType).as("n_tok"), sum("mb").as("mbits"))
      // mean surprisal as exact integer millibits-per-token (floor
      // division) — a rounded double here produced genuine half-ties
      // (mbits/1000/n_tok hits x.xxxx5 exactly), and DuckDB rounds
      // half-even where Spark rounds half-up
      .withColumn("mb_tok", expr("mbits DIV n_tok"))
      .select("doc_id", "n_tok", "mbits", "mb_tok")
      .orderBy("doc_id", "n_tok", "mbits", "mb_tok")
  }

  /** Within-document token-distribution entropy (millibits): for token
    * counts c_i in a doc of n tokens, H = Σ (c_i/n)·log2(n/c_i) —
    * computed as exact integer millibits via the [[SurprisalScale]]
    * floor-quantize-then-sum discipline, reported as total and
    * per-token (floor division). Complements [[unigramSurprisal]]
    * (corpus-relative) and the repetition fold (run-based): a LOW
    * entropy doc repeats few distinct tokens — template/boilerplate; a
    * HIGH entropy doc at equal length has flat token usage.
    *
    * Scale: both inputs read the [[sharedDocToks]] stage; the n-join is
    * doc_id-co-partitioned with the final roll-up — one shuffle past
    * the shared stage. */
  def tokenEntropy(s: SparkSession, d: String): DataFrame = {
    val dt = sharedDocToks(s, d)
    // staged per-doc totals ([[sharedHeapsPerDoc]], n = n_tok = Σ lc —
    // integer-identical): drops this query's own doc-keyed aggregation
    // over the corpus-sized token stage for a doc-sized columnar rescan
    val dn = sharedHeapsPerDoc(s, d)
      .select(col("doc_id"), col("n_tok").as("n"))
    dt.join(dn, Seq("doc_id"))
      .select(col("doc_id"), col("n"),
        floor(col("lc") * log2(col("n").cast("double") / col("lc")) *
          SurprisalScale).as("mb"))
      .groupBy("doc_id")
      .agg(max("n").cast(LongType).as("n_tok"), sum("mb").as("ent_mb"))
      .withColumn("mb_tok", expr("ent_mb DIV n_tok"))
      .orderBy("doc_id", "n_tok", "ent_mb", "mb_tok")
  }

  /** Fixed query-term set for [[bm25]] — a CONSTANT: the operator
    * demonstrates scoring for one query; a retrieval service would
    * broadcast its (small) per-request term list the same way. */
  val Bm25Terms: Seq[String] = Seq("spark", "join", "filter")

  /** BM25 retrieval scoring (Robertson k1=1.2, b=0.75) — the ranking
    * function a RAG / decontamination pipeline runs against its corpus
    * next to [[invertedIndex]]. Top-100 documents for the fixed
    * [[Bm25Terms]] query.
    *
    * Scale shape: reads the [[sharedDocToks]] stage (corpus tokenized
    * once, ever); the term filter prunes it to query-term postings
    * BEFORE any join, so the scoring join carries |terms|·df rows, not
    * the corpus. df and the corpus length stats are tiny aggregates
    * (broadcast). Per-(doc,term) scores are floor-quantized to integer
    * milliscore BEFORE the per-doc sum (the [[SurprisalScale]]
    * discipline: doubles never cross an engine or partition boundary
    * unquantized), and the top-100 is orderBy+limit →
    * TakeOrderedAndProject, never a global sort. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val dt = sharedDocToks(s, d)
    // per-doc length = the staged [[sharedHeapsPerDoc]] totals (n_tok =
    // Σ lc per doc — integer-identical to aggregating the corpus-sized
    // token stage here). The runtime plan showed the doc-keyed aggregate
    // built TWICE (once broadcast for the scoring join, once rolled up
    // for the corpus stats — different exchange types, so runtime
    // exchange reuse could never dedup them); both consumers now rescan
    // the doc-sized parquet stage instead.
    val dl = sharedHeapsPerDoc(s, d)
      .select(col("doc_id"), col("n_tok").as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val qt = dt.filter(col("tok").isin(Bm25Terms: _*))
    val dfreq = qt.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfSat = (col("lc") * lit(2.2)) /
      (col("lc") + lit(1.2) * (lit(0.25) +
        lit(0.75) * (col("dl") * col("n_docs")).cast("double") / col("tot")))
    qt.join(broadcast(dfreq), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .select(col("doc_id"), floor(idf * tfSat * SurprisalScale).as("mb"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("hits"), sum("mb").as("sc"))
      .orderBy(col("sc").desc, col("hits").desc, col("doc_id"))
      .limit(100)
  }

  /** MAD outlier screen over document lengths, per source — the robust
    * anomaly gate a corpus-intake pipeline runs before quality
    * filtering (median/MAD, unlike mean/stddev, don't move when the
    * outliers themselves are extreme). Flags docs with
    * |len − median| > 3·MAD and reports the per-source tally.
    *
    * Determinism: exact interpolated percentiles over integers produce
    * doubles on the binary-fraction lattice (halves, then quarters for
    * the MAD over half-valued deviations) — bit-identical across
    * engines, no log/round in sight. Scale shape: two source-keyed
    * percentile aggregates + one counting pass, all shuffling the tiny
    * source key; the med/mad tables broadcast back. The corpus is
    * scanned column-pruned (source, n_chars only). */
  def outlierMad(s: SparkSession, d: String): DataFrame = {
    val docs = corpus(s, d).select(col("source"), col("n_chars"))
    val med = docs.groupBy("source")
      .agg(expr("percentile(n_chars, 0.5D)").as("med"))
    val dev = docs.join(broadcast(med), Seq("source"))
      .withColumn("dev", abs(col("n_chars").cast("double") - col("med")))
    val mad = dev.groupBy("source")
      .agg(expr("percentile(dev, 0.5D)").as("mad"))
    dev.join(broadcast(mad), Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_out"))
      .orderBy("source", "n_docs", "med", "mad", "n_out")
  }

  /** Winsorized length stats per source: clamp n_chars into the
    * [p05, p95] band (quantiles floor-quantized to integers so the
    * clamped sum is exact long arithmetic — no order-dependent double
    * sums) and report raw vs winsorized mean. The winsorized mean is
    * the robust location estimate an intake pipeline tracks per source;
    * a raw−winsorized gap flags a tail-heavy source before the MAD
    * screen ([[outlierMad]]) even runs.
    *
    * Scale: one source-keyed percentile aggregate, broadcast back, one
    * counting pass — the [[outlierMad]] shuffle shape minus a round. */
  /** Equal-frequency decile binning per source (quantile bucketing —
    * the feature-engineering staple for turning a skewed numeric into a
    * balanced categorical, and the length-stratification step before
    * curriculum ordering or balanced sampling). `ntile(10)` over
    * (n_chars, doc_id) — the unique tiebreak makes bin assignment a
    * total order, so both engines cut identical bins (standard SQL
    * pins ntile's remainder-to-early-buckets semantics).
    *
    * Scale: the window partitions BY SOURCE — each source sorts
    * within its shuffle partition, nothing global. A single-source
    * corpus would funnel into one partition; for that shape swap the
    * exact ntile for threshold binning off a percentile aggregate (the
    * [[winsorize]] pattern) and keep this operator for the
    * per-stratum case it's built for. */
  def quantileBins(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    corpus(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("bin", ntile(10).over(w).cast(LongType))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), min("n_chars").as("lo"),
        max("n_chars").as("hi"), sum("n_chars").as("tot_chars"))
      .orderBy("source", "bin", "n_docs", "lo", "hi", "tot_chars")
  }

  def winsorize(s: SparkSession, d: String): DataFrame = {
    val docs = corpus(s, d).select(col("source"), col("n_chars"))
    val qs = docs.groupBy("source")
      .agg(floor(expr("percentile(n_chars, 0.05D)")).as("p05"),
        floor(expr("percentile(n_chars, 0.95D)")).as("p95"))
    docs.join(broadcast(qs), Seq("source"))
      .withColumn("w", least(greatest(col("n_chars"), col("p05")), col("p95")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), min("p05").as("p05"),
        min("p95").as("p95"),
        expr("sum(n_chars) DIV count(*)").as("mean_raw"),
        expr("sum(w) DIV count(*)").as("mean_win"))
      .orderBy("source", "n_docs", "p05", "p95", "mean_raw", "mean_win")
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between the first
    * two sources' length distributions, in integer ppm: the max gap
    * between the two empirical CDFs over the pooled support,
    * D = max_v |F̂₁(v) − F̂₂(v)| — the standard dataset-drift monitor
    * between crawl snapshots or source mixtures. Every step is integer
    * arithmetic (cumulative counts, floor-divided to ppm), so the
    * statistic is bit-exact cross-engine.
    *
    * Scale: per-side (value → count) aggregates collapse N rows to the
    * distinct-value support; the CDF window runs over that support —
    * bounded by the value domain, not the corpus. One row out. */
  def ksDrift(s: SparkSession, d: String): DataFrame = {
    val docs = corpus(s, d).select(col("source"), col("n_chars"))
    def side(src: String, cn: String) =
      docs.filter(col("source") === src)
        .groupBy(col("n_chars").as("v")).agg(count(lit(1)).as(cn))
    val a = side("src0", "c1")
    val b = side("src1", "c2")
    val pooled = a.join(b, Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // side totals from ONE corpus aggregate: Σc1 over pooled is just
    // the src0 row count (every src0 row lands in exactly one value
    // group, null included), so deriving n1/n2 from `pooled` re-ran
    // both per-side aggregates AND the full-outer join a second time —
    // the plan carried the whole pooled subtree twice for two scalars
    val tots = docs.agg(
      sum(when(col("source") === "src0", 1L).otherwise(0L))
        .cast(LongType).as("n1"),
      sum(when(col("source") === "src1", 1L).otherwise(0L))
        .cast(LongType).as("n2"))
    pooled
      .select(col("v"), sum("c1").over(w).as("f1"), sum("c2").over(w).as("f2"))
      .crossJoin(broadcast(tots))
      .select(col("v"), col("n1"), col("n2"),
        // decimal(38,0) widening: f1/f2 are CUMULATIVE token
        // frequencies, up to the corpus total (~10¹⁴ at 100 TB) —
        // count·10⁶ overflows int64. The DuckDB oracle's window sums are
        // already HUGEINT, so only the Spark side needed widening.
        abs(expr("CAST(f1 AS DECIMAL(38,0)) * 1000000 DIV n1") -
            expr("CAST(f2 AS DECIMAL(38,0)) * 1000000 DIV n2"))
          .as("d_ppm"))
      .orderBy(col("d_ppm").desc, col("v"))
      .limit(1)
      .select("n1", "n2", "d_ppm", "v")
  }

  /** [[psiDrift]] bin layout: [[PsiBins]] fixed-width n_chars bins of
    * [[PsiBinWidth]] chars (the corpus spans ~0–600 chars), terms
    * floor-quantized to [[PsiScale]] micro-units BEFORE the per-source
    * sum so the aggregate is exact integer arithmetic (the
    * [[SurprisalScale]] discipline — an engine-side ln ulp difference
    * crossing a floor boundary is the same accepted negligible risk). */
  val PsiBins = 10
  val PsiBinWidth = 64L
  val PsiScale = 1000000L

  /** Population-stability-index drift per source — the distribution-
    * shift companion to [[ksDrift]]: for each source, PSI of its
    * n_chars distribution against the REST of the corpus over
    * [[PsiBins]] fixed bins, Laplace-smoothed (+1 per bin) so empty
    * bins contribute finite terms. PSI < 0.1 is the conventional
    * "stable" reading; a source drifting ≥ 0.25 is the one to inspect
    * before a training run mixes it in.
    *
    * Scale: two bin-keyed aggregates collapse the corpus to
    * (sources×bins) and bins rows; the term table is grid-sized
    * (sources × [[PsiBins]]), every join side past the first agg is
    * broadcast, and the only corpus-sized work is the two scans'
    * map-side partial counts. */
  def psiDrift(s: SparkSession, d: String): DataFrame = {
    val b = corpus(s, d)
      .select(col("source"),
        least(lit(PsiBins - 1L), expr(s"n_chars DIV $PsiBinWidth"))
          .as("bin"))
    val per = b.groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val tot = b.groupBy("bin").agg(count(lit(1)).as("ct"))
    val ns = b.groupBy("source").agg(count(lit(1)).as("ns"))
    val n = b.agg(count(lit(1)).as("n"))
    val bins = s.range(PsiBins).select(col("id").as("bin"))
    val g = ns.crossJoin(broadcast(bins))
      .join(per, Seq("source", "bin"), "left")
      .join(broadcast(tot), Seq("bin"), "left")
      .crossJoin(broadcast(n))
      .select(col("source"), col("ns"), col("n"),
        coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("ct"), lit(0L)).as("ct"))
    val p = (col("c") + lit(1.0)) / (col("ns") + lit(PsiBins))
    val q = (col("ct") - col("c") + lit(1.0)) /
      (col("n") - col("ns") + lit(PsiBins))
    // identical associativity in the oracle SQL: ((p−q)·ln(p/q))·scale
    g.withColumn("t6", floor(((p - q) * log(p / q)) * PsiScale.toDouble))
      .groupBy("source", "ns")
      .agg(sum(col("t6")).as("psi6"))
      .select(col("source"), col("ns").as("n_docs"), col("psi6"))
      .orderBy("source", "n_docs", "psi6")
  }

  /** Posting-list head length for [[invertedIndex]] — a CONSTANT so the
    * per-token collected list is bounded whatever the corpus size. */
  val PostingsCap = 8

  /** Inverted index over the corpus: per token its document frequency,
    * collection frequency, and the first [[PostingsCap]] posting doc_ids
    * (ascending, comma-joined) — the retrieval-side index build every
    * RAG/dedup pipeline runs next to its training corpus.
    *
    * Scale shape: reads the [[sharedDocToks]] stage (corpus tokenized
    * once, ever); df/cf are hash aggregations with map-side partials
    * (never a collect). The posting HEAD is the part that would naively
    * collect O(docs-per-token) ids for stopword-like tokens; instead a
    * `row_number` over (token, doc_id ASC) is filtered to the cap
    * BEFORE the collect — Spark's WindowGroupLimit pushes that rank
    * filter below the shuffle (the [[domainCap]] plan shape, locked in
    * PlanSpec), so every partition ships at most [[PostingsCap]] rows
    * per token and the final `collect_list` is bounded by
    * construction. */
  def invertedIndex(s: SparkSession, d: String): DataFrame = {
    val dt = sharedDocToks(s, d)
    val stats = dt.groupBy("tok")
      .agg(count(lit(1)).as("df"), sum(col("lc")).as("cf"))
    val w = Window.partitionBy(col("tok")).orderBy(col("doc_id"))
    val heads = dt.select(col("tok"), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PostingsCap)
      .groupBy("tok")
      .agg(array_join(transform(array_sort(collect_list(col("doc_id"))),
        x => x.cast("string")), ",").as("postings"))
    stats.join(heads, Seq("tok"))
      .select(col("tok"), col("df"), col("cf"), col("postings"))
      .orderBy("tok")
  }

  /** Vocabulary slice size for [[cooccur]] — a CONSTANT: the pair space
    * is C(CooccurTop, 2) however big the corpus grows, and the top-token
    * table stays broadcast-sized (the [[Similarity.NumQueries]]
    * discipline). */
  val CooccurTop = 20

  /** Document-level token co-occurrence with association lift for the
    * [[CooccurTop]] highest-df tokens — the corpus-statistics signal
    * behind collocation mining and template detection (a pair whose
    * lift ≫ 1 travels together far more than its marginals predict —
    * boilerplate phrasing; lift ≪ 1 means the tokens split the corpus).
    *
    * Lift is the exact double `n_xy · n_docs / (df_x · df_y)` computed
    * in ONE fixed expression shape mirrored verbatim by the oracle
    * (bit-deterministic per the Relational doubles rule), rounded for
    * display. The BIGINT product `df_x · df_y` overflows past ~3·10⁹
    * docs; the double form never materializes it.
    *
    * Scale shape: reads the [[sharedDocToks]] stage (no re-tokenize);
    * the top-token table (df included) is broadcast; the per-doc pair
    * explosion is a self-join of the ≤[[CooccurTop]]-row per-doc
    * slice — ≤ C(20,2) pairs per document, linear in docs; the closing
    * agg carries (x, y) string pairs drawn from a 20-token
    * vocabulary. */
  def cooccur(s: SparkSession, d: String): DataFrame = {
    val dt = sharedDocToks(s, d).select(col("doc_id"), col("tok"))
    val top = dt.groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(CooccurTop)
    val nd = corpus(s, d).agg(count(lit(1)).as("n_docs"))
    val dtop = dt.join(broadcast(top), Seq("tok"))
    dtop.select(col("doc_id"), col("tok").as("x"), col("df").as("df_x"))
      .join(dtop.select(col("doc_id"), col("tok").as("y"),
        col("df").as("df_y")), Seq("doc_id"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y"), col("df_x"), col("df_y"))
      .agg(count(lit(1)).as("n_xy"))
      .crossJoin(broadcast(nd))
      .withColumn("lift6",
        round(col("n_xy").cast("double") * col("n_docs") /
          (col("df_x") * col("df_y")), 6))
      .select(col("x"), col("y"), col("n_xy"), col("df_x"), col("df_y"),
        col("lift6"))
      .orderBy(col("n_xy").desc, col("x"), col("y"))
  }

  /** PageRank scores over the verified near-dup graph
    * ([[sharedCandPairs]] at [[NearDupJaccard]]) — the canonical-copy
    * selector: inside a duplicate cluster the highest-scored (best
    * connected) document is the one a curation pass keeps. Fixed
    * [[Components.pagerank]] rounds in ppm fixed-point; output is every
    * node of the dup graph with its degree and score. */
  def pagerankDup(s: SparkSession, d: String): DataFrame =
    Components.pagerank(
      sharedCandPairs(s, d).filter(col("jacc") >= NearDupJaccard)
        .select("a", "b"))
      .select(col("node").as("doc_id"), col("deg"), col("pr"))
      .orderBy(col("pr").desc, col("doc_id"))

  /** Triangle count + local clustering coefficient per node of the
    * near-dup graph ([[Components.triangles]] over [[sharedCandPairs]]
    * at [[NearDupJaccard]]) — the cluster-density companion to
    * [[pagerankDup]]: coefficient ≈ 1 marks a tight template family
    * safe to collapse, low-coefficient hubs mark chains of borderline
    * matches to review. */
  def trianglesDup(s: SparkSession, d: String): DataFrame =
    Components.triangles(
      sharedCandPairs(s, d).filter(col("jacc") >= NearDupJaccard)
        .select("a", "b"))
      .select(col("node").as("doc_id"), col("deg"), col("n_tri"),
        col("coef6"))
      .orderBy("doc_id", "deg", "n_tri", "coef6")

  /** Per-document n-gram familiarity — the corpus-statistics quality
    * signal (CCNet-style): a document whose bigrams are rare across the
    * corpus is novel (or noise); one built from the corpus's most common
    * bigrams is boilerplate-like. `fam` is the mean corpus frequency of
    * the document's bigrams (occurrence-weighted); `lift` normalizes by
    * the uniform expectation T/D (total bigrams over distinct bigrams),
    * so the grade is scale-free: lift ≥ 1 means "more familiar than the
    * average bigram".
    *
    * Scale (the round-3 rework): ONE corpus scan builds the per-doc gram
    * table `(doc_id, bgh=h28(bg), lc)` — local occurrence counts keyed
    * by the 8-byte gram digest, the [[dedupExact]] discipline, so every
    * downstream shuffle carries longs instead of ~20-byte gram strings.
    * That table is parquet-staged ([[Stages]]): the corpus count table
    * and the join back BOTH read the stage, so the raw corpus is
    * tokenized+exploded exactly once (the previous shape consumed the
    * exploded frame twice = two full corpus passes). Corpus counts
    * aggregate the stage (`sum(lc)` ≡ occurrence count); the per-doc
    * rollup re-derives occurrence-weighted sums as `sum(lc·c)`. A 28-bit
    * digest collision merges two grams' counts — the same accepted,
    * documented risk as the dedup family, mirrored exactly by the
    * oracle's identical hash. All sums are exact BIGINTs; `fam` and
    * `lift` are integer quotients cast to double in a fixed expression
    * shape — bit-deterministic. Documents with fewer than two tokens
    * have no bigrams and drop out, matching the oracle's inner join. */
  /** Staged per-doc bigram counts — [[ngramNovelty]]'s front half. */
  def sharedDocGrams(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "doc_grams", d)(docGramCounts(corpus(s, d)))

  def ngramNovelty(s: SparkSession, d: String): DataFrame =
    ngramNoveltyFromGrams(sharedDocGrams(s, d))

  /** Per-document bigram occurrence counts keyed by gram digest — the
    * staged front half of [[ngramNovelty]]. */
  def docGramCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(zipGrams2(col("toks"))).as("p"))
      .groupBy(col("doc_id"), h28(gram2(col("p"))).as("bgh"))
      .agg(count(lit(1)).as("lc"))

  /** Frame-level [[ngramNovelty]] over any (doc_id, text) frame — the
    * single pipeline definition the query and ScaleProbe's linearity leg
    * share (unstaged: ScaleProbe measures the whole pipeline). */
  def ngramNoveltyOf(docs: DataFrame): DataFrame =
    ngramNoveltyFromGrams(docGramCounts(docs))

  /** Novelty report from a [[docGramCounts]]-shaped frame. */
  def ngramNoveltyFromGrams(grams: DataFrame): DataFrame = {
    val cnt = grams.groupBy("bgh").agg(sum("lc").as("c"))
    val tot = cnt.agg(sum("c").as("t"), count(lit(1)).as("dbg"))
    val fam = col("sum_freq").cast("double") / col("n_big")
    val lift = fam * (col("dbg").cast("double") / col("t"))
    grams.join(cnt, Seq("bgh"))
      .groupBy("doc_id")
      .agg(sum("lc").as("n_big"),
        sum(col("lc") * col("c")).as("sum_freq"))
      .crossJoin(broadcast(tot))
      .withColumn("fam", fam)
      .withColumn("lift", lift)
      .withColumn("grade",
        when(lift >= 1.0d, lit("common")).otherwise(lit("novel")))
      .select("doc_id", "n_big", "sum_freq", "fam", "lift", "grade")
      .orderBy("doc_id")
  }

  /** One-row dataset card: the summary a pipeline publishes with a
    * training corpus — document/source/language counts, token and
    * character totals, and the exact-duplicate rate. The distinct-text
    * count runs over md5 digests, not text (the [[dedupExact]]
    * discipline: the expand/shuffle carries 16-byte digests). The three
    * COUNT(DISTINCT)s compile to one Expand-based aggregate — a
    * constant small multiple of the single scan, no self-joins. Ratios
    * are integer quotients cast to double. */
  def datasetCard(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .select(col("source"), col("lang"), col("n_chars"),
        size(tokens(col("text"))).cast(LongType).as("n_tok"),
        md5(lower(trim(col("text")))).as("k"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum("n_chars").as("total_chars"),
        sum("n_tok").as("total_tok"),
        countDistinct(col("k")).as("n_uniq_texts"))
      // empty-corpus guard: DuckDB renders x/0 as NULL where ANSI Spark
      // raises — mirror the NULL (the sf0 fuzz class)
      .withColumn("dup_frac", when(col("n_docs") === 0,
          lit(null).cast("double"))
        .otherwise((col("n_docs") - col("n_uniq_texts")).cast("double") /
          col("n_docs")))
      .withColumn("avg_tok", when(col("n_docs") === 0,
          lit(null).cast("double"))
        .otherwise(col("total_tok").cast("double") / col("n_docs")))

  /** Corpus snapshot diff — the data-versioning report a pipeline runs
    * between crawl drops: per doc_id, `added` (new id), `removed` (id
    * gone), `changed` (text digest differs), `same`. The join carries
    * 16-byte md5 digests, never text (the [[dedupExact]] discipline:
    * the full-outer shuffle is O(ids), tiny next to the corpus), and
    * the report is a 4-key agg with map-side partials. */
  def datasetDiff(cur: DataFrame, prev: DataFrame): DataFrame = {
    val c = cur.select(col("doc_id"), md5(col("text")).as("csig"))
    val p = prev.select(col("doc_id"), md5(col("text")).as("psig"))
    c.join(p, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("psig").isNull, lit("added"))
          .when(col("csig").isNull, lit("removed"))
          .when(col("csig") =!= col("psig"), lit("changed"))
          .otherwise(lit("same")))
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }

  /** The declared-query binding of [[datasetDiff]]: the "previous
    * snapshot" is derived deterministically from the current corpus
    * (every 17th doc absent = since-added, every 13th reworded =
    * changed, plus shifted-id rows = since-removed), so both engines
    * diff the same two frames without a second input table. */
  def datasetDiffQ(s: SparkSession, d: String): DataFrame = {
    val docs = corpus(s, d)
    val prevBase = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 5, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    val prevGone = docs.filter(col("doc_id") % 19 === 7)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    datasetDiff(docs, prevBase.unionByName(prevGone))
  }

  /** Term-scrub dictionary for [[piiScrub]], as a word-boundary
    * alternation. The synthetic corpus carries no true PII (pure
    * lowercase words — verified: zero digits or '@'s), so the dictionary
    * stands in for the email/phone/SSN patterns a production scrubber
    * ships; the machinery — count, replace, re-digest — is the real
    * operator. Both engines (Java regex, RE2) support `\b`. */
  val ScrubPattern = "\\b(customer|vector|stream)\\b"

  /** PII-style redaction pass: per document, the number of dictionary
    * hits, the scrubbed length, and the digest of the scrubbed text
    * (the downstream dedup key — scrubbing must happen BEFORE exact
    * dedup, else two documents differing only in redacted spans count
    * as distinct). Pure per-row map over the scan: no shuffle, no
    * state; the output carries digests, never scrubbed text. */
  def piiScrub(s: SparkSession, d: String): DataFrame =
    scrubOf(corpus(s, d)).orderBy("doc_id")

  /** Frame-level [[piiScrub]] over any (doc_id, text) frame — stateless
    * per-row, so the same definition serves the batch query and the
    * streaming twin (`StreamOps.scrubStream`). */
  def scrubOf(docs: DataFrame): DataFrame = {
    val scrubbed = regexp_replace(col("text"), ScrubPattern, "<X>")
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(ScrubPattern), lit(0)))
        .cast(LongType).as("n_hits"),
      length(scrubbed).cast(LongType).as("scrub_len"),
      md5(scrubbed).as("sig"))
  }

  /** Merge candidates reported per [[bpeStep]]. */
  val BpeTopPairs = 20

  /** One BPE tokenizer-training step: the occurrence-weighted counts of
    * adjacent symbol pairs across the corpus, ranked — the table whose
    * argmax IS the next BPE merge. Symbols here are the initial
    * character alphabet (step 0 of the merge loop); iterating =
    * re-running over re-segmented tokens with the learned merges
    * applied.
    *
    * Scale (the trick that makes BPE trainable on a 100 TB corpus):
    * pair counting runs over the DISTINCT-token table weighted by token
    * frequency, never over raw text — the explode is
    * O(distinct tokens × token length) (Zipf: ≪ corpus tokens) after
    * one linear token-count agg. Top-K via TakeOrderedAndProject like
    * [[vocabBuild]]. Counts are exact integers. */
  def bpeStep(s: SparkSession, d: String): DataFrame = {
    val ord = Window.orderBy(col("c").desc, col("pair"))
    tokenFreq(s, d).select(col("f"), split(col("tok"), "").as("ch"))
      .select(col("f"), explode(adjacentPairs(col("ch"), "")).as("pair"))
      .groupBy("pair").agg(sum("f").as("c"))
      .orderBy(col("c").desc, col("pair")).limit(BpeTopPairs)
      .withColumn("rk", row_number().over(ord).cast(LongType))
      .select("rk", "pair", "c")
      .orderBy("rk")
  }

  /** Train `nMerges` BPE merges from the corpus — the standard
    * big-corpus tokenizer-training split: ONE distributed pass
    * aggregates the distinct-token frequency table (capped at the
    * `maxTokens` most frequent — Zipf's law makes the tail irrelevant
    * to merge selection), then the merge loop runs locally over that
    * (small) table, exactly how SentencePiece/HF trainers consume a
    * pre-aggregated word-count file. Merge k is the argmax of
    * occurrence-weighted adjacent-pair counts (ties to the
    * lexicographically smallest pair — deterministic). When the cap
    * does not bind (distinct tokens ≤ `maxTokens`), the first iteration
    * selects precisely [[bpeStep]]'s rank-1 row (asserted in
    * TrainOpsSpec); with the cap binding, pair mass from the dropped
    * Zipf tail is excluded — the standard trainer approximation.
    * Returns the ordered merge list. */
  def bpeTrain(s: SparkSession, d: String, nMerges: Int,
      maxTokens: Int = 100000): Seq[(String, String)] = {
    val freq = tokenFreq(s, d)
      .orderBy(col("f").desc, col("tok")).limit(maxTokens)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    var words: Map[Vector[String], Long] =
      freq.groupMapReduce { case (t, _) => t.split("").toVector }(_._2)(_ + _)
    val merges = Seq.newBuilder[(String, String)]
    var k = 0
    var done = false
    while (k < nMerges && !done) {
      val pairs = words.iterator.flatMap { case (w, f) =>
        w.iterator.zip(w.iterator.drop(1)).map(p => p -> f)
      }.foldLeft(Map.empty[(String, String), Long]) { case (m, (p, f)) =>
        m.updated(p, m.getOrElse(p, 0L) + f)
      }
      if (pairs.isEmpty) done = true
      else {
        val best = pairs.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val joined = best._1 + best._2
        words = words.groupMapReduce { case (w, _) =>
          // merge every non-overlapping occurrence, left to right
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < w.length) {
            if (i + 1 < w.length && w(i) == best._1 && w(i + 1) == best._2) {
              out += joined; i += 2
            } else { out += w(i); i += 1 }
          }
          out.result()
        }(_._2)(_ + _)
        k += 1
      }
    }
    merges.result()
  }

  /** Encode ONE token with an ordered BPE merge list: repeatedly merge
    * the present pair with the LOWEST merge rank (all non-overlapping
    * occurrences, left to right — the same replacement rule
    * [[bpeTrain]] applies, so training then encoding the training
    * corpus reproduces the trainer's segmentation). Pure local loop —
    * runs on executors over broadcast ranks. */
  def bpeEncodeToken(word: String,
      rank: Map[(String, String), Int]): Vector[String] = {
    var w: Vector[String] = word.split("").toVector
    var more = w.length > 1
    while (more) {
      var bestRank = Int.MaxValue
      var best: (String, String) = null
      var i = 0
      while (i < w.length - 1) {
        val r = rank.getOrElse((w(i), w(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = (w(i), w(i + 1)) }
        i += 1
      }
      if (best == null) more = false
      else {
        val joined = best._1 + best._2
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < w.length) {
          if (j + 1 < w.length && w(j) == best._1 && w(j + 1) == best._2) {
            out += joined; j += 2
          } else { out += w(j); j += 1 }
        }
        w = out.result()
        more = w.length > 1
      }
    }
    w
  }

  /** Apply trained BPE merges to the corpus — the ENCODE half of the
    * tokenizer story ([[bpeTrain]] is the train half). Returns one row
    * per document: `(doc_id, n_tok, n_pieces, pieces_per_tok)` — the
    * fertility report a tokenizer team reads before committing to a
    * vocabulary (pieces/token ≈ 1 means the merges cover the corpus;
    * ≫ 1 means the vocabulary undertrained).
    *
    * Scale shape (the [[bpeTrain]] Zipf trick in reverse): the merge
    * loop runs once per DISTINCT token — a vocabulary-sized Dataset map
    * over broadcast ranks (mapPartitions-style imperative loop, the
    * documented last-resort tier: the iterative lowest-rank merge is
    * not expressible in codegen'd functions) — and the per-doc rollup
    * is a broadcast join of that tiny piece table back onto the shared
    * doc-token stage. The raw corpus is never re-tokenized and the
    * O(len²) merge loop never runs per occurrence. */
  def bpeEncode(s: SparkSession, d: String,
      merges: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(merges.zipWithIndex.toMap)
    val dt = sharedDocToks(s, d)
    val pieces = dt.select(col("tok")).distinct().as[String]
      .mapPartitions { it =>
        val rank = bc.value
        it.map(t => (t, bpeEncodeToken(t, rank).length.toLong))
      }.toDF("tok", "n_piece")
    dt.join(broadcast(pieces), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lc")).as("n_tok"),
        sum(col("lc") * col("n_piece")).as("n_pieces"))
      .withColumn("pieces_per_tok",
        round(col("n_pieces").cast("double") / col("n_tok"), 6))
      .select("doc_id", "n_tok", "n_pieces", "pieces_per_tok")
      .orderBy("doc_id")
  }

  /** Shard count for [[exportShards]] / [[exportShardStats]]. */
  val NumShards = 64L

  /** Deterministic shard id of a document — hash of doc_id, so the
    * assignment is reproducible, independent of row order/partitioning,
    * and stable when other documents are added or removed (the
    * [[splitStrata]] discipline applied to output sharding). The
    * declared report query pins [[PortableHash.h28]] (oracle parity);
    * [[exportShards]] defaults to the faster family. */
  def shardOf(docId: Column,
      hash: Column => Column = h28): Column =
    hash(concat(lit("shard_"), docId)) % NumShards

  /** Shard-assignment report: per shard, the document count, token
    * total, and doc_id range — the balance check a pipeline runs before
    * materializing training shards (hash sharding is balanced in
    * expectation; this is the evidence). One per-row map + a
    * [[NumShards]]-key agg with map-side partials. */
  def exportShardStats(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .select(shardOf(col("doc_id")).as("shard"), col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tok"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("shard")

  /** Materialize the corpus as [[NumShards]] hash-assigned training
    * shards (Hive-style `shard=K/` directories), with the output file
    * count BOUNDED: rows are first repartitioned on (shard, file
    * bucket), so total files is O(NumShards × filesPerShard) regardless
    * of how many input tasks the scan had. A bare `partitionBy` write
    * (no repartition) has every input task open a file in every shard
    * it touches — tasks × shards small files at 100 TB, the
    * small-files failure `Layout.compact` exists to repair; the bucket
    * column (vs repartitioning on shard alone) keeps `filesPerShard`
    * writers per shard, so one shard is never a single 1.5 TB writer.
    * Readers get shard-pruned scans for free. */
  def exportShards(docs: DataFrame, path: String,
      filesPerShard: Int = 4,
      hash: Column => Column = fast28): Unit =
    docs.withColumn("shard", shardOf(col("doc_id"), hash))
      .withColumn("fb",
        hash(concat(lit("file_"), col("doc_id"))) % filesPerShard)
      .repartition((NumShards * filesPerShard).toInt,
        col("shard"), col("fb"))
      .drop("fb")
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Multimodal plumbing: opaque binary payload + typed metadata. The
    * payload here derives from `text` (the container ships no media
    * libs); the schema/partitioning/metadata path is the real thing. */
  def binaryMeta(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
        octet_length(col("payload")).cast(LongType).as("blen"),
        md5(col("payload")).as("sig"))
      .orderBy("doc_id")

  /** HyperLogLog geometry: 64 registers (6 index bits out of the 28-bit
    * portable hash), 22 rank bits, rank in [1, 23]. */
  val HllRegisters = 64L
  val HllRankMax = 23 // 22 rem bits → max leading-zero rank 23 (rem = 0)

  /** Distinct-token HyperLogLog per source, next to the exact answer —
    * the mergeable cardinality sketch a 100 TB profile pass ships
    * instead of a count(DISTINCT) (register maxima union by max; the
    * exact column exists here only to exhibit the estimate's quality).
    *
    * Determinism (the reason this is NOT `approx_count_distinct`):
    * registers derive from the portable md5 h28 — reg = h % 64, rank =
    * 23 − bitlen(h DIV 64) — all integer; the harmonic-mean denominator
    * is accumulated in fixed point (each register contributes the exact
    * integer 2^(23−maxrank), empty registers 2^23), so the only double
    * in the query is one constant-over-integer division at the output
    * boundary — bit-identical cross-engine. A float 2^−M sum would be
    * partition-order-dependent.
    *
    * Scale: the (source, tok) distinct is the same vocab-sized pass
    * [[srcJaccard]] runs; everything after is 64 rows per source. */
  def hllDistinct(s: SparkSession, d: String): DataFrame = {
    val toks = corpus(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .distinct()
    val exact = toks.groupBy(col("source"))
      .agg(count(lit(1)).as("exact_distinct"))
    val regs = toks
      .withColumn("hv", PortableHash.h28(col("tok")))
      .withColumn("reg", col("hv") % HllRegisters)
      .withColumn("rem", expr(s"hv DIV $HllRegisters"))
      .withColumn("rank", when(col("rem") === 0, lit(HllRankMax))
        .otherwise(lit(HllRankMax) - length(conv(col("rem"), 10, 2))))
      .groupBy(col("source"), col("reg"))
      .agg(max(col("rank")).as("maxr"))
    regs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_regs"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST($HllRankMax - maxr AS INT))")).as("hit_sum"))
      .withColumn("reg_sum", col("hit_sum") +
        (lit(HllRegisters) - col("n_regs")) * lit(1L << HllRankMax))
      .join(exact, Seq("source"))
      // 0.709 = the standard HLL alpha for m = 64; the product folds
      // left-to-right from the same three literals in both engines
      .withColumn("est_distinct",
        lit(0.709) * lit(4096.0) * lit(8388608.0) /
          col("reg_sum").cast("double"))
      .select(col("source"), col("n_regs"), col("reg_sum"),
        col("est_distinct"), col("exact_distinct"))
      .orderBy("source")
  }

  /** Source-pair vocabulary overlap: Jaccard of the distinct-token sets
    * of every source pair, in integer ppm. The full pair grid appears
    * (zero-overlap pairs included) via a broadcast pair frame left-
    * joined with the intersection counts. Null-source docs are excluded
    * by the strict `<` pair ordering in both engines.
    *
    * Scale: intersection counts come from a token-keyed self-equi-join
    * of the distinct (source, tok) table — fan-out per token is
    * C(sources-with-token, 2), bounded by the source count, never a
    * cross of document volumes; the grid and size frames are
    * sources-sized broadcasts. */
  def srcJaccard(s: SparkSession, d: String): DataFrame = {
    val st = corpus(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val grid = sizes.as("x").join(sizes.as("y"),
        col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
    val inter = st.as("a").join(st.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    broadcast(grid).join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      // decimal(38,0) ppm-widening (repo invariant, SCALE.md r8):
      // vocab counts grow with the corpus (Heaps-sublinearly, but
      // still count-scaled)
      .withColumn("jacc_ppm",
        expr("CAST(n_inter AS DECIMAL(38,0)) * 1000000" +
          " DIV (n_a + n_b - n_inter)"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_inter"), col("jacc_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** Per-source token-length outliers: documents whose length sits ≥
    * 1.5 population standard deviations from their source's mean — the
    * anomaly cut a length-distribution audit applies before training.
    *
    * Determinism: the filter is the PURE-INTEGER inequality
    * 4·(n·x − s1)² ≥ 9·(n·s2 − s1²) — algebraically |z| ≥ 1.5 with z
    * = (x − μ)/σ — over exact integer moment sums, so no double ever
    * decides membership; the reported z_micro = sign·⌊10³·√(⌊dd²·10⁶ /
    * varn⌋·10⁶)⌋ ≈ ⌊10⁶·|z|⌋ (within 1 micro-unit for |z| ≥ 1.5) is
    * pure integer arithmetic plus [[PortableMath]]'s exact isqrt — no
    * declared output ever rides an engine's int128→double cast (the
    * boundary that made the previous DOUBLE z 1-ulp-divergent on >int64
    * moments). Envelope: dd²·10⁶ must fit decimal(38,0), i.e. |dd| =
    * n·|x−μ| < 4·10¹⁵ — loud ANSI/HUGEINT overflow beyond, never a
    * wrong row; t6 = z²·10¹² ≤ n·10¹² stays far under the isqrt
    * 2¹⁰⁶ exactness bound.
    *
    * Scale: one source-keyed moment aggregate (map-side partial) and a
    * broadcast join back — single corpus pass, no sort until the
    * outlier-sized output. */
  def lenZscore(s: SparkSession, d: String): DataFrame = {
    val t = corpus(s, d).select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast(LongType).as("n_tok"))
    // decimal(38,0) moments (s1/s2/dd/varn are internal, never output):
    // Σtok ~10¹⁴ at 100 TB makes s1² ~10²⁸ and Σtok² ~10²⁰ — far past
    // int64 — while dd² ≤ ~10³⁰ and n·s2 ≤ ~10³² stay exact in
    // decimal(38,0). The oracle mirrors with HUGEINT.
    val g = t.groupBy(col("source")).agg(count(lit(1)).as("n"),
      sum(col("n_tok")).as("s1"),
      sum(expr("CAST(n_tok AS DECIMAL(38,0)) * n_tok")).as("s2"))
    t.join(broadcast(g), Seq("source"))
      .withColumn("dd", expr("CAST(n_tok AS DECIMAL(38,0)) * n - s1"))
      .withColumn("varn",
        expr("n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"))
      .filter(col("varn") > 0 &&
        expr("4 * dd * dd") >= expr("9 * varn"))
      // z²·10⁶ exactly (≤ n·10⁶ since z² ≤ n — DIV quotient always
      // fits int64), re-widened ×10⁶ so the exact isqrt lands on
      // micro-z
      .withColumn("t6", expr(
        "CAST((dd * dd * 1000000) DIV varn AS DECIMAL(38,0)) * 1000000"))
      .withColumn("r0",
        expr(PortableMath.isqrtEstimate("t6", "DECIMAL(38,0)")))
      .withColumn("z_micro", expr(
        "CAST((CASE WHEN dd < 0 THEN -1 ELSE 1 END) * " +
          PortableMath.isqrtAdjust("r0", "t6") + " AS BIGINT)"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("z_micro"))
      .orderBy("doc_id", "source")
  }

  /** Sample size for [[weightedSample]]. */
  val WeightedSampleK = 50

  /** Deterministic weighted sampling (A-ES / exponential-clocks): each
    * document draws u ∈ (0, 1] from the portable hash of its id and
    * ranks by −ln(u)/w with weight w = its token count — the standard
    * reduction of weighted sampling without replacement to a top-k.
    * Long documents are proportionally likelier to make the sample; the
    * whole draw replays bit-identically from the corpus alone (the
    * seed IS the hash family), which is what a reproducible
    * training-mix needs.
    *
    * Determinism: the key is floor-quantized to micro-units BEFORE the
    * ranking (the [[SurprisalScale]] discipline — the only double is
    * one fixed mul/ln/div chain on exact inputs) and doc_id breaks
    * quantized ties. Scale: stateless per-row scoring then a top-k that
    * rides TakeOrderedAndProject — no shuffle beyond the k-row merge. */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    val u = (PortableHash.h28(concat(lit("ws_"), col("doc_id"))) + 1)
      .cast("double") / lit(268435456.0)
    corpus(s, d)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast(LongType).as("n_tok"))
      .withColumn("key_fp",
        floor(lit(-1000000.0) * log(u) / col("n_tok")).cast(LongType))
      .orderBy(col("key_fp"), col("doc_id"))
      .limit(WeightedSampleK)
  }
}
