package graft

import org.apache.spark.sql.functions._
import graft.engine.{PortableHash, Sources, TextOps}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("packSeqs is value- and order-deterministic under duplicate doc_ids") {
    // The round-3/4 driver red: duplicate doc_ids make a doc_id-only
    // window/sort engine-dependent. The round-5 contract: every
    // doc-pipeline query reads the canonical corpus (TextOps.corpus),
    // which keeps exactly ONE survivor per doc_id (min-md5 over the
    // field tuple) — so packSeqs emits one row per distinct id, and the
    // identical ordered output regardless of input partitioning.
    val dir = java.nio.file.Files.createTempDirectory("packdup").toString
    val rows = Seq(
      (7L, "a b c", "en", "s1", 5L),         // id 7 twice, same n_tok
      (7L, "d e f", "en", "s1", 5L),
      (8L, "x y", "en", "s1", 3L),           // id 8 twice, DIFFERENT n_tok
      (8L, "x y z w q r s t u v", "en", "s1", 19L),
      (9L, "lone doc", "en", "s2", 8L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def run(parts: Int): Seq[(Long, String, Long, Long, Long)] = {
      // different physical input layouts must not change the answer
      spark.read.parquet(s"$dir/documents.parquet").repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet_tmp")
      val d2 = s"$dir/v$parts"
      new java.io.File(d2).mkdirs()
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$dir/documents.parquet_tmp"),
        java.nio.file.Paths.get(s"$d2/documents.parquet"))
      TextOps.packSeqs(spark, d2)
        .as[(Long, String, Long, Long, Long)].collect().toSeq
    }
    val one = run(1)
    val many = run(7)
    assert(one == many, s"partitioning changed packSeqs output:\n$one\n$many")
    // canonical corpus: one survivor per distinct doc_id, every id kept
    assert(one.map(_._1).sorted == rows.map(_._1).distinct.sorted,
      s"expected one row per distinct doc_id, got $one")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("corpus keeps the min-md5 survivor per doc_id, independently computed") {
    // independent md5 (java.security, not Spark's) over the documented
    // key layout: textsourcelangn_chars with 
    // null sentinels — locks the survivor rule both engines implement
    // (TextOps.corpus / Registry0.DocsCte) against silent drift
    def key(text: String, source: String, lang: String, nch: java.lang.Long) = {
      val f = (v: String) => if (v == null) "" else v
      val tup = Seq(f(text), f(source), f(lang),
        f(if (nch == null) null else nch.toString)).mkString("")
      java.security.MessageDigest.getInstance("MD5")
        .digest(tup.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val rows = Seq[(java.lang.Long, String, String, String, java.lang.Long)](
      (1L, "b text", "en", "s1", 6L),
      (1L, "a text", "en", "s1", 6L),
      (1L, null, "de", "s2", null),
      (2L, "lone", "en", "s1", 4L),
      (null, "null id", "en", "s1", 7L))
    val expected1 = rows.filter(_._1 == 1L)
      .minBy(r => key(r._2, r._4, r._3, r._5))
    val dir = java.nio.file.Files.createTempDirectory("corpus").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.corpus(spark, dir)
      .as[(Long, String, String, String, java.lang.Long)]
      .collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(1L, 2L)) // null ids dropped, one row per id
    val s1 = got.head
    assert((s1._2, s1._3, s1._4, s1._5) ===
      (Option(expected1._2).getOrElse(""), expected1._3, expected1._4,
        expected1._5), s"survivor mismatch: $s1 vs $expected1")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("unigramSurprisal matches hand-computed millibit sums") {
    // corpus: doc1 = "a a b", doc2 = "a c" → tot = 5, cf(a)=3 cf(b)=cf(c)=1
    // doc1: floor(2·log2(5/3)·1000) + floor(1·log2(5)·1000) = 1473 + 2321
    // doc2: floor(1·log2(5/3)·1000) + floor(1·log2(5)·1000) =  736 + 2321
    val dir = java.nio.file.Files.createTempDirectory("surpr").toString
    Seq((1L, "a a b", "en", "s1", 5L), (2L, "a c", "en", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.unigramSurprisal(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 3794L, 1264L),
      (2L, 2L, 3057L, 1528L)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("shingles3 builds ordered 3-token shingles; short docs yield empty") {
    val df = Seq("a b c d", "x y").toDF("text")
    val out = df.select(TextOps.shingles3(TextOps.tokens(col("text"))).as("s"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1).isEmpty)
  }

  test("h28 is stable and within [0, 2^28)") {
    val out = Seq("hello", "hello", "world").toDF("s")
      .select(PortableHash.h28(col("s")).as("x")).as[Long].collect()
    assert(out(0) == out(1) && out(0) != out(2))
    assert(out.forall(x => x >= 0 && x < (1L << 28)))
  }

  test("md5_prefix28 generated Java compiles (no interpreted fallback)") {
    // With fallback disabled, a Janino compile failure in the generated
    // stage throws instead of silently dropping to interpreted eval —
    // this locks in the compiled-codegen guarantee for every h28 hot path.
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val n = spark.range(1000).selectExpr("CAST(id AS STRING) AS s")
        .select(PortableHash.h28(col("s")).as("x"),
          PortableHash.h28(col("s").cast("binary")).as("xb"))
        .filter(col("x") >= 0 && col("x") < (1L << 28) && col("xb") >= 0)
        .count()
      assert(n == 1000)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("native md5_prefix28 equals the conv(substring(md5)) formulation") {
    val df = (Seq("", "a", "hello world", "π unicode ✓", "x" * 1000)
      ++ (0 until 200).map(i => s"doc $i token"))
      .toDF("s")
    val mismatches = df.select(
        PortableHash.h28(col("s")).as("fast"),
        expr("CAST(conv(substring(md5(s), 1, 7), 16, 10) AS BIGINT)").as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mismatches == 0)
    // binary input path too
    val bin = df.select(
        PortableHash.h28(col("s").cast("binary")).as("fast"),
        expr("CAST(conv(substring(md5(CAST(s AS BINARY)), 1, 7), 16, 10) AS BIGINT)")
          .as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bin == 0)
  }

  test("dedupExact: identical normalized docs collapse to the first doc_id") {
    val df = Seq(
      (1L, "The Cat ", 8L), (2L, "the cat", 7L), (3L, "dog", 3L)
    ).toDF("doc_id", "text", "n_chars")
    // same pipeline as the declared query, against a literal frame
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("norm")).orderBy(col("doc_id"))
    val out = df.withColumn("norm", lower(trim(col("text"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L))
  }

  test("minhash+LSH: planted near-duplicates become candidate pairs") {
    val docs = Sources.documents(spark, sf)
    val cand = TextOps.candidatePairs(TextOps.minhashSignature(docs))
    val verified = TextOps.jaccardPairs(docs, 0.8)
    assert(cand.count() >= verified.count())
    assert(verified.count() > 0) // the corpus has planted near-dups
    // every verified pair really clears the threshold
    assert(verified.filter(col("jacc") < 0.8).count() == 0)
  }

  test("fast28 hash family: same pipeline, in-range values, dups still found") {
    val docs = Sources.documents(spark, sf)
    // values stay in the family's [0, 2^28) envelope (overflow headroom
    // for the a·x+b minhash arithmetic)
    val hx = docs.select(graft.engine.PortableHash.fast28(col("text")).as("x"))
      .agg(min(col("x")), max(col("x"))).as[(Long, Long)].head()
    assert(hx._1 >= 0L && hx._2 < (1L << 28))
    // the production family finds the planted near-dups too: exact
    // Jaccard verification is hash-independent, only candidate
    // generation (LSH buckets) changes
    val fast = TextOps.jaccardPairs(docs, 0.8, graft.engine.PortableHash.fast28)
    assert(fast.count() > 0)
    assert(fast.filter(col("jacc") < 0.8).count() == 0)
    spark.catalog.clearCache()
  }

  test("simhash of identical token multisets is identical") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "x y z")).toDF("doc_id", "text")
    val out = TextOps.simhash(df).orderBy("doc_id").as[(Long, Long)].collect()
    assert(out(0)._2 == out(1)._2) // order-insensitive
    assert(out(0)._2 != out(2)._2)
  }

  test("simhashNearPairs banding finds exactly the brute-force pairs (recall ≤ 3 bits)") {
    val sh = TextOps.simhashShingles(Sources.documents(spark, sf))
    val banded = TextOps.simhashNearPairs(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = sh.select(col("doc_id").as("a"), col("simhash").as("sa"))
    val b = sh.select(col("doc_id").as("b"), col("simhash").as("sb"))
    val brute = a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("ham"))
      .filter(col("ham") <= TextOps.NearMaxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
  }

  test("connectedComponents equals driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(40)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }
    // driver-side union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap
    // min-label find: re-canonicalize to the min id per component
    val byComp = want.groupBy(_._2).flatMap { case (_, m) =>
      val mn = m.keys.min; m.keys.map(_ -> mn)
    }
    val got = graft.engine.Components.connectedComponents(
        edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == byComp)
  }

  test("connectedComponents throws rather than return non-converged labels") {
    // a 6-node chain has diameter 5 — maxIter=2 cannot reach fixpoint
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF("a", "b")
    spark.catalog.clearCache()
    intercept[IllegalStateException] {
      graft.engine.Components.connectedComponents(chain, maxIter = 2)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "the non-converged call left a cached frame pinned")
    // and the same chain converges (single component 0) without a cap hit
    val ok = graft.engine.Components.connectedComponents(chain)
      .collect().map(r => r.getLong(1)).toSet
    assert(ok == Set(0L))
  }

  test("fingerprint is position-sensitive") {
    val df = Seq((1L, "a b"), (2L, "b a")).toDF("doc_id", "text")
    val out = TextOps.fingerprint(df).orderBy("doc_id")
      .as[(Long, Long)].collect()
    assert(out(0)._2 != out(1)._2)
  }

  /** Write a documents.parquet with the full corpus schema under a fresh
    * temp dir and return the dir (the shape dir-parameterized operators
    * read). */
  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("repetitionStats: counts, fractions and the repetitive grade") {
    val d = docsDir(Seq(
      (0L, "x y x y x y", "src0"),
      (1L, (0 until 30).map(i => s"w$i").mkString(" "), "src0")))
    val out = TextOps.repetitionStats(spark, d).collect()
    // doc 0: 6 tokens, 2 uniq, max token 3; bigrams x_y ×3, y_x ×2
    val r0 = out(0)
    assert(r0.getLong(1) == 6 && r0.getLong(2) == 2 && r0.getLong(3) == 3)
    assert(r0.getLong(4) == 5 && r0.getLong(5) == 3)
    assert(r0.getDouble(6) == 4.0 / 6 && r0.getDouble(7) == 3.0 / 5)
    assert(r0.getString(8) == "repetitive")
    // doc 1: all distinct, every bigram unique -> ok
    val r1 = out(1)
    assert(r1.getLong(2) == 30 && r1.getLong(3) == 1)
    assert(r1.getDouble(6) == 0.0 && r1.getString(8) == "ok")
  }

  test("crossSourceDedup keeps the highest-priority source per content") {
    val d = docsDir(Seq(
      (5L, "same exact content here", "src12"),
      (6L, "same exact content here", "src3"),
      (7L, "same exact content here", "src3"),
      (8L, "a different document", "src19")))
    val out = TextOps.crossSourceDedup(spark, d).collect()
    assert(out.length == 2)
    // survivor of the dup group: src3 beats src12, doc 6 beats doc 7
    assert(out(0).getLong(0) == 6L && out(0).getString(1) == "src3")
    assert(out(0).getLong(2) == 3L && out(0).getLong(3) == 2L)
    assert(out(1).getLong(0) == 8L && out(1).getLong(2) == 1L)
  }

  test("contamination counts distinct shingle-hash overlap vs benchmark") {
    // doc 0 is benchmark (doc_id < BenchmarkDocs); docs 100/101 are corpus
    val d = docsDir(Seq(
      (0L, "a b c d e", "src0"), // benchmark shingles: abc bcd cde
      (100L, "a b c x y", "src1"), // shares exactly "a b c" -> 1 of 3
      (101L, "p q r s t", "src1"), // disjoint -> clean
      (102L, "u v", "src1"))) // under 3 tokens -> excluded
    val out = TextOps.contamination(spark, d).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(100L, 101L))
    val hit = out(0)
    assert(hit.getLong(1) == 3 && hit.getLong(2) == 1)
    assert(hit.getDouble(3) == 1.0 / 3 && hit.getString(4) == "contaminated")
    assert(out(1).getLong(2) == 0 && out(1).getString(4) == "clean")
  }
}
