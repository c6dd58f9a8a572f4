package graft

import org.apache.spark.sql.types.DecimalType

/** Output-type contract for every declared query (the round-1 lesson):
  * DECIMAL-typed output columns canonicalize engine-specifically under
  * the driver's hash, so decimal arithmetic must stay internal and the
  * final projection must emit only BIGINT/DOUBLE/STRING/DATE/BOOLEAN.
  * Only schemas are asserted, but CONSTRUCTING some queries runs real
  * work (the similarity queries count the corpus for the adaptive bit
  * count; the dedup queries materialize their shared stages), so this
  * spec also doubles as a smoke test of every query's plan-build path. */
class ContractSpec extends SparkSpec {

  test("no declared query emits a DECIMAL-typed output column") {
    Registry.queries.foreach { case (name, fn) =>
      val bad = fn(spark, sf).schema.fields
        .filter(_.dataType.isInstanceOf[DecimalType]).map(_.name)
      assert(bad.isEmpty,
        s"$name emits DECIMAL output column(s): ${bad.mkString(", ")}")
    }
  }

  test("every declared query has oracle SQL and vice versa") {
    val q = Registry.queries.keySet
    val o = Registry.oracleSql.keySet
    assert((q diff o).isEmpty, s"queries without oracle: ${q diff o}")
    assert((o diff q).isEmpty, s"oracles without query: ${o diff q}")
    // both maps collapse duplicate names: a name declared in two
    // per-module registries would silently drop one query
    val names = Registry.entryNames
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).distinct}")
  }

  test("the only mains are Bench, Verify, Profile, ScaleGen, StageGc") {
    // keeps the one-off probe mains from growing back: profile declared
    // queries with Profile over ScaleGen copies instead
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources under ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    // one entry per `def main(`, named by its file (one object per main file)
    val mains = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = java.nio.file.Files.readString(f.toPath)
      Seq.fill("""def main\(""".r.findAllMatchIn(src).size)(f.getName.stripSuffix(".scala"))
    }
    assert(mains.sorted == Seq("Bench", "Profile", "ScaleGen", "StageGc", "Verify"),
      s"mains: ${mains.sorted}")
  }

  test("every schema-inferring read.parquet( in src/main is allowlisted") {
    // a bare `read.parquet(` infers the schema with a Spark job on every
    // call; library reads pass a kept schema (Sources.read, stage hits)
    val allowed: Map[String, (Int, String)] = Map(
      "engine/Sources.scala" -> (1, "Sources.read infers a source schema once per JVM, then passes it"),
      "engine/Stages.scala" -> (1, "a stage build infers its schema once, for the manifest hits read with"),
      "engine/Layout.scala" -> (1, "Layout.compact reads a flat table once to rewrite it whole"),
      "api/FlowEngine.scala" -> (2, "FlowEngine's one-time schema capture (connect, first touch)"),
      "ScaleGen.scala" -> (2, "ScaleGen reads each table once to replicate it and once to report rows"),
      "Bench.scala" -> (1, "the JVM warm-up read before the timed loop"),
      "Profile.scala" -> (1, "the JVM warm-up read, as Bench's"),
    )
    val root = new java.io.File("src/main/scala/graft")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val found = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val n = java.nio.file.Files.readAllLines(f.toPath).toArray.map(_.toString.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("*"))
        .map("""read\.parquet\(""".r.findAllMatchIn(_).size).sum
      if (n > 0) Some(root.toPath.relativize(f.toPath).toString -> n) else None
    }.toMap
    assert(found == allowed.map { case (f, (n, _)) => f -> n },
      s"bare read.parquet( calls per file: $found")
  }

  /** The q_pack_seqs lesson (round 3's one red row): a final ORDER BY
    * whose keys can tie across rows that differ elsewhere lets the two
    * engines emit different row orders — the driver hashes rows in
    * emitted order, so that's a hash mismatch waiting for the right
    * data. The contract: for every declared query, rows that tie on the
    * outermost Sort's keys must be IDENTICAL across all output columns
    * (distinct full rows == distinct sort-key tuples). Run at sf0.01,
    * the driver's verify SF, so ties invisible at sf0.001 still trip. */
  test("every declared query's final sort is a total order at sf0.01") {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort,
      SubqueryAlias}
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
    import org.apache.spark.sql.functions.col

    // Right(sort) = validate keys; Left(true) = single-row global
    // aggregate, order-deterministic by construction; Left(false) = bug.
    @annotation.tailrec
    def outerSort(p: LogicalPlan): Either[Boolean, Sort] = p match {
      case s: Sort if s.global                   => Right(s)
      case a: Aggregate if a.groupingExpressions.isEmpty => Left(true)
      case GlobalLimit(_, c)                     => outerSort(c)
      case LocalLimit(_, c)                      => outerSort(c)
      case SubqueryAlias(_, c)                   => outerSort(c)
      case Project(_, c)                         => outerSort(c)
      case _                                     => Left(false)
    }

    val d01 = "/root/testdata/sf0.01"
    val bad = Registry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, d01)
      outerSort(df.queryExecution.analyzed) match {
        case Left(true)  => None
        case Left(false) => Some(s"$name: no outermost global Sort")
        case Right(s) =>
          val keyNames = s.order.map(_.child).map {
            case a: AttributeReference => a.name
            case Alias(_, n)           => n
            case other                 => other.sql
          }
          val out = df.columns.toSet
          if (keyNames.forall(out.contains)) {
            // distinct sort-key tuples must equal distinct full rows —
            // key-tied rows differing in any other column are the bug
            val groups = df.select(keyNames.map(col): _*).distinct().count()
            val rows   = df.distinct().count()
            if (groups != rows)
              Some(s"$name: sort keys ${keyNames.mkString(",")} tie across " +
                s"non-identical rows ($groups key tuples, $rows distinct rows)")
            else None
          } else
            // sort key pruned from the output: order can't be validated
            // against emitted columns — flag it (keys must be output cols)
            Some(s"$name: sort keys ${keyNames.mkString(",")} not all in " +
              s"output ${df.columns.mkString(",")}")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** The q_pack_seqs/q_event_trans round-4 lesson: Spark's ASC default
    * is NULLS FIRST, DuckDB's is NULLS LAST, so ANY ascending sort —
    * final ORDER BY or window ORDER BY — whose key goes null on some
    * future driver-generated dataset diverges the emitted row order (or
    * the window's cumulative/lead values) between the engines.
    * Registry0.portableOrder rewrites every registered plan to NULLS
    * LAST; this contract pins the rewrite wired for every query,
    * including SortOrders inside subquery expressions (which
    * transformAllExpressions does not reach — any hit here means the
    * query needs a local explicit ordering). */
  test("no declared query carries an ASC NULLS FIRST ordering anywhere") {
    import org.apache.spark.sql.catalyst.expressions.{
      Ascending, NullsFirst, SortOrder}
    val bad = Registry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.analyzed
      val hits = plan.collectWithSubqueries {
        case p => p.expressions.flatMap(_.collect {
          case so @ SortOrder(_, Ascending, NullsFirst, _) => so.sql
        })
      }.flatten
      if (hits.isEmpty) None
      else Some(s"$name: ASC NULLS FIRST ordering(s): ${hits.mkString("; ")}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** The deepest round-4/5 lesson: the final-sort contract above is not
    * enough — an INTERIOR window whose ORDER BY ties across
    * non-interchangeable rows computes engine-dependent values
    * (row_number, lead, running sums) long before the output sort, and
    * the driver's regenerated corpora carry exactly the tie classes
    * (duplicate doc_ids, replayed events) that local testdata lacks.
    *
    * Tie-interchangeability is an END-TO-END property (a session id is
    * provably invariant to intra-tie order even though its lag column
    * is not), so a per-window static check either misses cases or
    * false-positives on derived columns. The empirical contract that
    * captures it exactly: on an adversarially mutated corpus (duplicate
    * doc_ids, replayed/key-tied events, null fields — the Scala twin of
    * scripts/fuzz.py's generator), every query's OUTPUT must be
    * bit-identical when its input tables are rewritten with a different
    * physical row order and file count. Any window (or any operator)
    * whose result depends on tie order surfaces as a diff between the
    * two layouts; scripts/fuzz.py's DuckDB differential then extends
    * the same guarantee cross-engine — layout-independence here means
    * ANY scan order the other engine picks yields the same rows. */
  test("every query is invariant to input layout on adversarial data") {
    import org.apache.spark.sql.functions.{col, rand}
    val dirA = adversarialDir()
    // same logical content, different physical layout: shuffled row
    // order, different file count per table
    val dirB = java.nio.file.Files.createTempDirectory("graft-advB").toString
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      spark.read.parquet(s"$dirA/$t.parquet")
        .orderBy(rand(42)).repartition(3)
        .write.mode("overwrite").parquet(s"$dirB/$t.parquet")
    }
    val bad = Registry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val a = fn(spark, dirA).collect().map(_.toString).toSeq
      val b = fn(spark, dirB).collect().map(_.toString).toSeq
      if (a == b) None
      else {
        val firstDiff = a.zipAll(b, "<missing>", "<missing>")
          .indexWhere { case (x, y) => x != y }
        Some(s"$name: output depends on input layout (first diff at row " +
          s"$firstDiff: ${a.lift(firstDiff)} vs ${b.lift(firstDiff)})")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** Deterministic Scala twin of scripts/fuzz.py `gen`: clone sf0.001
    * and inject duplicate doc_ids (replays, reshuffles, cross-source,
    * different lengths), nasty text (null/empty/whitespace runs), null
    * doc_ids, replayed / key-tied / null-field events, replayed /
    * key-colliding / null-keyed orders and lineitems (`reldup`), and
    * duplicate-PK / null-FK dimension rows (`dimdup`). */
  private def adversarialDir(): String = {
    import org.apache.spark.sql.Row
    import spark.implicits._
    val src = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft-adv").toString
    spark.read.parquet(s"$src/region.parquet")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")

    // dims: exact replays, same-PK divergent payloads, null FK, null PK
    val natT = spark.read.parquet(s"$src/nation.parquet")
    val nb = natT.orderBy("n_nationkey").limit(6)
      .as[(java.lang.Integer, String, java.lang.Integer)].collect()
    val nextra = nb.take(2).toSeq ++
      nb.slice(2, 4).map(r => (r._1, r._2 + "_DUP", r._3)) ++
      Seq((nb(4)._1, nb(4)._2, null: java.lang.Integer),
        (null: java.lang.Integer, "NATION_NULLKEY", nb(5)._3))
    natT.union(nextra.toDF(natT.columns: _*))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")

    val custT = spark.read.parquet(s"$src/customer.parquet")
    val cb = custT.orderBy("c_custkey").limit(8)
      .as[(java.lang.Long, String, java.lang.Integer, java.lang.Double,
        String)].collect()
    val cextra = cb.take(3).toSeq ++
      cb.slice(3, 6).map(r => (r._1, r._2 + "_DUP", r._3, r._4, r._5)) ++
      Seq((cb(6)._1, cb(6)._2, null: java.lang.Integer, cb(6)._4, cb(6)._5),
        (null: java.lang.Long, "NULLKEY", cb(7)._3, cb(7)._4, cb(7)._5))
    custT.union(cextra.toDF(custT.columns: _*))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")

    val supT = spark.read.parquet(s"$src/supplier.parquet")
    val sb = supT.orderBy("s_suppkey").limit(6)
      .as[(java.lang.Long, String, java.lang.Integer, java.lang.Double)]
      .collect()
    val sextra = sb.take(2).toSeq ++
      sb.slice(2, 4).map(r => (r._1, r._2 + "_DUP", r._3, r._4)) ++
      Seq((sb(4)._1, sb(4)._2, null: java.lang.Integer, sb(4)._4),
        (null: java.lang.Long, "NULLKEY", sb(5)._3, sb(5)._4))
    supT.union(sextra.toDF(supT.columns: _*))
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")

    val partT = spark.read.parquet(s"$src/part.parquet")
    val pb = partT.orderBy("p_partkey").limit(6)
      .as[(java.lang.Long, String, String, String, java.lang.Integer,
        java.lang.Double)].collect()
    val pextra = pb.take(2).toSeq ++
      pb.slice(2, 4).map(r => (r._1, r._2, r._3, r._4 + "_DUP", r._5, r._6)) ++
      Seq((null: java.lang.Long, "NULLKEY", pb(4)._3, pb(4)._4, pb(4)._5,
        pb(4)._6))
    partT.union(pextra.toDF(partT.columns: _*))
      .write.mode("overwrite").parquet(s"$dir/part.parquet")

    // facts: exact replays, key collisions with divergent payloads,
    // null keys/dates — NOT canonicalized by the engine, so every
    // consumer must be tie-proof on them
    val ordT = spark.read.parquet(s"$src/orders.parquet")
    val ob = ordT.orderBy("o_orderkey").limit(12)
      .as[(java.lang.Long, java.lang.Long, String, java.lang.Double,
        java.sql.Timestamp, String)].collect()
    val oextra = ob.take(4).toSeq ++
      ob.slice(4, 8).map(r =>
        (r._1, r._2, r._3, Double.box(r._4 + 111.0), r._5, r._6)) ++
      ob.slice(8, 10).map(r =>
        (Long.box(r._1 + 10000000L), r._2, r._3, r._4,
          null: java.sql.Timestamp, r._6)) ++
      Seq((null: java.lang.Long, ob(10)._2, ob(10)._3, ob(10)._4,
        ob(10)._5, ob(10)._6),
        (Long.box(ob(11)._1 + 20000000L), null: java.lang.Long, ob(11)._3,
          ob(11)._4, ob(11)._5, ob(11)._6))
    ordT.union(oextra.toDF(ordT.columns: _*))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val liT = spark.read.parquet(s"$src/lineitem.parquet")
    val lb = liT.orderBy("l_orderkey", "l_linenumber").limit(12).collect()
    val lextra: Seq[Row] = lb.take(4).toSeq ++
      lb.slice(4, 8).map { r => // same (orderkey, linenumber), new qty
        Row(r.get(0), r.get(1), r.get(2), r.get(3),
          Double.box(r.getDouble(4) + 1.0), r.get(5), r.get(6), r.get(7),
          r.get(8), r.get(9), r.get(10))
      } ++
      Seq(
        Row(lb(8).get(0), null, lb(8).get(2), lb(8).get(3), lb(8).get(4),
          lb(8).get(5), lb(8).get(6), lb(8).get(7), lb(8).get(8),
          lb(8).get(9), lb(8).get(10)), // null partkey
        Row(lb(9).get(0), lb(9).get(1), lb(9).get(2), lb(9).get(3),
          lb(9).get(4), lb(9).get(5), lb(9).get(6), lb(9).get(7),
          lb(9).get(8), lb(9).get(9), null), // null shipdate
        Row(null, lb(10).get(1), lb(10).get(2), lb(10).get(3),
          lb(10).get(4), lb(10).get(5), lb(10).get(6), lb(10).get(7),
          lb(10).get(8), lb(10).get(9), lb(10).get(10))) // null orderkey
    liT.union(spark.createDataFrame(
        spark.sparkContext.parallelize(lextra), liT.schema))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val ebase2 = emb.orderBy("vec_id").limit(6)
      .as[(java.lang.Long, Seq[Float], java.lang.Integer)].collect()
    val dim = ebase2.head._2.size
    val vextra: Seq[(java.lang.Long, Seq[Float], java.lang.Integer)] =
      ebase2.take(2).toSeq ++ // exact replays
      ebase2.slice(2, 4).map { r => // id collision, different embedding
        (r._1, r._2.updated(0, r._2.head + 0.25f), r._3)
      } ++ Seq(
        (null, ebase2.head._2, Int.box(1)),          // null vec_id
        (Long.box(900001L), null, Int.box(1)),       // null embedding
        (Long.box(900002L), Seq.fill(dim)(0.0f), Int.box(1)), // zero vector
        (Long.box(900003L), Seq.fill(dim)(Float.NaN), Int.box(1))) // NaN
    emb.union(vextra.toDF(emb.columns: _*))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val base = docs.orderBy("doc_id").limit(20)
      .as[(Long, String, String, String, Long)].collect()
    def doc(id: java.lang.Long, text: String, lang: String, srcName: String) =
      (id, text, lang, srcName,
        if (text == null) null else java.lang.Long.valueOf(text.length.toLong))
    val extra = base.take(5).map(r => (java.lang.Long.valueOf(r._1), r._2, r._3, r._4,
        java.lang.Long.valueOf(r._5))) ++ // exact replays
      base.slice(5, 9).map { r => // same id, same token count, new text
        doc(r._1, r._2.split(" ").reverse.mkString(" "), r._3, r._4)
      } ++
      base.slice(9, 13).map(r => doc(r._1, "short dup text", r._3, r._4)) ++
      base.slice(13, 17).map(r => doc(r._1, r._2, r._3, "srcX")) ++ // cross-source
      Seq(doc(900001L, null, "en", "s1"), doc(900002L, "", "en", "s1"),
        doc(900003L, "   ", "en", "s2"), doc(900004L, " pad  ded ", "en", "s2"),
        doc(null, "null id row", "en", "s1"))
    docs.union(extra.toSeq.toDF(docs.columns: _*))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val evs = spark.read.parquet(s"$src/events.parquet")
    val ebase = evs.orderBy("event_id").limit(24).collect()
    val eextra: Seq[Row] = ebase.take(8).toSeq ++ // exact replays
      ebase.slice(8, 14).map { r => // same (user, ts, id), different type
        Row(r.get(0), r.get(1), r.get(2), "error", r.get(4), r.get(5))
      } ++
      ebase.slice(14, 19).map { r => // same (user, ts), different id
        Row(Long.box(r.getLong(0) + 1000000L), r.get(1), r.get(2),
          "click", r.get(4), r.get(5))
      } ++
      Seq( // null fields
        Row(Long.box(2000001L), null, Long.box(7L), "click", null, null),
        Row(Long.box(2000002L), ebase(20).get(1), null, null,
          Double.box(1.5), null))
    evs.union(spark.createDataFrame(
        spark.sparkContext.parallelize(eextra), evs.schema))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }
}
