package graft

import org.apache.spark.sql.functions._
import graft.engine.{Components, Mutations, TextOps}

/** Degenerate-input behavior: empty edge lists, sub-shingle documents,
  * empty update sets. These are the inputs iterative / persist-based
  * operators typically crash or hang on. */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents on an empty edge list terminates empty") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(empty).count() == 0)
  }

  test("connectedComponents rejects a null endpoint and leaves no cache behind") {
    spark.catalog.clearCache()
    val pairs = Seq((1L, Some(2L)), (2L, None)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Components.connectedComponents(pairs)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "the rejected call left a cached frame pinned")
  }

  test("jaccardPairs on sub-shingle docs is empty, not a crash") {
    val docs = Seq((1L, "a b"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    assert(TextOps.jaccardPairs(docs, 0.8).count() == 0)
  }

  test("minhash signature of a sub-shingle doc is absent (no shingles)") {
    val docs = Seq((1L, "only two"), (2L, "three token doc")).toDF("doc_id", "text")
    val sig = TextOps.minhashSignature(docs)
    assert(sig.count() == 1 && sig.select("doc_id").as[Long].head() == 2L)
  }

  test("applyUpdates with an empty update set leaves the target unchanged") {
    val target = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val updates = Seq.empty[(Long, Long)].toDF("k", "v")
    val out = Mutations.applyUpdates(target, updates, Seq("k"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(out == Seq((1L, 10L), (2L, 20L)))
  }

  test("simhashNearPairs on a single doc is empty") {
    val sh = TextOps.simhashShingles(Seq((1L, "a b c d e")).toDF("doc_id", "text"))
    assert(TextOps.simhashNearPairs(sh).count() == 0)
  }

  test("approxDistinct: HLL estimate within 5% of the exact count") {
    val rows = graft.engine.Relational.approxDistinct(spark, sf)
      .select("approx_parts", "exact_parts").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (approx, exact) =>
      assert(math.abs(approx - exact) <= math.max(1L, exact / 20),
        s"approx=$approx exact=$exact")
    }
  }

  /** Zero-row warehouse with the full testdata schemas — the in-repo
    * pin of the sf0 fuzz class that caught five divergences in r7
    * (Expand-based rollup/cube dropping the standard's () row on empty
    * input; groupBy(lit) yielding zero groups; ANSI x/0 where the
    * oracle renders NULL). */
  private lazy val emptyDir: String = {
    val d = java.nio.file.Files.createTempDirectory("sf0").toString
    Seq.empty[(Int, String)].toDF("r_regionkey", "r_name")
      .write.parquet(s"$d/region.parquet")
    Seq.empty[(Int, String, Int)].toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$d/nation.parquet")
    Seq.empty[(Long, String, Int, Double)]
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$d/supplier.parquet")
    Seq.empty[(Long, String, Int, Double, String)]
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$d/customer.parquet")
    Seq.empty[(Long, String, String, String, Int, Double)]
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice").write.parquet(s"$d/part.parquet")
    Seq.empty[(Long, Long, String, Double, java.sql.Timestamp, String)]
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority").write.parquet(s"$d/orders.parquet")
    Seq.empty[(Long, Long, Long, Int, Double, Double, Double, Double,
        String, String, java.sql.Timestamp)]
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$d/lineitem.parquet")
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("rollup/cube on an empty warehouse emit the standard's one () row") {
    val r = graft.engine.Relational.aggRollup(spark, emptyDir).collect()
    assert(r.length == 1 && r(0).getString(0) == "ALL" &&
      r(0).getString(1) == "ALL" && r(0).isNullAt(2) && r(0).getLong(3) == 0)
    val c = graft.engine.Relational.aggCube(spark, emptyDir).collect()
    assert(c.length == 1 && c(0).getString(0) == "ALL" &&
      c(0).getString(1) == "ALL" && c(0).isNullAt(2) && c(0).getLong(3) == 0)
  }

  test("abTest/eventsFunnel/datasetCard survive a zero-row input") {
    assert(graft.engine.Events.abTest(spark, emptyDir).count() == 1)
    val f = graft.engine.Events.eventsFunnel(spark, emptyDir).collect()
    assert(f.length == 4 && f.forall(_.isNullAt(2))) // conv NULL, not x/0
    assert(TextOps.datasetCard(spark, emptyDir).count() == 1)
  }
}
