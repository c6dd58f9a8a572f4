package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(math.abs(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 90) - 3.7) < 1e-12)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 0) == 1.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 100) == 2.0)
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("p90 of 100 samples rests on 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(math.abs(Stats.percentile(xs, 90) - 90.1) < 1e-9)
    assert(Stats.beyond(xs, 90) == 10)
    assert(Stats.beyond((1 to 20).map(_.toDouble), 90) == 2)
  }

  private def row(vs: Any*): Row = new GenericRow(vs.toArray)

  private val rows = Seq(
    row(1L, "a", 0.1, new java.math.BigDecimal("1.50"), Seq(1.0f, 2.0f)),
    row(2L, null, -0.0, new java.math.BigDecimal("1.5"), Seq.empty[Float]),
    row(3L, "c", Double.NaN, null, Seq(3.0f)))

  test("digest is stable when rows are reordered") {
    val d = Digest.of(rows)
    assert(Digest.of(rows.reverse) == d)
    assert(Digest.of(Seq(rows(1), rows(2), rows(0))) == d)
    assert(d.startsWith("3:"))
  }

  test("digest moves on a changed, lost or duplicated row") {
    val d = Digest.of(rows)
    assert(Digest.of(rows.updated(0, row(1L, "a", 0.1,
      new java.math.BigDecimal("1.5"), Seq(1.0f, 2.0f)))) != d) // decimal scale
    assert(Digest.of(rows.updated(1, row(2L, null, 0.0,
      new java.math.BigDecimal("1.5"), Seq.empty[Float]))) != d) // -0.0 vs 0.0
    assert(Digest.of(rows.tail) != d)
    assert(Digest.of(rows :+ rows.head) != d)
    assert(Digest.of(Seq(row("ab", "c"))) != Digest.of(Seq(row("a", "bc"))))
  }

  test("the query table covers every query of the workload") {
    val table = QueryTable.load()
    val names = QueryWorkload.registry.map(_._1)
    assert(table.map(_.name).sorted == names.sorted)
    assert(names.distinct.size == names.size)
    assert(table.size == 178)
    assert(table.forall(q => Metrics.Modules.contains(q.module)))
    assert(table.map(_.module).toSet == Metrics.Modules.toSet)
    assert(table.forall(_.digest.matches("[0-9]+:[0-9a-f]{16}")))
  }

  test("the timed sample names queries of the table and spans every module") {
    val module = QueryTable.load().map(q => q.name -> q.module).toMap
    val s = QueryWorkload.Sample
    assert(s.distinct.size == s.size)
    assert(s.forall(module.contains))
    assert(s.map(module).toSet == Metrics.Modules.toSet)
  }

  private def benchmarkJson: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).map(_.resolve("BENCHMARK.json"))
      .find(Files.exists(_)).get

  test("metric names and units match BENCHMARK.json") {
    val spec = new ObjectMapper().readTree(benchmarkJson.toFile)
    def defs(key: String) = spec.get(key).elements().asScala.toSeq.map(n =>
      Metrics.Def(n.get("name").asText, n.get("unit").asText, n.get("better").asText))
    assert(defs("end_to_end") == Metrics.endToEnd)
    assert(defs("per_layer") == Metrics.perLayer)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Seq("etl_mutations", "query_mix"))
  }
}
