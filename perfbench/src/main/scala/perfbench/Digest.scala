package perfbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result: the row count plus the
  * sum (mod 2^64) of a 64-bit hash of each row's canonical text. Two
  * results with the same multiset of rows share a digest whatever
  * order their rows arrive in; any changed, lost or duplicated row
  * moves it. */
object Digest {

  def of(rows: Iterable[Row]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    f"$n:$sum%016x"
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  /** Exact, type-tagged text of a value: doubles by their shortest
    * round-trip repr, decimals with their scale, timestamps as epoch
    * millis plus nanos (independent of the JVM time zone). */
  def canon(v: Any): String = v match {
    case null                    => "∅"
    case d: Double               => "f:" + java.lang.Double.toString(d)
    case f: Float                => "f4:" + java.lang.Float.toString(f)
    case b: java.math.BigDecimal => "d:" + b.toString
    case b: BigDecimal           => "d:" + b.bigDecimal.toString
    case t: java.sql.Timestamp   => s"ts:${t.getTime}.${t.getNanos}"
    case i: java.time.Instant    => s"ts:${i.getEpochSecond}.${i.getNano}"
    case d: java.sql.Date        => "dt:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate  => "dt:" + d.toEpochDay
    case a: Array[Byte]          => "b:" + a.map("%02x".format(_)).mkString
    case r: Row                  => (0 until r.length).map(i => canon(r.get(i))).mkString("{", "\u0001", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("<", "\u0001", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case other                   => other.toString
  }
}
