package graft.bench

import org.apache.spark.sql.{DataFrame, Row}

import scala.util.hashing.MurmurHash3

/** Output checks: an order-insensitive content digest of a result and the
  * expected (row count, digest) table recorded from a reference run.
  */
object Check {

  final case class Expected(rows: Long, digest: String)

  /** Canonical text of one value: binary as hex, maps with sorted entries,
    * floating point by its shortest round-trip spelling. Timestamps render
    * in the JVM zone, which the runner pins to UTC.
    */
  def canon(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x.toString
  }

  /** Row count and a multiset digest: the wrapping sum of a 64-bit hash of
    * every row's canonical text, so row order and partitioning do not
    * matter but every duplicate does.
    */
  def digest(df: DataFrame): (Long, String) = {
    val (n, sum) = df.rdd.mapPartitions { it =>
      var n = 0L
      var sum = 0L
      it.foreach { r =>
        val s = canon(r)
        val h = (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
          (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
        sum += h; n += 1
      }
      Iterator((n, sum))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (n, f"$sum%016x")
  }

  /** Reads `name<TAB>rows<TAB>digest` lines; `#` starts a comment. */
  def readExpected(path: String): Map[String, Expected] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, dig) = l.split('\t')
        name -> Expected(rows.toLong, dig)
      }.toMap
    finally src.close()
  }
}
