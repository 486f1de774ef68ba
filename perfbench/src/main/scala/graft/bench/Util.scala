package graft.bench

/** Minimal JSON rendering for the result and trace files. Maps keep their
  * iteration order, so pass a `ListMap` or a sorted map for stable output.
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => graft.JsonUtil.q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Splits the window `[from, to)` among labelled intervals: every instant
    * goes to the covering interval whose label comes first in `priority`,
    * and instants no interval covers go to `rest`. The parts sum to
    * `to - from` exactly.
    */
  def partition(from: Long, to: Long, iv: Seq[(String, Long, Long)],
                priority: Seq[String], rest: String): Map[String, Long] = {
    val rank = priority.zipWithIndex.toMap
    val clipped = iv.flatMap { case (l, s, e) =>
      val cs = math.max(s, from); val ce = math.min(e, to)
      if (ce > cs && rank.contains(l)) Some((l, cs, ce)) else None
    }
    val cuts = (Seq(from, to) ++ clipped.flatMap(x => Seq(x._2, x._3))).distinct.sorted
    val out = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val covering = clipped.filter(x => x._2 <= a && x._3 >= b)
        val label = if (covering.isEmpty) rest else covering.minBy(x => rank(x._1))._1
        out(label) += b - a
      case _ => ()
    }
    out.toMap
  }
}
