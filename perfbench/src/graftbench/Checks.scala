package graftbench

import scala.collection.mutable

/** Plain-Scala reference answers the benchmark checks graft's outputs
  * against, outside every timed window. Each checker returns None when
  * the output is right and Some(reason) when it is not.
  */
object Checks {

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  def cosine(a: Array[Float], b: Array[Float]): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Every record scored, best first, ties broken by id. */
  def ranked(recs: Iterable[Rec], q: Array[Float], metric: String): Seq[(Long, Double)] = {
    val scored = recs.iterator.map { r =>
      (r.id, if (metric == "l2") l2(r.vec, q) else cosine(r.vec, q))
    }.toArray
    if (metric == "l2") scored.sortBy(s => (s._2, s._1)).toSeq
    else scored.sortBy(s => (-s._2, s._1)).toSeq
  }

  /** Top-k check that is exact up to float rounding: the answer has
    * min(k, candidates) rows, each row's score is its true score, rows
    * are ordered, and the id set equals the reference top-k except where
    * scores tie (within `eps`) at the cut.
    */
  def topK(got: Seq[(Long, Double)], want: Seq[(Long, Double)], k: Int,
      higherBetter: Boolean, eps: Double): Option[String] = {
    val n = math.min(k, want.length)
    if (got.length != n) return Some(s"expected $n rows, got ${got.length}")
    val truth = want.toMap
    for ((id, s) <- got) truth.get(id) match {
      case None => return Some(s"id $id is not a candidate")
      case Some(t) if math.abs(t - s) > eps =>
        return Some(s"id $id scored $s, reference $t")
      case _ =>
    }
    val sign = if (higherBetter) 1.0 else -1.0
    if (got.sliding(2).exists {
      case Seq(a, b) => sign * (a._2 - b._2) < -eps
      case _ => false
    }) return Some("rows out of score order")
    if (n == 0) return None
    val cut = want(n - 1)._2
    val gotIds = got.map(_._1).toSet
    // every reference row strictly better than the cut must be present
    val missing = want.take(n).filter(w => sign * (w._2 - cut) > eps)
      .map(_._1).filterNot(gotIds)
    if (missing.nonEmpty) Some(s"missing ids ${missing.take(5).mkString(",")}")
    else if (got.exists(g => sign * (truth(g._1) - cut) < -eps))
      Some("an id below the top-k cut was returned")
    else None
  }

  /** Recall of an approximate top-k against the exact top-k ids. */
  def recall(got: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else got.toSet.intersect(exact.toSet).size.toDouble / exact.size

  /** BM25 over whitespace tokens, with graft's formula and rounding:
    * idf = ln((N − df + 0.5)/(df + 0.5) + 1), score rounded (+1e-9, 6).
    */
  final class Bm25(docs: Iterable[(Long, String)], k1: Double = 1.2, b: Double = 0.75) {
    private val tf: Array[(Long, Map[String, Int], Int)] = docs.iterator.map { case (id, text) =>
      val toks = text.split(' ').filter(_.nonEmpty)
      (id, toks.groupBy(identity).map { case (t, xs) => t -> xs.length }, toks.length)
    }.toArray
    private val n = tf.length.toDouble
    private val avgdl = tf.map(_._3.toLong).sum.toDouble / n
    private val df = mutable.HashMap.empty[String, Int]
    tf.foreach(_._2.keys.foreach(t => df(t) = df.getOrElse(t, 0) + 1))

    def scores(terms: Seq[String]): Seq[(Long, Double)] =
      tf.iterator.filter(d => terms.exists(d._2.contains)).map { case (id, m, dl) =>
        val s = terms.map { t =>
          val f = m.getOrElse(t, 0).toDouble
          if (f <= 0) 0.0
          else {
            val d = df(t).toDouble
            val idf = math.log((n - d + 0.5) / (d + 0.5) + 1)
            idf * (f * (k1 + 1)) / (f + k1 * (1.0 - b + b * dl / avgdl))
          }
        }.sum
        (id, BigDecimal(s + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq.sortBy(x => (-x._2, x._1))
  }

  /** Same multiset of (id, payload) rows? */
  def sameRows(got: Seq[(Long, String)], want: Seq[(Long, String)]): Option[String] = {
    def counts(xs: Seq[(Long, String)]) = xs.groupBy(identity).map { case (k, v) => k -> v.length }
    if (counts(got) == counts(want)) None
    else Some(s"rows differ: got ${got.length} (${got.map(_._1).distinct.sorted.take(6).mkString(",")}), " +
      s"want ${want.length} (${want.map(_._1).distinct.sorted.take(6).mkString(",")})")
  }
}
