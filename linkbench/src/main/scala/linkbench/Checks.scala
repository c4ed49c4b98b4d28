package linkbench

import org.apache.spark.sql.Row

/** Result checks. They run after the timed span they check. */
object Checks {

  /** Rows are in (score desc, id asc) order. */
  def scoreOrdered(scores: Seq[Double], ids: Seq[Long]): Boolean =
    scores.indices.drop(1).forall { i =>
      scores(i - 1) > scores(i) || (scores(i - 1) == scores(i) && ids(i - 1) < ids(i))
    }

  /** Rows are in (distance asc, id asc) order. */
  def distOrdered(dists: Seq[Double], ids: Seq[Long]): Boolean =
    scoreOrdered(dists.map(-_), ids)

  def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The library's cosine, recomputed on the driver in the same order. */
  def cosine(a: Array[Float], b: Array[Float]): Option[Double] = {
    if (a.length != b.length) return None
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) None else Some(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Exact brute-force top-k of `q` against every other vector, by the
    * library's rounded cosine with an id tie-break. */
  def vectorTopK(emb: Map[Long, Array[Float]], q: Long, k: Int): Seq[(Long, Double)] = {
    val qv = emb(q)
    emb.iterator.filter(_._1 != q)
      .flatMap { case (id, v) => cosine(v, qv).map(c => id -> round6(c)) }
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(k)
  }

  def rowsOf(rows: Array[Row], id: String, score: String): (Seq[Long], Seq[Double]) =
    (rows.map(r => r.getAs[Number](id).longValue).toSeq,
      rows.map(r => r.getAs[Number](score).doubleValue).toSeq)
}
