package perfbench

/** The reference answer every search is checked against: exact cosine
  * top-k over the driver's copy of the generated vectors, computed in
  * plain Scala, independent of graft's kernels. Ties order by id. */
object Exact {
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** (id, score) of the k most similar vectors, score descending. */
  def topK(vectors: collection.Map[Long, Array[Float]], q: Array[Float], k: Int): Seq[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
      (x: (Long, Double), y: (Long, Double)) =>
        if (x._2 != y._2) java.lang.Double.compare(x._2, y._2) else java.lang.Long.compare(y._1, x._1))
    vectors.foreach { case (id, v) =>
      heap.add((id, cosine(v, q)))
      if (heap.size > k) heap.poll()
    }
    val out = Array.newBuilder[(Long, Double)]
    while (!heap.isEmpty) out += heap.poll()
    out.result().reverse.toSeq
  }

  /** Share of `exact` ids that `got` contains. */
  def recall(got: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else exact.count(got.toSet).toDouble / exact.length

  /** None when `got` is a correct top-k: the right length, every score
    * the true cosine of its id (to graft's 6-decimal rounding), scores
    * non-increasing, and no returned id scoring below the true k-th
    * best (ties at the boundary may pick either id). */
  def checkTopK(vectors: collection.Map[Long, Array[Float]], q: Array[Float], k: Int,
      got: Seq[(Long, Double)]): Option[String] = {
    val exact = topK(vectors, q, k)
    val kth = exact.last._2
    val tol = 2e-6
    if (got.length != exact.length) Some(s"${got.length} rows, expected ${exact.length}")
    else got.collectFirst {
      case (id, _) if !vectors.contains(id) => s"id $id is not live"
      case (id, s) if math.abs(s - cosine(vectors(id), q)) > tol => s"id $id score $s is not its cosine"
      case (id, s) if s < kth - tol => s"id $id score $s is below the exact k-th score $kth"
    }.orElse(
      if (got.map(_._2).sliding(2).exists(w => w.length == 2 && w(0) < w(1))) Some("scores not ordered")
      else None)
  }
}
