package perfbench

/** Reference answers for top-k search, computed in the benchmark. */
object Check {
  /** Absolute tolerance on a returned distance against the reference.
    * The engine's kernel folds (x - y)² in double over float inputs in
    * dimension order, exactly as [[l2]] does, so equal inputs give equal
    * bits; the tolerance only admits a different summation order. */
  val DistTol = 1e-9

  final case class Hit(id: Long, dist: Double)

  /** L2 distance computed the way the engine's `l2` kernel computes it. */
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  /** Exact top-k over (id, vector) pairs, ascending (dist, id). */
  def bruteForce(q: Array[Float], k: Int,
                 corpus: Iterable[(Long, Array[Float])]): IndexedSeq[Hit] =
    corpus.iterator.map { case (id, v) => Hit(id, l2(q, v)) }.toIndexedSeq
      .sorted(Ordering.by((h: Hit) => (h.dist, h.id))).take(k)

  /** Why `got` is not the exact answer `want`, or None when it is: same
    * ids in the same order, ascending (dist, id), distances within
    * [[DistTol]]. */
  def exactMismatch(got: Seq[Hit], want: Seq[Hit]): Option[String] = {
    val sorted = got.zip(got.drop(1)).forall { case (a, b) =>
      a.dist < b.dist || (a.dist == b.dist && a.id < b.id)
    }
    if (got.map(_.id) != want.map(_.id))
      Some(s"ids ${got.map(_.id).mkString(",")} != ${want.map(_.id).mkString(",")}")
    else if (!sorted) Some("result not ascending by (dist, id)")
    else got.zip(want).collectFirst {
      case (g, w) if math.abs(g.dist - w.dist) > DistTol =>
        s"id ${g.id}: dist ${g.dist} != ${w.dist}"
    }
  }

  /** Share of the exact top-k ids that `got` returned. */
  def recall(got: Seq[Hit], want: Seq[Hit]): Double =
    if (want.isEmpty) 1.0
    else want.map(_.id).toSet.intersect(got.map(_.id).toSet).size.toDouble / want.size
}
