package graft.operators

/** A plain driver-side Lloyd that trains each quantizer in its own loop,
  * the way the per-quantizer Spark chains did: seeds are the smallest
  * ids; a cell's centroid is its members' exact Long component sum with
  * the exact raw norm; a code's mean is its members' sum over its
  * member count, null and empty slices counted; a cell or code with no
  * non-empty member vanishes; assignment is the exact integer-dot
  * cosine argmax (ties cell-ascending, NaN greatest) and the exact L2
  * argmin over each `dsub` slice (ties code-ascending). The reference
  * for [[AnnOps.lloydRounds]] and the IVF-PQ build.
  */
object LloydReference {
  type Cent = Seq[(Long, Seq[Long], Long)] // cell, sum, cnrmr bits
  type Means = Seq[Seq[(Long, Seq[Long])]] // per m: code, mean bits

  /** What the reference saw happen, so each spec can show it covered
    * the corner it names. */
  final case class Seen(var ties: Int = 0, var emptyCells: Int = 0,
      var nullOnlyCodes: Int = 0)

  private def rawNorm(cc: Seq[Long]): Double =
    math.sqrt(cc.map(java.math.BigInteger.valueOf)
      .map(b => b.multiply(b)).foldLeft(java.math.BigInteger.ZERO)(_ add _)
      .doubleValue())

  /** Component sums of the non-empty vectors, per key. */
  private def sums[K](xs: Seq[(K, Array[Long])]): Map[K, Array[Long]] =
    xs.filter(x => x._2 != null && x._2.nonEmpty).groupBy(_._1).map {
      case (k, vs) =>
        val out = new Array[Long](vs.map(_._2.length).max)
        vs.foreach { case (_, c) => c.indices.foreach(i => out(i) += c(i)) }
        k -> out
    }

  private def cosineCell(c: Array[Long], cent: Seq[(Long, Array[Long], Double)],
      seen: Seen): Long = {
    val nrmr = if (c == null) Double.NaN
      else math.sqrt(c.map(x => x * x).sum.toDouble)
    if (cent.isEmpty) -1L
    else cent.map { case (cell, cc, cn) =>
      val n = if (c == null) 0 else math.min(c.length, cc.length)
      val dot = (0 until n).map(i => c(i) * cc(i)).sum
      (cell, dot.toDouble / (nrmr * cn))
    }.reduceLeft { (best, next) =>
      val cmp = java.lang.Double.compare(next._2, best._2)
      if (cmp == 0) seen.ties += 1
      if (cmp > 0) next else best
    }._1
  }

  private def l2Code(x: Array[Long], means: Seq[(Long, Array[Double])],
      seen: Seen): Long =
    if (means.isEmpty) -1L
    else means.map { case (code, mu) =>
      var dot = 0.0
      (0 until math.min(if (x == null) 0 else x.length, mu.length))
        .foreach(i => dot += x(i) * mu(i))
      (code, mu.map(v => v * v).sum - 2.0 * dot)
    }.reduceLeft { (best, next) =>
      if (next._2 == best._2) seen.ties += 1
      if (next._2 < best._2) next else best
    }._1

  /** The per-quantizer reference loops: (id -> (cell, codes)), the
    * centroids and the means the final assignments scored. */
  def reference(rows: Seq[(Long, Array[Long])], cells: Int,
      iters: Int, pqM: Int, pqKs: Int, pqIters: Int, dsub: Int,
      seen: Seen): (Map[Long, (Long, Seq[Long])], Cent, Means) = {
    val seeds = rows.sortBy(_._1).take(math.max(cells, pqKs)).map(_._2)
    var cent = sums(seeds.take(cells).zipWithIndex.map(x => (x._2.toLong, x._1)))
      .toSeq.sortBy(_._1).map { case (k, cc) => (k, cc, rawNorm(cc)) }
    var cellOf = Map.empty[Long, Long]
    for (it <- 1 to iters) {
      cellOf = rows.map { case (id, c) => id -> cosineCell(c, cent, seen) }.toMap
      seen.emptyCells += cent.count(x => !cellOf.values.exists(_ == x._1))
      if (it < iters)
        cent = sums(rows.map { case (id, c) => (cellOf(id), c) })
          .toSeq.sortBy(_._1).map { case (k, cc) => (k, cc, rawNorm(cc)) }
    }
    def slice(c: Array[Long], m: Int) =
      if (c == null) null else c.slice(m * dsub, m * dsub + dsub)
    val perM = (0 until pqM).map { m =>
      var means = sums(seeds.take(pqKs).zipWithIndex
          .map(x => (x._2.toLong, slice(x._1, m))))
        .toSeq.sortBy(_._1).map { case (k, cc) => (k, cc.map(_.toDouble / 1L)) }
      var codeOf = Map.empty[Long, Long]
      for (it <- 1 to pqIters) {
        codeOf = rows.map { case (id, c) =>
          id -> l2Code(slice(c, m), means, seen) }.toMap
        seen.emptyCells += means.count(x => !codeOf.values.exists(_ == x._1))
        if (it < pqIters) {
          val counts = codeOf.values.groupBy(identity).map(x => x._1 -> x._2.size)
          val s = sums(rows.map { case (id, c) => (codeOf(id), slice(c, m)) })
          seen.nullOnlyCodes += counts.keys.count(k => !s.contains(k))
          means = s.toSeq.sortBy(_._1).map { case (k, cc) =>
            (k, cc.map(_.toDouble / counts(k).toLong)) }
        }
      }
      (codeOf, means)
    }
    val members = rows.map { case (id, _) =>
      id -> ((if (cells > 0) cellOf(id) else -1L, perM.map(_._1(id))))
    }.toMap
    (members,
      cent.map { case (k, cc, n) => (k, cc.toSeq, java.lang.Double.doubleToRawLongBits(n)) },
      perM.map(_._2.map { case (k, mu) =>
        (k, mu.toSeq.map(java.lang.Double.doubleToRawLongBits)) }))
  }
}
