package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[AnnOps.lloydRounds]] trains the IVF cells and every PQ codebook in
  * shared passes. This spec holds its members, codes, centroids and
  * means, bit for bit, to [[LloydReference]], which trains each
  * quantizer in its own plain driver-side loop.
  */
class LloydRoundsSpec extends AnyFunSuite with BeforeAndAfterAll {
  import LloydReference._

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("lloyd-rounds")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The fused rounds over the same rows, staged like the operators
    * stage them (id, c, raw norm), spread over several partitions. */
  private def fused(rows: Seq[(Long, Array[Long])], cells: Int, iters: Int,
      pqM: Int, pqKs: Int, pqIters: Int, dsub: Int)
      : (Map[Long, (Long, Seq[Long])], Cent, Means) = {
    val s = spark
    import s.implicits._
    val v = rows.map { case (id, c) =>
      (id, c, Option(c).map(a => math.sqrt(a.map(x => x * x).sum.toDouble)))
    }.toDF("id", "c", "nrmr").repartition(3)
    val (members, cent, means) =
      AnnOps.lloydRounds(v, cells, iters, pqM, pqKs, pqIters, dsub)
    try {
      val got = members.collect().map { r =>
        r.getLong(0) -> ((
          if (cells > 0) r.getLong(r.fieldIndex("cell")) else -1L,
          if (pqM > 0) r.getSeq[Long](r.fieldIndex("codes")) else Seq.empty[Long]))
      }.toMap
      (got,
        cent.toSeq.map { case (k, cc, n) =>
          (k, cc.toSeq, java.lang.Double.doubleToRawLongBits(n)) },
        means.toSeq.map(_.toSeq.map { case (k, mu) =>
          (k, mu.toSeq.map(java.lang.Double.doubleToRawLongBits)) }))
    } finally DedupOps.releaseLocalCheckpoint(members)
  }

  /** `n` rows of `dim` small integer components around four centers;
    * `nulls` of them null, `dups` of them exact copies of earlier rows
    * (equal vectors tie under both kernels). */
  private def corpus(seed: Int, n: Int, dim: Int, nulls: Int, dups: Int)
      : Seq[(Long, Array[Long])] = {
    val rnd = new scala.util.Random(seed)
    val centers = Seq.fill(4)(Array.fill(dim)(rnd.nextInt(41).toLong - 20))
    val base = (0 until n).map { i =>
      centers(rnd.nextInt(4)).map(x => x + rnd.nextInt(7) - 3)
    }.toArray
    (0 until dups).foreach(i => base(n - 1 - i) = base(rnd.nextInt(n - dups)).clone)
    rnd.shuffle((0 until n).toList).take(nulls).foreach(i => base(i) = null)
    base.toSeq.zipWithIndex.map { case (c, i) => ((i * 7 + 3).toLong, c) }
  }

  private def check(rows: Seq[(Long, Array[Long])], cells: Int, iters: Int,
      pqM: Int, pqKs: Int, pqIters: Int, dsub: Int): Seen = {
    val seen = Seen()
    val (rm, rc, rmeans) =
      reference(rows, cells, iters, pqM, pqKs, pqIters, dsub, seen)
    val (fm, fc, fmeans) = fused(rows, cells, iters, pqM, pqKs, pqIters, dsub)
    val what = s"cells=$cells iters=$iters pqM=$pqM pqKs=$pqKs " +
      s"pqIters=$pqIters dsub=$dsub"
    assert(fm == rm, s"members/codes differ ($what)")
    if (cells > 0) assert(fc == rc, s"centroids differ ($what)")
    assert(fmeans == rmeans, s"codebook means differ ($what)")
    seen
  }

  test("fused rounds equal the reference: null vectors, duplicate " +
      "vectors (ties, empty cells), dim not divisible by pqM, " +
      "iters != pqIters") {
    val rows = corpus(seed = 11, n = 90, dim = 10, nulls = 12, dups = 20)
    val seen = Seen()
    Seq((3, 2), (1, 3), (2, 2)).foreach { case (iters, pqIters) =>
      val s = check(rows, cells = 6, iters, pqM = 4, pqKs = 5, pqIters,
        dsub = 3)
      seen.ties += s.ties; seen.emptyCells += s.emptyCells
    }
    assert(seen.ties > 0 && seen.emptyCells > 0,
      s"the fixture no longer exercises ties and empty cells: $seen")
  }

  test("a subspace past the vector's end trains no code: every row's " +
      "code is -1 and its mean table is empty, like the other spellings") {
    val rows = corpus(seed = 5, n = 40, dim = 5, nulls = 4, dups = 0)
    check(rows, cells = 3, iters = 2, pqM = 4, pqKs = 3, pqIters = 2,
      dsub = 2)
    val (members, _, means) = fused(rows, 3, 2, 4, 3, 2, 2)
    assert(means(3).isEmpty && members.values.forall(_._2(3) == -1L))
  }

  test("cells alone and codebooks alone train like the fused pass") {
    val rows = corpus(seed = 23, n = 60, dim = 8, nulls = 6, dups = 6)
    check(rows, cells = 5, iters = 3, pqM = 0, pqKs = 0, pqIters = 0,
      dsub = 0)
    check(rows, cells = 0, iters = 0, pqM = 2, pqKs = 4, pqIters = 3,
      dsub = 4)
  }

  test("a code whose members are all null vectors counts them in its " +
      "mean's denominator, then vanishes") {
    // 1-D, codes seeded at 8 (id 0) and 9 (id 1). Round 1: the nulls
    // join code 0 (smaller |mean|), so its mean falls to 8 / 4 = 2 and
    // round 2 moves the 8 to code 1: code 0 holds only nulls, and
    // round 3 trains code 1 alone.
    val rows = Seq[(Long, Array[Long])](0L -> Array(8L), 1L -> Array(9L),
      2L -> Array(9L), 3L -> Array(9L), 4L -> null, 5L -> null, 6L -> null)
    val seen = check(rows, cells = 1, iters = 1, pqM = 1, pqKs = 2,
      pqIters = 3, dsub = 1)
    assert(seen.nullOnlyCodes == 1, seen)
    val (members, _, means) = fused(rows, 1, 1, 1, 2, 3, 1)
    assert(means.head.map(_._1) == Seq(1L))
    assert(members.values.forall(_._2 == Seq(1L)))
  }
}
