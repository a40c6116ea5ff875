package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[AnnOps.lloydRounds]] trains the IVF cells and every PQ codebook in
  * shared passes. This spec holds its members, codes, centroids and
  * means, bit for bit, to [[LloydReference]], which trains each
  * quantizer in its own plain driver-side loop — with the centroid
  * table in one shard, and past the byte budget in shards of one and
  * of two cells.
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

  /** The widest vector of `rows` — what prices the centroid table. */
  private def dimOf(rows: Seq[(Long, Array[Long])]): Int =
    rows.collect { case (_, c) if c != null => c.length }.max

  /** Byte budgets that ship the `rows` cell table in one shard, in
    * shards of one cell (a budget below one row) and of two cells. */
  private def budgets(rows: Seq[(Long, Array[Long])]): Seq[Long] =
    Seq(AnnOps.DefaultMaxCentroidBytes, 1L, 2L * (dimOf(rows) * 8 + 64))

  /** The fused rounds over the same rows, staged like the operators
    * stage them (id, c, raw norm), spread over several partitions. The
    * centroid table is read back in its own order, which must be
    * cell-ascending. */
  private def fused(rows: Seq[(Long, Array[Long])], cells: Int, iters: Int,
      pqM: Int, pqKs: Int, pqIters: Int, dsub: Int,
      budget: Long = AnnOps.DefaultMaxCentroidBytes)
      : (Map[Long, (Long, Seq[Long])], Cent, Means) = {
    val s = spark
    import s.implicits._
    val v = rows.map { case (id, c) =>
      (id, c, Option(c).map(a => math.sqrt(a.map(x => x * x).sum.toDouble)))
    }.toDF("id", "c", "nrmr").repartition(3)
    val (members, cent, means, release) = AnnOps.lloydRounds(v, cells,
      iters, pqM, pqKs, pqIters, dsub, dimOf(rows), budget)
    try {
      val got = members.collect().map { r =>
        r.getLong(0) -> ((
          if (cells > 0) r.getLong(r.fieldIndex("cell")) else -1L,
          if (pqM > 0) r.getSeq[Long](r.fieldIndex("codes")) else Seq.empty[Long]))
      }.toMap
      (got,
        cent.collect().toSeq.map { r =>
          (r.getLong(0), r.getSeq[Long](1),
            java.lang.Double.doubleToRawLongBits(r.getDouble(2))) },
        means.toSeq.map(_.toSeq.map { case (k, mu) =>
          (k, mu.toSeq.map(java.lang.Double.doubleToRawLongBits)) }))
    } finally {
      release()
      DedupOps.releaseLocalCheckpoint(members)
    }
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
    budgets(rows).foreach { budget =>
      val (fm, fc, fmeans) =
        fused(rows, cells, iters, pqM, pqKs, pqIters, dsub, budget)
      val what = s"cells=$cells iters=$iters pqM=$pqM pqKs=$pqKs " +
        s"pqIters=$pqIters dsub=$dsub budget=$budget"
      assert(fm == rm, s"members/codes differ ($what)")
      if (cells > 0) assert(fc == rc, s"centroids differ ($what)")
      assert(fmeans == rmeans, s"codebook means differ ($what)")
    }
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

  test("cross-shard ties and a null vector: two identical seed cells " +
      "in different shards keep the smaller cell, past the budget too") {
    // ids 0 and 1 seed cells 0 and 1 with the same vector, so every row
    // near it ties across them for good; at one cell per shard the tie
    // spans two broadcasts. Id 2 is a null vector (every score NaN).
    val rows = Seq[(Long, Array[Long])](0L -> Array(5L, 1L, 0L),
      1L -> Array(5L, 1L, 0L), 2L -> null, 3L -> Array(0L, 4L, 1L),
      4L -> Array(1L, 0L, 6L)) ++
      (5L until 30L).map(i => i -> Array(i % 5, i % 3, i % 7))
    val seen = check(rows, cells = 4, iters = 3, pqM = 3, pqKs = 3,
      pqIters = 2, dsub = 1)
    assert(seen.ties > 0, seen)
    budgets(rows).foreach { budget =>
      val (members, _, _) = fused(rows, 4, 3, 3, 3, 2, 1, budget)
      assert(members(1L)._1 == 0L && members(2L)._1 == 0L,
        s"budget=$budget: ${members(1L)} ${members(2L)}")
    }
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
