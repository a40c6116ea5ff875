package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Pins.PinnedDataset

/** The operators facade on arbitrary (non-testdata) DataFrames with
  * caller-chosen column names: planted duplicates must surface, distinct
  * content must not, and the ANN ops must rank planted neighbors first.
  */
class PipelineOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("pipeline-ops")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def corpus() = {
    val s = spark
    import s.implicits._
    Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "the quick brown fox jumps over the lazy dog again and again"),
      (12L, "the quick brown fox jumps over the lazy cat again and again"),
      (13L, "completely unrelated text with nothing shared whatsoever here"),
      (14L, "another disjoint document talking about entirely different things"))
      .toDF("my_id", "body")
  }

  test("exactGroups collapses identical content to the lowest id") {
    val g = DedupOps.exactGroups(corpus(), "my_id", "body")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // one group of 2 copies kept at id 10; three singletons
    assert(g.contains((10L, 2L)))
    assert(g.count(_._2 == 1L) == 3)
  }

  test("minhashNearDups finds the planted near-pair and nothing disjoint") {
    val pairs = DedupOps.minhashNearDups(
      corpus(), "my_id", "body", shingleK = 3, bands = 4, rows = 2,
      threshold = 0.5, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L))) // exact copies
    assert(!pairs.exists(p => p._1 == 13L || p._2 == 13L))
    assert(!pairs.exists(p => p._1 == 14L || p._2 == 14L))
  }

  test("capped banded dedup: uncut == capped when no bucket saturates " +
      "(all three spellings)") {
    val c = corpus()
    // corpus max bucket occupancy is tiny; cap=1000 saturates nothing,
    // so every capped spelling must return EXACTLY its uncut rows with
    // saturated = false throughout — the guard is provably free when
    // the pathology is absent
    val mh = DedupOps.minhashNearDups(c, "my_id", "body",
      shingleK = 3, bands = 4, rows = 2, threshold = 0.5, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val mhc = DedupOps.minhashNearDupsCapped(c, "my_id", "body",
      shingleK = 3, bands = 4, rows = 2, threshold = 0.5,
      maxOccupancy = 1000, partitions = 4).collect()
    assert(mhc.forall(!_.getBoolean(3)), "nothing may saturate")
    assert(mhc.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet == mh)

    val sh = DedupOps.simhashNearDups(c, "my_id", "body", partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val shc = DedupOps.simhashNearDupsCapped(c, "my_id", "body",
      maxOccupancy = 1000, partitions = 4).collect()
    assert(shc.forall(!_.getBoolean(3)))
    assert(shc.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet == sh)

    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.99, 0.14, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0)), (4L, Seq(0.0, 0.0, 1.0)))
      .toDF("vid", "v")
    val cl = AnnOps.cosineNearDupsLsh(vecs, "vid", "v", threshold = 0.9,
      partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val clc = AnnOps.cosineNearDupsLshCapped(vecs, "vid", "v",
      threshold = 0.9, maxOccupancy = 1000, partitions = 4).collect()
    assert(clc.forall(!_.getBoolean(3)))
    assert(clc.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet == cl)
  }

  test("capped incremental probe: a boilerplate family ACCUMULATED in " +
      "the index delegates instead of exploding each batch's probe") {
    val s = spark
    import s.implicits._
    // the streaming face of the hot-bucket pathology: the index
    // accumulates a 30-member identical family; every new batch of
    // copies would otherwise pay |new ∩ bucket| × m verification pairs
    // — quadratic OVER TIME. The capped probe must route those through
    // the bucket root as delegated (null-jaccard) edges, keep the
    // uncapped behavior bit-identical when nothing saturates, and
    // never change the output schema.
    val boiler = "identical boilerplate error page text shown on every mirror"
    val oldDocs = ((0 until 30).map(i => (100L + i, boiler)) ++ Seq(
      (1L, "some perfectly unique document about gardens and rivers"),
      (2L, "another unique document on ships and navigation at sea")))
      .toDF("my_id", "body")
    val idx = DedupOps.minhashIndex(oldDocs, "my_id", "body",
      shingleK = 3, bands = 4, rows = 2, partitions = 4)
      .pin()
    // doc 5's id sorts BELOW every accumulated family member — the
    // review-caught hole: a min-over-all-rows root would elect doc 5
    // itself and filter away its only delegated edge, silently
    // admitting the duplicate. The root must be an ACCUMULATED member.
    val batch = Seq(
      (5L, boiler), (500L, boiler), (501L, boiler),
      (502L, "some perfectly unique document about gardens and rivers"))
      .toDF("my_id", "body")
    val uncapped = DedupOps.minhashNearDupsAgainstIndex(batch, "my_id",
        "body", idx, shingleK = 3, bands = 4, rows = 2,
        threshold = 0.5, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: each new copy verifies against all 30 + each other
    assert(uncapped.count(p => p._2 >= 500L && p._1 >= 100L) >= 60)
    val capped = DedupOps.minhashNearDupsAgainstIndex(batch, "my_id",
      "body", idx, shingleK = 3, bands = 4, rows = 2,
      threshold = 0.5, partitions = 4, maxOccupancy = 8)
      .pin()
    val delegated = capped.filter(col("jaccard").isNull).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delegated == Set((5L, 100L), (100L, 500L), (100L, 501L)),
      s"every new family copy — low-id doc 5 included — must link to " +
        s"the accumulated bucket root: $delegated")
    val verified = capped.filter(col("jaccard").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!verified.exists(p => p._1 >= 100L && p._1 < 200L &&
      p._2 >= 500L && p._2 != 502L),
      s"family probe pairs must not reach verification: $verified")
    assert(verified.contains((2L, 502L)) || verified.contains((1L, 502L)),
      s"sub-cap pairs still verify exactly: $verified")
    // no saturation => bit-identical to the uncapped probe
    val parity = DedupOps.minhashNearDupsAgainstIndex(batch, "my_id",
        "body", idx, shingleK = 3, bands = 4, rows = 2,
        threshold = 0.5, partitions = 4, maxOccupancy = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(parity == uncapped, "high cap must be the uncapped probe")
  }

  test("capped minhash: a saturated boilerplate family bypasses the " +
      "pair join as star edges, and cluster resolution matches uncut") {
    val s = spark
    import s.implicits._
    // the hot-bucket pathology: a 40-member identical family. Uncapped,
    // the band join emits C(40,2) = 780 pairs inside one bucket key;
    // capped at 8 the family must surface as 39 star edges per
    // saturated bucket instead, and connectedComponents must resolve
    // the SAME clusters either way.
    val fam = (0 until 40).map(i =>
      (1000L + i, "identical boilerplate error page text shown on every mirror"))
    val docs = corpus().union(fam.toDF("my_id", "body"))
    val capped = DedupOps.minhashNearDupsCapped(docs, "my_id", "body",
      shingleK = 3, bands = 4, rows = 2, threshold = 0.5,
      maxOccupancy = 8, partitions = 4).pin()
    val famVerified = capped.filter(!col("saturated") &&
      col("a") >= 1000L).count()
    assert(famVerified == 0,
      "saturated family pairs must never reach the exact pair join")
    val stars = capped.filter(col("saturated")).collect()
    assert(stars.forall(_.isNullAt(2)), "star edges carry no jaccard")
    assert(stars.forall(r => r.getLong(0) == 1000L),
      "star root is the bucket min id")
    assert(stars.map(_.getLong(1)).toSet == (1001L to 1039L).toSet,
      "every family member hangs off the root")
    // the non-family pairs are exactly the uncut operator's
    val uncut = DedupOps.minhashNearDups(docs, "my_id", "body",
      shingleK = 3, bands = 4, rows = 2, threshold = 0.5, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val nonFam = capped.filter(!col("saturated")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(nonFam == uncut.filter(_._1 < 1000L))
    // end-to-end: cluster resolution over capped edges == over uncut
    def clusters(pairs: org.apache.spark.sql.DataFrame) =
      DedupOps.connectedComponents(pairs, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncutDf = DedupOps.minhashNearDups(docs, "my_id", "body",
      shingleK = 3, bands = 4, rows = 2, threshold = 0.5, partitions = 4)
    assert(clusters(capped.select("a", "b")) == clusters(uncutDf),
      "capped star edges must resolve the same components")
  }

  test("capped simhash: saturated byte buckets collapse by exact " +
      "simhash, cluster resolution == uncut EXACTLY") {
    val s = spark
    import s.implicits._
    // 30 identical docs (one simhash value — the boilerplate mass) plus
    // a small diverse set; cap 8 saturates the family's byte buckets.
    // The collapse must route the family through ONE representative
    // (hamming-0 edges), and component resolution must equal the
    // unguarded operator's — the simhash guard's exactness claim
    // (equal-simhash docs are interchangeable for hamming).
    val fam = (0 until 30).map(i =>
      (500L + i, "identical boilerplate page text repeated on mirrors"))
    val docs = (corpus().collect().map(r =>
      (r.getLong(0), r.getString(1))) ++ fam).toSeq.toDF("my_id", "body")
    val capped = DedupOps.simhashNearDupsCapped(docs, "my_id", "body",
      maxOccupancy = 8, partitions = 4).pin()
    val collapse = capped.filter(col("saturated") && col("a") >= 500L)
      .collect()
    assert(collapse.forall(_.getInt(2) == 0),
      "collapse edges must be exact hamming-0 pairs")
    assert(collapse.count(r => r.getLong(0) == 500L &&
      r.getLong(1) > 500L) == 29,
      "family members must hang off the min-id representative")
    // the quadratic family pair set never materializes
    val famPairs = capped.filter(col("a") >= 500L && col("b") >= 500L)
      .count()
    assert(famPairs == 29, s"family emitted $famPairs rows, wanted 29")
    def clusters(pairs: org.apache.spark.sql.DataFrame) =
      DedupOps.connectedComponents(pairs, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncut = DedupOps.simhashNearDups(docs, "my_id", "body",
      partitions = 4)
    assert(clusters(capped.select("a", "b")) == clusters(uncut),
      "capped simhash resolution must equal uncut exactly")
  }

  test("capped cosine LSH: saturated sign buckets collapse by full " +
      "signature, clusters match uncut on the duplicate family") {
    val s = spark
    import s.implicits._
    // 24 near-identical vectors (same full 256-bit signature) + a few
    // distinct ones; cap 8 saturates the family's (band, code) buckets
    val rnd = new scala.util.Random(6161)
    val base = Array(0.8, 0.1, 0.05, 0.3)
    val fam = (0 until 24).map(i =>
      (900L + i, base.map(x => (x + 1e-9 * i).toFloat)))
    val others = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
    val docs = (others ++ fam).toDF("vid", "v")
    val capped = AnnOps.cosineNearDupsLshCapped(docs, "vid", "v",
      threshold = 0.9, maxOccupancy = 8, partitions = 4)
      .pin()
    val collapse = capped.filter(col("saturated") && col("cosine").isNull)
      .collect()
    assert(collapse.nonEmpty, "family must collapse via full signature")
    assert(collapse.forall(r => r.getLong(0) == 900L && r.getLong(1) > 900L),
      s"collapse edges must hang off the min-id rep")
    val famRows = capped.filter(col("a") >= 900L).count()
    assert(famRows == 23, s"family emitted $famRows rows, wanted 23")
    def clusters(pairs: org.apache.spark.sql.DataFrame) =
      DedupOps.connectedComponents(pairs, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncut = AnnOps.cosineNearDupsLsh(docs, "vid", "v",
      threshold = 0.9, partitions = 4)
    assert(clusters(capped.select("a", "b")) == clusters(uncut),
      "capped cosine-LSH resolution diverged from uncut on the family")
  }

  test("bandOccupancyCurve: volumes split exactly, precision and " +
      "recall priced against the uncut join") {
    val s = spark
    import s.implicits._
    val fam = (0 until 10).map(i =>
      (1000L + i, "identical boilerplate error page text shown on every mirror"))
    val docs = corpus().union(fam.toDF("my_id", "body"))
    val curve = DedupOps.bandOccupancyCurve(docs, "my_id", "body",
      shingleK = 3, bands = 4, rows = 2, threshold = 0.5,
      caps = Seq(4, 64), partitions = 4)
      .collect().map(r => r.getInt(0) -> r).toMap
    val lo = curve(4); val hi = curve(64)
    // at cap 64 nothing saturates: sub-cap join IS the uncut join
    assert(hi.getLong(1) == 0 && hi.getLong(4) == 0)
    assert(hi.getLong(2) == hi.getLong(7) && hi.getLong(3) == hi.getLong(8))
    assert(hi.getDouble(6) == 1.0 && hi.getDouble(9) == 1.0)
    // at cap 4 the family's buckets saturate: its C(10,2) pairs move
    // from the candidate column to the saturated column, all confirmed
    // (identical docs), so measured precision is 1.0
    assert(lo.getLong(1) > 0)
    assert(lo.getLong(4) >= 45L)
    assert(lo.getDouble(6) == 1.0)
    assert(lo.getLong(2) + lo.getLong(4) >= lo.getLong(7),
      "sub-cap + saturated candidates cover the uncut set")
    assert(lo.getDouble(9) < 1.0, "delegation shows up as pair recall")
  }

  test("bandOccupancyCurve measures sat_precision < 1 when a bucket " +
      "saturates on NON-duplicates (the curve is a real measurement)") {
    val s = spark
    import s.implicits._
    // adversarial bucket: at shingleK=1/bands=1/rows=1 the band key is
    // the min word md5 — every doc carrying the common word w* (whose
    // md5 is the minimum in each doc) co-buckets, but members share
    // ONLY w*, so pairwise jaccard ~ 1/9 << 0.8: a bucket that
    // saturates on non-duplicates. The curve must price that honestly
    // — delegated pairs with LOW precision — which is exactly the
    // signal telling an operator NOT to cap at that occupancy. (On the
    // d13 fixture precision is 1.0 because the synthetic corpus only
    // collides true dups; this test pins the other arm.)
    // w* = "a": md5("0:a") starts 00b4... — minimal vs the fillers by
    // construction (they're drawn until their md5 exceeds it; asserted
    // below instead of assumed).
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(w: String) = md.digest(s"0:$w".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val fillers = (1 to 100).map(i => s"filler$i")
      .filter(w => h(w) > h("a")).take(40)
    assert(fillers.size == 40, "need 40 fillers hashing above w*")
    val docs = (0 until 8).map { i =>
      (100L + i, ("a" +: fillers.slice(i * 5, i * 5 + 5)).mkString(" "))
    }.toDF("my_id", "body")
    val curve = DedupOps.bandOccupancyCurve(docs, "my_id", "body",
      shingleK = 1, bands = 1, rows = 1, threshold = 0.8,
      caps = Seq(4), partitions = 2).collect()
    val row = curve.head
    assert(row.getLong(1) == 1L, s"one saturated bucket expected: $row")
    assert(row.getLong(4) == 28L,
      s"all C(8,2) pairs delegated: $row")
    assert(row.getDouble(6) == 0.0,
      s"no delegated pair is a real dup — precision must be 0: $row")
  }

  test("ngramJaccardNearDups verifies with exact jaccard") {
    val rows = DedupOps.ngramJaccardNearDups(
      corpus(), "my_id", "body", shingleK = 3, threshold = 0.5,
      partitions = 4).collect()
    val exact = rows.find(r => r.getLong(0) == 10L && r.getLong(1) == 11L)
    assert(exact.nonEmpty && exact.get.getDouble(2) == 1.0)
    // 12 differs by one word: high but < 1.0 jaccard vs 10/11
    assert(rows.exists(r => r.getLong(1) == 12L && r.getDouble(2) < 1.0
      && r.getDouble(2) >= 0.5))
  }

  test("ngramJaccardNearDups df-cut: subset of uncut, wide families cut") {
    val s = spark
    import s.implicits._
    // a near-identical family of 6 docs (one trailing word differs) plus
    // the planted corpus: with maxDf = 4 every shingle shared ACROSS the
    // family has df ~ 6 > 4, so intra-family pairs vanish; the 10/11/12
    // pairs (df <= 3) survive untouched
    val fam = (0 until 6).map(i =>
      (100L + i, s"alpha beta gamma delta epsilon zeta eta theta tail$i"))
    val docs = corpus().union(fam.toDF("my_id", "body"))
    def pairs(maxDf: Int) = DedupOps.ngramJaccardNearDups(
        docs, "my_id", "body", shingleK = 3, threshold = 0.5,
        maxDf = maxDf, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncut = pairs(Int.MaxValue)
    val cut = pairs(4)
    assert(cut.subsetOf(uncut), "df-cut output must be a subset")
    assert(uncut.exists(p => p._1 >= 100L), "family pairs exist uncut")
    assert(!cut.exists(p => p._1 >= 100L), "family pairs drop under the cut")
    assert(cut.contains((10L, 11L)), "rare-shingle pairs survive the cut")
  }

  test("connectedComponents: chains merge, survivors are component minima") {
    val s = spark
    import s.implicits._
    // two components: a 4-node chain (1-2-3-4, diameter 3 so label
    // propagation needs multiple rounds) and an isolated pair (7-8)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L))
      .toDF("left_id", "right_id")
    val out = DedupOps.connectedComponents(pairs, "left_id", "right_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(out == Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (7L, 7L, true), (8L, 7L, false)))
  }

  test("dupShingleRatio: exact copies score 1.0, unique docs 0.0") {
    val out = TextOps.dupShingleRatio(corpus(), "my_id", "body",
        k = 3, maxDupRatio = 0.5, partitions = 4)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(3), r.getBoolean(4)))).toMap
    // 10 and 11 are identical: every shingle appears in the other doc
    assert(out(10L) == ((1.0, false)) && out(11L) == ((1.0, false)))
    // 13/14 share nothing with anything
    assert(out(13L) == ((0.0, true)) && out(14L) == ((0.0, true)))
    // 12 shares most of its shingles with the 10/11 pair but not all
    assert(out(12L)._1 > 0.5 && out(12L)._1 < 1.0 && !out(12L)._2)
  }

  test("repetitionScore: repeated grams flagged, short docs covered") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam"), // one gram repeated 4x
      (2L, "a b c d e f g h"),               // 6 distinct grams
      (3L, "x y"))                           // short doc: whole text
      .toDF("my_id", "body")
    val out = TextOps.repetitionScore(df, "my_id", "body",
        k = 3, maxTopGramRatio = 0.2, maxDupWordRatio = 0.5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(7)))).toMap
    assert(out(1L) == ((6L, 5L, 4L, 4L, false))) // top share 1.0, dup 5/6
    assert(out(2L) == ((8L, 0L, 1L, 6L, true)))  // top share 1/6 <= 0.2
    assert(out(3L) == ((2L, 0L, 1L, 1L, false))) // one whole-text gram
  }

  test("minhashNearDupsAgainstIndex: matches batch result on new pairs") {
    val s = spark
    import s.implicits._
    val all = corpus()
    val old = all.filter($"my_id" <= 12L)
    val fresh = all.filter($"my_id" > 12L)
      // a near-dup of old doc 12 arriving in the new batch
      .union(Seq((20L,
        "the quick brown fox jumps over the lazy cat again and again"))
        .toDF("my_id", "body"))
    val full = DedupOps.minhashNearDups(old.union(fresh), "my_id", "body",
        threshold = 0.5, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val idx = DedupOps.minhashIndex(old, "my_id", "body", partitions = 4)
    val incr = DedupOps.minhashNearDupsAgainstIndex(fresh, "my_id", "body",
        idx, threshold = 0.5, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val newIds = Set(13L, 14L, 20L)
    val expected = full.filter { case ((a, b), _) =>
      newIds.contains(a) || newIds.contains(b) }
    assert(incr == expected)
    // the new-vs-old near-dup actually surfaced
    assert(incr.keySet.exists { case (a, b) => b == 20L || a == 20L })
  }

  test("paragraphNearDups: repeated paragraph found across and within docs") {
    val s = spark
    import s.implicits._
    val boiler = (1 to 6).map(i => s"b$i").mkString(" ") // 6-word block
    val uniqA = (1 to 6).map(i => s"a$i").mkString(" ")
    val uniqB = (1 to 6).map(i => s"c$i").mkString(" ")
    val uniqD = (1 to 6).map(i => s"d$i").mkString(" ")
    // doc 1: boiler + unique; doc 2: unique + boiler (cross-doc repeat at
    // different positions); doc 3: boiler twice (within-doc repeat);
    // doc 4: all unique
    val df = Seq(
      (1L, s"$boiler $uniqA"),
      (2L, s"$uniqB $boiler"),
      (3L, s"$boiler $boiler"),
      (4L, s"$uniqD ${(1 to 6).map(i => s"e$i").mkString(" ")}"))
      .toDF("doc", "body")
    val got = DedupOps.paragraphNearDups(df, "doc", "body",
        paraWords = 6, maxParas = 100, shingleK = 3, bands = 2, rows = 2,
        threshold = 0.9, partitions = 2)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toSet
    // the three boiler copies: (1,0), (2,1), (3,0), (3,1) -> all pid-
    // ordered pairs among them
    val copies = Seq((1L, 0L), (2L, 1L), (3L, 0L), (3L, 1L))
    val expected = (for {
      i <- copies.indices; j <- copies.indices
      if copies(i)._1 * 100 + copies(i)._2 < copies(j)._1 * 100 + copies(j)._2
    } yield (copies(i), copies(j))).toSet
    assert(got == expected, s"got $got")
    // no paragraph of doc 4 anywhere
    assert(!got.exists(p => p._1._1 == 4L || p._2._1 == 4L))
  }

  test("canonicalSelection: trusted source wins, min-id tiebreak") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("x", "y")
    val prio = Seq((1L, 5L), (2L, 1L), (3L, 9L), (10L, 2L), (11L, 2L))
      .toDF("doc", "trust")
    val out = DedupOps.canonicalSelection(pairs, "x", "y",
        prio, "doc", "trust")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    // cluster {1,2,3}: canonical = 2 (lowest trust rank)
    assert(out(1L) == ((2L, false)) && out(2L) == ((2L, true))
      && out(3L) == ((2L, false)))
    // cluster {10,11}: tie on trust -> min id 10
    assert(out(10L) == ((10L, true)) && out(11L) == ((10L, false)))
  }

  test("piiScrub: counts and masks emails, phones, IPs") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "mail bob@x.org and eve@y.io call 555-1234 from 10.0.0.7"),
      (2L, "no pii here at all"))
      .toDF("my_id", "body")
    val out = TextOps.piiScrub(df, "my_id", "body").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((2L, 1L, 1L,
      "mail <EMAIL> and <EMAIL> call <PHONE> from <IP>")))
    assert(out(2L) == ((0L, 0L, 0L, "no pii here at all")))
  }

  test("simhashNearDups: identical docs at hamming 0") {
    val pairs = DedupOps.simhashNearDups(corpus(), "my_id", "body",
        maxHamming = 3, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((10L, 11L, 0)))
  }

  test("TextOps: langId votes, quality features, tokens, vocab, fingerprints") {
    val lex = Seq("the" -> "en", "dog" -> "en", "chien" -> "fr", "le" -> "fr")
    val langs = TextOps.langId(corpus(), "my_id", "body", lex)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(10L) == "en")

    val q = TextOps.qualityFeatures(corpus(), "my_id", "body",
      Seq("the", "and"), minChars = 10, minWords = 5)
    val r10 = q.filter(q("id") === 10L).head()
    assert(r10.getLong(2) == 12L) // 12 words
    assert(r10.getBoolean(6))     // passes thresholds

    val t = TextOps.tokenStats(corpus(), "my_id", "body")
      .filter(col("id") === 10L).head()
    assert(t.getLong(1) == 12L)

    val v = TextOps.vocabTopK(corpus(), "body", 3).collect()
    assert(v.length == 3 && v.head.getLong(1) == 6L) // "again"/"the" tie at 6
    assert(v.take(2).map(_.getString(0)).toSet == Set("again", "the"))

    val fp = TextOps.fingerprints(corpus(), "my_id", "body",
      shingleK = 3, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val by = fp.map(t3 => t3._1 -> t3).toMap
    assert(by(10L)._2 == by(11L)._2 && by(10L)._3 == by(11L)._3) // copies
    assert(by(10L)._2 != by(13L)._2)
  }

  test("lshOperatingCurve: monotone recall in bands, exact dups always " +
      "caught, confirmed <= candidates") {
    val out = DedupOps.lshOperatingCurve(corpus(), "my_id", "body",
        shingleK = 3, configs = Seq((8, 2), (4, 4), (2, 8)),
        threshold = 0.8, partitions = 2)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(3), r.getLong(4)))).toMap
    assert(out.size == 3)
    out.values.foreach { case (cand, conf) => assert(conf <= cand) }
    // docs 10/11 are identical — every banding catches jaccard 1.0
    out.values.foreach { case (_, conf) => assert(conf >= 1) }
    // fewer rows per band can only widen the candidate set (same hashes,
    // coarser keys subsume finer collisions is NOT generally true — but
    // the recall-heavy (8,2) must catch at least the production (2,8)
    // CONFIRMED pairs on this corpus, where all true pairs collide)
    assert(out((8, 2))._2 >= out((2, 8))._2)
  }

  test("bigramPerplexityScore: word counts, single-token docs, copies " +
      "score identically, first-token unigram term") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b a b"), (2L, "a b a b"), (3L, "a"),
      (4L, "c c c")).toDF("my_id", "body")
    val out = TextOps.bigramPerplexityScore(df, "my_id", "body")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L)._1 == 4L && out(3L)._1 == 1L && out(4L)._1 == 3L)
    assert(out(1L) == out(2L)) // identical docs, identical scores
    // doc 3 is unigram-only: avg_nll == quantized -ln(c(a)/T) exactly
    // (a appears 5x in 12 tokens)
    val nll1 = BigDecimal(-math.log(5.0 / 12.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(3L)._2 == nll1)
    out.values.foreach { case (_, nll) => assert(nll > 0.0) }
  }

  test("bpeLearn: frequency argmax, greedy run merging, chained merges") {
    val s = spark
    import s.implicits._
    // freq: aaaaa=3, bd=3. Round 1: (a,a) counts 4 adjacencies x 3
    // words = 12 (overlaps count), beats (b,d)=3. GREEDY merge turns
    // [a,a,a,a,a] into [aa,aa,a] — a single-space-guard replace would
    // have produced [aa,a,aa] (boundary-space sharing skips the middle
    // site) and round 2 would then see (a,aa) instead of (aa,a).
    // Round 2: three-way tie (aa,aa)=(aa,a)=(b,d)=3 resolves
    // pair-ascending to "aa a" -> [aa,aaa]. Round 3: tie again,
    // "aa aaa" < "b d".
    val df = Seq("aaaaa bd", "aaaaa bd", "aaaaa", "bd").toDF("body")
    val out = TextOps.bpeLearn(df, "body", merges = 3)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out(0) == ((1, "a a", "aa", 12L)))
    assert(out(1) == ((2, "aa a", "aaa", 3L)))
    assert(out(2) == ((3, "aa aaa", "aaaaa", 3L)))
  }

  test("tfidfTopTerms: corpus-wide words score zero, rare words rank first") {
    val out = TextOps.tfidfTopTerms(corpus(), "my_id", "body", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5)))
    // k-bounded: exactly 2 rows per doc, ranks 1..2
    val byDoc = out.groupBy(_._1)
    assert(byDoc.size == 5 && byDoc.values.forall(_.length == 2))
    byDoc.values.foreach(g => assert(g.map(_._6).sorted.toSeq == Seq(1, 2)))
    // "again" appears in docs 10-12 (df=3) twice each; "fox" df=3 once:
    // within doc 10 "again" (tf=2) must outrank "fox" (tf=1), and a
    // df=5 word would score exactly 0 (ln(5/5)) so never beats df<5
    val d10 = byDoc(10L).sortBy(_._6)
    assert(d10.head._5 > 0.0)
    assert(out.forall { case (_, _, _, df, score, _) =>
      (df < 5 && score > 0.0) || (df == 5 && score == 0.0) })
    // exact quantized arithmetic: score == tf * round(ln(5/df), 12)
    out.foreach { case (_, _, tf, df, score, _) =>
      val idf = BigDecimal(math.log(5.0 / df))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      assert(math.abs(score - (BigDecimal(tf) * idf).toDouble) == 0.0)
    }
  }

  test("duplicateSpans: overlapping spans merge, clean docs report zero") {
    val s = spark
    import s.implicits._
    // 12-word shared run "s1..s12" inside two docs: its three 10-gram
    // starts (0,1,2 in doc terms) overlap into ONE merged span covering
    // 12 words; doc 3 shares nothing
    val run = (1 to 12).map(i => s"s$i").mkString(" ")
    val df = Seq(
      (1L, s"$run a1 a2 a3"),
      (2L, s"b1 b2 $run"),
      (3L, (1 to 15).map(i => s"c$i").mkString(" ")))
      .toDF("doc", "body")
    val out = TextOps.duplicateSpans(df, "doc", "body", k = 10,
        partitions = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // doc 1: positions 0,1,2 duplicated -> one island [0, 12): 12 words
    assert(out(1L) == ((15L, 1L, 12L, 12.0 / 15.0)))
    // doc 2 (14 words): the run starts at word 2 -> island [2, 14)
    assert(out(2L) == ((14L, 1L, 12L, 12.0 / 14.0)))
    assert(out(3L) == ((15L, 0L, 0L, 0.0)))
  }

  test("removeDuplicateSpans executes exactly the plan duplicateSpans " +
      "prices: n_words_after == n_words - dup_words, text rebuilt in " +
      "order") {
    val s = spark
    import s.implicits._
    val boiler = (1 to 12).map(i => s"rep$i").mkString(" ") // 12 words
    val docs = Seq(
      (1L, s"intro one two three $boiler tail words here"),
      (2L, s"different opening text $boiler closing remarks now"),
      (3L, "wholly unique document with no repeated grams inside"))
      .toDF("my_id", "body")
    val plan = TextOps.duplicateSpans(docs, "my_id", "body", k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3))).toMap // id -> (n_words, dup_words)
    val out = TextOps.removeDuplicateSpans(docs, "my_id", "body", k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), "every doc must survive")
    out.foreach { case (id, (n, after, _)) =>
      val (pn, dup) = plan(id)
      assert(n == pn && after == n - dup,
        s"doc $id: removal ($after) drifted from the plan ($n - $dup)")
    }
    // doc 3 untouched: cleaned text is the original (md5 equality)
    val md = java.security.MessageDigest.getInstance("MD5")
    def m(t: String) = md.digest(t.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(out(3L)._3 ==
      m("wholly unique document with no repeated grams inside"))
    // docs 1/2 shared a >= 10-word run: it is gone from BOTH (the
    // documented aggressive arm), remainder in original order
    assert(out(1L)._3 == m("intro one two three tail words here"))
    assert(out(2L)._3 == m("different opening text closing remarks now"))
  }

  test("perplexityScore: common-word docs keep, rare-word docs drop") {
    val s = spark
    import s.implicits._
    // "the" dominates the corpus (low NLL); xq/zv/qj are singletons
    // (high NLL). With cutoff between the two scores only the common
    // doc survives.
    val df = Seq(
      (1L, "the the the the the the the the"),
      (2L, "xq zv qj")).toDF("id", "body")
    val out = TextOps.perplexityScore(df, "id", "body", cutoff = 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // p(the) = 8/11 -> nll ~0.318; p(rare) = 1/11 -> nll ~2.398
    assert(out(1L)._1 == 8L && out(2L)._1 == 3L)
    assert(out(1L)._2 < 0.4 && out(2L)._2 > 2.0)
    assert(out(1L)._3 && !out(2L)._3)
    // deterministic across re-runs (decimal-quantized NLL table)
    val again = TextOps.perplexityScore(df, "id", "body", cutoff = 1.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again(1L) == out(1L)._2 && again(2L) == out(2L)._2)
  }

  test("perplexityScore: no unpartitioned window; broadcast is gated") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "the the the the the the the the"),
      (2L, "xq zv qj")).toDF("id", "body")
    // the corpus total must come from a scalar aggregate, never a
    // Window.partitionBy() (one task funnels the whole vocab)
    val scored = TextOps.perplexityScore(df, "id", "body", cutoff = 1.0)
    scored.count()
    val plan = scored.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"perplexityScore regressed to a window total:\n$plan")
    // above the gate the join degrades to a non-broadcast equi-join
    // with IDENTICAL rows
    val wide = TextOps.perplexityScore(df, "id", "body", cutoff = 1.0,
        maxBroadcastBytes = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSet
    val tight = scored
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSet
    assert(wide == tight, "gated plan changed the result rows")
  }

  private def vectors() = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.999f, 0.01f, 0.0f)), // near 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.98f, 0.2f)),   // near 2
      (4L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vid", "emb")
  }

  test("knnGraph ranks the planted neighbor first") {
    val g = AnnOps.knnGraph(vectors(), "vid", "emb", k = 1, blocks = 2,
        partitions = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g(0L) == 1L && g(1L) == 0L)
    assert(g(2L) == 3L && g(3L) == 2L)
  }

  test("knnGraphBroadcast returns exactly knnGraph's rows") {
    val viaJoin = AnnOps.knnGraph(vectors(), "vid", "emb", k = 2,
      blocks = 2, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val viaKernel = AnnOps.knnGraphBroadcast(vectors(), "vid", "emb", k = 2,
      partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(viaKernel == viaJoin) // bit-identical cosines, same ordering
  }

  test("knnGraphAuto: above the gate, LSH candidates — no all-pairs join") {
    // gate = 0 bytes: nothing fits, so the plan must be the sign-LSH
    // candidate spelling — bucketed signature equi-join + window re-rank
    // over candidates only; never the broadcast kernel, never any
    // full-corpus pair join
    val gated = AnnOps.knnGraphAuto(vectors(), "vid", "emb", k = 2,
      maxBroadcastBytes = 0L, partitions = 2)
    val gatedPlan = gated.queryExecution.executedPlan.toString()
    assert(gatedPlan.contains("Window"))
    // the silent-switch audit trail: above the gate every row is marked
    // approximate, below none is
    assert(gated.collect().forall(_.getAs[Boolean]("is_approx")),
      "LSH path must mark rows is_approx = true")
    assert(!gatedPlan.contains("CartesianProduct") &&
      !gatedPlan.contains("BroadcastNestedLoopJoin"))
    // the grid spelling joined a blocks x blocks grid with NO equi-key on
    // the signature; the LSH spelling's only joins are equi-joins
    // (SortMerge/BroadcastHash) — so a nested-loop-free plan plus the
    // candidate distinct is the structural fingerprint
    // generous gate: exact kernel path (MapPartitions, no Window)
    val kernel = AnnOps.knnGraphAuto(vectors(), "vid", "emb", k = 2,
      maxBroadcastBytes = 1L << 30, partitions = 2)
    val kernelPlan = kernel.queryExecution.executedPlan.toString()
    assert(kernelPlan.contains("MapPartitions"))
    assert(!kernelPlan.contains("Window"))
    assert(kernel.collect().forall(!_.getAs[Boolean]("is_approx")),
      "exact kernel path must mark rows is_approx = false")
    // above the gate the graph is ANN: on any pair BOTH spellings emit,
    // the cosine is the identical exact scaled-long value; recall of the
    // planted near pairs (cos ~0.98+, band collision ~certain) is 1
    val exact = AnnOps.knnGraph(vectors(), "vid", "emb", k = 2,
      blocks = 2, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val got = gated.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2), r.getInt(3)))
    got.foreach { case (pair, c, _) =>
      exact.get(pair).foreach(e => assert(c == e,
        s"cosine mismatch on $pair")) }
    val rank1 = got.filter(_._3 == 1).map(t => t._1._1 -> t._1._2).toMap
    assert(rank1(0L) == 1L && rank1(1L) == 0L, "planted pair 0-1 missed")
    assert(rank1(2L) == 3L && rank1(3L) == 2L, "planted pair 2-3 missed")
    // measured top-k recall vs the exact graph, documented on knnGraphLsh
    val recall = got.count(t => exact.contains(t._1)).toDouble / exact.size
    assert(recall >= 0.5, s"LSH kNN recall $recall collapsed")
  }

  test("filteredTopKLsh: key scoping is absolute, recall within the " +
      "filter subset measured vs exact filtered ground truth") {
    val s = spark
    import s.implicits._
    // planted: 1 is near 0 in key group "a"; 2 is nearER 0 but in key
    // group "b" — the key scope must exclude it no matter the cosine.
    // 5 has a NULL key: never a candidate, never a query match.
    val planted = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), "a"),
      (1L, Array(0.999f, 0.01f, 0.0f), "a"),
      (2L, Array(0.9999f, 0.001f, 0.0f), "b"),
      (3L, Array(0.0f, 1.0f, 0.0f), "a"),
      (4L, Array(0.0f, 0.98f, 0.2f), "b"),
      (5L, Array(0.999f, 0.0f, 0.01f), null.asInstanceOf[String]))
      .toDF("vid", "emb", "grp")
    val got = AnnOps.filteredTopKLsh(planted, "vid", "emb", "grp",
        _ < 2, k = 2, rowsPerBand = 4, bands = 8, partitions = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val keyOf = Map(0L -> "a", 1L -> "a", 2L -> "b", 3L -> "a", 4L -> "b")
    got.foreach { case (qid, nid, _, _) =>
      assert(keyOf.get(nid).contains(keyOf(qid)),
        s"neighbor $nid of query $qid crossed the key scope")
      assert(nid != 5L, "null-key row surfaced as a candidate")
    }
    // near-identical same-key vectors share every sign band: planted
    // neighbor is rank 1 with the exact scaled-long cosine
    val rank1 = got.filter(_._4 == 1).map(t => t._1 -> t._2).toMap
    assert(rank1(0L) == 1L && rank1(1L) == 0L, "planted a-pair missed")

    // recall@3 vs exact filtered ground truth on a seeded corpus of
    // 2 key groups x 40 vectors (the s05 discipline: measure, don't
    // assume). Exact side computed driver-side with the identical
    // scaled-long arithmetic.
    val rnd = new scala.util.Random(4177)
    val rows = (0 until 80).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat),
        if (i % 2 == 0) "even" else "odd")
    }
    val df = rows.toDF("vid", "emb", "grp")
    val scaledRows = rows.map { case (id, v, g) =>
      val c = v.map(x => math.round(x.toDouble * 1000000.0))
      val nrm = math.sqrt(c.map(x => x * x).sum.toDouble / 1.0e12)
      (id, c, nrm, g)
    }
    def exactTop3(qid: Long): Seq[Long] = {
      val (_, qc, qn, qg) = scaledRows(qid.toInt)
      scaledRows.filter(r => r._1 != qid && r._4 == qg)
        .map { case (id, c, n, _) =>
          val dot = qc.zip(c).map { case (x, y) => x * y }.sum
          (id, (dot.toDouble / 1.0e12) / (qn * n))
        }
        .sortBy { case (id, cos) => (-cos, id) }
        .take(3).map(_._1)
    }
    val lsh = AnnOps.filteredTopKLsh(df, "vid", "emb", "grp",
        _ < 10, k = 3, rowsPerBand = 4, bands = 8, partitions = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // subset/exactness contract: every hit is same-key and carries the
    // exact cosine the ground-truth arithmetic produces
    lsh.foreach { case (qid, nid, cos) =>
      assert(nid % 2 == qid % 2, s"hit $nid crossed the key scope of $qid")
      val (_, qc, qn, _) = scaledRows(qid.toInt)
      val (_, nc, nn, _) = scaledRows(nid.toInt)
      val dot = qc.zip(nc).map { case (x, y) => x * y }.sum
      assert(cos == (dot.toDouble / 1.0e12) / (qn * nn),
        s"cosine drifted on ($qid, $nid)")
    }
    val truth = (0L until 10L).flatMap(q => exactTop3(q).map(q -> _)).toSet
    val hits = lsh.map(t => (t._1, t._2)).toSet
    val recall = hits.count(truth).toDouble / truth.size
    assert(recall >= 0.5,
      s"filtered LSH recall@3 $recall collapsed (defaults favor recall)")
    info(f"filtered LSH recall@3 vs exact filtered: $recall%.2f " +
      s"(${hits.size} hits, ${truth.size} truth pairs)")

    // the OTHER filtered composition — IVF cells scoped by the key —
    // measured against the SAME ground truth: the two spellings trade
    // cell-boundary loss vs band-non-collision loss; both must honor
    // the absolute key scope and exact cosines
    val ivf = AnnOps.filteredTopKIvf(df, "vid", "emb", "grp",
        _ < 10, k = 3, cells = 4, iters = 2, partitions = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    ivf.foreach { case (qid, nid, cos) =>
      assert(nid % 2 == qid % 2,
        s"IVF hit $nid crossed the key scope of $qid")
      val (_, qc, qn, _) = scaledRows(qid.toInt)
      val (_, nc, nn, _) = scaledRows(nid.toInt)
      val dot = qc.zip(nc).map { case (x, y) => x * y }.sum
      assert(cos == (dot.toDouble / 1.0e12) / (qn * nn),
        s"IVF cosine drifted on ($qid, $nid)")
    }
    val ivfHits = ivf.map(t => (t._1, t._2)).toSet
    val ivfRecall = ivfHits.count(truth).toDouble / truth.size
    assert(ivfRecall >= 0.3,
      s"filtered IVF recall@3 $ivfRecall collapsed (4 cells over 8 dims)")
    info(f"filtered IVF recall@3 vs the same truth: $ivfRecall%.2f " +
      f"(${ivfHits.size} hits; LSH got $recall%.2f)")

    // multi-probe: the IVF recall dial on exactly the corpus where
    // single-cell search is weakest (isotropic data, harsh cell
    // boundaries). Recall must be non-decreasing in P, and at
    // P = cells every cell is probed so the result IS the exact
    // filtered brute force — recall 1.0 by construction, not by luck.
    val recallAtP = Seq(1, 2, 4).map { p =>
      val hitsP = AnnOps.filteredTopKIvf(df, "vid", "emb", "grp",
          _ < 10, k = 3, cells = 4, iters = 2, nprobe = p,
          partitions = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      p -> (hitsP.count(truth).toDouble / truth.size, hitsP)
    }
    assert(recallAtP.head._2._2 == ivfHits,
      "nprobe = 1 must be exactly the single-cell search")
    recallAtP.sliding(2).foreach { case Seq((pl, (rl2, _)), (ph, (rh, _))) =>
      assert(rh >= rl2,
        s"recall fell from $rl2 (P=$pl) to $rh (P=$ph)")
    }
    assert(recallAtP.last._2._1 == 1.0,
      "nprobe = cells probes every cell: exact filtered brute force")
    info("isotropic IVF recall@3 by nprobe: " + recallAtP
      .map { case (p, (r, _)) => f"P=$p $r%.2f" }.mkString(", "))

    // the BAND-axis dial, same methodology: multi-probe LSH recall
    // must be non-decreasing in probeBits, T = 0 is exactly the
    // single-probe search, and T = rowsPerBand probes every code so
    // each band matches every same-key row — the exact filtered
    // brute force by construction
    val lshAtT = Seq(0, 1, 2, 4).map { t =>
      val hitsT = AnnOps.filteredTopKLsh(df, "vid", "emb", "grp",
          _ < 10, k = 3, rowsPerBand = 4, bands = 8, partitions = 4,
          probeBits = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      t -> (hitsT.count(truth).toDouble / truth.size, hitsT)
    }
    assert(lshAtT.head._2._2 == hits,
      "probeBits = 0 must be exactly the single-probe search")
    lshAtT.sliding(2).foreach { case Seq((tl, (rl3, _)), (th, (rh3, _))) =>
      assert(rh3 >= rl3,
        s"LSH recall fell from $rl3 (T=$tl) to $rh3 (T=$th)")
    }
    assert(lshAtT.last._2._1 == 1.0,
      "probeBits = rowsPerBand probes every code: exact filtered " +
        "brute force")
    info("isotropic LSH recall@3 by probeBits: " + lshAtT
      .map { case (t, (r, _)) => f"T=$t $r%.2f" }.mkString(", "))
  }

  test("filtered ANN spellings on a CLUSTERED corpus: IVF recall " +
      "recovers when the data has real cluster structure") {
    // the isotropic sweep above shows cell boundaries are harsh
    // without natural clusters (IVF ~0.4 vs LSH ~0.8). The claim that
    // clustered corpora favor the reusable IVF structure needs its own
    // measurement: 4 well-separated centers, small noise, 2 key
    // groups — neighbors now co-locate in cells, so cell-scoped
    // candidates capture them
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7311)
    val centers = Array(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f), Array(0f, 0f, 0f, 10f))
    val rows = (0 until 80).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.3f),
        if (i % 2 == 0) "even" else "odd")
    }
    val df = rows.toDF("vid", "emb", "grp")
    val scaledRows = rows.map { case (id, v, g) =>
      val c = v.map(x => math.round(x.toDouble * 1000000.0))
      val nrm = math.sqrt(c.map(x => x * x).sum.toDouble / 1.0e12)
      (id, c, nrm, g)
    }
    def exactTop3(qid: Long): Seq[Long] = {
      val (_, qc, qn, qg) = scaledRows(qid.toInt)
      scaledRows.filter(r => r._1 != qid && r._4 == qg)
        .map { case (id, c, n, _) =>
          val dot = qc.zip(c).map { case (x, y) => x * y }.sum
          (id, (dot.toDouble / 1.0e12) / (qn * n))
        }
        .sortBy { case (id, cos) => (-cos, id) }
        .take(3).map(_._1)
    }
    val truth = (0L until 8L).flatMap(q => exactTop3(q).map(q -> _)).toSet
    def recallOf(hits: Set[(Long, Long)]): Double =
      hits.count(truth).toDouble / truth.size
    val ivf = AnnOps.filteredTopKIvf(df, "vid", "emb", "grp",
        _ < 8, k = 3, cells = 4, iters = 2, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = AnnOps.filteredTopKLsh(df, "vid", "emb", "grp",
        _ < 8, k = 3, rowsPerBand = 4, bands = 8, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (ri, rl) = (recallOf(ivf), recallOf(lsh))
    // with real clusters the cell scope captures true neighbors:
    // IVF must reach high recall here (it was ~0.4 isotropic)
    assert(ri >= 0.8, s"clustered IVF recall $ri did not recover")
    info(f"clustered corpus recall@3: IVF $ri%.2f, LSH $rl%.2f " +
      s"(isotropic was ~0.43 vs ~0.83)")
    // multi-probe on the clustered corpus: already-high single-cell
    // recall must not regress as P widens (the dial is monotone on
    // BOTH corpus shapes)
    val clusteredAtP = Seq(2, 4).map { p =>
      val hitsP = AnnOps.filteredTopKIvf(df, "vid", "emb", "grp",
          _ < 8, k = 3, cells = 4, iters = 2, nprobe = p,
          partitions = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      p -> recallOf(hitsP)
    }
    assert(clusteredAtP.forall(_._2 >= ri),
      s"multi-probe regressed clustered recall: $clusteredAtP vs $ri")
    assert(clusteredAtP.last._2 == 1.0,
      "nprobe = cells is the exact filtered brute force")
    info("clustered IVF recall@3 by nprobe: " +
      (Seq(1 -> ri) ++ clusteredAtP)
        .map { case (p, r) => f"P=$p $r%.2f" }.mkString(", "))
    // band-axis dial on the clustered shape: monotone from the
    // single-probe baseline to the T = rowsPerBand brute-force ceiling
    val lshAtT = Seq(1, 4).map { t =>
      t -> recallOf(AnnOps.filteredTopKLsh(df, "vid", "emb", "grp",
          _ < 8, k = 3, rowsPerBand = 4, bands = 8, partitions = 4,
          probeBits = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    assert(lshAtT.forall(_._2 >= rl),
      s"multi-probe regressed clustered LSH recall: $lshAtT vs $rl")
    assert(lshAtT.last._2 == 1.0,
      "probeBits = rowsPerBand is the exact filtered brute force")
    info("clustered LSH recall@3 by probeBits: " +
      (Seq(0 -> rl) ++ lshAtT)
        .map { case (t, r) => f"T=$t $r%.2f" }.mkString(", "))
  }

  test("filteredTopKIvfPq: equals plain IVF at full rerank depth " +
      "(same candidates, exact re-rank), recall@3 measured vs IVF " +
      "and LSH at matched candidate cost, monotone in rerankDepth") {
    val s = spark
    import s.implicits._
    // the clustered fixture (IVF's home turf) — 4 centers, 2 key
    // groups, 16-dim so the 4 PQ subspaces are 4 dims each
    val rnd = new scala.util.Random(9103)
    val centers = (0 until 4).map { c =>
      Array.tabulate(16)(i => if (i / 4 == c) 10f else 0f)
    }
    // key DECOUPLED from the center (i/4 parity, not i parity — i%2
    // would make centers key-pure, inflating every same-center-same-key
    // class to 20 > any reasonable rerank depth): classes are 10 per
    // (center, key), so a 12-deep cut can hold a full class
    val rows = (0 until 80).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.3f),
        if ((i / 4) % 2 == 0) "even" else "odd")
    }
    val df = rows.toDF("vid", "emb", "grp")
    val scaledRows = rows.map { case (id, v, g) =>
      val c = v.map(x => math.round(x.toDouble * 1000000.0))
      val nrm = math.sqrt(c.map(x => x * x).sum.toDouble / 1.0e12)
      (id, c, nrm, g)
    }
    def exactTop3(qid: Long): Seq[Long] = {
      val (_, qc, qn, qg) = scaledRows(qid.toInt)
      scaledRows.filter(r => r._1 != qid && r._4 == qg)
        .map { case (id, c, n, _) =>
          val dot = qc.zip(c).map { case (x, y) => x * y }.sum
          (id, (dot.toDouble / 1.0e12) / (qn * n))
        }
        .sortBy { case (id, cos) => (-cos, id) }
        .take(3).map(_._1)
    }
    val truth = (0L until 8L).flatMap(q => exactTop3(q).map(q -> _)).toSet
    def recallOf(hits: Set[(Long, Long)]): Double =
      hits.count(truth).toDouble / truth.size
    def rowsOf(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    // 1) construction equality: full depth ⇒ the ADC cut keeps every
    // candidate, so IVF-PQ == plain IVF row-for-row (same candidate
    // join, same exact re-rank) at ANY nprobe — quantization error
    // cannot leak into the result, only into the cut
    Seq(1, 4).foreach { p =>
      val pq = rowsOf(AnnOps.filteredTopKIvfPq(df, "vid", "emb", "grp",
        _ < 8, k = 3, cells = 4, iters = 2, nprobe = p,
        pqM = 4, pqKs = 4, pqIters = 2,
        rerankDepth = Int.MaxValue, partitions = 4))
      val ivf = rowsOf(AnnOps.filteredTopKIvf(df, "vid", "emb", "grp",
        _ < 8, k = 3, cells = 4, iters = 2, nprobe = p,
        partitions = 4))
      assert(pq == ivf,
        s"full-depth IVF-PQ drifted from plain IVF at nprobe=$p")
    }
    // 2) the real operating point: tight ADC cut (depth = k) — the
    // candidates are IDENTICAL to plain IVF's (matched candidate
    // cost), so any recall gap is the quantizer's ranking error alone
    val pqTight = AnnOps.filteredTopKIvfPq(df, "vid", "emb", "grp",
        _ < 8, k = 3, cells = 4, iters = 2, nprobe = 1,
        pqM = 4, pqKs = 4, pqIters = 2, rerankDepth = 3,
        partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf1 = AnnOps.filteredTopKIvf(df, "vid", "emb", "grp",
        _ < 8, k = 3, cells = 4, iters = 2, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = AnnOps.filteredTopKLsh(df, "vid", "emb", "grp",
        _ < 8, k = 3, rowsPerBand = 4, bands = 8, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (rpq, rivf, rlsh) = (recallOf(pqTight), recallOf(ivf1),
      recallOf(lsh))
    assert(rpq <= rivf + 1e-9,
      "PQ cannot beat its own exact-rerank candidate set")
    // depth = k is the no-overquery floor: same-center members share
    // identical codes (2-bit subspaces cannot rank WITHIN a cluster),
    // so the cut is an id-ascending tie-break among true near
    // neighbors — recall is partial BY CONSTRUCTION here, which is
    // exactly why the operator defaults to 4k overquery. Measured,
    // not assumed; the floor just pins it above collapse.
    assert(rpq >= 0.15,
      s"IVF-PQ recall@3 $rpq collapsed below the tie-break floor")
    info(f"clustered recall@3 at matched candidate cost: IVF-PQ " +
      f"(depth=k, tie-break floor) $rpq%.2f, IVF $rivf%.2f, " +
      f"LSH $rlsh%.2f")
    // 2b) what ADC is FOR — separating far candidates cheaply: probe
    // every cell (candidates = ALL ~39 same-key rows, mostly far
    // cross-center junk) and cut to depth 12. Same-center approx
    // cosines are ~1 vs ~0 cross-center, so every same-center member
    // (~9, < 12) survives the cut, the far ~27 never touch full
    // vectors, and recall vs the exact brute force stays 1.0 — the
    // 100 TB claim in one number
    val pqSep = AnnOps.filteredTopKIvfPq(df, "vid", "emb", "grp",
        _ < 8, k = 3, cells = 4, iters = 2, nprobe = 4,
        pqM = 4, pqKs = 4, pqIters = 2, rerankDepth = 12,
        partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recallOf(pqSep) == 1.0,
      s"ADC cut lost a true neighbor across centers: " +
        f"recall ${recallOf(pqSep)}%.2f (cut 39 candidates to 12)")
    // 3) depth dial: recall non-decreasing, reaching the plain-IVF
    // ceiling once the cut passes every true neighbor through
    val byDepth = Seq(3, 6, 1000).map { d =>
      d -> recallOf(AnnOps.filteredTopKIvfPq(df, "vid", "emb", "grp",
          _ < 8, k = 3, cells = 4, iters = 2, nprobe = 1,
          pqM = 4, pqKs = 4, pqIters = 2, rerankDepth = d,
          partitions = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    byDepth.sliding(2).foreach { case Seq((dl, rl2), (dh, rh)) =>
      assert(rh >= rl2, s"recall fell from $rl2 (depth=$dl) to $rh " +
        s"(depth=$dh)")
    }
    assert(byDepth.last._2 == rivf,
      "depth past the candidate count must recover the exact-rerank " +
        "ceiling")
    info("IVF-PQ recall@3 by rerankDepth: " + byDepth
      .map { case (d, r) => f"depth=$d $r%.2f" }.mkString(", "))
    // 4) output contract: exact cosines (never the ADC approximation)
    AnnOps.filteredTopKIvfPq(df, "vid", "emb", "grp", _ < 8, k = 3,
        cells = 4, iters = 2, nprobe = 1, rerankDepth = 3,
        partitions = 4)
      .collect().foreach { r =>
        val (qid, nid, cos) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        assert((nid / 4) % 2 == (qid / 4) % 2,
          s"IVF-PQ hit $nid crossed the key scope of $qid")
        val (_, qc, qn, _) = scaledRows(qid.toInt)
        val (_, nc, nn, _) = scaledRows(nid.toInt)
        val dot = qc.zip(nc).map { case (x, y) => x * y }.sum
        assert(cos == (dot.toDouble / 1.0e12) / (qn * nn),
          s"IVF-PQ emitted a non-exact cosine on ($qid, $nid)")
      }
  }

  test("durable IVF-PQ index: serving equals the inline operator at " +
      "NON-ceiling settings, re-serves without rebuild, and the drift " +
      "audit reads the shared layout") {
    val s = spark
    import s.implicits._
    // the IVF-PQ clustered fixture (key decoupled from the center)
    val rnd = new scala.util.Random(9103)
    val centers = (0 until 4).map { c =>
      Array.tabulate(16)(i => if (i / 4 == c) 10f else 0f)
    }
    val rows = (0 until 80).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.3f),
        if ((i / 4) % 2 == 0) "even" else "odd")
    }
    val df = rows.toDF("vid", "emb", "grp").pin()
    val idx = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-idx-").toString
    AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", idx,
      cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    def rowsOf(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    // bit-parity with the inline operator at non-ceiling settings —
    // every dial live: multi-probe cells, tight ADC cut
    Seq((1, 6), (2, 12), (4, 1000)).foreach { case (p, d) =>
      val served = rowsOf(AnnOps.queryIvfPqIndex(
        df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
        nprobe = p, rerankDepth = d, partitions = 4))
      val inline = rowsOf(AnnOps.filteredTopKIvfPq(df, "vid", "emb",
        "grp", _ < 8, k = 3, cells = 4, iters = 2, nprobe = p,
        pqM = 4, pqKs = 4, pqIters = 2, rerankDepth = d,
        partitions = 4))
      assert(served == inline,
        s"served index drifted from the inline operator at " +
          s"nprobe=$p depth=$d")
    }
    // a SECOND, different query batch serves off the same artifacts
    val second = rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" >= 8 && $"vid" < 12), "vid", "emb", "grp", idx,
      k = 3, nprobe = 1, rerankDepth = 6, partitions = 4))
    assert(second.nonEmpty && second.forall(t => t._1 >= 8 && t._1 < 12))
    second.foreach { case (qid, nid, cos, _) =>
      assert((nid / 4) % 2 == (qid / 4) % 2,
        s"served hit $nid crossed the key scope of $qid")
      assert(nid != qid, "self-match must be excluded")
      assert(cos <= 1.0 + 1e-9)
    }
    // shared layout: the s19 drift audit runs unchanged on an ANN
    // index (one observability tool for both durable families)
    val audit = AnnOps.semanticIndexDriftAudit(s, idx).collect()
    assert(audit.length == 1 && audit.head.getLong(1) == 80L,
      s"drift audit must see the single build batch: " +
        s"${audit.mkString(", ")}")
    assert(audit.head.getDouble(6) == 0.0,
      "the build batch IS the baseline: zero trend")
    // RAGGED dims (dim % pqM != 0): the last subspace's codebook means
    // are shorter under the ceil split, so dsub inference must take
    // the WIDEST entry — an arbitrary codebook row would mis-slice
    // every query subvector (the silent-index-corruption review find)
    val rag = rows.map { case (id, v10, g) => (id, v10.take(10), g) }
      .toDF("vid", "emb", "grp").pin()
    val ridx = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-rag-").toString
    AnnOps.buildIvfPqIndex(rag, "vid", "emb", "grp", ridx,
      cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    val servedR = rowsOf(AnnOps.queryIvfPqIndex(
      rag.filter($"vid" < 8), "vid", "emb", "grp", ridx, k = 3,
      nprobe = 1, rerankDepth = 6, partitions = 4))
    val inlineR = rowsOf(AnnOps.filteredTopKIvfPq(rag, "vid", "emb",
      "grp", _ < 8, k = 3, cells = 4, iters = 2, nprobe = 1,
      pqM = 4, pqKs = 4, pqIters = 2, rerankDepth = 6,
      partitions = 4))
    assert(servedR == inlineR,
      "ragged-dim serving drifted from the inline operator (dsub " +
        "inference must use the widest codebook entry)")
    // ...and the APPEND path's own dsub inference (it collects the
    // codebooks independently): build on a ragged seed, append the
    // rest, serve at the construction ceiling — must equal the exact
    // filtered brute force over the union (filteredTopKIvf at
    // nprobe = cells), which a mis-sliced appended code table breaks
    val ridx2 = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-rag2-").toString
    AnnOps.buildIvfPqIndex(rag.filter($"vid" < 60), "vid", "emb",
      "grp", ridx2, cells = 4, iters = 2, pqM = 4, pqKs = 4,
      pqIters = 2, partitions = 4)
    AnnOps.appendIvfPqIndex(rag.filter($"vid" >= 60), "vid", "emb",
      "grp", ridx2, batchId = 1L, partitions = 4)
    val servedA = rowsOf(AnnOps.queryIvfPqIndex(
      rag.filter($"vid" < 8), "vid", "emb", "grp", ridx2, k = 3,
      nprobe = 4, rerankDepth = Int.MaxValue, partitions = 4))
    val bruteA = rowsOf(AnnOps.filteredTopKIvf(rag, "vid", "emb",
      "grp", _ < 8, k = 3, cells = 4, iters = 2, nprobe = 4,
      partitions = 4))
    assert(servedA == bruteA,
      "ragged-dim APPEND + ceiling serve drifted from the filtered " +
        "brute force (append-side dsub inference)")
  }

  test("filteredTopKIvf maxCellOccupancy: BIT-PARITY with the " +
      "uncapped search at any k/nprobe — family queries, outside " +
      "queries, null vectors, all of it") {
    val s = spark
    import s.implicits._
    // a 40-member identical family (one vector, one key) + diverse
    // same-key rows + other-key rows + a null-vector row in the
    // family's key; queries: INSIDE the family (2, 100), same-key
    // outside (4), other-key (1)
    val famVec = Array(0.6f, 0.6f, 0.05f, 0.1f)
    val fam = (0 until 40).map(i => (100L + i, famVec, "a"))
    val rnd = new scala.util.Random(311)
    val diverse = (0 until 20).map { i =>
      (i.toLong, Array.fill(4)(rnd.nextGaussian().toFloat),
        if (i % 2 == 0) "a" else "b")
    }
    val clean = (diverse.filterNot(t => t._1 == 2L || t._1 == 6L) ++
      fam ++ Seq(
      (2L, famVec, "a"), // family-vector query OUTSIDE the family ids
      (500L, null.asInstanceOf[Array[Float]], "a"),
      // an all-ZERO vector (not null): under ANSI its cosine division
      // would THROW without the zero-norm guards; as a corpus row it
      // must sort to the null-cosine tail, and as a QUERY (6) the
      // probe scoring itself must survive — both faces witnessed here
      (501L, Array(0f, 0f, 0f, 0f), "a"),
      (6L, Array(0f, 0f, 0f, 0f), "a")))
      .toDF("vid", "emb", "grp").pin()
    def run(cap: Int, k: Int, p: Int) =
      AnnOps.filteredTopKIvf(clean, "vid", "emb", "grp",
          c => c === 2L || c === 100L || c === 4L || c === 1L ||
            c === 6L,
          k = k, cells = 3, iters = 2, nprobe = p, partitions = 4,
          maxCellOccupancy = cap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
          r.getInt(3)))
        .map(t => (t._1, t._2, if (t._3.isNaN) -999.0 else t._3, t._4))
        .toSet
    Seq((3, 1), (3, 3), (5, 1), (45, 1)).foreach { case (k, p) =>
      val capped = run(8, k, p)
      val uncapped = run(Int.MaxValue, k, p)
      assert(capped == uncapped,
        s"capped search drifted at k=$k nprobe=$p:\n" +
          s"capped - uncapped: ${capped -- uncapped}\n" +
          s"uncapped - capped: ${uncapped -- capped}")
    }
    // and the guard actually fires: the family's (cell, key) holds 41
    // identical vectors (> cap 8), so a family query's top-3 is 3
    // family members with cosine exactly 1.0, smallest ids first
    val top = run(8, 3, 1).filter(_._1 == 100L).toSeq.sortBy(_._4)
    assert(top.map(_._2) == Seq(2L, 101L, 102L),
      s"family expansion must yield the k smallest tied ids: $top")
    assert(top.forall(_._3 == 1.0),
      s"identical vectors must score cosine exactly 1.0: $top")
  }

  test("appendIvfPqIndex: batching-independent, replay-idempotent, " +
      "appended members are served, drift audit prices every batch") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(9103)
    val centers = (0 until 4).map { c =>
      Array.tabulate(16)(i => if (i / 4 == c) 10f else 0f)
    }
    def mk(ids: Range) = ids.map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.3f),
        if ((i / 4) % 2 == 0) "even" else "odd")
    }
    val seedRows = mk(0 until 60)
    val incRows = mk(60 until 80)
    val seed = seedRows.toDF("vid", "emb", "grp").pin()
    val inc = incRows.toDF("vid", "emb", "grp").pin()
    def build(dir: String): Unit =
      AnnOps.buildIvfPqIndex(seed, "vid", "emb", "grp", dir,
        cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
        partitions = 4)
    def append(dir: String, b: org.apache.spark.sql.DataFrame,
        id: Long): Unit =
      AnnOps.appendIvfPqIndex(b, "vid", "emb", "grp", dir, id,
        partitions = 4)
    def serve(dir: String) = AnnOps.queryIvfPqIndex(
        inc.filter($"vid" < 64), "vid", "emb", "grp", dir, k = 3,
        nprobe = 2, rerankDepth = 12, partitions = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-app-").toString
    // one append vs two half appends vs a replayed append: the serve
    // must be identical (frozen artifacts make assignment/encoding a
    // pure per-row function; commits are per-batch overwrites)
    val dirA = tmp(); build(dirA); append(dirA, inc, 1L)
    val dirB = tmp(); build(dirB)
    append(dirB, inc.filter($"vid" % 2 === 0), 1L)
    append(dirB, inc.filter($"vid" % 2 === 1), 2L)
    val dirC = tmp(); build(dirC); append(dirC, inc, 1L)
    append(dirC, inc, 1L) // replay
    val (a, b, c) = (serve(dirA), serve(dirB), serve(dirC))
    assert(a == b, "serve must be independent of append batching")
    assert(a == c, "a replayed append must change nothing")
    // appended members are first-class: an appended query finds its
    // same-center appended AND seed neighbors with exact cosines
    assert(a.nonEmpty && a.forall(t => t._1 >= 60 && t._1 < 64))
    a.foreach { case (qid, nid, _, _) =>
      assert((nid / 4) % 2 == (qid / 4) % 2 && nid != qid)
    }
    // the shared layout prices every committed batch
    val audit = AnnOps.semanticIndexDriftAudit(s, dirB).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(audit == Map(0L -> 60L, 1L -> 10L, 2L -> 10L),
      s"drift audit must see build + both appends: $audit")
    // round-18 concurrent commit: the rows tree holds EXACTLY the
    // committed batch dirs — the dot-prefixed temp dir the rows write
    // stages in must be renamed away, never left as debris (a replay,
    // dirC, exercises the delete-then-rename path twice)
    Seq(dirA, dirB, dirC).foreach { d =>
      val root = java.nio.file.Paths.get(
        AnnOps.liveIndexRoot(s, d).stripPrefix("file:"), "batches")
      val it = java.nio.file.Files.list(root).iterator()
      val names = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) names += it.next().getFileName.toString
      assert(names.forall(n => n.startsWith("batch=") ||
          n.startsWith("_")),
        s"$d: unexpected entries in batches tree: $names")
    }
  }

  test("semanticIndexDriftAudit: re-ingesting the seed's vectors " +
      "reports EXACTLY zero trend; a collapsed batch reports positive " +
      "drift and single-cell funneling") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(661)
    val centers = Array(Array(10f, 0f, 0f), Array(0f, 10f, 0f),
      Array(0f, 0f, 10f))
    val seedRows = (0 until 30).map { i =>
      (i.toLong,
        centers(i % 3).map(x => x + rnd.nextGaussian().toFloat * 0.3f))
    }
    val idx = java.nio.file.Files.createTempDirectory("graft-drift-")
      .toString
    def inc(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      AnnOps.incrementalSemanticDedupDurable(df, "vid", "emb", idx, id,
        threshold = 0.8, cells = 3, iters = 2, probe = false)
    inc(seedRows.toDF("vid", "emb"), 0L)
    // batch 1: the seed's VECTORS again under fresh ids — the
    // drift-free replay distribution. Identical vectors assign to
    // identical frozen cells with identical per-row distances, and
    // the decimal per-batch sum is order-independent, so the trend is
    // exactly 0.0, not approximately
    inc(seedRows.map { case (id, v) => (id + 100L, v) }
      .toDF("vid", "emb"), 1L)
    // batch 2: the corpus collapses to one point — maximal drift: one
    // frozen cell absorbs everything and distances jump
    inc(seedRows.map { case (id, _) => (id + 200L, Array(5f, 5f, 5f)) }
      .toDF("vid", "emb"), 2L)
    val audit = AnnOps.semanticIndexDriftAudit(s, idx).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(audit.keySet == Set(0L, 1L, 2L), s"missing batches: $audit")
    assert(audit(0L).getDouble(6) == 0.0, "seed trend is 0 by definition")
    assert(audit(1L).getDouble(6) == 0.0,
      s"drift-free replay must report EXACTLY zero trend, got " +
        s"${audit(1L).getDouble(6)}")
    assert(audit(1L).getDouble(4) == audit(0L).getDouble(4),
      "replay mean_dist must equal the seed's")
    assert(audit(2L).getDouble(6) > 0.01,
      s"collapsed batch must surface positive drift: ${audit(2L)}")
    assert(audit(2L).getLong(2) == 1L && audit(2L).getLong(3) == 30L,
      s"collapsed batch must funnel into one cell: ${audit(2L)}")
    // occupancy columns are per batch: the healthy batches spread over
    // all 3 frozen cells
    assert(audit(0L).getLong(2) == 3L && audit(1L).getLong(2) == 3L)
  }

  test("incrementalSemanticDedupDurable: batching-independent, " +
      "replay-idempotent, restart reads only committed state") {
    val s = spark
    import s.implicits._
    // clustered corpus: 3 centers × 12 vectors (near-dups co-cluster);
    // batch 0 = ids 0..23 (trains + freezes centroids), increments are
    // ids 24..35
    val rnd = new scala.util.Random(5521)
    val centers = Array(Array(10f, 0f, 0f), Array(0f, 10f, 0f),
      Array(0f, 0f, 10f))
    val rows = (0 until 36).map { i =>
      (i.toLong,
        centers(i % 3).map(x => x + rnd.nextGaussian().toFloat * 0.2f))
    }
    val df = rows.toDF("vid", "v")
    val base = df.filter($"vid" < 24)
    val incA = df.filter($"vid" >= 24 && $"vid" % 2 === 0)
    val incB = df.filter($"vid" >= 24 && $"vid" % 2 === 1)
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft-s15-spec-").toString
    def run(dir: String, batch: org.apache.spark.sql.DataFrame,
        id: Long) =
      AnnOps.incrementalSemanticDedupDurable(batch, "vid", "v", dir, id,
        threshold = 0.9, cells = 3, iters = 2, partitions = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    // one-shot: all 12 new docs in a single increment
    val dirOne = tmp()
    run(dirOne, base, 0L)
    val oneShot = run(dirOne, df.filter($"vid" >= 24), 1L)
    // incremental: the same 12 docs over two batches
    val dirInc = tmp()
    run(dirInc, base, 0L)
    val p1 = run(dirInc, incA, 1L)
    val p2 = run(dirInc, incB, 2L)
    assert(p1.union(p2) == oneShot,
      "incremental union must equal the one-shot touching-new pairs")
    assert(p1.intersect(p2).isEmpty,
      "a pair must surface exactly once (at its later endpoint)")
    assert(oneShot.nonEmpty, "fixture produced no near pairs")
    // replay (the foreachBatch retry): re-running batch 1 against the
    // now-extended index must exclude its own previous commit and
    // return EXACTLY the first run's pairs — batch 2's rows are
    // committed, but none of its pairs touch batch 1 alone... so
    // assert the replay is a superset-free reproduction of p1 plus
    // only pairs against batch 2 that batch 2 itself already reported
    val p1replay = run(dirInc, incA, 1L)
    assert(p1replay -- p1 subsetOf p2,
      "replay may only add pairs batch 2 already owns")
    assert(p1 subsetOf p1replay, "replay lost pairs")
    // restart: a FRESH process (new facade call, durable state only)
    // appends batch 3 and must see every committed batch — pairs
    // against batches 1 and 2 included
    val incC = Seq((99L, centers(0).map(_ + 0.01f))).toDF("vid", "v")
    val p3 = run(dirInc, incC, 3L)
    val partners = p3.flatMap(t => Seq(t._1, t._2)) - 99L
    assert(partners.exists(_ >= 24L),
      s"restart probe missed increment-committed docs: $p3")
    assert(partners.exists(_ < 24L),
      s"restart probe missed base-committed docs: $p3")
    // the training batch replayed through the FROZEN path (centroids
    // exist now) reassigns bit-identically: same old-old pair set
    val dirTrain = tmp()
    val t0 = run(dirTrain, base, 0L)
    val t0replay = run(dirTrain, base, 0L)
    assert(t0 == t0replay,
      "train-batch replay through the frozen path drifted")
  }

  test("embeddingStats: exact per-dimension moments, dead dim flagged") {
    val s = spark
    import s.implicits._
    // dim 0: values 1,2,3 -> mean 2, var 2/3; dim 1: constant 0.5 ->
    // var 0; dim 2: all near-zero (< 0.01)
    val df = Seq(
      (1L, Array(1.0f, 0.5f, 0.001f)),
      (2L, Array(2.0f, 0.5f, -0.002f)),
      (3L, Array(3.0f, 0.5f, 0.0f))).toDF("id", "v")
    val out = AnnOps.embeddingStats(df, "v").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
      .toMap
    assert(out(0L)._1 == 3L && math.abs(out(0L)._2 - 2.0) < 1e-9)
    assert(math.abs(out(0L)._3 - 2.0 / 3.0) < 1e-9)
    assert(out(0L)._4 == 0L)
    assert(math.abs(out(1L)._2 - 0.5) < 1e-9 && out(1L)._3 == 0.0)
    assert(out(2L)._4 == 3L, "dim 2 should count all rows near zero")
  }

  test("cosineNearDups returns only pairs above threshold, a < b") {
    val pairs = AnnOps.cosineNearDups(vectors(), "vid", "emb",
        threshold = 0.95, blocks = 2, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((0L, 1L), (2L, 3L)))
  }

  test("cosineNearDupsLsh: null/empty vectors dropped, no NaN pairs") {
    val s = spark
    import s.implicits._
    // degenerate rows must vanish from the signature stage (no NPE on a
    // null array, no all-ones code for an empty one, no 0/0 = NaN cosine
    // colliding two empty vectors into a spurious pair)
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.999f, 0.01f, 0.0f)),
      (2L, Array.empty[Float]),
      (3L, Array.empty[Float]))
      .toDF("vid", "emb")
      .union(Seq((4L, null.asInstanceOf[Array[Float]])).toDF("vid", "emb"))
    val got = AnnOps.cosineNearDupsLsh(df, "vid", "emb",
        threshold = 0.95, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L)))
  }

  test("cosineNearDupsLsh: subset of exact, identical cosines, no grid") {
    val exact = AnnOps.cosineNearDups(vectors(), "vid", "emb",
        threshold = 0.95, blocks = 2, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = AnnOps.cosineNearDupsLsh(vectors(), "vid", "emb",
      threshold = 0.95, partitions = 2)
    // bucketed candidates can only MISS true pairs, never add false ones,
    // and verification arithmetic is the same exact scaled-long cosine
    val got = lsh.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet.subsetOf(exact.keySet))
    got.foreach { case (k, c) => assert(c == exact(k)) }
    // at this high threshold (planted pairs ~cos 0.98+) banding recall is
    // ~1 - 4e-13: both planted pairs must surface
    assert(got.keySet == Set((0L, 1L), (2L, 3L)))
    // and the plan must be candidate-verify joins, never an all-pairs grid
    val plan = lsh.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("semanticNearDups: within-cell pairs only, exact cosines") {
    val s = spark
    import s.implicits._
    // two tight clusters far apart, seeds (smallest ids 0, 1) one per
    // cluster, plus a lone off-axis vector
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f, 0.0f)),  // near 0
      (3L, Array(0.01f, 0.999f, 0.0f)),  // near 1
      (4L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vid", "emb")
    val got = AnnOps.semanticNearDups(df, "vid", "emb",
        threshold = 0.95, cells = 2, partitions = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    // the two planted pairs co-cluster with their seed; nothing else
    // clears the threshold
    assert(got.keySet == Set((0L, 2L), (1L, 3L)), s"got ${got.keySet}")
    // verification arithmetic matches the exact all-pairs spelling
    val exact = AnnOps.cosineNearDups(df, "vid", "emb", threshold = 0.95,
        blocks = 2, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    got.foreach { case (p, c) => assert(exact(p) == c) }
    // cells are a partition of the ids
    val cells = AnnOps.kmeansCells(df, "vid", "emb", k = 2, partitions = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(cells(0L) == cells(2L) && cells(1L) == cells(3L))
    assert(cells(0L) != cells(1L))
  }

  test("capped semantic dedup: uncapped == capped when no cell " +
      "saturates (exact rows, saturated = false throughout)") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f, 0.0f)),
      (3L, Array(0.01f, 0.999f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vid", "emb")
    val plain = AnnOps.semanticNearDups(df, "vid", "emb",
        threshold = 0.95, cells = 2, partitions = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val capped = AnnOps.semanticNearDupsCapped(df, "vid", "emb",
      threshold = 0.95, cells = 2, maxCellOccupancy = 1000,
      partitions = 2).collect()
    assert(capped.forall(!_.getBoolean(4)), "nothing may saturate")
    assert(capped
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet == plain)
  }

  test("capped semantic dedup: an identical-embedding family collapses " +
      "by exact signature, cluster resolution == uncapped EXACTLY") {
    val s = spark
    import s.implicits._
    // the SemDeDup pathology: 30 identical vectors (mass duplicates
    // embed identically, so they share one argmax cell at ANY cell
    // count) plus a small diverse set; cap 8 saturates the family's
    // cell. The family must surface as 29 exact-signature collapse
    // edges off the min-id rep — never its C(30,2) member pairs — and
    // component resolution must equal the unguarded operator's exactly
    // (signature equality is cosine 1.0: the collapse is exact, not
    // probabilistic).
    val boiler = Array(0.6f, 0.6f, 0.05f)
    val fam = (0 until 30).map(i => (900L + i, boiler))
    val df = (Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))) ++ fam)
      .toDF("vid", "emb")
    val capped = AnnOps.semanticNearDupsCapped(df, "vid", "emb",
        threshold = 0.9, cells = 2, maxCellOccupancy = 8, partitions = 2)
      .pin()
    val collapse = capped.filter(col("saturated") && col("cosine").isNull)
      .collect()
    assert(collapse.forall(r => r.getLong(1) == 900L && r.getLong(2) > 900L),
      "collapse edges must hang off the min-id representative")
    assert(collapse.map(_.getLong(2)).toSet == (901L to 929L).toSet,
      "every family member must collapse to the rep")
    // the family's quadratic never materializes: member-level family
    // pairs appear ONLY as the 29 collapse edges
    val famRows = capped.filter(col("a") >= 900L || col("b") >= 900L)
      .count()
    assert(famRows == 29, s"family emitted $famRows rows, wanted 29")
    def clusters(pairs: org.apache.spark.sql.DataFrame) =
      DedupOps.connectedComponents(pairs, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncut = AnnOps.semanticNearDups(df, "vid", "emb",
      threshold = 0.9, cells = 2, partitions = 2)
    assert(clusters(capped.select("a", "b")) ==
      clusters(uncut.select("a", "b")),
      "capped cell resolution must equal uncapped exactly")
  }

  test("capped incremental semantic probe: an accumulated identical " +
      "family delegates to its OLD root instead of re-verifying") {
    val s = spark
    import s.implicits._
    // the s15 pathology over time: the index has accumulated a
    // 20-member identical-embedding family in one frozen cell; every
    // new batch of copies would otherwise pay |new ∩ cell| × m
    // verification pairs — quadratic over increments. Capped, new
    // copies must link to the family's ACCUMULATED root by delegated
    // (null-cosine) edges — id 5 sorts below every family id, so a
    // min-over-all root would elect doc 5 and drop its only edge, the
    // probeIndex review hole — while sub-cap cells verify exactly.
    val boiler = Array(0.6f, 0.6f, 0.05f)
    val base = ((0 until 20).map(i => (100L + i, boiler)) ++ Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 1.0f, 0.0f))))
      .toDF("vid", "v")
    val batch = Seq(
      (5L, boiler), (500L, boiler),
      (501L, Array(0.99f, 0.01f, 0.0f)))
      .toDF("vid", "v")
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft-cellcap-spec-").toString
    def run(dir: String, b: org.apache.spark.sql.DataFrame, id: Long,
        cap: Int) =
      AnnOps.incrementalSemanticDedupDurable(b, "vid", "v", dir, id,
        threshold = 0.9, cells = 2, iters = 2, partitions = 2,
        maxCellOccupancy = cap)
    val dirU = tmp()
    run(dirU, base, 0L, Int.MaxValue)
    val uncapped = run(dirU, batch, 1L, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: each new copy verifies against all 20 + each other
    assert(uncapped.count(p => p._2 >= 100L || p._1 >= 100L) >= 40)
    val dirC = tmp()
    run(dirC, base, 0L, Int.MaxValue)
    val capped = run(dirC, batch, 1L, 8).pin()
    val delegated = capped.filter(col("cosine").isNull).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delegated == Set((5L, 100L), (100L, 500L)),
      s"every new family copy — low-id doc 5 included — must link to " +
        s"the accumulated root: $delegated")
    val verified = capped.filter(col("cosine").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!verified.exists(p =>
      (p._1 == 5L || p._1 == 500L || p._2 == 500L) && p._2 >= 100L),
      s"family probe pairs must not reach verification: $verified")
    assert(verified.contains((10L, 501L)),
      s"sub-cap pairs still verify exactly: $verified")
    // no saturation ⇒ bit-identical to the uncapped probe
    val dirP = tmp()
    run(dirP, base, 0L, Int.MaxValue)
    val parity = run(dirP, batch, 1L, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(parity == uncapped, "high cap must be the uncapped probe")
  }

  test("capped incremental semantic probe: cross-batch pair " +
      "uniqueness — a merely-TOUCHED pre-existing group never " +
      "re-emits its root pairs") {
    val s = spark
    import s.implicits._
    // two distinct-signature near-dup families (cosine ~0.995 between
    // them) land in ONE frozen cell and saturate it in batch 1 —
    // their root pair (100, 200) is verified THEN, exactly once. A
    // later batch adds one more copy of family A: the only new row is
    // A's delegated edge; re-emitting (100, 200) would double-count
    // in any consumer accumulating per-batch outputs by union (the
    // documented s15 pattern).
    val famA = Array(0.6f, 0.6f, 0.05f)
    val famB = Array(0.6f, 0.6f, 0.10f) // same cell, distinct signature
    val seed = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 1.0f, 0.0f)),
      (12L, Array(0.58f, 0.58f, 0.07f)))
      .toDF("vid", "v")
    val b1 = ((0 until 6).map(i => (100L + i, famA)) ++
      (0 until 6).map(i => (200L + i, famB))).toDF("vid", "v")
    val b2 = Seq((300L, famA)).toDF("vid", "v")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-xbatch-").toString
    def run(b: org.apache.spark.sql.DataFrame, id: Long) =
      AnnOps.incrementalSemanticDedupDurable(b, "vid", "v", dir, id,
        threshold = 0.9, cells = 2, iters = 2, partitions = 2,
        maxCellOccupancy = 4)
    run(seed, 0L)
    val out1 = run(b1, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2))).toSet
    assert(out1.contains((100L, 200L, false)),
      s"the two new groups' roots must verify when they form: $out1")
    val out2 = run(b2, 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2))).toSet
    assert(out2.contains((100L, 300L, true)),
      s"the new copy must delegate to family A's accumulated root: " +
        s"$out2")
    assert(!out2.exists(p => p._1 == 100L && p._2 == 200L),
      s"touched group A re-emitted its root pair vs B — the " +
        s"cross-batch uniqueness break: $out2")
    // union-over-batches stays duplicate-free on the pair key
    val all = out1 ++ out2
    assert(all.size == out1.size + out2.size,
      "per-batch outputs must be disjoint on (a, b)")
  }

  test("cellOccupancyCurve: cells partition pairs (sub + saturated == " +
      "uncut), collapse prices the identical mass") {
    val s = spark
    import s.implicits._
    val boiler = Array(0.6f, 0.6f, 0.05f)
    val fam = (0 until 10).map(i => (900L + i, boiler))
    val df = (Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f, 0.0f))) ++ fam)
      .toDF("vid", "emb")
    val curve = AnnOps.cellOccupancyCurve(df, "vid", "emb",
        threshold = 0.9, cells = 2, caps = Seq(4, 64), partitions = 2)
      .collect().map(r => r.getInt(0) -> r).toMap
    val lo = curve(4); val hi = curve(64)
    // cap 64: nothing saturates — the sub-cap join IS the uncut join
    assert(hi.getLong(1) == 0 && hi.getLong(5) == 0 && hi.getLong(7) == 0)
    assert(hi.getLong(3) == hi.getLong(10) && hi.getLong(4) == hi.getLong(11))
    assert(hi.getDouble(12) == 1.0)
    // cap 4: the family's cell saturates; cells PARTITION pairs, so
    // sub + saturated == uncut on both counts, and the identical mass
    // collapses to family-size − 1 edges with a small rep residual
    assert(lo.getLong(1) > 0)
    assert(lo.getLong(3) + lo.getLong(5) == lo.getLong(10))
    assert(lo.getLong(4) + lo.getLong(6) == lo.getLong(11))
    assert(lo.getLong(7) == 9L,
      s"10 identical members must yield 9 collapse edges: ${lo.getLong(7)}")
    assert(lo.getLong(8) < lo.getLong(5),
      "the rep residual must be strictly smaller than the saturated " +
        "quadratic it replaces")
  }

  test("semanticNearDupsAuto: derives K from N, bounds per-cell pairs " +
      "on a skewed fixture") {
    val s = spark
    import s.implicits._
    // skewed corpus: 18 vectors clumped around the x axis, 3 around y,
    // 3 around z — the shape where a caller-picked fixed K degenerates
    // (too small → all-pairs; too large → empty cells)
    val rows =
      (0L until 18L).map(i =>
        (i, Array(1.0f, 0.001f * i, 0.0f))) ++
      (18L until 21L).map(i =>
        (i, Array(0.0f, 1.0f, 0.001f * (i - 18)))) ++
      (21L until 24L).map(i =>
        (i, Array(0.001f * (i - 21), 0.0f, 1.0f)))
    val df = rows.toDF("vid", "emb")

    // targetCellSize=6 over N=24 → 4 cells
    val got = AnnOps.semanticNearDupsAuto(df, "vid", "emb",
        threshold = 0.999, targetCellSize = 6, partitions = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap

    // the derived K must be ceil(24/6) = 4: memberships recomputed with
    // the same staged pipeline at that K are exactly the auto path's
    val members = AnnOps.kmeansCells(df, "vid", "emb", k = 4,
        partitions = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(members.keySet == rows.map(_._1).toSet)

    // every reported pair is within-cell and exact-cosine-correct
    val exact = AnnOps.cosineNearDups(df, "vid", "emb", threshold = 0.999,
        blocks = 2, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    got.foreach { case ((a, b), c) =>
      assert(members(a) == members(b), s"cross-cell pair ($a,$b)")
      assert(exact((a, b)) == c, s"cosine drift on ($a,$b)")
    }
    // and it IS the exact result restricted to within-cell pairs — the
    // documented SemDeDup recall trade, nothing more lost
    val withinCellExact = exact.keySet.filter { case (a, b) =>
      members(a) == members(b) }
    assert(got.keySet == withinCellExact)

    // the candidate space is bounded: sum(|cell|^2) must be well under
    // N^2 (the skewed clump may not swallow the corpus into one cell)
    val sizes = members.values.groupBy(identity).map(_._2.size)
    val candidatePairs = sizes.map(sz => sz.toLong * sz).sum
    val n = rows.size.toLong
    assert(candidatePairs < n * n / 2,
      s"cells degenerated: sizes=$sizes candidate=$candidatePairs")
  }

  test("kmeansCells: a null embedding row assigns to the first cell, " +
      "never crashes the encoder") {
    val s = spark
    import s.implicits._
    // null c ⇒ null nrm/nrmr after staging; decoding that into a
    // primitive Double crashed the round-6 kernel. The declarative
    // spelling assigned such a row to the smallest cell (all-null
    // scores, cell-ascending tie-break) — the kernel must match.
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, null.asInstanceOf[Array[Float]]))
      .toDF("vid", "emb")
    val cells = AnnOps.kmeansCells(df, "vid", "emb", k = 2,
        partitions = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.keySet == Set(0L, 1L, 2L), s"lost rows: $cells")
    assert(cells(2L) == cells.values.min,
      s"null-embedding row not in the first cell: $cells")
  }

  test("containmentNearDups: a planted excerpt scores containment 1.0 " +
      "where jaccard is low; disjoint docs never pair") {
    val s = spark
    import s.implicits._
    val long = (1 to 40).map(i => s"w$i").mkString(" ") // 40 distinct words
    val excerpt = (1 to 12).map(i => s"w$i").mkString(" ") // prefix third
    val df = Seq(
      (1L, long),
      (2L, excerpt),
      (3L, "entirely different vocabulary nothing shared here at all"))
      .toDF("k", "body")
    val rows = DedupOps.containmentNearDups(df, "k", "body",
        shingleK = 3, threshold = 0.9, maxDf = 16, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set((1L, 2L)), s"got ${rows.keySet}")
    val (containment, jaccard) = rows((1L, 2L))
    // a prefix's k-grams are a subset of the source's: containment
    // exactly 1.0 while jaccard is the subset-size ratio (10/38)
    assert(containment == 1.0)
    assert(jaccard < 0.5, s"jaccard $jaccard not the asymmetric case")
  }

  test("containmentNearDups: randomized sweep matches brute-force " +
      "containment exactly; the df-cut only ever shrinks the set") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(8L)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel")
    val k = 3
    def shingles(t: String): Set[String] = {
      val ws = t.split(" ").toSeq
      if (ws.size >= k) ws.sliding(k).map(_.mkString(" ")).toSet
      else Set(ws.mkString(" "))
    }
    for (trial <- 1 to 3) {
      val docs = (0L until 12L).map { i =>
        val n = 6 + rnd.nextInt(15)
        (i, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }
      val df = docs.toDF("k", "body")
      val sets = docs.map { case (i, t) => i -> shingles(t) }.toMap
      val expect = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        inter = (sets(a) & sets(b)).size
        cont = inter.toDouble / math.min(sets(a).size, sets(b).size)
        if cont >= 0.6
      } yield (a, b) -> cont).toMap
      // df-cut disabled: the operator must equal brute force exactly
      val got = DedupOps.containmentNearDups(df, "k", "body",
          shingleK = k, threshold = 0.6, maxDf = 1000, partitions = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      assert(got.keySet == expect.keySet,
        s"trial $trial: ${got.keySet} vs ${expect.keySet}")
      got.foreach { case (p, c) => assert(c == expect(p), s"trial $trial $p") }
      // an aggressive df-cut may lose recall but never invents pairs
      val cut = DedupOps.containmentNearDups(df, "k", "body",
          shingleK = k, threshold = 0.6, maxDf = 2, partitions = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cut.subsetOf(expect.keySet), s"trial $trial: df-cut grew")
    }
  }

  test("lexicalDiversity: exact counts on a hand-computable doc") {
    val s = spark
    import s.implicits._
    val df = Seq((7L, "a a b c"), (8L, "x x x x")).toDF("k", "body")
    val got = TextOps.lexicalDiversity(df, "k", "body")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(got(7L) == ((4L, 3L, 0.75, 2L, 2.0 / 3.0)))
    assert(got(8L) == ((4L, 1L, 0.25, 0L, 0.0)))
  }

  test("bpeVocab at 100 merge rounds: superseded round checkpoints are " +
      "released, executor storage stays flat") {
    val s = spark
    import s.implicits._
    // 30 distinct 30-char words => ~870 available merges, far past 100;
    // a real vocabulary is 30k-50k rounds, so the per-round discipline
    // (release the prior round's localCheckpoint as soon as the next is
    // pinned) is what keeps a production run's executor storage flat.
    val words = (0 until 26).map { i =>
      (0 until 30).map(j => ('a' + ((i * 7 + j * 11) % 26)).toChar).mkString
    }
    val df = Seq(words.mkString(" ")).toDF("body")
    val before = s.sparkContext.getPersistentRDDs.size
    val vocab = TextOps.bpeVocab(df, "body", merges = 100)
    assert(vocab.count() == 26)
    val after = s.sparkContext.getPersistentRDDs.size
    // only the FINAL round's table may remain pinned (it is the
    // returned artifact); 100 rounds must not leave 100 block sets
    assert(after - before <= 1,
      s"leaked round checkpoints: before=$before after=$after")
    // and the learned table is still a real 100-round vocabulary: every
    // word re-concatenates to itself through the merges
    val back = vocab.select(col("w"),
        org.apache.spark.sql.functions.regexp_replace(
          col("sp"), " ", "").as("cat"))
      .collect()
    back.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("kmeansCells sharded: assignments bit-identical to the unsharded " +
      "kernel, including cross-shard ties and a null embedding") {
    val s = spark
    import s.implicits._
    // k=6 seeds (ids 0..5) with seeds 0 and 1 IDENTICAL, so cells 0 and
    // 1 carry identical centroids — every row ties across them, and with
    // one cell per shard the tie resolves in the cross-shard reduce, the
    // exact case sharding could get wrong. Plus a null-embedding row
    // (all-NaN scores must keep the globally smallest cell) and a spread
    // of member vectors.
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)), // == seed 0: permanent tie
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f)),
      (4L, Array(0.7f, 0.7f, 0.0f)),
      (5L, Array(0.0f, 0.7f, 0.7f)),
      (6L, null.asInstanceOf[Array[Float]])) ++
      (7L until 40L).map(i => (i,
        Array((i % 5).toFloat, (i % 3).toFloat, (i % 7).toFloat)))
    val df = rows.toDF("vid", "emb")
    def cellsAt(budget: Long): Map[Long, Long] =
      AnnOps.kmeansCells(df, "vid", "emb", k = 6, iters = 2,
          partitions = 2, maxCentroidBytes = budget)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unsharded = cellsAt(Long.MaxValue)
    // dimBytes = 3*8+64 = 88: budget 100 → 1 cell/shard (6 shards),
    // budget 200 → 2 cells/shard (3 shards)
    val oneCellShards = cellsAt(100L)
    val twoCellShards = cellsAt(200L)
    assert(unsharded.keySet == rows.map(_._1).toSet)
    assert(oneCellShards == unsharded,
      s"1-cell shards drifted: $oneCellShards vs $unsharded")
    assert(twoCellShards == unsharded,
      s"2-cell shards drifted: $twoCellShards vs $unsharded")
    // the planted tie and the null row landed where the ascending scan
    // puts them: the smaller of the two identical cells
    assert(unsharded(1L) == 0L, s"tie not broken cell-ascending")
    assert(unsharded(6L) == unsharded.values.min)
  }

  test("kmeansCells sharded: randomized parity sweep across budgets " +
      "(seeded)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 3) {
      val n = 30 + rnd.nextInt(40)
      val dim = 2 + rnd.nextInt(5)
      val k = 2 + rnd.nextInt(6)
      val rows = (0L until n.toLong).map { i =>
        (i, Array.fill(dim)(rnd.nextInt(2000) / 1000.0f - 1.0f))
      }
      val df = rows.toDF("vid", "emb")
      val unsharded = AnnOps.kmeansCells(df, "vid", "emb", k = k,
          iters = 2, partitions = 2, maxCentroidBytes = Long.MaxValue)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // a budget below one centroid row forces one cell per shard — the
      // maximally sharded split
      val sharded = AnnOps.kmeansCells(df, "vid", "emb", k = k,
          iters = 2, partitions = 2, maxCentroidBytes = 1L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sharded == unsharded,
        s"trial $trial (n=$n dim=$dim k=$k): sharded assignments drifted")
    }
  }

  test("kmeansCells sharded: a staging job cancelled after its first " +
      "shard landed fails loudly and leaves no shard broadcast and no " +
      "pinned checkpoint") {
    val s = spark
    import s.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    val sc = s.sparkContext
    val bm = org.apache.spark.SparkEnv.get.blockManager
    // a centroid shard is a broadcast Array of (cell, cc, cnrmr)
    def shardBroadcasts(): Set[String] = bm.getMatchingBlockIds {
        case b: org.apache.spark.storage.BroadcastBlockId => b.field.isEmpty
        case _ => false
      }.filter(id => bm.getLocalValues(id).exists(_.data.toList match {
        case List(a: Array[_]) => a.headOption.exists {
          case (_: Long, _: Array[Long], _: Double) => true
          case _ => false
        }
        case _ => false
      })).map(_.name).toSet
    // 200 cells at one cell per shard: the staging job has 200 shard
    // tasks, so the cancel lands while most are still to run
    val df = (0L until 240L).map(i =>
        (i, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11).toFloat)))
      .toDF("vid", "emb")
    val tag = "kmeans-staging-cancel"
    val stagingStages =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    val cancels = new java.util.concurrent.atomic.AtomicInteger
    val canceller = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val tagged = Option(js.properties).flatMap(p => Option(
            p.getProperty("spark.job.tags"))).exists(_.split(",")
          .contains(tag))
        // a staging job's result stage is named for its submitJob call
        js.stageInfos.filter(_.name.startsWith("submitJob"))
          .foreach(st => if (tagged) stagingStages.add(st.stageId))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stagingStages.contains(te.stageId) &&
            te.reason == org.apache.spark.Success &&
            cancels.compareAndSet(0, 1))
          sc.cancelJobsWithTag(tag)
    }
    val shardsBefore = shardBroadcasts()
    val pinsBefore = sc.getPersistentRDDs.keySet.toSet
    sc.addSparkListener(canceller)
    sc.addJobTag(tag)
    val e = try intercept[Exception] {
      AnnOps.kmeansCells(df, "vid", "emb", k = 200, iters = 2,
        partitions = 4, maxCentroidBytes = 1L)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(canceller)
    }
    assert(cancels.get == 1, "no staging job was cancelled (vacuous)")
    assert(String.valueOf(e.getMessage).contains("cancel"),
      s"failed for another reason: $e")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def leaks() = (shardBroadcasts() -- shardsBefore,
      sc.getPersistentRDDs.keySet.toSet -- pinsBefore)
    var left = leaks()
    while (left != ((Set.empty, Set.empty)) &&
        System.nanoTime() < deadline) {
      Thread.sleep(100)
      left = leaks()
    }
    assert(left._1.isEmpty, s"shard broadcasts left: ${left._1}")
    assert(left._2.isEmpty, s"pinned checkpoints left: ${left._2}")
  }

  test("bruteTopK: broadcast queries, corpus never shuffles") {
    val top = AnnOps.bruteTopK(vectors(), "vid", "emb",
        id => id < 1L, k = 2, partitions = 2)
    val plan = top.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"))
    val rows = top.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(rows.filter(_._3 == 1).map(t => t._1 -> t._2).toMap == Map(0L -> 1L))
  }

  // ------------------------------------------------------------------
  // durable-index lifecycle: compaction, deletes, rebuild, leak checks
  // ------------------------------------------------------------------

  /** The 4-center 16-dim clustered corpus of the durable-index tests
    * — the shared [[graft.AnnFixtures]] spelling (one fixture for the
    * lifecycle specs AND the plan gates). */
  private def annRows(ids: Range) = graft.AnnFixtures.annRows(ids)

  private def tmpDir(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-$tag-").toString

  /** SHA-256 of every regular file under `dir`, keyed by relative path
    * (empty when `dir` does not exist). */
  private def sha256Tree(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val it = java.nio.file.Files.walk(root).iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p))
          b += root.relativize(p).toString ->
            java.security.MessageDigest.getInstance("SHA-256")
              .digest(java.nio.file.Files.readAllBytes(p))
              .map("%02x".format(_)).mkString
      }
      b.result()
    }
  }

  /** True iff `e` or one of its causes carries `msg`. */
  private def causedBy(e: Throwable, msg: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => c.getMessage != null && c.getMessage.contains(msg))

  private def parquetFiles(dir: String): Seq[String] =
    graft.plans.PlanWalk.parquetFiles(dir)

  private def rowsOf(d: org.apache.spark.sql.DataFrame) = d.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getInt(3))).toSet

  test("compactIndex: one consolidated generation — serve and drift " +
      "audit identical, batch ids preserved, file count collapses to " +
      "~one per (batch, cell) leaf, double-compact stable") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 80).toDF("vid", "emb", "grp")
      .pin()
    val idx = tmpDir("compact")
    AnnOps.buildIvfPqIndex(df.filter($"vid" < 60), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    AnnOps.appendIvfPqIndex(df.filter($"vid" >= 60 && $"vid" < 70),
      "vid", "emb", "grp", idx, 1L, partitions = 4)
    AnnOps.appendIvfPqIndex(df.filter($"vid" >= 70), "vid", "emb",
      "grp", idx, 2L, partitions = 4)
    def serve() = rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 2, rerankDepth = 12, partitions = 4))
    def audit() = AnnOps.semanticIndexDriftAudit(s, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    val (serveBefore, auditBefore) = (serve(), audit())
    // the live generation root moves on every compaction — resolve the
    // pointer fresh, like every reader does
    def liveBatches() = s"${AnnOps.liveIndexRoot(s, idx)}/batches"
    val filesBefore = parquetFiles(liveBatches()).size
    AnnOps.compactIndex(s, idx, partitions = 4)
    assert(serve() == serveBefore,
      "compaction changed the serve (must be invisible to results)")
    assert(audit() == auditBefore,
      "compaction changed the drift audit (batch ids must survive)")
    val filesAfter = parquetFiles(liveBatches()).size
    val leaves = new java.io.File(liveBatches()).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .flatMap(_.listFiles())
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(filesAfter <= leaves,
      s"compacted generation not consolidated: $filesAfter files " +
        s"over $leaves (batch, cell) leaves (was $filesBefore)")
    assert(filesAfter < filesBefore,
      s"compaction did not reduce file count: " +
        s"$filesBefore -> $filesAfter")
    // a second compaction of an already-compacted index is stable
    AnnOps.compactIndex(s, idx, partitions = 4)
    assert(serve() == serveBefore && audit() == auditBefore,
      "double-compaction drifted")
  }

  /** Run `body` on `n` pool threads released together; results in
    * thread order. */
  private def race[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val gate = new java.util.concurrent.CyclicBarrier(n)
      (0 until n).map { t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = { gate.await(); body(t) }
        })
      }.map(_.get())
    } finally pool.shutdown()
  }

  test("the maintenance lock is exclusive: of threads racing to take " +
      "it, exactly one wins in every trial") {
    val s = spark
    val idx = tmpDir("lock-race")
    val lock = java.nio.file.Paths.get(s"$idx/.maintenance-lock")
    (1 to 300).foreach { trial =>
      val wins = race(4) { t =>
        try { AnnOps.acquireMaintenanceLock(s, idx, s"t$t"); true }
        catch { case _: IllegalStateException => false }
      }.count(identity)
      assert(wins == 1, s"trial $trial: $wins threads took the lock")
      java.nio.file.Files.delete(lock)
    }
  }

  test("two racing compactIndex calls: one fails loudly on the lock, " +
      "and the index serves the same rows afterwards") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 60).toDF("vid", "emb", "grp").pin()
    val idx = tmpDir("compact-race")
    AnnOps.buildIvfPqIndex(df.filter($"vid" < 40), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    AnnOps.appendIvfPqIndex(df.filter($"vid" >= 40), "vid", "emb", "grp",
      idx, 1L, partitions = 4)
    def serve() = rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 2, rerankDepth = 12, partitions = 4))
    val good = serve()
    // the lock is taken right after a manifest read, while a compaction
    // runs for many Spark jobs: two calls released together overlap,
    // but a trial whose calls happened to run one after the other
    // proves nothing, so retry a few times
    var raced = 0
    var trial = 0
    while (raced == 0 && trial < 5) {
      trial += 1
      val failed = race(2) { _ =>
        try { AnnOps.compactIndex(s, idx, partitions = 4); None }
        catch { case e: IllegalStateException => Some(e) }
      }.flatten
      assert(failed.size <= 1, s"trial $trial: both compactions failed: " +
        failed.map(_.getMessage).mkString(" | "))
      failed.foreach(e => assert(
        e.getMessage.contains(".maintenance-lock is held"), e.getMessage))
      raced += failed.size
      assert(!new java.io.File(s"$idx/.maintenance-lock").exists(),
        s"trial $trial left the lock behind")
      assert(serve() == good, s"trial $trial: the race changed the serve")
    }
    assert(raced == 1, s"no overlapping compactions in $trial trials")
  }

  test("generation-pointer crash matrix: an uncommitted generation + " +
      "stranded lock are invisible to readers, block mutators loudly, " +
      "and recoverIndex repairs both; post-flip crash self-heals; the " +
      "grace generation is reclaimed by the next compaction or vacuum") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 80).toDF("vid", "emb", "grp")
      .pin()
    val idx = tmpDir("crash")
    AnnOps.buildIvfPqIndex(df.filter($"vid" < 60), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    AnnOps.appendIvfPqIndex(df.filter($"vid" >= 60), "vid", "emb",
      "grp", idx, 1L, partitions = 4)
    def serve() = rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 2, rerankDepth = 12, partitions = 4))
    val good = serve()
    // (a) MID-BUILD crash: compaction died after staging part of the
    // next generation — no marker, so readers never see it; mutators
    // fail loudly on the stranded lock instead of racing what might
    // be a LIVE maintenance run
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx/.maintenance-lock"), "compact:1")
    assert(new java.io.File(s"$idx/gens/gen=1/batches/batch=0").mkdirs())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx/gens/gen=1/batches/batch=0/junk"),
      "half-written")
    assert(serve() == good,
      "an uncommitted generation must be invisible to serves")
    intercept[IllegalStateException] {
      AnnOps.appendIvfPqIndex(df.filter($"vid" < 4), "vid", "emb",
        "grp", idx, 9L, partitions = 4)
    }
    intercept[IllegalStateException] { AnnOps.compactIndex(s, idx) }
    AnnOps.recoverIndex(s, idx)
    assert(!new java.io.File(s"$idx/.maintenance-lock").exists())
    assert(!new java.io.File(s"$idx/gens/gen=1").exists(),
      "recovery must delete the uncommitted generation")
    assert(serve() == good)
    // recovery is idempotent on a clean index
    AnnOps.recoverIndex(s, idx)
    assert(serve() == good)
    // (b) a real compaction now installs gen 1; gen 0 stays one cycle
    // as the in-flight-reader grace window
    AnnOps.compactIndex(s, idx, partitions = 4)
    assert(serve() == good, "compaction drifted the serve")
    assert(new java.io.File(s"$idx/gens/gen=1/batches").exists())
    assert(new java.io.File(s"$idx/gens/gen=0/batches").exists(),
      "the previous generation must survive one maintenance cycle")
    // (c) POST-FLIP crash: lock stranded after the marker committed —
    // recovery just releases it (the cleanup steps are idempotent and
    // the next run redoes them)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx/.maintenance-lock"), "compact:1")
    AnnOps.recoverIndex(s, idx)
    assert(!new java.io.File(s"$idx/.maintenance-lock").exists())
    assert(new java.io.File(s"$idx/gens/gen=1/batches").exists(),
      "post-flip recovery must not touch the committed generation")
    assert(serve() == good)
    // (d) the NEXT compaction reclaims the old grace generation
    AnnOps.compactIndex(s, idx, partitions = 4)
    assert(!new java.io.File(s"$idx/gens/gen=0").exists(),
      "generations older than the grace window must be reclaimed")
    assert(serve() == good)
    // (e) explicit vacuum reclaims the remaining grace generation
    assert(new java.io.File(s"$idx/gens/gen=1").exists())
    AnnOps.vacuumIndexGenerations(s, idx)
    assert(!new java.io.File(s"$idx/gens/gen=1").exists(),
      "vacuum must reclaim every non-live generation")
    assert(new java.io.File(s"$idx/gens/gen=2/batches").exists())
    assert(serve() == good)
  }

  test("serves drain CONCURRENTLY with a compaction: every serve " +
      "succeeds — resolving either the old or new generation, which " +
      "are result-identical (the round-12 reader-race fix)") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 80).toDF("vid", "emb", "grp")
      .pin()
    val idx = tmpDir("concurrent")
    AnnOps.buildIvfPqIndex(df.filter($"vid" < 60), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    AnnOps.appendIvfPqIndex(df.filter($"vid" >= 60), "vid", "emb",
      "grp", idx, 1L, partitions = 4)
    def serve() = rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 2, rerankDepth = 12, partitions = 4))
    val good = serve()
    // one thread drains serves in a loop while the main thread runs a
    // full compaction: under the old in-place two-rename swap a serve
    // landing in the window failed (no batches tree); under the
    // generation pointer EVERY serve must succeed and match
    @volatile var failure: Option[Throwable] = None
    @volatile var stop = false
    @volatile var served = 0
    val reader = new Thread(() => {
      try {
        while (!stop) {
          assert(serve() == good, "a concurrent serve drifted")
          served += 1
        }
      } catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    try {
      // two maintenance flips while the reader hammers. The grace
      // contract is ONE cycle: a serve in flight across flip N must
      // finish before flip N+1 reclaims its generation — so wait for
      // one serve that STARTED strictly after the first compaction
      // (real deployments space compactions hours apart; two flips
      // inside one serve's flight time is outside the contract)
      AnnOps.compactIndex(s, idx, partitions = 4)
      val mark = served + 2 // current serve may straddle; the next not
      val t0 = System.nanoTime()
      while (served < mark && failure.isEmpty &&
          System.nanoTime() - t0 < 60e9) Thread.sleep(20)
      AnnOps.compactIndex(s, idx, partitions = 4)
    } finally {
      stop = true
      reader.join(120000)
    }
    failure.foreach(t => fail(
      s"a serve failed during compaction: ${t.getMessage}", t))
    assert(served > 2, "the reader thread never completed a serve")
    assert(serve() == good)
  }

  test("expireBatches: rolling-window retention drops whole old " +
      "batches from both trees; the ceiling serve equals the brute " +
      "force over the retained corpus; replay-idempotent; refuses to " +
      "empty the index") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 80).toDF("vid", "emb", "grp")
      .pin()
    val idx = tmpDir("expire")
    // OLDEST data is the build (batch 0) — the rolling window drops it
    AnnOps.buildIvfPqIndex(df.filter($"vid" >= 20), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    AnnOps.appendIvfPqIndex(df.filter($"vid" >= 8 && $"vid" < 20),
      "vid", "emb", "grp", idx, 1L, partitions = 4)
    AnnOps.appendIvfPqIndex(df.filter($"vid" < 8), "vid", "emb",
      "grp", idx, 2L, partitions = 4)
    AnnOps.expireBatches(s, idx, minKeepBatchId = 1L)
    val root = AnnOps.liveIndexRoot(s, idx)
    Seq("batches", "codes").foreach { tree =>
      assert(!new java.io.File(s"$root/$tree/batch=0").exists(),
        s"expired batch=0 still present in $tree")
      assert(new java.io.File(s"$root/$tree/batch=1").exists(),
        s"retained batch=1 missing from $tree")
    }
    // ceiling serve over the retained batches == exact brute force
    // over the retained corpus (the frozen centroids were trained on
    // data that is now EXPIRED — the construction-ceiling argument is
    // clustering-independent, so the serve is still exact)
    val served = rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 4, rerankDepth = Int.MaxValue, partitions = 4))
    val brute = rowsOf(AnnOps.filteredTopKIvf(
      df.filter($"vid" < 20), "vid", "emb", "grp",
      _ < 8, k = 3, cells = 4, iters = 2, nprobe = 4, partitions = 4))
    assert(served == brute,
      "post-expiry ceiling serve != brute force over retained corpus")
    // replay idempotence: the same retention decision re-applies as a
    // no-op (the crash-mid-expiry recovery story — re-run completes)
    AnnOps.expireBatches(s, idx, minKeepBatchId = 1L)
    assert(rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 4, rerankDepth = Int.MaxValue, partitions = 4)) == served,
      "expiry replay drifted the serve")
    // dropping every batch is a refusal, not an empty index
    intercept[IllegalArgumentException] {
      AnnOps.expireBatches(s, idx, minKeepBatchId = 99L)
    }
    // expiry composes with compaction: the retained rows re-pack
    AnnOps.compactIndex(s, idx, partitions = 4)
    assert(rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 4, rerankDepth = Int.MaxValue, partitions = 4)) == served)
  }

  test("maintainIndex: expire+compact+vacuum as ONE lock cycle ends " +
      "tree-identical to the sequential passes, serves identically, " +
      "and its crash windows repair exactly like compactIndex's") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 80).toDF("vid", "emb", "grp")
      .pin()
    def seed(dir: String): Unit = {
      AnnOps.buildIvfPqIndex(df.filter($"vid" >= 20), "vid", "emb",
        "grp", dir, cells = 4, iters = 2, pqM = 4, pqKs = 4,
        pqIters = 2, partitions = 4)
      AnnOps.appendIvfPqIndex(df.filter($"vid" >= 8 && $"vid" < 20),
        "vid", "emb", "grp", dir, 1L, partitions = 4)
      AnnOps.appendIvfPqIndex(df.filter($"vid" < 8), "vid", "emb",
        "grp", dir, 2L, partitions = 4)
      // a tombstone batch too: the composed pass must apply it, record
      // it in the new generation, AND clear it in the same breath
      // (vacuum face) — exactly like the sequential passes do
      AnnOps.deleteFromIndex(Seq(15L).toDF("vid"), "vid", dir, 0L)
    }
    // directory SHAPE, not part-file names (task UUIDs differ):
    // every dir, every commit marker, every applied-tombstone record
    def shape(dir: String): Set[String] = {
      val base = java.nio.file.Paths.get(dir)
      val out = scala.collection.mutable.Set[String]()
      val walk = java.nio.file.Files.walk(base)
      try walk.forEach { p =>
        val rel = base.relativize(p).toString
        if (rel.nonEmpty && (p.toFile.isDirectory ||
            rel.startsWith("_commits/") ||
            p.getFileName.toString == "_applied_tombstones"))
          out += rel
      } finally walk.close()
      out.toSet
    }
    def serve(dir: String) = rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", dir, k = 3,
      nprobe = 4, rerankDepth = Int.MaxValue, partitions = 4))
    val seqDir = tmpDir("mnt-seq"); seed(seqDir)
    val oneDir = tmpDir("mnt-one"); seed(oneDir)
    // sequential: three scheduled passes (expire≡compact, then vacuum)
    AnnOps.expireBatches(s, seqDir, minKeepBatchId = 1L, partitions = 4)
    AnnOps.vacuumIndexGenerations(s, seqDir)
    // composed: ONE pass, one lock cycle, one generation rewrite
    AnnOps.maintainIndex(s, oneDir, AnnOps.IndexMaintenancePolicy(
      minKeepBatchId = 1L, partitions = 4, vacuum = true))
    assert(shape(oneDir) == shape(seqDir),
      s"one-pass tree != sequential tree:\n only one-pass: " +
        s"${(shape(oneDir) diff shape(seqDir)).toSeq.sorted}\n " +
        s"only sequential: ${(shape(seqDir) diff shape(oneDir)).toSeq
          .sorted}")
    assert(serve(oneDir) == serve(seqDir),
      "one-pass maintenance serves differently from sequential")
    assert(!new java.io.File(s"$oneDir/gens/gen=0").exists(),
      "vacuum face did not reclaim the superseded generation")
    assert(!new java.io.File(s"$oneDir/.maintenance-lock").exists())
    // the tombstoned id is gone and its batch cleared (applied +
    // grace-waived in one pass)
    assert(!serve(oneDir).exists(r => r._2 == 15L))
    assert(Option(new java.io.File(s"$oneDir/tombstones").listFiles())
        .toSeq.flatten.count(_.getName.startsWith("batch=")) == 0,
      "the composed pass left applied tombstone batches behind")
    // default policy (no cut, no vacuum) IS compactIndex: grace
    // generation survives one cycle
    AnnOps.maintainIndex(s, oneDir)
    assert(new java.io.File(s"$oneDir/gens/gen=1").exists(),
      "default maintainIndex must keep the grace window")
    // crash matrix on the COMPOSED pass: stranded lock + uncommitted
    // debris block mutators loudly, are invisible to serves, and
    // recoverIndex repairs both — the composed pass then completes
    val before = serve(oneDir)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      s"$oneDir/.maintenance-lock"), "maintain(minKeep=2,vacuum=true)")
    assert(new java.io.File(s"$oneDir/gens/gen=3/batches").mkdirs())
    assert(serve(oneDir) == before,
      "uncommitted composed-pass debris leaked into a serve")
    intercept[IllegalStateException] {
      AnnOps.maintainIndex(s, oneDir, AnnOps.IndexMaintenancePolicy(
        minKeepBatchId = 2L, vacuum = true))
    }
    AnnOps.recoverIndex(s, oneDir)
    assert(!new java.io.File(s"$oneDir/gens/gen=3").exists(),
      "recovery must delete the uncommitted composed generation")
    AnnOps.maintainIndex(s, oneDir, AnnOps.IndexMaintenancePolicy(
      minKeepBatchId = 2L, partitions = 4, vacuum = true))
    val after = serve(oneDir)
    assert(after.nonEmpty && !after.exists(r => r._2 >= 8L),
      s"post-recovery composed retention kept expired rows: $after")
  }

  test("_index.json fail-fast typing: wrong family, missing manifest, " +
      "mismatched banding params, and NULL delete ids all fail AT THE " +
      "DOOR with the mismatch named") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 40).toDF("vid", "emb", "grp")
      .pin()
    val ann = tmpDir("man-ann")
    AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", ann, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, partitions = 4)
    val sem = tmpDir("man-sem")
    AnnOps.incrementalSemanticDedupDurable(
      df.select($"vid", $"emb"), "vid", "emb", sem, 0L,
      threshold = 0.9, cells = 4, iters = 1, probe = false)
    // the manifests declare their families and the frozen shape
    assert(AnnOps.readIndexManifest(s, ann).family == "ivfpq")
    assert(AnnOps.readIndexManifest(s, ann).params("dsub") == 4L)
    assert(AnnOps.readIndexManifest(s, sem).family == "semantic")
    // a serve pointed at the dedup family fails at the door
    val e1 = intercept[IllegalArgumentException] {
      AnnOps.queryIvfPqIndex(df.filter($"vid" < 4), "vid", "emb",
        "grp", sem, k = 3, partitions = 4)
    }
    assert(e1.getMessage.contains("'semantic'"), e1.getMessage)
    // the dedup incremental pointed at a serving index likewise
    intercept[IllegalArgumentException] {
      AnnOps.incrementalSemanticDedupDurable(
        df.select($"vid", $"emb"), "vid", "emb", ann, 1L,
        threshold = 0.9, cells = 4, iters = 1)
    }
    // the minhash loader refuses both vector families
    intercept[IllegalArgumentException] {
      DedupOps.loadMinhashIndex(s, ann)
    }
    // no manifest at all (not an index) is loud, not a scan error
    val empty = tmpDir("man-none")
    val e2 = intercept[IllegalStateException] {
      AnnOps.queryIvfPqIndex(df.filter($"vid" < 4), "vid", "emb",
        "grp", empty, k = 3, partitions = 4)
    }
    assert(e2.getMessage.contains("_index.json"), e2.getMessage)
    // minhash banding params are declared once and enforced forever
    val mh = tmpDir("man-mh")
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta theta"))
      .toDF("doc_id", "text")
    DedupOps.incrementalMinhashDedupDurable(docs, "doc_id", "text",
      mh, 0L, 3, 4, 2, 0.5, partitions = 2)
    val e3 = intercept[IllegalArgumentException] {
      DedupOps.incrementalMinhashDedupDurable(docs, "doc_id", "text",
        mh, 1L, 3, 8, 2, 0.5, partitions = 2)
    }
    assert(e3.getMessage.contains("bands=8"), e3.getMessage)
    // a NULL-casting delete id is loud, never a silent no-op takedown
    val e4 = intercept[IllegalArgumentException] {
      AnnOps.deleteFromIndex(
        Seq(Some(7L), None).toDF("vid"), "vid", ann, 1L)
    }
    assert(e4.getMessage.contains("NULL"), e4.getMessage)
  }

  test("appends racing a compaction: every append either commits and " +
      "survives into the serve, or fails LOUDLY at the maintenance " +
      "gate — no silent loss in either direction") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 80).toDF("vid", "emb", "grp")
      .pin()
    val idx = tmpDir("race")
    AnnOps.buildIvfPqIndex(df.filter($"vid" < 60), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    // a writer thread hammers appends with fresh ids while the main
    // thread runs compactions; every append outcome is recorded
    val committed = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val rejected = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    @volatile var unexpected: Option[Throwable] = None
    val writer = new Thread(() => {
      var b = 1L
      val deadline = System.nanoTime() + 240L * 1000 * 1000 * 1000
      try {
        // each batch RETRIES until it commits — the deployment
        // contract for a loudly-rejected append is exactly "re-run the
        // idempotent batch", and retrying drives every batch through
        // (rejections during the maintenance window are recorded, the
        // post-window retry must land)
        while (b <= 6L && System.nanoTime() < deadline) {
          try {
            AnnOps.appendIvfPqIndex(
              df.filter($"vid" >= 60 && $"vid" < 64)
                .select(($"vid" + 100L * b).as("vid"), $"emb", $"grp"),
              "vid", "emb", "grp", idx, b, partitions = 4)
            committed.add(b)
            b += 1
          } catch {
            // the two documented loud outcomes (lock gate =
            // IllegalState, commit-gate require = IllegalArgument)
            case e: RuntimeException
                if e.getMessage != null &&
                  (e.getMessage.contains("maintenance") ||
                    e.getMessage.contains("compaction committed")) =>
              rejected.add(b)
              Thread.sleep(100)
          }
        }
      } catch { case t: Throwable => unexpected = Some(t) }
    })
    writer.start()
    try {
      (0 until 3).foreach { _ =>
        try AnnOps.compactIndex(s, idx, partitions = 4)
        catch {
          // the compaction side's documented loud outcome: an append
          // slipped in during the build — the new generation was
          // discarded, nothing lost, re-run
          case e: IllegalStateException
              if e.getMessage.contains("changed during compaction") => ()
        }
        Thread.sleep(50)
      }
    } finally writer.join(240000)
    unexpected.foreach(t => fail(
      s"append failed outside the maintenance-gate contract: " +
        s"${t.getMessage}", t))
    assert(committed.size() == 6,
      s"retries must drive every batch through once maintenance " +
        s"yields: committed=${committed.size()} rejected=${rejected.size()}")
    assert(rejected.size() > 0,
      "no append was ever rejected — the race never happened (vacuous)")
    // EVERY committed batch's rows must be in the ceiling serve's
    // candidate corpus — a batch silently erased by a racing
    // compaction is exactly what the lock + commit gate must prevent
    val root = AnnOps.liveIndexRoot(s, idx)
    val storedIds = s.read.parquet(s"$root/batches")
      .select($"id").as[Long].collect().toSet
    val lost = committed.toArray(Array.empty[java.lang.Long])
      .map(_.toLong).filter(b => !storedIds.contains(100L * b + 60L))
    assert(lost.isEmpty,
      s"committed append batches silently erased by compaction: " +
        s"${lost.mkString(",")} (committed=${committed.size()}, " +
        s"rejected=${rejected.size()})")
  }

  test("incrementalSemanticDedupDurable: a wrong-dim batch rejects " +
      "against the declared manifest dim; an all-null batch commits " +
      "(the family null contract)") {
    val s = spark
    import s.implicits._
    val idx = tmpDir("sem-dim")
    val seed = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(8)(j => if (j == i % 2) 10f else 0f)))
      .toDF("vid", "emb")
    AnnOps.incrementalSemanticDedupDurable(seed, "vid", "emb", idx,
      0L, threshold = 0.9, cells = 2, iters = 1, probe = false)
    assert(AnnOps.readIndexManifest(s, idx).params("dim") == 8L)
    val e = intercept[IllegalArgumentException] {
      AnnOps.incrementalSemanticDedupDurable(
        Seq((100L, Array(1f, 2f))).toDF("vid", "emb"), "vid", "emb",
        idx, 1L, threshold = 0.9, cells = 2, iters = 1)
    }
    assert(e.getMessage.contains("dim"), e.getMessage)
    // the rejected batch must NOT have committed
    val root = AnnOps.liveIndexRoot(s, idx)
    assert(!new java.io.File(s"$root/batches/batch=1").exists(),
      "a dim-rejected batch half-committed")
    // all-null batches carry no dim and commit (one bad upstream row
    // must not crash the st16 stream)
    AnnOps.incrementalSemanticDedupDurable(
      Seq((101L, null.asInstanceOf[Array[Float]])).toDF("vid", "emb"),
      "vid", "emb", idx, 2L, threshold = 0.9, cells = 2, iters = 1)
    assert(new java.io.File(s"$root/batches/batch=2").exists())
  }

  test("appendIvfPqIndex: a batch of ONLY null vectors commits " +
      "(family null contract) instead of crashing the append stream; " +
      "its rows never rank in a serve") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 40).toDF("vid", "emb", "grp")
      .pin()
    val idx = tmpDir("all-null")
    AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", idx, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, partitions = 4)
    def serve() = rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 4, rerankDepth = Int.MaxValue, partitions = 4))
    val good = serve()
    AnnOps.appendIvfPqIndex(
      Seq((1000L, null.asInstanceOf[Array[Float]], "0"),
        (1001L, null.asInstanceOf[Array[Float]], "1"))
        .toDF("vid", "emb", "grp"),
      "vid", "emb", "grp", idx, 5L, partitions = 4)
    val root = AnnOps.liveIndexRoot(s, idx)
    assert(new java.io.File(s"$root/batches/batch=5").exists(),
      "the all-null batch must COMMIT (one bad upstream row must not " +
        "crash a long-lived append stream)")
    assert(serve() == good,
      "null-vector rows must never rank in a serve")
    // a mixed-dim batch still rejects loudly (the dim contract stands)
    intercept[IllegalArgumentException] {
      AnnOps.appendIvfPqIndex(
        Seq((1002L, Array(1f, 2f), "0")).toDF("vid", "emb", "grp"),
        "vid", "emb", "grp", idx, 6L, partitions = 4)
    }
  }

  test("legacy pre-generation layout: reads fail loudly with the " +
      "rebuild named; a rebuild over the same dir clears the legacy " +
      "trees and restores identical serves") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 40).toDF("vid", "emb", "grp")
      .pin()
    val idx = tmpDir("legacy")
    AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", idx, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, partitions = 4)
    def serve() = rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 2, rerankDepth = 12, partitions = 4))
    val good = serve()
    // de-evolve to the round-12 layout: trees at the root, no pointer
    Seq("batches", "codes").foreach { tree =>
      assert(new java.io.File(s"$idx/gens/gen=0/$tree")
        .renameTo(new java.io.File(s"$idx/$tree")))
    }
    Seq("gens", "_commits", "_index.json").foreach { f =>
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete()
      }
      rm(new java.io.File(s"$idx/$f"))
    }
    val e = intercept[IllegalStateException] { serve() }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", idx, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, partitions = 4)
    Seq("batches", "codes").foreach { tree =>
      assert(!new java.io.File(s"$idx/$tree").exists(),
        s"the rebuild left the legacy root-level $tree/ behind")
    }
    assert(serve() == good, "the rebuild drifted the serve")
    // appends keep working after the rebuild
    AnnOps.appendIvfPqIndex(
      df.filter($"vid" < 4).select(($"vid" + 1000L).as("vid"), $"emb",
        $"grp"), "vid", "emb", "grp", idx, 1L, partitions = 4)
    assert(serve().nonEmpty)
  }

  test("deleteFromIndex: tombstoned ids vanish from serve, probe, and " +
      "audit; a ceiling serve equals the brute force over the corpus " +
      "minus the deleted; replay-idempotent; compaction drops them " +
      "physically") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 80).toDF("vid", "emb", "grp")
      .pin()
    val idx = tmpDir("delete")
    AnnOps.buildIvfPqIndex(df.filter($"vid" < 60), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    AnnOps.appendIvfPqIndex(df.filter($"vid" >= 60), "vid", "emb",
      "grp", idx, 1L, partitions = 4)
    val deleted = Set(40L, 41L, 44L, 61L)
    AnnOps.deleteFromIndex(deleted.toSeq.toDF("vid"), "vid", idx, 1L)
    def serve(nprobe: Int, depth: Int) = rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = nprobe, rerankDepth = depth, partitions = 4))
    val served = serve(4, Int.MaxValue)
    assert(served.nonEmpty &&
      !served.exists(t => deleted.contains(t._2)),
      s"a deleted id surfaced in the serve: $served")
    // ceiling equivalence: serve over index-minus-deleted == exact
    // filtered brute force over corpus-minus-deleted (the construction
    // argument is clustering-independent at nprobe = cells + full
    // depth, so the differently-clustered reference is still exact)
    val brute = rowsOf(AnnOps.filteredTopKIvf(
      df.filter(!$"vid".isin(deleted.toSeq: _*)), "vid", "emb", "grp",
      _ < 8, k = 3, cells = 4, iters = 2, nprobe = 4, partitions = 4))
    assert(served == brute,
      "post-delete ceiling serve != brute force over the remainder")
    // replay: committing the same tombstone batch again changes nothing
    AnnOps.deleteFromIndex(deleted.toSeq.toDF("vid"), "vid", idx, 1L)
    assert(serve(4, Int.MaxValue) == served, "delete replay drifted")
    // audit excludes tombstoned rows (n drops by the per-batch deletes)
    val audit = AnnOps.semanticIndexDriftAudit(s, idx).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(audit == Map(0L -> 57L, 1L -> 19L),
      s"audit must price the index minus deletes: $audit")
    // compaction physically drops tombstoned rows; the tombstone
    // batches themselves survive ONE grace cycle (a serve still
    // reading the retained old generation needs the anti-join — the
    // rows are physically present THERE) and clear with the next
    // maintenance pass, when that generation is reclaimed
    def tombstoneBatches() = Option(
      new java.io.File(s"$idx/tombstones").listFiles()).toSeq.flatten
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    AnnOps.compactIndex(s, idx, partitions = 4)
    assert(tombstoneBatches() == 1,
      "applied tombstones must survive the grace cycle (old-gen " +
        "readers still need the anti-join)")
    assert(serve(4, Int.MaxValue) == served, "post-compact serve drifted")
    AnnOps.compactIndex(s, idx, partitions = 4)
    assert(tombstoneBatches() == 0,
      "applied tombstones must clear when their grace window closes")
    assert(serve(4, Int.MaxValue) == served,
      "second-compaction serve drifted")
    // the audit still prices exactly the original index-minus-deletes
    // BEFORE the overwrite exercise below removes more rows
    assert(AnnOps.semanticIndexDriftAudit(s, idx).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == audit)
    // OVERWRITE SAFETY: a tombstone batch re-written AFTER a
    // compaction applied it carries ids that compaction never dropped
    // — the fingerprint mismatch must keep the batch anti-joining
    // (name-only clearing would delete the takedown wholesale)
    AnnOps.deleteFromIndex(Seq(42L).toDF("vid"), "vid", idx, 9L)
    AnnOps.compactIndex(s, idx, partitions = 4) // applies + records 9
    AnnOps.deleteFromIndex(Seq(42L, 45L).toDF("vid"), "vid", idx, 9L)
    AnnOps.compactIndex(s, idx, partitions = 4) // fingerprint mismatch
    assert(tombstoneBatches() == 1,
      "an overwritten applied batch must survive the clear (its new " +
        "ids were never dropped from the grace generation)")
    val served2 = serve(4, Int.MaxValue)
    assert(!served2.exists(t => t._2 == 42L || t._2 == 45L),
      s"an overwritten tombstone stopped anti-joining: $served2")
    // two more cycles: the re-recorded batch clears once ITS grace
    // window closes, and the rows stay gone
    AnnOps.compactIndex(s, idx, partitions = 4)
    AnnOps.compactIndex(s, idx, partitions = 4)
    assert(tombstoneBatches() == 0,
      "the re-applied overwrite must clear eventually")
    assert(serve(4, Int.MaxValue) == served2,
      "post-clear serve drifted")
    // the audit prices the two extra takedowns (42, 45 — both in
    // batch 0) once they are physically applied
    assert(AnnOps.semanticIndexDriftAudit(s, idx).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      audit.map { case (b, n) => b -> (if (b == 0L) n - 2 else n) })
    // the dedup-index face: a deleted accumulated doc neither pairs
    // nor roots a delegation group
    val didx = tmpDir("del-dedup")
    val seed = Seq((100L, Array(10f, 0f, 0f)), (101L, Array(0f, 10f, 0f)))
      .toDF("vid", "emb")
    AnnOps.incrementalSemanticDedupDurable(seed, "vid", "emb", didx,
      0L, threshold = 0.9, cells = 2, iters = 1, probe = false)
    AnnOps.deleteFromIndex(Seq(100L).toDF("vid"), "vid", didx, 0L)
    val pairs = AnnOps.incrementalSemanticDedupDurable(
      Seq((200L, Array(10f, 0f, 0f))).toDF("vid", "emb"), "vid", "emb",
      didx, 1L, threshold = 0.9, cells = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.isEmpty,
      s"a tombstoned doc still pairs in the incremental probe: $pairs")
  }

  test("deleteFromIndex: a rejected NULL-id replay leaves the committed " +
      "tombstone batch byte-for-byte intact and still serving") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 40).toDF("vid", "emb", "grp").pin()
    val idx = tmpDir("delete-reject")
    AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", idx, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, partitions = 4)
    val deleted = Set(1L, 5L, 9L)
    AnnOps.deleteFromIndex(deleted.toSeq.toDF("vid"), "vid", idx, 1L)
    val tsRoot = java.nio.file.Paths.get(s"$idx/tombstones")
    def tree() = sha256Tree(tsRoot.toString)
    val committed = tree()
    intercept[IllegalArgumentException] {
      AnnOps.deleteFromIndex(Seq(Some(2L), None).toDF("vid"), "vid",
        idx, 1L)
    }
    assert(tree() == committed,
      "a rejected replay changed the committed tombstones")
    val batchDirs = tsRoot.toFile.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batchDirs.map(_.getName).toSeq == Seq("batch=1") &&
      batchDirs.forall(_.listFiles().exists(_.getName.endsWith(".parquet"))),
      "a rejected replay left an empty or extra batch dir")
    val served = AnnOps.queryIvfPqIndex(df.filter($"vid" < 8), "vid",
      "emb", "grp", idx, k = 3, nprobe = 4, rerankDepth = Int.MaxValue,
      partitions = 4).collect()
    assert(served.nonEmpty &&
      !served.exists(r => deleted.contains(r.getLong(1))),
      "a deleted id resurfaced after the rejected replay")
    DedupOps.releaseLocalCheckpoint(df)
  }

  test("commitMinhashIndexBatch: a replay rejected mid-write leaves the " +
      "committed batch byte-for-byte intact and the loaded index " +
      "unchanged") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{lit, raise_error, when}
    val dir = tmpDir("mh-reject")
    val sigs = DedupOps.minhashIndex(Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta"),
        (2L, "unrelated words entirely here now forever more"))
      .toDF("doc_id", "text"), "doc_id", "text", 3, 4, 2, partitions = 2)
    DedupOps.commitMinhashIndexBatch(sigs, dir, 0L, 3, 4, 2)
    val batchDir = s"${AnnOps.liveIndexRoot(s, dir)}/batches/batch=0"
    def loaded() = DedupOps.loadMinhashIndex(s, dir).get.collect()
      .map(_.toString).toSet
    val committed = sha256Tree(batchDir)
    val before = loaded()
    val bad = sigs.withColumn("doc_id", when(col("doc_id") === 2L,
      raise_error(lit("replay rejected"))).otherwise(col("doc_id")))
    val e = intercept[Exception] {
      DedupOps.commitMinhashIndexBatch(bad, dir, 0L, 3, 4, 2)
    }
    assert(causedBy(e, "replay rejected"), s"wrong failure: $e")
    assert(committed.nonEmpty && sha256Tree(batchDir) == committed,
      "a rejected replay changed the committed batch=0")
    assert(loaded() == before && before.size == 2,
      "a rejected replay changed the loaded index")
  }

  test("appendIvfPqIndex: a replay whose write jobs are cancelled leaves " +
      "both committed batch trees byte-for-byte intact and the serve " +
      "unchanged") {
    val s = spark
    import s.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val df = annRows(0 until 48).toDF("vid", "emb", "grp").pin()
    val idx = tmpDir("append-cancel")
    AnnOps.buildIvfPqIndex(df.filter($"vid" < 40), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    val batch = df.filter($"vid" >= 40)
    AnnOps.appendIvfPqIndex(batch, "vid", "emb", "grp", idx, 1L,
      partitions = 4)
    val root = AnnOps.liveIndexRoot(s, idx)
    def trees() = Seq("codes", "batches")
      .map(t => t -> sha256Tree(s"$root/$t/batch=1")).toMap
    def serve() = AnnOps.queryIvfPqIndex(df.filter($"vid" % 6 === 0),
      "vid", "emb", "grp", idx, k = 3, nprobe = 4,
      rerankDepth = Int.MaxValue, partitions = 4)
      .collect().map(_.toString).toSet
    val committed = trees()
    val served = serve()
    // the replay's write jobs are cancelled through their scope tag once
    // BOTH file-write jobs (codes and rows) are running; the hold
    // protocol keeps every write task from finishing before the cancel
    // lands, so each tree's write is cut mid-flight
    val writesStarted = new java.util.concurrent.atomic.AtomicInteger
    val cancels = new java.util.concurrent.atomic.AtomicInteger
    val canceller = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val tags = Option(js.properties).flatMap(p => Option(p.getProperty(
            "spark.job.tags"))).toSeq.flatMap(_.split(","))
          .filter(_.startsWith("graft-ivfpq-append-write-"))
        val writesFiles = js.stageInfos.exists(_.rddInfos
          .exists(_.scope.exists(_.name == "WriteFiles")))
        if (writesFiles && tags.nonEmpty &&
            writesStarted.incrementAndGet() == 2)
          tags.foreach { t =>
            cancels.incrementAndGet()
            s.sparkContext.cancelJobsWithTag(t)
          }
      }
    }
    s.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[HoldUntilKilledCommitProtocol].getName)
    s.sparkContext.addSparkListener(canceller)
    try intercept[Exception] {
      AnnOps.appendIvfPqIndex(batch, "vid", "emb", "grp", idx, 1L,
        partitions = 4)
    } finally {
      s.sparkContext.removeSparkListener(canceller)
      s.conf.unset("spark.sql.sources.commitProtocolClass")
    }
    assert(cancels.get > 0, "no append write job was cancelled (vacuous)")
    assert(committed.values.forall(_.nonEmpty) && trees() == committed,
      "a cancelled replay changed the committed codes/batches trees")
    assert(served.nonEmpty && serve() == served,
      "a cancelled replay changed the serve")
    DedupOps.releaseLocalCheckpoint(df)
  }

  test("incrementalSemanticDedupDurable: a failure after the staging " +
      "pin, with the dim fork in flight, leaks no pins and no helper " +
      "threads") {
    val s = spark
    import s.implicits._
    val idx = tmpDir("sem-leak")
    val seed = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(8)(j => if (j == i % 2) 10f else 0f)))
      .toDF("vid", "emb")
    AnnOps.incrementalSemanticDedupDurable(seed, "vid", "emb", idx,
      0L, threshold = 0.9, cells = 2, iters = 1, probe = false)
    def helperThreads() = Thread.getAllStackTraces.keySet.toArray
      .map(_.asInstanceOf[Thread].getName)
      .filter(n => n.startsWith("graft-") || n.matches("pool-\\d+-.*"))
      .toSet
    val threadsBefore = helperThreads()
    val keep = s.sparkContext.getPersistentRDDs.keySet.toSet
    // a corrupt stored centroid table fails the frozen-centroid
    // assignment after the staging is pinned, while the dim fork is
    // in flight
    new java.io.File(s"$idx/centroids").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.write(f.toPath,
        "not parquet".getBytes("UTF-8")))
    intercept[Exception] {
      AnnOps.incrementalSemanticDedupDurable(
        Seq((100L, Array.fill(8)(1f))).toDF("vid", "emb"), "vid", "emb",
        idx, 1L, threshold = 0.9, cells = 2, iters = 1)
    }
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var left = s.sparkContext.getPersistentRDDs.keySet.toSet -- keep
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      left = s.sparkContext.getPersistentRDDs.keySet.toSet -- keep
    }
    assert(left.isEmpty, s"the failed batch leaked pinned RDDs: $left")
    assert(helperThreads() -- threadsBefore == Set.empty,
      "a helper thread outlived the failed batch")
  }

  test("minhash durable index: compactIndex consolidates the batch-" +
      "only layout, applied tombstones drop physically, and a later " +
      "increment probes identically to an uncompacted replica") {
    val s = spark
    import s.implicits._
    val mk = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "text")
    val oldDocs = mk(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta theta"),
      (3L, "unrelated words entirely here now forever more"),
      (4L, "alpha beta gamma delta epsilon zeta iota")))
    val inc1 = mk(Seq((10L, "some middle increment text goes here ok")))
    val newDocs = mk(Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta kappa")))
    def seed(dir: String): Unit = {
      DedupOps.incrementalMinhashDedupDurable(oldDocs, "doc_id",
        "text", dir, 0L, 3, 4, 2, 0.5, partitions = 2)
      DedupOps.incrementalMinhashDedupDurable(inc1, "doc_id",
        "text", dir, 1L, 3, 4, 2, 0.5, partitions = 2)
      // doc 2 is a near-dup of the family; tombstone it
      AnnOps.deleteFromIndex(Seq(2L).toDF("doc_id"), "doc_id", dir, 0L)
    }
    val plain = tmpDir("mh-plain"); seed(plain)
    val compacted = tmpDir("mh-compact"); seed(compacted)
    AnnOps.compactIndex(s, compacted, partitions = 2)
    // applied tombstones clear one grace cycle later — vacuum closes
    // the window explicitly (the deployment's drained-readers call);
    // the parent dir deliberately remains (deleting an emptied parent
    // races a concurrent deleteFromIndex commit)
    AnnOps.vacuumIndexGenerations(s, compacted)
    assert(Option(new java.io.File(s"$compacted/tombstones")
        .listFiles()).toSeq.flatten
        .count(f => f.isDirectory && f.getName.startsWith("batch=")) == 0,
      "applied tombstones must clear once the grace window closes")
    def probe(dir: String) = DedupOps.incrementalMinhashDedupDurable(
        newDocs, "doc_id", "text", dir, 2L, 3, 4, 2, 0.5,
        partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (a, b) = (probe(plain), probe(compacted))
    assert(a == b, s"compacted probe drifted: $a vs $b")
    assert(a.nonEmpty, "probe found nothing (vacuous fixture)")
    assert(!a.exists(p => p._1 == 2L || p._2 == 2L),
      "a tombstoned doc still pairs")
    // the tombstoned doc is gone from BOTH loads (anti-join pre-
    // compaction, physical drop post-compaction)
    Seq(plain, compacted).foreach { dir =>
      val ids = DedupOps.loadMinhashIndex(s, dir).get
        .select(col("doc_id")).as[Long].collect().toSet
      assert(!ids.contains(2L), s"$dir still loads the tombstoned doc")
    }
    // crashed-maintenance window: READERS ignore a stranded lock
    // (they resolve the committed pointer — nothing half-done is ever
    // visible), MUTATORS fail loudly (they cannot tell a crashed
    // maintenance run from a live one), recoverIndex releases it
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$plain/.maintenance-lock"), "expire")
    assert(DedupOps.loadMinhashIndex(s, plain).nonEmpty,
      "a reader must ignore a maintenance lock")
    intercept[IllegalStateException] {
      DedupOps.incrementalMinhashDedupDurable(
        mk(Seq((30L, "another new document arrives just fine today"))),
        "doc_id", "text", plain, 3L, 3, 4, 2, 0.5, partitions = 2)
    }
    AnnOps.recoverIndex(s, plain)
    DedupOps.incrementalMinhashDedupDurable(
      mk(Seq((30L, "another new document arrives just fine today"))),
      "doc_id", "text", plain, 3L, 3, 4, 2, 0.5, partitions = 2)
    val idsAfter = DedupOps.loadMinhashIndex(s, plain).get
      .select(col("doc_id")).as[Long].collect().toSet
    assert(Set(1L, 3L, 4L, 10L, 20L, 30L).subsetOf(idsAfter),
      s"post-recovery commit lost the pre-crash corpus: $idsAfter")
    assert(!new java.io.File(s"$plain/.maintenance-lock").exists())
    // the legacy flat batch=N root layout fails loudly, even half-
    // migrated (dir/batches present AND stragglers at the root)
    val legacy = tmpDir("mh-legacy")
    DedupOps.minhashIndex(oldDocs, "doc_id", "text", 3, 4, 2,
        partitions = 2)
      .select(col("doc_id"), col("shs"), col("bkeys"))
      .write.mode("overwrite").parquet(s"$legacy/batch=0")
    intercept[IllegalStateException] {
      DedupOps.loadMinhashIndex(s, legacy)
    }
    assert(new java.io.File(s"$legacy/batches").mkdirs())
    intercept[IllegalStateException] {
      DedupOps.loadMinhashIndex(s, legacy)
    }
    // the round-12 layout (batches/ at the root, no pointer) is loud too
    val legacy12 = tmpDir("mh-legacy12")
    DedupOps.minhashIndex(oldDocs, "doc_id", "text", 3, 4, 2,
        partitions = 2)
      .select(col("doc_id"), col("shs"), col("bkeys"))
      .write.mode("overwrite").parquet(s"$legacy12/batches/batch=0")
    intercept[IllegalStateException] {
      DedupOps.loadMinhashIndex(s, legacy12)
    }
  }

  test("minhash commit door spans the caller's probe window (ADVICE " +
      "r13): a maintenance cycle committing a new generation between " +
      "probe and commit fails loudly instead of committing pre-expiry " +
      "pairs into the post-expiry generation") {
    val s = spark
    import s.implicits._
    val docs0 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "unrelated words entirely here now forever more"))
      .toDF("doc_id", "text")
    val dir = tmpDir("mh-genrace")
    DedupOps.incrementalMinhashDedupDurable(docs0, "doc_id", "text",
      dir, 0L, 3, 4, 2, 0.5, partitions = 2)
    // simulate the race the lock gate cannot see: the caller's probe
    // read gen 0, then a COMPLETE maintenance cycle (lock, build gen 1,
    // commit marker, release) ran before the commit helper's door
    AnnOps.compactIndex(s, dir, partitions = 2)
    val sigs = DedupOps.minhashIndex(
      Seq((10L, "some new increment text goes here ok")).toDF(
        "doc_id", "text"),
      "doc_id", "text", 3, 4, 2, partitions = 2)
    val ex = intercept[IllegalArgumentException] {
      DedupOps.commitMinhashIndexBatch(sigs, dir, 1L, 3, 4, 2,
        expectedGen = Some(Some(0L)))
    }
    assert(ex.getMessage.contains("maintenance"),
      s"wrong failure: ${ex.getMessage}")
    assert(!new java.io.File(s"$dir/gens/gen=1/batches/batch=1").exists(),
      "the refused batch still committed")
    // the default (no expectedGen — direct d17 seeding, no probe to
    // protect) still resolves at its own entry and commits fine
    DedupOps.commitMinhashIndexBatch(sigs, dir, 1L, 3, 4, 2)
    assert(DedupOps.loadMinhashIndex(s, dir).get
        .filter(col("doc_id") === 10L).count() == 1L,
      "default-entry commit lost the batch")
    // and the end-to-end operator keeps accepting increments when no
    // maintenance interleaves (the common path is untouched)
    val pairs = DedupOps.incrementalMinhashDedupDurable(
      Seq((20L, "alpha beta gamma delta epsilon zeta theta")).toDF(
        "doc_id", "text"),
      "doc_id", "text", dir, 2L, 3, 4, 2, 0.5, partitions = 2)
    assert(pairs.collect().nonEmpty, "increment stopped pairing")
  }

  test("buildIvfPqIndex REBUILD clears stale append batches and " +
      "tombstones: the new index serves exactly like a fresh-dir build") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 80).toDF("vid", "emb", "grp")
      .pin()
    val idx = tmpDir("rebuild")
    AnnOps.buildIvfPqIndex(df.filter($"vid" < 40), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    AnnOps.appendIvfPqIndex(df.filter($"vid" >= 40), "vid", "emb",
      "grp", idx, 1L, partitions = 4)
    AnnOps.deleteFromIndex(Seq(7L).toDF("vid"), "vid", idx, 1L)
    // REBUILD over the full corpus into the SAME dir: without the
    // stale-tree cleanup the old batch=1 rows (assigned against the
    // 40-row centroids) and the stale tombstone would silently poison
    // the new index (the ADVICE medium)
    AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", idx,
      cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    val fresh = tmpDir("rebuild-fresh")
    AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", fresh,
      cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    def serve(dir: String) = rowsOf(AnnOps.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", dir, k = 3,
      nprobe = 2, rerankDepth = 12, partitions = 4))
    assert(serve(idx) == serve(fresh),
      "rebuild into a lived-in dir differs from a fresh build")
    val audit = AnnOps.semanticIndexDriftAudit(s, idx).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(audit == Map(0L -> 80L),
      s"rebuild left stale batches in the index: $audit")
  }

  test("appendIvfPqIndex rejects a batch whose dimensionality differs " +
      "from the stored index (no silent truncated encoding)") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 40).toDF("vid", "emb", "grp")
      .pin()
    val idx = tmpDir("dim")
    AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", idx,
      cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    val ragged = annRows(40 until 50)
      .map { case (id, v, g) => (id, v.take(10), g) }
      .toDF("vid", "emb", "grp")
    val e = intercept[IllegalArgumentException] {
      AnnOps.appendIvfPqIndex(ragged, "vid", "emb", "grp", idx, 1L,
        partitions = 4)
    }
    assert(e.getMessage.contains("dim"), e.getMessage)
  }

  test("inline filteredTopKIvfPq: no pinned blocks survive the call " +
      "beyond its own released output (the serve-many-batches leak " +
      "class)") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 80).toDF("vid", "emb", "grp")
      .pin()
    val keep = s.sparkContext.getPersistentRDDs.keySet.toSet
    val out = AnnOps.filteredTopKIvfPq(df, "vid", "emb", "grp", _ < 8,
      k = 3, cells = 4, iters = 2, nprobe = 2, pqM = 4, pqKs = 4,
      pqIters = 2, rerankDepth = 12, partitions = 4)
    assert(out.count() > 0)
    val newcomers =
      s.sparkContext.getPersistentRDDs.keySet.toSet -- keep
    // only the returned (pinned) output may remain
    assert(newcomers.size <= 1,
      s"inline IVF-PQ leaked ${newcomers.size} pinned RDDs")
    DedupOps.releaseLocalCheckpoint(out)
    val leaked = s.sparkContext.getPersistentRDDs.keySet.toSet -- keep
    assert(leaked.isEmpty,
      s"blocks survive after releasing the output: $leaked")
  }

  test("IVF-PQ build stores the codes and codebooks of the driver-side " +
      "reference Lloyd, and the train-timeout conf is honored") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 80).toDF("vid", "emb", "grp").pin()
    val idx = tmpDir("train")
    AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", idx,
      cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    // the reference trains on the staged vectors the build stored
    val staged = s.read.parquet(s"$idx/gens/gen=0/batches/batch=0")
      .select("id", "c").as[(Long, Array[Long])].collect().toSeq
    val (members, _, means) = LloydReference.reference(staged, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, dsub = 4,
      LloydReference.Seen())
    val codes = s.read.parquet(s"$idx/gens/gen=0/codes/batch=0")
      .select("id", "code", "m", "cell").as[(Long, Long, Int, Long)]
      .collect().toSet
    assert(codes == members.toSeq.flatMap { case (id, (cell, cs)) =>
      cs.zipWithIndex.map { case (code, m) => (id, code, m, cell) }
    }.toSet, "stored codes differ from the reference")
    val books = s.read.parquet(s"$idx/codebooks")
      .select("m", "code", "cmean", "cn2")
      .as[(Int, Long, Seq[Double], Double)].collect()
      .map { case (m, code, mu, cn2) =>
        (m, code, mu.map(java.lang.Double.doubleToRawLongBits),
          java.lang.Double.doubleToRawLongBits(cn2)) }.toSet
    assert(books == means.zipWithIndex.flatMap { case (book, m) =>
      book.map { case (code, bits) =>
        val mu = bits.map(java.lang.Double.longBitsToDouble)
        (m, code, bits,
          java.lang.Double.doubleToRawLongBits(mu.map(x => x * x).sum))
      }
    }.toSet, "stored codebooks differ from the reference")
    // the Await bound is a conf, not a hard-coded hour: a zero bound
    // must fail the build loudly (and the catch path cancels/releases,
    // leaving no pinned blocks behind beyond the input)
    val keep = s.sparkContext.getPersistentRDDs.keySet.toSet
    s.conf.set("spark.graft.ivfpq.trainTimeoutSec", "0")
    try intercept[java.util.concurrent.TimeoutException] {
      AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", tmpDir("pool-to"),
        cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
        partitions = 4)
    } finally s.conf.unset("spark.graft.ivfpq.trainTimeoutSec")
    // the failure path waits for the cancelled siblings' self-cleanup
    // before rethrowing, so by here no pinned block may survive beyond
    // the input (short drain: unpersist bookkeeping is async)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var left = s.sparkContext.getPersistentRDDs.keySet.toSet -- keep
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      left = s.sparkContext.getPersistentRDDs.keySet.toSet -- keep
    }
    assert(left.isEmpty,
      s"failed build leaked pinned RDDs: " +
        left.map(id => s"$id=${s.sparkContext.getPersistentRDDs.get(id)}")
          .mkString("; "))
    DedupOps.releaseLocalCheckpoint(df)
  }

  test("concurrent IVF-PQ builds never share a cancel tag: a FAILING " +
      "build (timeout=0, colliding-hashCode index dir) leaves a " +
      "concurrently-running sibling build's jobs uncancelled and its " +
      "codes/codebooks identical to a serial reference (round-16 flag)") {
    val s = spark
    val rows = annRows(0 until 80)
    val df = s.createDataFrame(rows).toDF("vid", "emb", "grp").pin()
    // two DIFFERENT dirs with EQUAL String.hashCode ("Aa"/"BB" suffix
    // collision): under a dir-hash-derived tag these two builds would
    // share one tag and the failing build would cancel the sibling
    val base = tmpDir("ctag")
    val dirFail = s"$base/Aa"
    val dirOk = s"$base/BB"
    assert(dirFail.hashCode == dirOk.hashCode,
      "fixture broke: the dirs must collide on hashCode")
    // the failing build runs in ITS OWN SparkSession (shared
    // SparkContext = shared scheduler, separate SQLConf) so its
    // timeout conf can't leak into the healthy build
    val sFail = s.newSession()
    sFail.conf.set("spark.graft.ivfpq.trainTimeoutSec", "0")
    val dfFail = sFail.createDataFrame(rows).toDF("vid", "emb", "grp")
    @volatile var okErr: Throwable = null
    val tOk = new Thread(() => {
      try AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", dirOk,
        cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
        partitions = 4)
      catch { case e: Throwable => okErr = e }
    }, "graft-ctag-ok")
    tOk.start()
    Thread.sleep(300) // let the healthy build get jobs in flight
    intercept[java.util.concurrent.TimeoutException] {
      AnnOps.buildIvfPqIndex(dfFail, "vid", "emb", "grp", dirFail,
        cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
        partitions = 4)
    }
    tOk.join(300000)
    assert(!tOk.isAlive, "healthy build wedged")
    assert(okErr == null,
      s"the failing build took down its concurrent sibling: $okErr")
    // the surviving build's output matches a serial reference build
    def artifacts(idx: String): (Set[String], Set[String]) = (
      s.read.parquet(s"$idx/gens/gen=0/codes/batch=0")
        .select("id", "code", "m", "cell")
        .collect().map(_.toString).toSet,
      s.read.parquet(s"$idx/codebooks")
        .select("m", "code", "cmean", "cn2")
        .collect().map(_.toString).toSet)
    val ref = tmpDir("ctag-ref")
    AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", ref,
      cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    assert(artifacts(dirOk) == artifacts(ref),
      "surviving build's codes/codebooks drifted from the serial " +
        "reference — its jobs were disturbed")
    DedupOps.releaseLocalCheckpoint(df)
  }
}

/** A parquet commit protocol whose write tasks do not commit until
  * their task is killed (bounded at 60 s): a cancel aimed at the write
  * job always lands mid-write. */
class HoldUntilKilledCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources
      .SQLHadoopMapReduceCommitProtocol(jobId, path,
        dynamicPartitionOverwrite) {
  override def commitTask(
      ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
      : org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage = {
    val tc = org.apache.spark.TaskContext.get()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!tc.isInterrupted() && System.nanoTime() < deadline)
      Thread.sleep(10)
    if (tc.isInterrupted()) throw new org.apache.spark.TaskKilledException(
      "write task killed")
    super.commitTask(ctx)
  }
}
