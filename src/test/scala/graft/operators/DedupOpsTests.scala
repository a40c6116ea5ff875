package graft.operators

import org.apache.spark.sql.functions.col
import graft.core.Pins.PinnedDataset

/** [[DedupOps]]'s dedup operators. */
trait DedupOpsTests extends OpsSpecBase {

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

  test("simhashNearDups: identical docs at hamming 0") {
    val pairs = DedupOps.simhashNearDups(corpus(), "my_id", "body",
        maxHamming = 3, partitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((10L, 11L, 0)))
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
}
