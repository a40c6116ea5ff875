package graft.operators

import graft.functions.TextKernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Overlap
import graft.core.Pins.PinnedDataset

object DedupOps {

  /** Stage a corpus: canonical (doc_id, text) columns, hash-distributed
    * by id, eagerly pinned. The staging step is what makes the compiled
    * per-row kernels downstream run on `partitions` cores instead of the
    * source file layout, and stops Catalyst re-inlining them into every
    * referencing subtree.
    */
  def staged(df: DataFrame, idCol: String, textCol: String,
      partitions: Int = 0): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).cast("string").as("text"))
      .repartition(Parts.of(df, partitions), col("doc_id"))
      .pin()

  /** Exact duplicate groups by content hash.
    * Returns (fingerprint, keep_id, n_copies) — one row per distinct
    * content; `keep_id` is the lowest id of the group (the canonical
    * survivor). One uniform-key shuffle; no skew possible.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Connected components over an undirected near-dup pair graph
    * (aCol, bCol), with survivor selection: returns
    * (id, cluster_id, is_survivor) for every id appearing in a pair,
    * where cluster_id is the component's minimum id and is_survivor
    * flags the one id == cluster_id per component. The step that turns
    * a pair LIST (minhashNearDups / simhashNearDups / cosineNearDupsLsh
    * output) into a drop DECISION.
    *
    * Min-label propagation: each round every node takes the min of its
    * own and its neighbors' labels — one equi-join + one groupBy per
    * round, both shuffling on id, converging in O(component diameter)
    * rounds. Nothing graph-sized ever reaches the driver, so components
    * larger than one executor's memory still resolve; per-round
    * localCheckpoint keeps lineage O(1) instead of O(rounds).
    */
  def connectedComponents(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val p = pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b")).pin()
    val edges = p.union(p.select(col("b"), col("a")))
      .toDF("src", "dst").pin()
    // convergence via sum(comp): labels only ever decrease, so the sum
    // strictly decreases iff ANY label changed — one cheap aggregate
    // per round instead of a join-against-previous. decimal(38,0) sum:
    // exact at any id magnitude x row count (a long sum could wrap);
    // coalesce covers the empty-graph case (sum over zero rows is null)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    def step(c: DataFrame): DataFrame = {
      val viaNeighbor = edges.join(c, edges("dst") === c("id"))
        .select(edges("src").as("id"), col("comp"))
      c.union(viaNeighbor)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .pin()
    }
    // OVERLAP LAYOUT (guide §2.6, round-18): each round used to run
    // its pin and its convergence aggregate strictly in sequence —
    // 2 driver-blocking jobs per round for a loop whose per-round data
    // is cluster-sized. Both jobs read only the PREVIOUS round's
    // pinned labels, so round i's aggregate runs CONCURRENTLY with a
    // speculative round i+1: when the aggregate proves convergence,
    // the speculative round computed the same fixed point (min over
    // identical labels — deterministic and idempotent) and is awaited
    // then released unobserved; otherwise it IS round i+1 and nothing
    // was wasted. Superseded rounds' pins release as soon as their
    // successor is materialized (they were never released before —
    // a deep propagation leaked one cluster-sized pin per round).
    var cur = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")).pin()
    var sumPrev: java.math.BigDecimal = null
    var comp: DataFrame = null
    try while (comp == null) {
      val (sumCur, next) = Overlap(pairs.sparkSession, 2,
          "components") { ov =>
        val fSum = ov.fork(labelSum(cur))
        val fNext = ov.fork(ov.own(step(cur)))
        (fSum.join(), fNext.join())
      }
      if (sumPrev != null && sumCur.compareTo(sumPrev) >= 0) {
        DedupOps.releaseLocalCheckpoint(next) // the speculative round
        comp = cur
      } else {
        DedupOps.releaseLocalCheckpoint(cur) // superseded labels
        cur = next
        sumPrev = sumCur
      }
    } catch { case e: Throwable =>
      DedupOps.releaseLocalCheckpoint(cur)
      throw e
    }
    comp.select(col("id"), col("comp").as("cluster_id"),
      (col("id") === col("comp")).as("is_survivor"))
  }

  /** Priority-based canonical selection over near-dup clusters: which
    * copy do we KEEP? [[connectedComponents]] picks the min-id survivor;
    * real pipelines keep the copy from the most trusted source. Given a
    * pair list and a (id, priority) table, returns
    * (id, cluster_id, prio, canonical_id, keep) where canonical_id is
    * the cluster member with the smallest (priority, id) and keep flags
    * it. The cluster assignment is the distributed label propagation;
    * the selection adds one equi-join for the priority and one
    * unordered min-of-struct window over cluster-sized groups (near-dup
    * clusters are shallow, so no window partition is ever large).
    * Semantics pinned by the oracle-checked d07 query.
    */
  def canonicalSelection(pairs: DataFrame, aCol: String, bCol: String,
      priorities: DataFrame, idCol: String, prioCol: String): DataFrame = {
    val prio = priorities.select(col(idCol).cast("long").as("id"),
      col(prioCol).cast("long").as("prio"))
    connectedComponents(pairs, aCol, bCol)
      .select(col("id"), col("cluster_id"))
      .join(prio, Seq("id"))
      .withColumn("canonical_id",
        min(struct(col("prio"), col("id"))).over(
          Window.partitionBy(col("cluster_id"))).getField("id"))
      .withColumn("keep", col("id") === col("canonical_id"))
  }

  /** Exact-Jaccard verification of candidate pairs (a, b) against
    * per-doc shingle arrays (doc_id, shs). O(candidates): the pair is
    * joined to two ARRAY columns and intersected in-row — never an
    * exploded shingle-level join, whose cost would depend on shingle
    * frequency, not candidate count.
    */
  def jaccardVerified(candidates: DataFrame, shingles: DataFrame,
      threshold: Double): DataFrame =
    jaccardScored(candidates, shingles)
      .filter(col("jaccard") >= threshold)

  /** [[jaccardVerified]] without the threshold cut: every candidate's
    * exact Jaccard, (a, b, jaccard). The ONE spelling of the verify
    * arithmetic — [[lshOperatingCurve]] measures with it, the dedup
    * paths filter it, so a semantics change cannot silently diverge
    * the operating-curve measurement from the dedup it parameterizes.
    */
  def jaccardScored(candidates: DataFrame,
      shingles: DataFrame): DataFrame =
    candidates
      .join(shingles.as("pa"), col("a") === col("pa.doc_id"))
      .join(shingles.as("pb"), col("b") === col("pb.doc_id"))
      .select(col("a"), col("b"),
        size(array_intersect(col("pa.shs"), col("pb.shs"))).as("inter"),
        size(col("pa.shs")).as("na"), size(col("pb.shs")).as("nb"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))

  /** MinHash+LSH near-duplicate pairs: word-k-gram shingles -> bands*rows
    * minhashes -> band-bucket candidate join -> exact-Jaccard verify.
    * Returns (a, b, jaccard) with a < b, jaccard >= threshold.
    *
    * Parameter guidance: P(band collision) ~ j^rows per band — size
    * `rows` to the corpus's BACKGROUND similarity (high-overlap corpora
    * need rows ~ 8), `bands` to the target recall at the threshold.
    *
    * SCALE NOTE: on boilerplate-heavy corpora (one m-member duplicate
    * class collapses into one bucket) this unguarded join emits
    * O(m²/2) pairs inside a single key — use
    * [[minhashNearDupsCapped]] with a cap chosen from
    * [[bandOccupancyCurve]] (the d14 query proves the capped cluster
    * resolution equals this operator's end to end).
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 2, rows: Int = 8,
      threshold: Double = 0.8, partitions: Int = 0): DataFrame = {
    val docs = staged(df, idCol, textCol, partitions)
    val s = df.sparkSession
    val bandBuckets = TextKernels.minhashBands(s, docs, shingleK, bands, rows)
      .pin()
    val cand = bandBuckets.as("x").join(bandBuckets.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val shArr = TextKernels.shingleArrays(s, docs, shingleK).pin()
    jaccardVerified(cand, shArr, threshold)
  }

  /** Bucket-occupancy split — the hot-bucket guard shared by every
    * capped banded-dedup spelling ([[minhashNearDupsCapped]],
    * [[simhashNearDupsCapped]]).
    *
    * The unguarded band join emits O(m²/2) candidate pairs for a bucket
    * of occupancy m — a SEMANTIC quadratic no AQE skew split can reduce
    * (the pair count is the product, not the partitioning). Real web
    * corpora are boilerplate-heavy: one degenerate bucket (empty pages,
    * error templates — millions of near-identical docs) makes a single
    * join key produce ~10¹² pairs at 100× scale. The guard is the d04
    * df-cut discipline applied to the band axis: count occupancy per
    * bucket key, keep sub-`cap` buckets on the exact pair-join path,
    * and route SATURATED buckets out of the join entirely — their
    * members are emitted as star edges (bucket-min id → each other
    * member, m−1 edges instead of m(m−1)/2 pairs) for direct cluster
    * resolution through [[connectedComponents]]/[[canonicalSelection]]:
    * at real occupancy caps, co-residents of a saturated bucket are
    * near-certain duplicates (the [[bandOccupancyCurve]] query measures
    * exactly that claim, so `cap` is chosen with data, like d12 prices
    * d04's maxDf).
    *
    * Saturated-key joins broadcast: there are at most
    * |bucket rows|/cap saturated keys (each holds > cap rows), the
    * same boundedness argument as dfCutCandidates' heavy-hitter
    * anti-join. The saturated-key table is pinned (localCheckpoint —
    * three consumers would otherwise recompute the occupancy shuffle);
    * like [[staged]]'s corpus pin, the caller owns those (tiny)
    * blocks for the session. Returns (sub-cap candidate pairs (a, b)
    * with a < b, star edges (a, b) with a = bucket min < b).
    */
  private[graft] def occupancySplit(buckets: DataFrame, idCol: String,
      keyCols: Seq[String], cap: Int): (DataFrame, DataFrame) = {
    require(cap >= 1, s"occupancySplit: cap=$cap must be >= 1")
    val keys = keyCols.map(col)
    // ONE aggregation computes both the occupancy and each saturated
    // bucket's root (min id) — the saturated rows are by definition the
    // corpus's hottest keys, so a second groupBy over them would be a
    // second full shuffle of exactly the heaviest data (REVIEW)
    val sat = buckets.groupBy(keys: _*)
      .agg(count(lit(1)).as("m"), min(col(idCol)).as("a"))
      .filter(col("m") > cap)
      .select(keys :+ col("a"): _*)
      .pin()
    val sub = buckets.join(broadcast(sat.select(keys: _*)),
      keyCols, "left_anti")
    val joinCond = keyCols.map(k => col(s"x.$k") === col(s"y.$k"))
      .reduce(_ && _) && col(s"x.$idCol") < col(s"y.$idCol")
    val cand = sub.as("x").join(sub.as("y"), joinCond)
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct()
    val star = buckets.join(broadcast(sat), keyCols)
      .filter(col(idCol) =!= col("a"))
      .select(col("a"), col(idCol).as("b"))
      .distinct()
    (cand, star)
  }

  /** [[minhashNearDups]] with the hot-bucket occupancy guard — the
    * 100 TB spelling of banded MinHash dedup. Buckets with occupancy
    * <= `maxOccupancy` run the exact pair join + Jaccard verification
    * unchanged; saturated buckets bypass the O(m²) join and surface as
    * UNVERIFIED star edges instead. Returns (a, b, jaccard, saturated):
    * verified pairs carry their exact jaccard and saturated = false;
    * star edges carry jaccard = null and saturated = true. Both kinds
    * feed [[connectedComponents]]/[[canonicalSelection]] directly — a
    * saturated bucket resolves as ONE dup cluster through its m−1 star
    * edges. A pair that shares a saturated bucket AND a sub-cap one
    * surfaces ONCE, as its verified row (star edges anti-join against
    * the verified set — the same pair-uniqueness contract as the capped
    * incremental probe, so pair-keyed consumers never double-count;
    * ADVICE item).
    *
    * Contract (pinned by PipelineOpsSpec): with `maxOccupancy` at or
    * above the corpus's max bucket occupancy this returns EXACTLY
    * [[minhashNearDups]]'s rows (saturated = false throughout); choose
    * the cap with [[bandOccupancyCurve]].
    */
  def minhashNearDupsCapped(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 2, rows: Int = 8,
      threshold: Double = 0.8, maxOccupancy: Int = 1000,
      partitions: Int = 0): DataFrame = {
    val docs = staged(df, idCol, textCol, partitions)
    val s = df.sparkSession
    val bandBuckets = TextKernels.minhashBands(s, docs, shingleK, bands, rows)
      .pin()
    val (cand, star) = occupancySplit(bandBuckets, "doc_id",
      Seq("band", "bkey"), maxOccupancy)
    val shArr = TextKernels.shingleArrays(s, docs, shingleK).pin()
    // pinned: the verified set is consumed twice (the union below and
    // the star-edge anti-join); without the pin the Jaccard
    // verification of every sub-cap candidate would run twice. Output-
    // sized, caller-owned like the staged pins above.
    val verified = jaccardVerified(cand, shArr, threshold)
      .select(col("a"), col("b"), col("jaccard"),
        lit(false).as("saturated"))
      .pin()
    verified.unionByName(
      star.join(verified.select(col("a"), col("b")), Seq("a", "b"),
          "left_anti")
        .select(col("a"), col("b"),
          lit(null).cast("double").as("jaccard"),
          lit(true).as("saturated")))
  }

  /** How [[minhashNearDupsCapped]]'s `maxOccupancy` gets CHOSEN — the
    * d12 treatment for the band axis. For each cap the curve measures
    * what the guard keeps, what it delegates, and what the delegation
    * costs: (max_occupancy, n_saturated_buckets, candidate_pairs and
    * confirmed_pairs of the sub-cap join, saturated_pairs — the
    * candidate volume the guard REMOVED from the join — with
    * saturated_confirmed_pairs and sat_precision = the fraction of
    * delegated pairs that really are >= threshold dups, i.e. how safe
    * it is to resolve a saturated bucket as one cluster), against the
    * uncut join (uncut_candidate_pairs / uncut_confirmed_pairs) and
    * pair_recall = confirmed / uncut_confirmed — the fraction still
    * individually verified. Every uncut pair shares >= 1 bucket, so
    * verified ∪ delegated COVERS the uncut set by construction; the
    * curve's job is pricing the precision of the delegated share.
    * The uncut join and the per-cap saturated-pair scoring are
    * O(Σm²) BY DESIGN — this is a measurement query, run at sample
    * scale (the d12 discipline), then the capped dedup runs on the
    * corpus. Semantics pinned by the oracle-checked d13 query.
    * sat_precision is 1.0 when nothing is delegated; pair_recall is
    * 1.0 when the uncut join confirms nothing.
    */
  def bandOccupancyCurve(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 2, rows: Int = 8,
      threshold: Double = 0.8, caps: Seq[Int] = Seq(1, 2, 4, 8),
      partitions: Int = 0): DataFrame = {
    require(caps.nonEmpty, "need at least one occupancy-cap point")
    val docs = staged(df, idCol, textCol, partitions)
    val s = df.sparkSession
    val bb = TextKernels.minhashBands(s, docs, shingleK, bands, rows)
      .pin()
    val shArr = TextKernels.shingleArrays(s, docs, shingleK)
      .pin()
    val occ = bb.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("m")).pin()
    val bocc = bb.join(occ, Seq("band", "bkey"))
    def pairsOf(rowsDf: DataFrame): DataFrame =
      rowsDf.as("x").join(rowsDf.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
    // ONE verification pass per pair set yields both counts as a
    // single scalar aggregate (the d10/d12 convention), through the
    // shared jaccardScored kernel so the measurement can never drift
    // from the dedup it parameterizes
    def countsOf(cand: DataFrame): DataFrame =
      jaccardScored(cand, shArr).agg(
        count(lit(1)).as("cp"),
        coalesce(sum(when(col("jaccard") >= threshold, 1L)
          .otherwise(0L)), lit(0L)).as("vp"))
    val uncut = countsOf(pairsOf(bb))
      .select(col("cp").as("uncut_candidate_pairs"),
        col("vp").as("uncut_confirmed_pairs"))
    val perCap = caps.map { cap =>
      val sub = countsOf(pairsOf(
          bocc.filter(col("m") <= cap)
            .select(col("doc_id"), col("band"), col("bkey"))))
        .select(col("cp").as("candidate_pairs"),
          col("vp").as("confirmed_pairs"))
      val satCnt = countsOf(pairsOf(
          bocc.filter(col("m") > cap)
            .select(col("doc_id"), col("band"), col("bkey"))))
        .select(col("cp").as("saturated_pairs"),
          col("vp").as("saturated_confirmed_pairs"))
      val nSat = occ.agg(coalesce(sum(when(col("m") > cap, 1L)
        .otherwise(0L)), lit(0L)).as("n_saturated_buckets"))
      // 1×1×1 cross joins of scalar aggregates (the bounded 1×N
      // agg-join convention)
      sub.crossJoin(satCnt).crossJoin(nSat)
        .select(lit(cap).cast("int").as("max_occupancy"),
          col("n_saturated_buckets"),
          col("candidate_pairs"), col("confirmed_pairs"),
          col("saturated_pairs"), col("saturated_confirmed_pairs"))
    }.reduce(_ unionAll _)
    val curve = perCap.crossJoin(uncut)
      .select(col("max_occupancy"), col("n_saturated_buckets"),
        col("candidate_pairs"), col("confirmed_pairs"),
        col("saturated_pairs"), col("saturated_confirmed_pairs"),
        when(col("saturated_pairs") === 0L, lit(1.0))
          .otherwise(col("saturated_confirmed_pairs").cast("double") /
            col("saturated_pairs")).as("sat_precision"),
        col("uncut_candidate_pairs"), col("uncut_confirmed_pairs"),
        when(col("uncut_confirmed_pairs") === 0L, lit(1.0))
          .otherwise(col("confirmed_pairs").cast("double") /
            col("uncut_confirmed_pairs")).as("pair_recall"))
    // |caps| rows: pin the result, free the staged band/shingle/
    // occupancy blocks (the operating-curve release discipline)
    val pinned = curve.pin()
    releaseLocalCheckpoint(occ)
    releaseLocalCheckpoint(shArr)
    releaseLocalCheckpoint(bb)
    releaseLocalCheckpoint(docs)
    pinned
  }

  /** The DELEGATED-face slice of [[bandOccupancyCurve]], computed
    * without the uncut denominator: (saturated_pairs,
    * saturated_confirmed_pairs) at one `cap` — the pair volume the
    * guard would route around the join and how much of it really is
    * >= `threshold` duplicates. Cost is O(Σ m² over saturated buckets
    * only) — the delegated volume itself, NOT the full-corpus O(Σm²)
    * the curve's uncut column pays — so a query can afford it as an
    * in-line precondition: d14 requires sat_precision == 1.0 here
    * before comparing capped cluster resolution against the uncut
    * closure (ADVICE item: the equivalence premise must be asserted in
    * the query, not assumed of the corpus). Returns (0, 0) when
    * nothing saturates.
    */
  def saturatedPairStats(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 2, rows: Int = 8,
      threshold: Double = 0.8, cap: Int = 1000,
      partitions: Int = 0): (Long, Long) = {
    val docs = staged(df, idCol, textCol, partitions)
    val s = df.sparkSession
    val bb = TextKernels.minhashBands(s, docs, shingleK, bands, rows)
      .pin()
    val satRows = bb.join(
      bb.groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("m"))
        .filter(col("m") > cap).select(col("band"), col("bkey")),
      Seq("band", "bkey"))
    val cand = satRows.as("x").join(satRows.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val shArr = TextKernels.shingleArrays(s, docs, shingleK)
      .pin()
    val r = jaccardScored(cand, shArr).agg(
      count(lit(1)).as("cp"),
      coalesce(sum(when(col("jaccard") >= threshold, 1L)
        .otherwise(0L)), lit(0L)).as("vp")).head()
    releaseLocalCheckpoint(shArr)
    releaseLocalCheckpoint(bb)
    releaseLocalCheckpoint(docs)
    (r.getLong(0), r.getLong(1))
  }

  /** Persistable MinHash signature index for incremental dedup: one row
    * per document carrying its band keys and shingle array —
    * (doc_id, bkeys array<struct<band, bkey>>, shs). Write this to a
    * table once per corpus; [[minhashNearDupsAgainstIndex]] dedups each
    * new batch against it without touching the old corpus text. Same
    * kernels and parameters as [[minhashNearDups]], so batch and
    * incremental results agree exactly.
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 2, rows: Int = 8,
      partitions: Int = 0): DataFrame = {
    val docs = staged(df, idCol, textCol, partitions)
    val s = df.sparkSession
    val bkeys = TextKernels.minhashBands(s, docs, shingleK, bands, rows)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("band"), col("bkey"))).as("bkeys"))
    TextKernels.shingleArrays(s, docs, shingleK)
      .join(bkeys, Seq("doc_id"))
  }

  /** Incremental MinHash+LSH: near-dup pairs between a NEW batch and an
    * existing [[minhashIndex]] (new-vs-old and new-vs-new; old-vs-old
    * pairs are never recomputed). The 100 TB daily-increment pattern:
    * signature generation is O(new docs), the band-bucket join probes
    * the index on its equi-key, and exact-Jaccard verification touches
    * only candidates — the old corpus text is never read. Caller
    * guarantees ids are unique across old and new. Returns (a, b,
    * jaccard) with a < b, identical to the [[minhashNearDups]] rows of
    * the combined corpus that touch at least one new doc.
    */
  def minhashNearDupsAgainstIndex(newDf: DataFrame, idCol: String,
      textCol: String, index: DataFrame, shingleK: Int = 5,
      bands: Int = 2, rows: Int = 8, threshold: Double = 0.8,
      partitions: Int = 0,
      maxOccupancy: Int = Int.MaxValue): DataFrame = {
    val newIdx = minhashIndex(newDf, idCol, textCol, shingleK, bands,
      rows, partitions).pin()
    // uncapped: lazy return, caller owns the newIdx pin (the staged()
    // convention — no other per-call blocks exist). Capped: the probe
    // pins a saturated-key table per call, and this operator is CALLED
    // PER BATCH in a long-lived session — an un-released per-call pin
    // would accumulate for the session lifetime (ADVICE; the durable
    // variant's leak class). Pin the (output-sized) result instead and
    // free both per-call stagings eagerly.
    val (probed, releaseSat) =
      probeIndex(newIdx, Some(index), threshold, maxOccupancy)
    if (maxOccupancy == Int.MaxValue) probed
    else {
      val pinned = probed.pin()
      releaseSat()
      releaseLocalCheckpoint(newIdx)
      pinned
    }
  }

  /** Measured LSH operating curve: candidate volume and confirmed
    * near-dup pairs at several (bands, rows) splits of the SAME minhash
    * signatures — how you pick d02's parameters before committing a
    * 100 TB run. Returns one row per config:
    * (bands, rows, n_hashes, candidate_pairs, confirmed_pairs).
    *
    * Signatures are ONE kernel pass (max hashes over the grid) and
    * banding is a pure projection of that table, so each extra
    * operating point costs only its band-bucket join and the exact
    * verification of ITS candidates — run it on a sample (this facade
    * on a `.sample` of the corpus) and read the curve: more rows per
    * band prunes background similarity harder (collision ~ j^rows),
    * more bands buys recall at the threshold (1-(1-j^rows)^bands).
    */
  def lshOperatingCurve(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5,
      configs: Seq[(Int, Int)] = Seq((8, 2), (4, 4), (2, 8)),
      threshold: Double = 0.8, partitions: Int = 0): DataFrame = {
    require(configs.nonEmpty, "need at least one (bands, rows) config")
    val docs = staged(df, idCol, textCol, partitions)
    val s = df.sparkSession
    val nh = configs.map { case (b, r) => b * r }.max
    val sig = TextKernels.minhashSignatures(s, docs, shingleK, nh)
      .pin()
    val shArr = TextKernels.shingleArrays(s, docs, shingleK)
      .pin()
    val curve = configs.map { case (bands, rows) =>
      val bandCols = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat((0 until rows).map(r =>
            element_at(col("mins"), b * rows + r + 1)): _*).as("bkey"))
      }
      val bb = sig
        .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"),
          col("bb.bkey").as("bkey"))
      val cand = bb.as("x").join(bb.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
      // ONE verification pass yields both counts (candidate volume +
      // threshold survivors) as a single scalar aggregate — no
      // second action, no 1x1 cross join of separate aggs; the
      // arithmetic is the shared jaccardScored kernel, so this
      // measurement can never drift from the dedup it parameterizes
      val scored = jaccardScored(cand, shArr)
      scored.agg(count(lit(1)).as("candidate_pairs"),
          coalesce(sum(when(col("jaccard") >= threshold, 1L)
            .otherwise(0L)), lit(0L)).as("confirmed_pairs"))
        .select(lit(bands).cast("int").as("bands"),
          lit(rows).cast("int").as("rows_per_band"),
          lit(bands * rows).cast("int").as("n_hashes"),
          col("candidate_pairs"), col("confirmed_pairs"))
    }.reduce(_ unionAll _)
    // the curve is |configs| rows: pin IT eagerly and free the staged
    // corpus/signature/shingle blocks now (ADVICE: repeated curve
    // invocations otherwise accumulate pinned blocks in executor
    // storage for the session lifetime)
    val pinned = curve.pin()
    releaseLocalCheckpoint(sig)
    releaseLocalCheckpoint(shArr)
    releaseLocalCheckpoint(docs)
    pinned
  }

  /** The probe shared by the in-memory and durable incremental paths:
    * band-bucket join of a PREBUILT new-batch index against the
    * accumulated index (plus the new batch itself, for new-new pairs),
    * then exact-Jaccard verification of candidates only.
    */
  /** `maxOccupancy` is the INCREMENTAL face of the hot-bucket guard: a
    * boilerplate family accumulating in the index puts m members in
    * one (band, bkey) key, so each increment's probe of that key costs
    * |new ∩ bucket| × m — quadratic OVER TIME as both sides grow. At
    * the cap, new docs hitting a saturated ACCUMULATED bucket skip
    * verification and link to the bucket's min-id root by a delegated
    * edge instead (emitted with jaccard = NULL — the output schema is
    * unchanged, so uncapped callers and the st10 oracle see the exact
    * rows they always did; delegated edges only exist when a caller
    * opts in). The near-certain-duplicate premise is the
    * [[minhashNearDupsCapped]] one (unbounded band keyspace), priced
    * by the same d13 curve.
    */
  private[graft] def probeIndex(newIdx: DataFrame, index: Option[DataFrame],
      threshold: Double, maxOccupancy: Int = Int.MaxValue)
      : (DataFrame, () => Unit) = {
    val newCols = newIdx.select(col("doc_id"), col("shs"), col("bkeys"))
    val allIdx = index match {
      case Some(i) =>
        i.select(col("doc_id"), col("shs"), col("bkeys"))
          .unionByName(newCols)
      case None => newCols
    }
    def bandRows(idx: DataFrame): DataFrame = idx
      .select(col("doc_id"), explode(col("bkeys")).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bkey").as("bkey"))
    val newRows = bandRows(newIdx)
    if (maxOccupancy == Int.MaxValue) {
      val allRows = bandRows(allIdx)
      val cand = newRows.as("x").join(allRows.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
            && col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("b")).distinct()
      (jaccardVerified(cand, allIdx.select(col("doc_id"), col("shs")),
        threshold), () => ())
    } else {
      // occupancy counts old AND new rows; the root must be an
      // ACCUMULATED (old) member whenever one exists in the bucket
      // (REVIEW): min over all rows could elect a NEW doc whose id
      // sorts below every old member, and the `doc_id =!= root` filter
      // would then drop its only delegated edge — the duplicate would
      // be silently admitted, and an old-rooted cluster would detach
      // from the new arrivals. With an old root every arrival links to
      // the index's cluster, and roots chain across batches by
      // induction (each arriving member linked to the root of the
      // index at ITS arrival). A bucket saturated purely within one
      // batch falls back to the batch's own min.
      val allFlagged = (index match {
        case Some(i) => bandRows(i.select(col("doc_id"), col("shs"),
            col("bkeys")))
          .withColumn("is_old", lit(true))
          .unionByName(newRows.withColumn("is_old", lit(false)))
        case None => newRows.withColumn("is_old", lit(false))
      })
      // one aggregation yields occupancy AND the roots (the
      // occupancySplit discipline); saturated keys are ≤ bandRows/cap
      // — broadcastable by the dfCut argument
      val sat = allFlagged.groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("m"),
          min(when(col("is_old"), col("doc_id"))).as("old_root"),
          min(col("doc_id")).as("any_root"))
        .filter(col("m") > maxOccupancy)
        .select(col("band"), col("bkey"),
          coalesce(col("old_root"), col("any_root")).as("root"))
        .pin()
      val satKeys = sat.select(col("band"), col("bkey"))
      val allRows = allFlagged.select(col("doc_id"), col("band"),
        col("bkey"))
      val cand = newRows.join(broadcast(satKeys), Seq("band", "bkey"),
          "left_anti").as("x")
        .join(allRows.join(broadcast(satKeys), Seq("band", "bkey"),
          "left_anti").as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
            && col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("b")).distinct()
      // pinned: verified feeds BOTH the output union and the delegated
      // anti-join below; unpinned, the exact-Jaccard verification —
      // the probe's most expensive stage — would run once per
      // consuming subtree on EVERY batch of a long-lived session
      // (REVIEW — the minhashNearDupsCapped pin, same reason); the
      // release fn frees it once the caller pins the output
      val verified = jaccardVerified(cand,
        allIdx.select(col("doc_id"), col("shs")), threshold)
        .pin()
      // a pair can share a saturated bucket AND a sub-cap one: the
      // verified row wins, so each (a, b) appears exactly once and a
      // consumer joining or counting on the pair key never sees a
      // null-jaccard shadow of a verified pair (REVIEW)
      val delegated = newRows.join(broadcast(sat), Seq("band", "bkey"))
        .filter(col("doc_id") =!= col("root"))
        .select(least(col("root"), col("doc_id")).as("a"),
          greatest(col("root"), col("doc_id")).as("b"))
        .distinct()
        .join(verified.select(col("a"), col("b")), Seq("a", "b"),
          "left_anti")
        .select(col("a"), col("b"),
          lit(null).cast("double").as("jaccard"))
      (verified.unionByName(delegated),
        () => {
          releaseLocalCheckpoint(verified)
          releaseLocalCheckpoint(sat)
        })
    }
  }

  /** Free the storage behind a pinned DataFrame ([[graft.core.Pins]]).
    * No-op if the plan isn't a pin shape. PUBLIC (name kept from the
    * rounds when the pin WAS a bare localCheckpoint) because the
    * serve-many-batches operators ([[IvfPqIndex.queryIvfPqIndex]], the
    * capped incremental probes) return PINNED results — an external
    * caller running thousands of batches in one session should release
    * each result once consumed, or the per-call pins accumulate for the
    * session lifetime (the same leak class those operators free
    * internally).
    */
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    graft.core.Pins.release(df)

  /** Paragraph-granularity MinHash+LSH near-dups — the standard second
    * dedup pass every LLM corpus runs after document level (C4/Gopher
    * dedup at line/paragraph granularity): boilerplate repeated across
    * otherwise-distinct documents is invisible to whole-document
    * MinHash. Documents are split into deterministic `paraWords`-word
    * blocks ([[PrepOps.chunkDocuments]] with stride == window, so blocks
    * tile each document exactly), each block keyed
    * `pid = id * maxParas + idx`, and [[minhashNearDups]] runs unchanged
    * at paragraph granularity. Returns (doc_a, para_a, doc_b, para_b,
    * jaccard) with (doc_a, para_a) < (doc_b, para_b) in pid order —
    * same-document pairs included (repeated boilerplate inside one
    * document is a real finding). A document with >= maxParas paragraphs
    * fails loudly at execution (raise maxParas) instead of aliasing two
    * paragraphs onto one pid. Semantics pinned by the oracle-checked d08
    * query.
    */
  def paragraphNearDups(df: DataFrame, idCol: String, textCol: String,
      paraWords: Int = 25, maxParas: Long = 1L << 20, shingleK: Int = 5,
      bands: Int = 2, rows: Int = 8, threshold: Double = 0.8,
      partitions: Int = 0): DataFrame = {
    require(paraWords >= 1, s"paraWords must be >= 1, got $paraWords")
    require(maxParas >= 2, s"maxParas must be >= 2, got $maxParas")
    // pid = id * maxParas + idx must stay injective and decodable:
    // reject ids outside [0, Long.MaxValue / maxParas) as loudly as an
    // overflowing paragraph index — a silent multiply wrap would
    // attribute pairs to the wrong (doc, para).
    val maxId = Long.MaxValue / maxParas
    val paras = PrepOps.chunkDocuments(
        df.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).cast("string").as("text")),
        "doc_id", "text", paraWords, paraWords)
      .select(
        (when(col("id") >= 0 && col("id") < maxId, col("id"))
          .otherwise(raise_error(concat(lit(
            s"doc id outside [0, $maxId) for maxParas=$maxParas: "),
            col("id"))).cast("long")) * maxParas +
          when(col("chunk_idx") < maxParas, col("chunk_idx"))
            .otherwise(raise_error(lit(
              s"paragraph index overflow (>= $maxParas); raise maxParas"))
              .cast("long"))).as("pid"),
        col("chunk_text").as("text"))
    minhashNearDups(paras, "pid", "text", shingleK, bands, rows,
        threshold, partitions)
      .select(expr(s"a div ${maxParas}L").as("doc_a"),
        (col("a") % maxParas).as("para_a"),
        expr(s"b div ${maxParas}L").as("doc_b"),
        (col("b") % maxParas).as("para_b"),
        col("jaccard"))
  }

  /** Inverted-index n-gram Jaccard near-dups: candidates share >= 1
    * common RARE word k-gram (use LONG shingles, k ~ 7, so posting lists
    * stay near-unique), then exact-Jaccard verify. Returns (a, b,
    * jaccard).
    *
    * `maxDf` is the document-frequency cut: shingles in more than maxDf
    * docs leave the index, bounding candidates at postings x maxDf/2 —
    * without it one ubiquitous shingle (or one near-identical family of
    * m docs, whose every shingle has df ~ m) drives the self-join to
    * m^2. The documented recall trade: pairs inside families wider than
    * maxDf are missed here and belong to [[exactGroups]] /
    * [[minhashNearDups]] (df-free banding); output is always a subset
    * of the uncut spelling (maxDf = Int.MaxValue disables the cut).
    */
  def ngramJaccardNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 7, threshold: Double = 0.8, maxDf: Int = 16,
      partitions: Int = 0): DataFrame = {
    val (cand, shArr) = dfCutCandidates(df, idCol, textCol, shingleK,
      maxDf, partitions)
    jaccardVerified(cand, shArr, threshold)
  }

  /** The df-cut inverted-index candidate pass shared by
    * [[ngramJaccardNearDups]] and [[containmentNearDups]]: stage, kernel
    * shingle arrays (pinned), explode to postings, drop shingles with
    * df > maxDf via a broadcast anti join (heavy hitters are few,
    * <= postings/maxDf), self-join the pruned postings on the shingle
    * key. Returns (cand(a, b) with a < b, pinned shingle arrays).
    */
  private def dfCutCandidates(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, maxDf: Int,
      partitions: Int): (DataFrame, DataFrame) = {
    val docs = staged(df, idCol, textCol, partitions)
    val shArr = TextKernels.shingleArrays(df.sparkSession, docs, shingleK)
      .pin()
    val posting = shArr.select(col("doc_id"), explode(col("shs")).as("sh"))
    val frequent = posting.groupBy(col("sh"))
      .agg(count(lit(1)).as("df")).filter(col("df") > maxDf).select(col("sh"))
    val pruned = posting.join(broadcast(frequent), Seq("sh"), "left_anti")
    val cand = pruned.as("x").join(pruned.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    (cand, shArr)
  }

  /** Inverted-index shingle CONTAINMENT near-dups: containment =
    * |A ∩ B| / min(|A|, |B|) — the asymmetric near-dup measure that
    * catches QUOTE/SUPERSET duplication (a short document embedded in a
    * long one), which symmetric Jaccard structurally misses: a
    * 50-shingle excerpt inside a 5000-shingle original has jaccard
    * ~ 0.01 but containment 1.0. MinHash banding is NOT usable for
    * candidates here — band collision probability tracks JACCARD, so
    * high-containment/low-jaccard pairs never collide — so candidates
    * come from the same df-cut shingle inverted index as
    * [[ngramJaccardNearDups]] (an excerpt shares every one of its rare
    * shingles with its source), with the identical `maxDf` recall
    * contract; verification is exact set arithmetic over candidate
    * pairs only. Returns (a, b, containment, jaccard) with a < b and
    * containment >= threshold. Semantics pinned by the oracle-checked
    * d11 query.
    */
  def containmentNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 7, threshold: Double = 0.9, maxDf: Int = 16,
      partitions: Int = 0): DataFrame = {
    val (cand, shArr) = dfCutCandidates(df, idCol, textCol, shingleK,
      maxDf, partitions)
    containmentScored(cand, shArr)
      .filter(col("containment") >= threshold)
  }

  /** Exact containment+jaccard of candidate pairs against the staged
    * shingle arrays — the verification kernel shared by
    * [[containmentNearDups]] and [[containmentOperatingCurve]] so the
    * measurement can never drift from the dedup it parameterizes. */
  private def containmentScored(cand: DataFrame,
      shArr: DataFrame): DataFrame =
    cand
      .join(shArr.as("pa"), col("a") === col("pa.doc_id"))
      .join(shArr.as("pb"), col("b") === col("pb.doc_id"))
      .select(col("a"), col("b"),
        size(array_intersect(col("pa.shs"), col("pb.shs"))).as("inter"),
        size(col("pa.shs")).as("na"), size(col("pb.shs")).as("nb"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / least(col("na"), col("nb")))
          .as("containment"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))

  /** How [[containmentNearDups]]'s `maxDf` gets CHOSEN — the d10
    * treatment for the containment index: measure candidate volume,
    * confirmed pairs, and RECALL against the uncut inverted index at
    * several df cuts, sharing one staging + one shingle pass + one
    * document-frequency table across every operating point. The uncut
    * spelling (every posting joins) is the recall denominator: the
    * df-cut candidate set is a SUBSET of the uncut one, so
    * recall = confirmed(maxDf) / confirmed(uncut) exactly. The uncut
    * join is O(sum df^2) — affordable at measurement scale, which is
    * the point of an operating-curve query (run it on a sample, pick
    * maxDf with data, run the dedup on the corpus). Returns one row
    * per cut: (max_df, candidate_pairs, confirmed_pairs,
    * uncut_candidate_pairs, uncut_confirmed_pairs, recall); recall is
    * 1.0 when the uncut index confirms nothing (nothing to miss).
    * Semantics pinned by the oracle-checked d12 query.
    */
  def containmentOperatingCurve(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 7, threshold: Double = 0.9,
      maxDfs: Seq[Int] = Seq(4, 8, 16, 32),
      partitions: Int = 0): DataFrame = {
    val (curve, release) = containmentOperatingCurveLazy(df, idCol,
      textCol, shingleK, threshold, maxDfs, partitions)
    // |maxDfs| rows: pin the result eagerly, then free the staged
    // shingle/df blocks (ADVICE: the curve otherwise leaks its
    // checkpoints per call for the session lifetime)
    val pinned = curve.pin()
    release()
    pinned
  }

  /** The curve computation itself, UNPINNED, plus the thunk releasing
    * its staged blocks — what PlanInvariantsSpec audits (the public
    * wrapper pins the |maxDfs|-row result first, which hides the join
    * shape behind a checkpoint scan). */
  private[graft] def containmentOperatingCurveLazy(df: DataFrame,
      idCol: String, textCol: String, shingleK: Int, threshold: Double,
      maxDfs: Seq[Int], partitions: Int): (DataFrame, () => Unit) = {
    require(maxDfs.nonEmpty, "need at least one maxDf operating point")
    val docs = staged(df, idCol, textCol, partitions)
    val shArr = TextKernels.shingleArrays(df.sparkSession, docs, shingleK)
      .pin()
    val posting = shArr.select(col("doc_id"), explode(col("shs")).as("sh"))
    val dfTab = posting.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .pin()
    def candFrom(p: DataFrame): DataFrame =
      p.as("x").join(p.as("y"),
          col("x.sh") === col("y.sh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
    // ONE verification pass per operating point yields both counts as
    // a single scalar aggregate (the d10 convention)
    def countsOf(cand: DataFrame): DataFrame =
      containmentScored(cand, shArr).agg(
        count(lit(1)).as("candidate_pairs"),
        coalesce(sum(when(col("containment") >= threshold, 1L)
          .otherwise(0L)), lit(0L)).as("confirmed_pairs"))
    val uncut = countsOf(candFrom(posting))
      .select(col("candidate_pairs").as("uncut_candidate_pairs"),
        col("confirmed_pairs").as("uncut_confirmed_pairs"))
    val perCut = maxDfs.map { m =>
      val frequent = dfTab.filter(col("df") > m).select(col("sh"))
      val pruned = posting.join(broadcast(frequent), Seq("sh"), "left_anti")
      countsOf(candFrom(pruned))
        .select(lit(m).cast("int").as("max_df"),
          col("candidate_pairs"), col("confirmed_pairs"))
    }.reduce(_ unionAll _)
    // 1-row uncut side joined onto the |maxDfs|-row sweep (the bounded
    // 1xN agg-join convention)
    val curve = perCut.crossJoin(uncut)
      .select(col("max_df"), col("candidate_pairs"),
        col("confirmed_pairs"), col("uncut_candidate_pairs"),
        col("uncut_confirmed_pairs"),
        when(col("uncut_confirmed_pairs") === 0L, lit(1.0))
          .otherwise(col("confirmed_pairs").cast("double") /
            col("uncut_confirmed_pairs")).as("recall"))
    (curve, () => {
      releaseLocalCheckpoint(dfTab)
      releaseLocalCheckpoint(shArr)
      releaseLocalCheckpoint(docs)
    })
  }

  /** SimHash near-dup pairs: 32-bit simhash over word unigrams, byte
    * banding (hamming <= 3 implies >= 1 equal byte, by pigeonhole), exact
    * hamming filter. Returns (a, b, hamming).
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, partitions: Int = 0): DataFrame = {
    require(maxHamming <= 3,
      "byte banding only guarantees recall for hamming <= 3 of 32 bits")
    val docs = staged(df, idCol, textCol, partitions)
    val sig = TextKernels.simhash32(df.sparkSession, docs).pin()
    val bytes = sig.select(col("doc_id"), col("simhash"), explode(array(
        (0 until 4).map(c => struct(
          lit(c).as("pos"),
          shiftright(col("simhash"), c * 8).bitwiseAND(lit(255)).as("byte"))): _*))
      .as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.pos"), col("bb.byte"))
    bytes.as("x").join(bytes.as("y"),
        col("x.pos") === col("y.pos") && col("x.byte") === col("y.byte")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.simhash").as("sim_a"), col("y.simhash").as("sim_b")).distinct()
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** [[simhashNearDups]] with a hot-bucket guard — but NOT the star-edge
    * delegation [[minhashNearDupsCapped]] uses, which would be UNSOUND
    * here: the byte-bucket keyspace is only 4 × 256 keys, so buckets
    * saturate from corpus size alone (~N/256 docs per key at any
    * N ≳ 256 × cap) and co-residents of a saturated byte bucket are
    * mostly NON-duplicates — star edges would weld the corpus into
    * ≤ 1024 garbage clusters. The sound resolution uses the signature
    * the buckets index: within a saturated bucket, members COLLAPSE by
    * their full 32-bit simhash (equality there is hamming 0 — an exact
    * verified relation in a 2³²-key space), each group emitting
    * (rep = min id → member, hamming 0) edges, and only the DISTINCT-
    * simhash representatives enter the pair join. Equal-simhash docs
    * are interchangeable for hamming, so cluster resolution over this
    * output is EXACTLY [[simhashNearDups]]'s — not probabilistic like
    * the minhash guard — while the boilerplate pathology (m identical
    * docs) costs m collapse rows instead of C(m, 2) pairs.
    *
    * Returns (a, b, hamming, saturated): sub-cap pairs carry
    * saturated = false; collapse edges and representative pairs carry
    * saturated = true (member↔member and member↔other-rep pairs are
    * implied through the representative — the output is for CLUSTER
    * resolution, [[connectedComponents]]/[[canonicalSelection]]). Each
    * (a, b) surfaces exactly once — a pair sharing a sub-cap AND a
    * saturated bucket keeps its verified row only (the family-wide
    * pair-uniqueness contract). With
    * `maxOccupancy` at or above the max bucket occupancy this returns
    * exactly [[simhashNearDups]]'s rows (PipelineOpsSpec pins it).
    *
    * STRUCTURAL BOUND, stated honestly: after the collapse the pair
    * join is quadratic in the distinct-simhash occupancy of saturated
    * buckets, and byte banding cannot shrink that (1024 keys total).
    * A corpus whose saturated buckets hold many DISTINCT simhashes —
    * genuinely diverse data at N ≫ 256 × cap — has outgrown 32-bit
    * byte-banded SimHash itself; use [[minhashNearDupsCapped]] (an
    * unbounded band keyspace) at that scale.
    */
  def simhashNearDupsCapped(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxOccupancy: Int = 1000,
      partitions: Int = 0): DataFrame = {
    require(maxHamming <= 3,
      "byte banding only guarantees recall for hamming <= 3 of 32 bits")
    val docs = staged(df, idCol, textCol, partitions)
    val sig = TextKernels.simhash32(df.sparkSession, docs).pin()
    val bytes = sig.select(col("doc_id"), col("simhash"), explode(array(
        (0 until 4).map(c => struct(
          lit(c).as("pos"),
          shiftright(col("simhash"), c * 8).bitwiseAND(lit(255)).as("byte"))): _*))
      .as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.pos"), col("bb.byte"))
    val satKeys = bytes.groupBy(col("pos"), col("byte"))
      .agg(count(lit(1)).as("m")).filter(col("m") > maxOccupancy)
      .select(col("pos"), col("byte")).pin()
    // nothing saturates (the common case a well-chosen cap buys):
    // skip the collapse machinery entirely — its group table would
    // otherwise cost an eager corpus-keyed aggregation pass even over
    // zero saturated rows
    val saturationPresent = satKeys.head(1).nonEmpty
    val sub = if (saturationPresent)
      bytes.join(broadcast(satKeys), Seq("pos", "byte"), "left_anti")
    else bytes
    def hammingPairs(rows: DataFrame, idC: String, sat: Boolean)
        : DataFrame =
      rows.as("x").join(rows.as("y"),
          col("x.pos") === col("y.pos") && col("x.byte") === col("y.byte")
            && col(s"x.$idC") < col(s"y.$idC"))
        .select(col(s"x.$idC").as("a"), col(s"y.$idC").as("b"),
          col("x.simhash").as("sim_a"), col("y.simhash").as("sim_b"))
        .distinct()
        .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)").cast("int"))
        .filter(col("hamming") <= maxHamming)
        .select(col("a"), col("b"), col("hamming"),
          lit(sat).as("saturated"))
    val verifiedLazy = hammingPairs(sub, "doc_id", sat = false)
    if (!saturationPresent) return verifiedLazy
    // pinned: consumed by the union AND the saturated-face anti-joins
    // below (the family-wide pair-uniqueness contract — each (a, b)
    // surfaces once, as its verified row when one exists; ADVICE item)
    val verified = verifiedLazy.pin()
    def distinctFromVerified(pairs: DataFrame): DataFrame =
      pairs.join(verified.select(col("a"), col("b")), Seq("a", "b"),
        "left_anti")
    val satRows = bytes.join(broadcast(satKeys), Seq("pos", "byte"))
    val groups = satRows
      .groupBy(col("pos"), col("byte"), col("simhash"))
      .agg(min(col("doc_id")).as("rep"))
      .pin()
    val collapse = satRows.join(groups, Seq("pos", "byte", "simhash"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("a"), col("doc_id").as("b"),
        lit(0).cast("int").as("hamming"), lit(true).as("saturated"))
      .distinct()
    val repPairs = hammingPairs(
      groups.select(col("rep"), col("simhash"), col("pos"), col("byte")),
      "rep", sat = true)
    verified.unionByName(distinctFromVerified(collapse))
      .unionByName(distinctFromVerified(repPairs))
  }
}
