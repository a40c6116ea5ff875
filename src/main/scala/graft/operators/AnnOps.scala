package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.functions.dot_i64
import org.apache.spark.sql.types.DecimalType
import graft.core.Pins.PinnedDataset
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD

/** Nearest-neighbor / embedding-similarity operators. Vectors are any
  * numeric `array` column; internally they are quantized to scaled longs
  * (`round(x * 1e6)`) so dot products are EXACT integer sums via the
  * native codegen'd [[dot_i64]] expression, with one final double
  * division — bit-reproducible and allocation-free in the hot loop.
  */
object AnnOps {

  /** (id, c: array<long> scaled components, nrm: double) staged + pinned. */
  def scaled(df: DataFrame, idCol: String, vecCol: String,
      partitions: Int = 0): DataFrame =
    scaledImpl(df, idCol, vecCol, None, partitions)

  /** ONE staging pipeline for the plain and keyed spellings (an
    * optional metadata column rides along, cast to string so one typed
    * kernel serves every key type — string-cast equality matches native
    * equality for the scalar metadata keys a filter targets). A single
    * body so the quantization scale / partitioning / norm arithmetic
    * cannot drift between the two.
    */
  private[graft] def scaledImpl(df: DataFrame, idCol: String, vecCol: String,
      keyCol: Option[String], partitions: Int): DataFrame = {
    val head = Seq(col(idCol).cast("long").as("id"),
      transform(col(vecCol),
        x => round(x.cast("double") * lit(1000000.0)).cast("long")).as("c"))
    val key = keyCol.map(k => col(k).cast("string").as("key")).toSeq
    val out = Seq(col("id"), col("c")) ++ keyCol.map(_ => col("key")).toSeq
    df.select(head ++ key: _*)
      .repartition(Parts.of(df, partitions), col("id"))
      .select(out :+ sqrt(dot_i64(col("c"), col("c")).cast("double") /
        lit(1.0e12)).as("nrm"): _*)
      .pin()
  }

  /** Exact cosine between two staged sides, as a Column expression. */
  private[graft] def cosine(xc: Column, xn: Column, yc: Column, yn: Column): Column =
    (dot_i64(xc, yc).cast("double") / lit(1.0e12)) / (xn * yn)

  /** Directed k-nearest-neighbor graph over ALL vectors — the clustering
    * / near-dup primitive. The `blocks x blocks` grid turns all-pairs
    * into an equi-join (parallel everywhere, no single-task nested
    * loop); per-source top-k via window. At 100 TB substitute an ANN
    * candidate pass ([[DedupOps.minhashNearDups]]-style buckets or IVF)
    * feeding the identical re-rank.
    * Returns (src, neighbor_id, cosine, rank), rank <= k.
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
      blocks: Int = 16, partitions: Int = 0): DataFrame =
    knnFromStaged(scaled(df, idCol, vecCol, partitions), k, blocks)

  private def knnFromStaged(v: DataFrame, k: Int, blocks: Int): DataFrame = {
    val s = v.sparkSession
    val grid = s.createDataFrame(
      for { i <- 0 until blocks; j <- 0 until blocks } yield (i, j))
      .toDF("bx", "by")
    val x = v.select(pmod(col("id"), lit(blocks)).cast("int").as("xblk"),
      col("id").as("xid"), col("c").as("xc"), col("nrm").as("xnrm"))
    val y = v.select(pmod(col("id"), lit(blocks)).cast("int").as("yblk"),
      col("id").as("yid"), col("c").as("yc"), col("nrm").as("ynrm"))
    val pairs = grid
      .join(x, col("bx") === col("xblk"))
      .join(y, col("by") === col("yblk"))
      .filter(col("xid") =!= col("yid"))
      .select(col("xid").as("src"), col("yid").as("neighbor_id"),
        cosine(col("xc"), col("xnrm"), col("yc"), col("ynrm")).as("cosine"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[knnGraph]] by broadcast kernel: when the (quantized) corpus fits
    * in executor memory (~80 bytes/vector/dim — low GBs up to ~10M
    * vectors x 64 dims), broadcast it once and compute each source row's
    * top-k in a tight primitive loop per partition: no pair
    * materialization, no shuffle except the final rows, and the dot
    * products run at memory bandwidth. Beyond broadcast size, use
    * [[knnGraph]] (grid join) or an ANN candidate pass + re-rank.
    * Ordering and arithmetic are bit-identical to [[knnGraph]]: exact
    * integer dots, same double expression, ties broken id-ascending.
    */
  def knnGraphBroadcast(df: DataFrame, idCol: String, vecCol: String,
      k: Int, partitions: Int = 0): DataFrame =
    knnBroadcastFromStaged(scaled(df, idCol, vecCol, partitions), k)

  /** [[knnGraphBroadcast]] below a size gate, [[knnGraphLsh]] above it:
    * the corpus footprint is measured (count x dim over the staged,
    * pinned table — cheap) and the EXACT broadcast kernel is used only
    * when it fits under `maxBroadcastBytes`; above the gate the
    * sign-LSH candidate graph runs instead — a bucketed equi-join +
    * O(candidates) verify, never a full-corpus pair join (the old
    * above-gate fallback was the blocked exact grid: correct but
    * O(N^2) dots however you block it, which no gate can save at
    * 100 TB). The gate therefore changes RESULTS, not just the plan:
    * below it the graph is exact; above it recall is partial and
    * documented on [[knnGraphLsh]] (tune rowsPerBand/bands there and
    * call it directly to control the trade). Callers needing the exact
    * graph beyond broadcast scale spell it explicitly via [[knnGraph]]
    * and pay the quadratic cost knowingly. This mirrors the contract of
    * Spark's own BroadcastExchangeExec — driver-side materialization is
    * legal only under a hard size cap — but degrades to the scalable
    * spelling instead of failing.
    *
    * Which side of the gate ran is SURFACED, not silent: every output
    * row carries `is_approx` (false = exact kernel, true = LSH partial
    * recall), so a downstream consumer — or an audit six months later —
    * can tell whether a neighbor list is ground truth without re-running
    * the size measurement.
    */
  def knnGraphAuto(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxBroadcastBytes: Long = 512L << 20, rowsPerBand: Int = 4,
      bands: Int = 16, partitions: Int = 0): DataFrame = {
    val v = scaled(df, idCol, vecCol, partitions)
    val (n, dim) = {
      val r = v.agg(count(lit(1)), max(size(col("c")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1))
    }
    // array header + 8B/component + row object overhead, per vector
    val estBytes = n * (dim.toLong * 8 + 64)
    if (estBytes <= maxBroadcastBytes)
      knnBroadcastFromStaged(v, k).withColumn("is_approx", lit(false))
    else
      knnLshFromStaged(v, k, rowsPerBand, bands)
        .withColumn("is_approx", lit(true))
  }

  private def knnBroadcastFromStaged(v: DataFrame, k: Int): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    val corpus = v.select(col("id"), col("c"), col("nrm"))
      .as[(Long, Array[Long], Double)].collect().sortBy(_._1)
    val bc = s.sparkContext.broadcast(corpus)
    v.as[(Long, Array[Long], Double)].mapPartitions { it =>
      val cand = bc.value
      it.flatMap { case (id, c, nrm) =>
        // top-k by (cosine desc, id asc): sorted insertion, k is small
        val topId = new Array[Long](k)
        val topCos = new Array[Double](k)
        var filled = 0
        var j = 0
        while (j < cand.length) {
          val (cid, cc, cnrm) = cand(j)
          if (cid != id) {
            var dot = 0L
            var i = 0
            val n = math.min(c.length, cc.length)
            while (i < n) { dot += c(i) * cc(i); i += 1 }
            val cos = (dot.toDouble / 1.0e12) / (nrm * cnrm)
            // insert position: after every kept entry that beats (cos, cid)
            var p = filled
            while (p > 0 && (topCos(p - 1) < cos ||
                (topCos(p - 1) == cos && topId(p - 1) > cid))) p -= 1
            if (p < k) {
              val last = math.min(filled, k - 1)
              var m = last
              while (m > p) { topId(m) = topId(m - 1); topCos(m) = topCos(m - 1); m -= 1 }
              topId(p) = cid
              topCos(p) = cos
              if (filled < k) filled += 1
            }
          }
          j += 1
        }
        (0 until filled).iterator.map(r => (id, topId(r), topCos(r), r + 1))
      }
    }.toDF("src", "neighbor_id", "cosine", "rank")
  }

  /** (id, band, code) sign-LSH band signatures of a staged corpus —
    * the shared candidate-generation primitive of [[cosineNearDupsLsh]]
    * and [[knnGraphLsh]]. Hyperplane component hp_{k,i}: md5-derived
    * integer in [-2^31, 2^31) — the same construction s03 proved
    * bit-identical across engines. Signatures are computed in a
    * compiled per-partition kernel: the declarative spelling
    * (posexplode x broadcast-join x two hash aggs) materializes
    * |corpus| x 64 x np intermediate rows — 327M rows at sf0.1 — whose
    * allocation pressure dominated the whole bench JVM. The kernel is
    * the identical integer arithmetic (plane dot as i64 sum, sign bit
    * per plane, rowsPerBand bits per band code), one pass, zero
    * shuffle, ~np*64 multiplies per vector. Result is pinned
    * (localCheckpoint): every caller self-joins it.
    */
  /** The deterministic sign-LSH hyperplane component hp_{k,i}:
    * md5("k:i") first 4 bytes as an unsigned int, minus 2^31 — ONE
    * definition shared by the signature kernels and the `graft_planes`
    * SQL table function (GraftExtensions), so the TVF can never drift
    * from the buckets it claims to reproduce. `md` is reset by digest().
    */
  def hyperplane(md: java.security.MessageDigest, k: Int, i: Int): Long = {
    val hex = md.digest(s"$k:$i".getBytes("UTF-8")).take(4)
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) - 2147483648L
  }

  /** The md5-derived hyperplane grid for `np` planes over <= 64 dims. */
  private def bandPlanes(np: Int): Array[Array[Long]] =
    Array.tabulate(np) { k =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(64)(i => hyperplane(md, k, i))
    }

  /** Per-band sign codes of one vector: bit j of band b is the sign of
    * the exact integer dot with plane b*rpb+j. Shared by the plain and
    * key-scoped signature kernels so the arithmetic cannot drift.
    */
  private def bandCodesOf(planes: Array[Array[Long]], rpb: Int, nb: Int,
      c: Array[Long]): Array[Long] = {
    val codes = new Array[Long](nb)
    val np = rpb * nb
    var k = 0
    while (k < np) {
      val hp = planes(k)
      var pd = 0L
      var i = 0
      val n = math.min(c.length, 64)
      while (i < n) { pd += c(i) * hp(i); i += 1 }
      if (pd >= 0) codes(k / rpb) |= (1L << (k % rpb))
      k += 1
    }
    codes
  }

  /** ONE signature kernel for the plain (id, band, code) and keyed
    * (id, key, band, code) spellings: the unkeyed path rides through
    * with an empty key that is dropped before the checkpoint, so the
    * plane-dot / null-guard / band-emit behavior cannot drift between
    * the two.
    */
  private def signLshSignaturesImpl(v: DataFrame, rowsPerBand: Int,
      bands: Int, keyed: Boolean): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    val planes = bandPlanes(rowsPerBand * bands)
    val rpb = rowsPerBand
    val nb = bands
    val src = if (keyed) v.select(col("id"), col("key"), col("c"))
      else v.select(col("id"), lit("").as("key"), col("c"))
    val out = src.as[(Long, String, Seq[Long])]
      .mapPartitions { it =>
        it.flatMap { case (id, key, cSeq) =>
          // Degenerate vectors (null / empty arrays) get NO signature —
          // the same behavior as the old declarative posexplode spelling
          // (and the d05 oracle): they can never appear as candidates.
          // Without this guard a null array NPEs and two empty arrays
          // collide in every band and verify at 0/0 = NaN cosine, which
          // Spark's NaN ordering treats as >= threshold.
          if (cSeq == null || cSeq.isEmpty) Iterator.empty
          else {
            val codes = bandCodesOf(planes, rpb, nb, cSeq.toArray)
            (0 until nb).iterator.map(b => (id, key, b, codes(b)))
          }
        }
      }.toDF("id", "key", "band", "code")
    (if (keyed) out else out.drop("key")).pin()
  }

  private def signLshSignatures(v: DataFrame, rowsPerBand: Int,
      bands: Int): DataFrame =
    signLshSignaturesImpl(v, rowsPerBand, bands, keyed = false)

  /** [[knnGraph]] with sign-LSH candidate generation instead of the
    * all-pairs grid — the true 100 TB kNN-graph spelling: candidates
    * are the pairs whose [[signLshSignatures]] collide on >= 1 band
    * (a bucketed equi-join), verification is one exact [[dot_i64]]
    * cosine per candidate, and the per-source top-k window ranks only
    * candidates. Nothing ever touches all pairs.
    *
    * RECALL IS PARTIAL like [[cosineNearDupsLsh]]: a true neighbor
    * absent from every shared band is invisible, and a source whose
    * signatures collide with fewer than k others returns fewer than k
    * rows. Defaults favor recall (short 4-bit bands, so per-band
    * collision is common) — on the isotropic test corpus at defaults
    * this measures ~0.9+ top-k recall vs the exact graph with ~2-3x
    * pair pruning; clustered real embeddings prune much harder
    * (background pairs collide at (1/2)^rowsPerBand per band).
    * PipelineOpsSpec measures recall and asserts the subset/ordering
    * contract.
    */
  def knnGraphLsh(df: DataFrame, idCol: String, vecCol: String, k: Int,
      rowsPerBand: Int = 4, bands: Int = 16,
      partitions: Int = 0): DataFrame =
    knnLshFromStaged(scaled(df, idCol, vecCol, partitions), k,
      rowsPerBand, bands)

  private def knnLshFromStaged(v: DataFrame, k: Int, rowsPerBand: Int,
      bands: Int): DataFrame = {
    val sig = signLshSignatures(v, rowsPerBand, bands)
    val cand = sig.as("x").join(sig.as("y"),
        col("x.band") === col("y.band") && col("x.code") === col("y.code")
          && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("src"), col("y.id").as("neighbor_id"))
      .distinct()
    val xs = v.select(col("id").as("src"), col("c").as("xc"),
      col("nrm").as("xnrm"))
    val ys = v.select(col("id").as("neighbor_id"), col("c").as("yc"),
      col("nrm").as("ynrm"))
    val pairs = cand.join(xs, Seq("src")).join(ys, Seq("neighbor_id"))
      .select(col("src"), col("neighbor_id"),
        cosine(col("xc"), col("xnrm"), col("yc"), col("ynrm")).as("cosine"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[scaled]] carrying a metadata filter key through staging —
    * delegates to the shared [[scaledImpl]] body. */
  private def scaledKeyed(df: DataFrame, idCol: String, vecCol: String,
      keyCol: String, partitions: Int): DataFrame =
    scaledImpl(df, idCol, vecCol, Some(keyCol), partitions)

  /** [[signLshSignatures]] over a keyed staging: (id, key, band, code)
    * from the shared kernel, so candidate generation can require key
    * equality IN the band join. */
  private def signLshSignaturesKeyed(v: DataFrame, rowsPerBand: Int,
      bands: Int): DataFrame =
    signLshSignaturesImpl(v, rowsPerBand, bands, keyed = true)

  /** FILTERED approximate vector search — "top-k WHERE metadata
    * matches" with LSH candidate generation SCOPED BY the filter key:
    * the band join key is (key, band, code), so a corpus row is a
    * candidate only when it shares the query's key AND collides on
    * >= 1 band. This composes the s12 lesson (POST-filtering a k-list
    * loses recall — the filter must precede scoring) with the s03
    * lesson (exact scoring of the matching subset is brute force —
    * candidates must come from an index): cost is
    * O(matching-subset collisions), never the filtered brute-force
    * scan and never a pair grid. Verification is the exact scaled-long
    * cosine of candidates only; top-k per query by (cosine desc, id
    * asc).
    *
    * RECALL IS PARTIAL within the filter subset exactly like
    * [[knnGraphLsh]] (P(catch) = 1-(1-(1-theta/pi)^rows)^bands per
    * pair); PipelineOpsSpec measures recall@k against the exact
    * filtered ground truth and asserts the subset/key contract. Rows
    * with a NULL key never match any query (SQL equality semantics of
    * the pre-filter they replace).
    *
    * `probeBits` is the band-axis recall dial — the [[filteredTopKIvf]]
    * nprobe treatment for LSH (standard multi-probe): each query band
    * additionally probes every code within Hamming distance ≤ T of its
    * own (a near-miss on one sign bit is the most likely way a true
    * neighbor escapes a band), via a broadcast
    * Σ_{t≤T} C(rowsPerBand, t)-row XOR-mask table crossed against the
    * query signatures — query-bounded × mask-bounded, never
    * corpus-sized, and the corpus-side index is untouched (probing is
    * free at index-build time, the multi-probe selling point). T = 0
    * is EXACTLY the single-probe search (the s13 oracle); T =
    * rowsPerBand probes every code, so each band matches every
    * same-key row and the result is the exact filtered brute force —
    * the same construction ceiling as nprobe = cells (s20's oracle).
    * Recall is non-decreasing in T (supersets of codes);
    * PipelineOpsSpec sweeps the curve on both corpus shapes against
    * the same exact truth as the IVF dial.
    *
    * Returns (qid, neighbor_id, cosine, rank), rank <= k.
    */
  def filteredTopKLsh(df: DataFrame, idCol: String, vecCol: String,
      keyCol: String, isQuery: Column => Column, k: Int,
      rowsPerBand: Int = 4, bands: Int = 8,
      partitions: Int = 0, probeBits: Int = 0): DataFrame = {
    require(k >= 1, s"filteredTopKLsh: k=$k")
    require(probeBits >= 0 && probeBits <= rowsPerBand,
      s"filteredTopKLsh: probeBits=$probeBits not in [0, $rowsPerBand]")
    val s = df.sparkSession
    val v = scaledKeyed(df, idCol, vecCol, keyCol, partitions)
    val sig = signLshSignaturesKeyed(v, rowsPerBand, bands)
    val qsigBase = sig.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("key"), col("band"), col("code"))
    val qsig =
      if (probeBits == 0) qsigBase
      else {
        // enumerate bit COMBINATIONS, not the 2^rowsPerBand integer
        // range: an Int-shift scan breaks silently at rowsPerBand >=
        // 31 (1 << 31 overflows, emptying or no-op-ing the dial with
        // zero rows and no error — REVIEW) and wastes 2^r driver work
        // picking C(r, <=T) masks at wide bands; combinations are
        // exact at any rowsPerBand the 64-bit band code supports
        val masks = (0 to probeBits).flatMap(t =>
          (0 until rowsPerBand).combinations(t).map(bits =>
            Tuple1(bits.foldLeft(0L)((m, b) => m | (1L << b)))))
        val mdf = s.createDataFrame(masks).toDF("mask")
        qsigBase.crossJoin(broadcast(mdf))
          .select(col("qid"), col("key"), col("band"),
            col("code").bitwiseXOR(col("mask")).as("code"))
      }
    // queries are few (the s01/s03 convention): broadcast the query
    // bands against the corpus signature index — a key-scoped equi-join,
    // map-side at any corpus size
    val cand = broadcast(qsig)
      .join(sig, Seq("key", "band", "code"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id")).distinct()
    rerankCandidates(v, cand, isQuery, k)
  }

  /** Exact cosine re-rank of a (qid, id) candidate table against the
    * staged corpus: top-k per query by (cosine desc, id asc). ONE body
    * shared by the filtered-ANN spellings so the scoring arithmetic
    * and tie-break cannot drift between them (the scaledImpl
    * discipline). Both lookup tables broadcast: the query vectors are
    * query-bounded (the s01 convention), and the candidate table is
    * queries × probed-occupancy — broadcasting it keeps the corpus
    * vector table UNSHUFFLED (the join is a map-side probe of the
    * pinned staging). The hint is a deliberate trade: it cannot fall
    * back past the broadcast limit, so it relies on the few-queries
    * contract; the face where candidates genuinely reach corpus scale
    * (a boilerplate duplicate class filling one cell, times the ADC
    * fan-out) is [[filteredTopKIvfPq]]'s UNHINTED ADC join, and its
    * rerank input is depth-bounded by construction. A caller putting
    * unbounded queries through the occupancy-sized spellings should
    * cap occupancy first (the hot-cell guard family).
    */
  private def rerankCandidates(v: DataFrame, cand: DataFrame,
      isQuery: Column => Column, k: Int): DataFrame =
    topKByCosine(scoreCandidates(v, cand, isQuery), k)

  /** The scoring half of [[rerankCandidates]]: exact cosines for a
    * (qid, id) candidate table, no ranking — so the capped search can
    * EXPAND representative rows to their group members between
    * scoring and the final top-k. */
  private def scoreCandidates(v: DataFrame, cand: DataFrame,
      isQuery: Column => Column): DataFrame = {
    val qv = v.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("c").as("qc"),
        col("nrm").as("qnrm"))
    // zero-NORM guard (REVIEW): under Spark's default ANSI mode a
    // double division by zero THROWS (DIVIDE_BY_ZERO) — an all-zero
    // vector anywhere in a candidate list would crash the whole query
    // (and with ANSI off, the 0/0 NaN would rank FIRST, which is as
    // wrong). A zero vector has no direction, so its cosine is
    // declared NULL (like a null vector's), sorting to the tail on
    // every path that shares this body; the probe-scoring and ADC
    // divisions carry the same guard.
    broadcast(cand).join(v, Seq("id"))
      .join(broadcast(qv), Seq("qid"))
      .select(col("qid"), col("id").as("neighbor_id"),
        when(col("nrm") > 0 && col("qnrm") > 0,
          cosine(col("qc"), col("qnrm"), col("c"), col("nrm")))
          .as("cosine"))
  }

  /** The ranking half of [[rerankCandidates]]: top-k per query by
    * (cosine desc, neighbor_id asc) — ONE spelling so the tie-break
    * cannot drift between the direct and expanded paths. */
  private def topKByCosine(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** FILTERED IVF search — the OTHER composition of a metadata
    * pre-filter with candidate generation (s13/[[filteredTopKLsh]] is
    * the band-scoped spelling): corpus rows are clustered once by the
    * deterministic Lloyd kernel, and a row is a candidate for a query
    * iff it shares the query's CELL and its FILTER KEY — a (cell, key)
    * equi-join, so cost is O(matching rows in the query's cell), never
    * the filtered brute force and never a pair grid. The trade vs the
    * band spelling: one shared cluster structure (reusable across
    * queries and filters, the s02 IVF asset) and recall loss only at
    * cell boundaries, vs per-corpus signature bands and recall loss
    * from band non-collision; PipelineOpsSpec measures both against
    * the same exact filtered ground truth. Exact scaled-long cosine
    * re-rank of candidates only; rows with NULL keys never match (SQL
    * equality semantics). Returns (qid, neighbor_id, cosine, rank).
    *
    * `nprobe` is the standard IVF recall dial: search the query's
    * top-P cells BY CENTROID SCORE instead of only its own. Rank 1 is
    * the query's own assignment (same exact integer-dot argmax, ties
    * cell-ascending — [[kmeans]]'s contract, parity
    * pinned by PipelineOpsSpec), so nprobe = 1 is EXACTLY the
    * single-cell search and higher P strictly widens the candidate
    * set: cost grows ~linearly in P (P (cell, key) probes per query),
    * recall climbs toward the filtered brute force — on unclustered
    * data, where single-cell recall is weakest (measured 0.43
    * isotropic vs 1.00 clustered at P = 1), the curve is steepest.
    * The probe scoring is one broadcast of the query vectors against
    * the k-row centroid table — map-side, centroid-table-sized, never
    * corpus-sized.
    *
    * `maxCellOccupancy` is the hot-cell guard for SEARCH — the last
    * face of the boilerplate quadratic: a mass-duplicate class embeds
    * identically, shares one argmax cell at any `cells` setting, and
    * makes every probe of that (cell, key) cost its full membership m.
    * At the cap, saturated (cell, key) members collapse by
    * [[fullVecSig]]; only each group's REPRESENTATIVE is scored, and
    * a representative that ranks expands back to its group's k+1
    * smallest ids. Unlike the dedup guards this is BIT-PARITY, not an
    * equivalence: signature equality means identical scaled
    * components, so every member's cosine to any query is the
    * IDENTICAL double, the uncapped top-k breaks those exact ties
    * id-ascending, and no member beyond a group's k+1 smallest ids
    * (self-exclusion worst case) can ever surface — capped output ==
    * uncapped output row-for-row at ANY k/nprobe (PipelineOpsSpec;
    * the s23 oracle is the UNCAPPED spelling — the
    * equivalence-by-shared-oracle gate). Null / zero-norm rows in a
    * saturated (cell, key) bypass the collapse as direct candidates
    * (a shared null signature would weld them; uncapped they surface
    * with null cosine at the tail, and parity keeps that). Probe cost
    * in a saturated (cell, key) drops from m to
    * (distinct signatures + k).
    */
  def filteredTopKIvf(df: DataFrame, idCol: String, vecCol: String,
      keyCol: String, isQuery: Column => Column, k: Int,
      cells: Int = 16, iters: Int = 2, nprobe: Int = 1,
      partitions: Int = 0,
      maxCentroidBytes: Long = DefaultMaxCentroidBytes,
      maxCellOccupancy: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, s"filteredTopKIvf: k=$k")
    require(cells >= 1, s"filteredTopKIvf: cells=$cells")
    require(nprobe >= 1, s"filteredTopKIvf: nprobe=$nprobe")
    require(maxCellOccupancy >= 1,
      s"filteredTopKIvf: maxCellOccupancy=$maxCellOccupancy")
    val staged = scaledImpl(df, idCol, vecCol, Some(keyCol), partitions)
    val keys = staged.select(col("id"), col("key"))
    val v = withRawNorm(staged)
    val (members, cent, _) = kmeans(v, cells, iters, maxCentroidBytes)
    val keyed = members.join(keys, Seq("id"))
    val qside = ivfProbeSide(v, keys, keyed, cent, isQuery, nprobe)
    // queries are few (the s01/s03 convention): broadcast the query
    // (cell, key) pairs against the clustered corpus — map-side at any
    // corpus size. No distinct needed at any nprobe: a corpus row
    // belongs to exactly ONE cell, so (qid, id) can match at most once
    // even when a query probes several cells.
    if (maxCellOccupancy == Int.MaxValue) {
      val cand = keyed.join(broadcast(qside), Seq("cell", "key"))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id"))
      rerankCandidates(v, cand, isQuery, k)
    } else {
      // occupancy counted per (cell, KEY) — the probe's actual cost
      // key; saturated pairs are ≤ rows/cap, broadcastable
      val satCK = keyed.groupBy(col("cell"), col("key"))
        .agg(count(lit(1)).as("m")).filter(col("m") > maxCellOccupancy)
        .select(col("cell"), col("key")).pin()
      val vecs = v.select(col("id"), col("c"), col("nrm"))
      // collapse machinery scoped to PROBED (cell, key) pairs only —
      // signature-hashing and window-ranking saturated groups no
      // query probes would be corpus-sized wasted work on a corpus
      // with many boilerplate classes and few queries (REVIEW)
      val probedCK = qside.select(col("cell"), col("key")).distinct()
      val satRows = keyed.join(broadcast(satCK), Seq("cell", "key"))
        .join(broadcast(probedCK), Seq("cell", "key"), "left_semi")
        .join(vecs, Seq("id"))
      // direct candidates: every sub-cap row, plus saturated rows that
      // cannot join a signature group (null / zero norm — uncapped
      // they are ordinary candidates with null cosine)
      val candDirect = keyed
        .join(broadcast(satCK), Seq("cell", "key"), "left_anti")
        .join(broadcast(qside), Seq("cell", "key"))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id"))
        .unionByName(satRows
          .filter(col("c").isNull || !(col("nrm") > 0))
          .join(broadcast(qside), Seq("cell", "key"))
          .filter(col("id") =!= col("qid"))
          .select(col("qid"), col("id")))
      // saturated face: per exact-signature group keep the k+1
      // smallest ids (the expansion budget: at most k can rank, plus
      // one slot in case the query itself is a group member)
      val wg = Window.partitionBy(col("cell"), col("key"), col("fsig"))
        .orderBy(col("id").asc)
      val heads = satRows.filter(col("c").isNotNull && col("nrm") > 0)
        .withColumn("fsig", fullVecSig(col("c")))
        .select(col("cell"), col("key"), col("fsig"), col("id"))
        .withColumn("rn", row_number().over(wg))
        .filter(col("rn") <= k + 1)
        .pin()
      val reps = heads.filter(col("rn") === 1)
      // the representative is scored even when it IS the query (it
      // stands for the whole group); expansion swaps in the members
      // and drops the query itself
      val candRep = reps.join(broadcast(qside), Seq("cell", "key"))
        .select(col("qid"), col("id"))
      val headMembers = heads
        .join(reps.select(col("cell"), col("key"), col("fsig"),
          col("id").as("rep")), Seq("cell", "key", "fsig"))
        .select(col("rep"), col("id").as("member_id"))
      // no hint: headMembers is (k+1) × #distinct-signature groups,
      // which a diverse saturated cell can grow corpus-scale — AQE
      // broadcasts the common small case and shuffles past the limit
      val expanded = scoreCandidates(v, candRep, isQuery)
        .join(headMembers, col("neighbor_id") === col("rep"))
        .filter(col("member_id") =!= col("qid"))
        .select(col("qid"), col("member_id").as("neighbor_id"),
          col("cosine"))
      val out = topKByCosine(
        scoreCandidates(v, candDirect, isQuery).unionByName(expanded),
        k).pin()
      DedupOps.releaseLocalCheckpoint(heads)
      DedupOps.releaseLocalCheckpoint(satCK)
      out
    }
  }

  /** The (qid, cell, key) probe side shared by [[filteredTopKIvf]] and
    * [[filteredTopKIvfPq]] — factored so the nprobe semantics cannot
    * drift between the exact-rerank and PQ spellings. At nprobe = 1 it
    * is the query's own member assignment; at P > 1, the query's top-P
    * cells by the SAME scoring arithmetic the assignment kernel uses
    * (exact dot_i64 over raw norms, score desc with NaN greatest,
    * cell-ascending ties) against the centroid table the final
    * assignment scored — so rank 1 reproduces the member cell and
    * P > 1 only adds cells. The cross join is |queries| × k rows:
    * query-bounded × centroid-bounded, never corpus-sized. */
  private def ivfProbeSide(v: DataFrame, keys: DataFrame,
      keyed: DataFrame, cent: DataFrame, isQuery: Column => Column,
      nprobe: Int): DataFrame =
    if (nprobe == 1)
      keyed.filter(isQuery(col("id")))
        .select(col("id").as("qid"), col("cell"), col("key"))
    else {
      val qv = v.filter(isQuery(col("id")))
        .select(col("id").as("qid"), col("c").as("qc"),
          col("nrmr").as("qnrmr"))
      // zero-norm guard (REVIEW): under Spark's default ANSI mode a
      // double division by zero THROWS (DIVIDE_BY_ZERO), so a
      // zero-norm query or a zero centroid would crash the probe;
      // the when() short-circuits per row, the null score sorts last
      // (desc NULLS LAST), and a zero-norm query degrades to probing
      // the first P cells by id — deterministic, never a crash
      val scored = cent.crossJoin(broadcast(qv))
        .select(col("qid"), col("cell"),
          when(col("qnrmr") > 0 && col("cnrmr") > 0,
            dot_i64(col("qc"), col("cc")).cast("double") /
              (col("qnrmr") * col("cnrmr"))).as("score"))
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("cell").asc)
      scored.withColumn("pr", row_number().over(wq))
        .filter(col("pr") <= nprobe)
        .select(col("qid"), col("cell"))
        .join(broadcast(keys.filter(isQuery(col("id")))
          .select(col("id").as("qid"), col("key"))), Seq("qid"))
    }

  /** The IVF cells and the pqM L2 codebooks of one IVF-PQ corpus, the
    * training both IVF-PQ builders share: every quantizer trains in the
    * same [[lloydRounds]] passes at any cell-table size. Returns the
    * (id, cell, codes) membership, the centroid table the final cell
    * assignment scored, each subspace's (code, mean) table, and a thunk
    * that frees the membership and the centroid table — call it once
    * both are consumed.
    */
  private[graft] def trainIvfPq(v: DataFrame, cells: Int, iters: Int,
      pqM: Int, pqKs: Int, pqIters: Int, dim: Int,
      maxCentroidBytes: Long)
      : (DataFrame, DataFrame, Array[Array[(Long, Array[Double])]],
        () => Unit) = {
    require(cells >= 1 && iters >= 1, s"kmeans: k=$cells iters=$iters")
    val (members, cent, means, release) = lloydRounds(v, cells, iters,
      pqM, pqKs, pqIters, (dim + pqM - 1) / pqM, dim, maxCentroidBytes)
    (members, cent, means, () => {
      release()
      DedupOps.releaseLocalCheckpoint(members)
    })
  }

  /** The (m, code, cmean, cn2) codebook table of trained PQ means. */
  private[graft] def codebookTable(s: SparkSession,
      means: Array[Array[(Long, Array[Double])]]): DataFrame =
    s.createDataFrame(means.toSeq.zipWithIndex.flatMap { case (book, m) =>
      book.toSeq.map { case (code, mu) =>
        (m, code, mu.toSeq, mu.map(x => x * x).sum)
      }
    }).toDF("m", "code", "cmean", "cn2")

  /** IVF-PQ — the production memory-scale ANN composition: IVF cells
    * generate candidates (the [[filteredTopKIvf]] (cell, key)
    * equi-join, same `nprobe` dial through [[ivfProbeSide]]), an
    * asymmetric-distance (ADC) scan over PRODUCT-QUANTIZED codes ranks
    * them — M table lookups per candidate instead of a dim-wide dot —
    * and only the top `rerankDepth` per query touch full vectors for
    * the exact cosine re-rank. This is the FAISS IVFADC layout
    * re-expressed relationally: at 100 TB the scan set is the code
    * table (M small ints per vector, ~50× smaller than the raw
    * vectors), full vectors are read only for candidates that survive
    * the ADC cut, and every lookup table is query- or
    * codebook-bounded, broadcast, never corpus-sized.
    *
    * Construction is fully deterministic (the s08 conventions):
    * per-subspace L2 codebooks trained in the SAME [[lloydRounds]]
    * passes as the coarse cells (seeds = the smallest ids'
    * subvectors, exact L2 argmin, ties code-ascending); per-(query, subspace,
    * code) partial dots are exact scaled-long integers over the SUM
    * centroid, divided once by the code's member count (the mean —
    * what reconstruction needs; the sum's population factor would
    * skew rankings across codes). The ADC score approximates cosine
    * against the reconstructed vector: Σ_m pdot_m over the query norm
    * times sqrt(Σ_m |mean_centroid_m|²). The M-way sums run over
    * DECIMAL(38,6)-quantized terms, so they are exact and
    * order-independent — the ADC ordering is deterministic under any
    * shuffle/storage order, which is what lets the durable serve
    * ([[queryIvfPqIndex]]) stay BIT-identical to this inline spelling
    * at tight rerankDepth; emitted cosines are always exact, and the
    * oracle pins the depth-≥-candidates construction where the cut is
    * a no-op.
    *
    * Correctness frame (the s14 construction argument, pinned by the
    * s18 oracle): at nprobe = cells and rerankDepth ≥ every
    * candidate, the candidate set is ALL key-matching rows and the
    * exact re-rank sees all of them, so the result EQUALS the
    * filtered brute force regardless of quantization error; shrinking
    * nprobe/rerankDepth trades recall for cost along two independent
    * dials (recall@k vs plain IVF and LSH at matched candidate cost
    * is measured in PipelineOpsSpec). `rerankDepth` <= 0 defaults to
    * 4k — the standard refine overquery.
    *
    * Returns (qid, neighbor_id, cosine, rank) — exact cosines, rank
    * <= k, identical output contract to the sibling filtered spellings.
    */
  def filteredTopKIvfPq(df: DataFrame, idCol: String, vecCol: String,
      keyCol: String, isQuery: Column => Column, k: Int,
      cells: Int = 16, iters: Int = 2, nprobe: Int = 1,
      pqM: Int = 4, pqKs: Int = 4, pqIters: Int = 2,
      rerankDepth: Int = 0, partitions: Int = 0,
      maxCentroidBytes: Long = DefaultMaxCentroidBytes): DataFrame = {
    require(k >= 1, s"filteredTopKIvfPq: k=$k")
    require(cells >= 1 && nprobe >= 1,
      s"filteredTopKIvfPq: cells=$cells nprobe=$nprobe")
    require(pqM >= 1 && pqKs >= 1 && pqIters >= 1,
      s"filteredTopKIvfPq: pqM=$pqM pqKs=$pqKs pqIters=$pqIters")
    val depth = if (rerankDepth > 0) rerankDepth else 4 * k
    require(depth >= k,
      s"filteredTopKIvfPq: rerankDepth=$depth must be >= k=$k")
    val s = df.sparkSession
    import s.implicits._
    val staged = scaledImpl(df, idCol, vecCol, Some(keyCol), partitions)
    val keys = staged.select(col("id"), col("key"))
    val v = withRawNorm(staged)
    val dim = v.select(size(col("c")).as("d")).filter(col("d") > 0)
      .limit(1).as[Int].collect().headOption.getOrElse(0)
    require(dim >= pqM, s"filteredTopKIvfPq: dim=$dim < pqM=$pqM")
    val dsub = (dim + pqM - 1) / pqM
    // Codebooks train with L2 Lloyd, NOT the cosine kernel the
    // coarse cells use: ADC reconstructs the vector, and cosine
    // routing is magnitude-blind — a tiny noise subvector pointing
    // along a hot centroid's direction would join the hot code and
    // inherit a reconstruction norm it doesn't have, skewing every
    // score that candidate appears in (measured: cross-center
    // impostors at ~0.7 approx-cosine displacing true ~1.0
    // neighbors before this fix). L2 separates by magnitude AND
    // direction — the standard PQ quantizer.
    val (members, cent, means, trainRelease) = trainIvfPq(v, cells, iters,
      pqM, pqKs, pqIters, dim, maxCentroidBytes)
    val keyed = members.select(col("id"), col("cell")).join(keys, Seq("id"))
    val qside = ivfProbeSide(v, keys, keyed, cent, isQuery, nprobe)
    // feeds the ADC join; pinned so the probe side never re-runs per
    // consumer
    val cand = keyed.join(broadcast(qside), Seq("cell", "key"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
      .pin()
    val codes = members.select(col("id"),
      posexplode(col("codes")).as(Seq("m", "code")))
    val books = codebookTable(s, means)
    // the ADC lookup table: queries × codebook — each subspace's
    // partial dot against the MEAN centroid as one sequential
    // zip_with/aggregate fold (per-row deterministic; the M-way sum
    // downstream is DECIMAL(38,6)-quantized, exact and order-free —
    // see the adc aggregate below). The [[queryIvfPqIndex]] spelling.
    val luts = books.crossJoin(broadcast(v.filter(isQuery(col("id")))
        .select(col("id").as("qid"), col("c").as("qc"))))
      .select(col("qid"), col("m"), col("code"),
        aggregate(zip_with(
            expr(s"slice(qc, m * $dsub + 1, $dsub)"), col("cmean"),
            (a, b) => a.cast("double") * b), lit(0.0d),
          (acc, x) => acc + x).as("pdot"))
    val cn2 = books.select(col("m"), col("code"), col("cn2"))
    // ADC scan of the IVF candidates only: M lookup rows per
    // candidate, summed map-side. The LUT/norm tables broadcast
    // (query- or codebook-bounded); the CANDIDATE table gets NO hint —
    // it is query × cell-occupancy sized, and on the boilerplate
    // corpora the hot-cell guard exists for, one cell can hold a
    // corpus-scale duplicate class; an explicit hint never falls back
    // past the broadcast limit (the cosineNearDupsLsh ADVICE), while
    // AQE broadcasts the exactly-sized pinned table under the
    // threshold and shuffles past it
    val qn = v.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("nrmr").as("qnrmr"))
    val adc = cand.join(codes, Seq("id"))
      .join(broadcast(luts), Seq("qid", "m", "code"))
      .join(broadcast(cn2), Seq("m", "code"))
      .groupBy(col("qid"), col("id"))
      .agg(
        // ORDER-INDEPENDENT M-way sums (the t11/drift-audit decimal
        // discipline): a plain double sum over the M subspace terms
        // depends on shuffle arrival order, so the serve and the
        // inline operator could disagree by 1 ulp and flip a tight
        // refine cut (caught by the bit-parity spec when the layout
        // change reordered the stored codes). Quantizing each term to
        // DECIMAL(38,6) — far below any ranking-relevant precision —
        // makes the sum exact and order-free; partial aggregation is
        // preserved (decimal sums combine map-side).
        sum(col("pdot").cast(DecimalType(38, 6))).as("adot"),
        sum(col("cn2").cast(DecimalType(38, 6))).as("an2"))
      .join(broadcast(qn), Seq("qid"))
      .select(col("qid"), col("id"),
        // ANSI zero-norm guard: null approx score sorts last instead
        // of DIVIDE_BY_ZERO crashing the scan (REVIEW)
        when(col("qnrmr") > 0 && col("an2") > 0,
          col("adot").cast("double") / (col("qnrmr") * sqrt(col("an2"))))
          .as("approx_cos"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("approx_cos").desc, col("id").asc)
    val refine = adc.withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= depth)
      .select(col("qid"), col("id"))
    // pin the (k × queries)-sized output and free EVERY per-call
    // staging — the serve-many-batches discipline the durable
    // build/append/query faces already follow (ADVICE: the inline
    // operator used to return a frame lazy over pqM+1 corpus-sized
    // pins it could never release, so a session calling it repeatedly
    // accumulated executor blocks for its lifetime). Callers that are
    // done with the result should releaseLocalCheckpoint it.
    val out = rerankCandidates(v, refine, isQuery, k).pin()
    DedupOps.releaseLocalCheckpoint(cand)
    trainRelease()
    DedupOps.releaseLocalCheckpoint(v)
    DedupOps.releaseLocalCheckpoint(staged)
    out
  }

  /** The one Lloyd loop: every k-means and PQ training runs through it.
    * The cosine IVF cells (`cells` > 0, `iters` rounds) and the pqM L2
    * codebooks of the `dsub`-wide subspaces (`pqKs` codes, `pqIters`
    * rounds) train TOGETHER, one Spark job per round — the MLlib Lloyd
    * step. The cell table, priced at width `dim`, reaches the executors
    * as [[Shards]] of at most `maxCentroidBytes`; the codebooks are
    * always small and travel as one broadcast.
    *
    *  - Seeds: the max(cells, pqKs) smallest-id rows of `v`; seed i is
    *    cell (code) i of every quantizer unless its vector (slice) is
    *    null or empty. When the cell table is one shard, one collect
    *    brings the seed rows to the driver; past that the collect
    *    brings only their ids, and a pass shaped like a round stages
    *    the seed table shard by shard.
    *  - Round: one map pass assigns every row under every quantizer
    *    still training ([[cosineNearest]] for cells, [[l2Nearest]] over
    *    `c[m*dsub, +dsub)` for codes) and emits per-(quantizer, cell)
    *    exact Long component sums and member counts, reduced by key
    *    straight into the shard partitions ([[ShardPartitioner]]) and
    *    staged as the next table's broadcasts ([[stageShards]]), so the
    *    driver holds at most the shards in flight. Long addition
    *    regroups exactly, so neither partitioning nor sharding can
    *    change the next tables: a centroid is its cell's sum with the
    *    exact raw norm; a mean is its code's sum over ALL members, null
    *    and empty slices counted. A cell or code with no non-empty
    *    member vanishes.
    *  - Final pass: each quantizer's last table assigns every row (a
    *    frozen table reproduces its last assignment); that membership
    *    (id, cell, codes: code per subspace) is the one pin.
    *
    * With one shard that is one seed collect, one job per round but the
    * last, and the final pin. Returns the pinned membership — (id, cell)
    * without codebooks, (id, codes) without cells — the (cell, cc,
    * cnrmr) centroid table it was scored against, each subspace's
    * cell-ascending (code, mean) table, and a thunk freeing what the
    * centroid table still reads: nothing with one shard (a driver-built
    * frame), the shard broadcasts past that — call it once every
    * consumer of the table has run. A duplicated id trains as two rows
    * (past one shard, a duplicated seed id seeds one cell with both).
    * A failure destroys every broadcast the loop made.
    */
  private[operators] def lloydRounds(v: DataFrame, cells: Int, iters: Int,
      pqM: Int = 0, pqKs: Int = 0, pqIters: Int = 0, dsub: Int = 0,
      dim: Int = 0, maxCentroidBytes: Long = DefaultMaxCentroidBytes)
      : (DataFrame, DataFrame, Array[Array[(Long, Array[Double])]],
        () => Unit) = {
    val s = v.sparkSession
    val sc = s.sparkContext
    import s.implicits._
    def sliceLen(c: Array[Long], m: Int): Int =
      if (c == null) 0 else math.max(0, math.min(dsub, c.length - m * dsub))
    def books(means: Array[Array[(Long, Array[Double])]]) =
      means.map(_.map { case (code, mu) => (code, mu, mu.map(x => x * x).sum) })
    val perShard = shardCells(dim, maxCentroidBytes)
    val nShards = shardCount(cells, perShard)
    val byShard = new ShardPartitioner(nShards, perShard)
    // one shard's result bytes; the codebook partition is far smaller
    val partBytes =
      math.min(perShard, math.max(1L, cells.toLong)) * centRowBytes(dim)
    val rows = v.select(col("id"), col("c"),
        coalesce(col("nrmr"), lit(Double.NaN)).as("nrmr"))
      .as[(Long, Array[Long], Double)]
    val seedN = math.max(cells, pqKs)
    val means = Array.fill(pqM)(Array.empty[(Long, Array[Double])])
    var cent: Shards = Array.empty
    var bcBooks: Broadcast[Array[Array[(Long, Array[Double], Double)]]] = null
    // one pass's partial sums, reduced into the shards of the next cell
    // table (kept when `newCells`) and the first `newBooks` codebooks
    def fold(partials: RDD[((Int, Long), (Array[Long], Long))],
        newCells: Boolean, newBooks: Int): Unit = {
      val (next, side) = stageShards(
        partials.reduceByKey(byShard, LloydSums.merge _).mapPartitions(
          _.collect { case ((q, k), (cc, n)) if cc.nonEmpty =>
            (q, k, cc, n, if (q < 0) rawNorm(cc) else 0.0) }),
        nShards, partBytes)
      if (newCells) { destroyShards(cent); cent = next }
      else destroyShards(next)
      val byM = side.groupBy(_._1)
      (0 until newBooks).foreach { m =>
        means(m) = byM.getOrElse(m, Array.empty[ShardRow])
          .map(r => (r._2, r._3.map(_.toDouble / r._4)))
      }
    }
    try {
      if (nShards == 1) {
        val seeds = v.select(col("id"), col("c")).orderBy(col("id"))
          .limit(seedN).as[(Long, Array[Long])].collect()
          .sortBy(_._1).map(_._2)
        cent = Array(sc.broadcast(seeds.take(cells).zipWithIndex.collect {
          case (c, i) if c != null && c.nonEmpty => (i.toLong, c, rawNorm(c))
        }))
        (0 until pqM).foreach { m =>
          means(m) = seeds.take(pqKs).zipWithIndex.collect {
            case (c, i) if sliceLen(c, m) > 0 => (i.toLong,
              Array.tabulate(sliceLen(c, m))(j => c(m * dsub + j).toDouble))
          }
        }
      } else {
        val ids = v.select(col("id")).orderBy(col("id")).limit(seedN)
          .as[Long].collect().sorted
        val rank = sc.broadcast(ids.zipWithIndex.toMap)
        try fold(rows.rdd.mapPartitions { it =>
          val rk = rank.value
          val acc = new LloydSums
          it.foreach { case (id, c, _) => rk.get(id).foreach { r =>
            if (r < cells) acc.add(-1, r, c, 0, if (c == null) 0 else c.length)
            if (r < pqKs) (0 until pqM).foreach { m =>
              acc.add(m, r, c, m * dsub, sliceLen(c, m)) }
          } }
          acc.iterator
        }, newCells = true, newBooks = pqM)
        finally rank.destroy()
      }
      for (r <- 1 until math.max(iters, pqIters)) {
        val trainCells = cells > 0 && r < iters
        val trainBooks = if (r < pqIters) pqM else 0
        val cs = if (trainCells) cent else Array.empty[CentShard]
        bcBooks = sc.broadcast(books(means.take(trainBooks)))
        val bb = bcBooks
        fold(rows.rdd.mapPartitions { it =>
          val table = if (trainCells) cs.flatMap(_.value) else null
          val bs = bb.value
          // key (-1, cell) is a coarse cell, (m, code) a subspace code
          val acc = new LloydSums
          it.foreach { case (_, c, nrmr) =>
            if (table != null)
              acc.add(-1, cosineNearest(c, nrmr, table), c, 0,
                if (c == null) 0 else c.length)
            var m = 0
            while (m < bs.length) {
              val len = sliceLen(c, m)
              acc.add(m, l2Nearest(c, m * dsub, len, bs(m)), c, m * dsub, len)
              m += 1
            }
          }
          acc.iterator
        }, trainCells, trainBooks)
        bcBooks.destroy()
        bcBooks = null
      }
      bcBooks = sc.broadcast(books(means))
      val (cs, bb) = (cent, bcBooks)
      val out = rows.mapPartitions { it =>
        val table = if (cells > 0) cs.flatMap(_.value) else null
        val bs = bb.value
        it.map { case (id, c, nrmr) =>
          (id, if (table == null) -1L else cosineNearest(c, nrmr, table),
            Array.tabulate(bs.length) { m =>
              l2Nearest(c, m * dsub, sliceLen(c, m), bs(m)) })
        }
      }.toDF("id", "cell", "codes")
      val members = (if (pqM == 0) out.select(col("id"), col("cell"))
        else if (cells == 0) out.select(col("id"), col("codes"))
        else out).pin()
      bcBooks.destroy()
      bcBooks = null
      if (nShards == 1) {
        val table = centTable(s, cent.flatMap(_.value))
        destroyShards(cent)
        (members, table, means, () => ())
      } else {
        val live = cent
        (members, shardTable(s, live), means, () => destroyShards(live))
      }
    } catch { case e: Throwable =>
      destroyShards(cent)
      if (bcBooks != null) bcBooks.destroy()
      throw e
    }
  }

  /** Per-partition exact Long component sums and member counts of one
    * Lloyd pass, keyed (quantizer, cell): quantizer -1 is the coarse
    * cells, m >= 0 subspace m's codes. A member adds `len` components
    * from `off` and counts once, however short its slice. */
  private final class LloydSums {
    private val acc = scala.collection.mutable.HashMap
      .empty[(Int, Long), (Array[Long], Long)]
    def add(q: Int, cell: Long, c: Array[Long], off: Int, len: Int)
        : Unit = {
      val (a0, n) = acc.getOrElse((q, cell), (Array.emptyLongArray, 0L))
      val a = if (a0.length < len) java.util.Arrays.copyOf(a0, len) else a0
      var i = 0
      while (i < len) { a(i) += c(off + i); i += 1 }
      acc((q, cell)) = (a, n + 1)
    }
    def iterator: Iterator[((Int, Long), (Array[Long], Long))] = acc.iterator
  }

  private object LloydSums {
    /** Two partial sums of one key, element-wise (the shorter padded). */
    def merge(x: (Array[Long], Long), y: (Array[Long], Long))
        : (Array[Long], Long) = {
      val (big, small) =
        if (x._1.length >= y._1.length) (x._1, y._1) else (y._1, x._1)
      val out = java.util.Arrays.copyOf(big, big.length)
      var i = 0
      while (i < small.length) { out(i) += small(i); i += 1 }
      (out, x._2 + y._2)
    }
  }

  /** The PQ code of one vector: exact argmin over the codebook `cs`
    * (code, mean, |mean|²) of |μ|² − 2x·μ for the subvector
    * x = c[off, off + len) — |x|² is constant per row. The dot is a
    * sequential per-row fold over the first min(len, |μ|) components
    * (deterministic for fixed inputs); ties break code-ascending
    * (strictly-less replacement over the ascending scan); a null
    * vector scores |μ|² alone; an empty codebook gives -1. The kernel
    * of [[lloydRounds]] and [[pqEncodeAll]], so build-time and
    * append-time codes cannot drift. */
  private def l2Nearest(c: Array[Long], off: Int, len: Int,
      cs: Array[(Long, Array[Double], Double)]): Long = {
    var bestCode = if (cs.isEmpty) -1L else cs(0)._1
    var best = Double.PositiveInfinity
    var j = 0
    while (j < cs.length) {
      val (code, mu, mn2) = cs(j)
      val n = math.min(len, mu.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += c(off + i) * mu(i); i += 1 }
      val score = mn2 - 2.0 * dot
      if (j == 0 || score < best) { best = score; bestCode = code }
      j += 1
    }
    bestCode
  }

  /** ONE broadcast map pass encoding EVERY PQ subspace against frozen
    * codebooks — the [[l2Nearest]] kernel the training ran, over the
    * slice c[m*dsub, +dsub) bounded by the vector, so stored codes are
    * bit-identical to build-time codes (the build/serve bit-parity
    * specs pin it). Returns the LAZY (id, code, m) frame plus a destroy
    * thunk for the codebook broadcast — call it after the consuming
    * write has executed.
    */
  private[graft] def pqEncodeAll(v: DataFrame,
      books: Array[(Int, Long, Seq[Double])], pqM: Int, dsub: Int)
      : (DataFrame, () => Unit) = {
    val s = v.sparkSession
    import s.implicits._
    val byM: Array[Array[(Long, Array[Double], Double)]] =
      (0 until pqM).map { m =>
        books.filter(_._1 == m)
          .map { case (_, code, mu) =>
            val a = mu.toArray; (code, a, a.map(x => x * x).sum) }
          .sortBy(_._1)
      }.toArray
    val bc = s.sparkContext.broadcast(byM)
    val out = v.select(col("id"), col("c"))
      .as[(Long, Array[Long])]
      .mapPartitions { rows =>
        val all = bc.value
        rows.flatMap { case (id, c) =>
          Iterator.tabulate(all.length) { m =>
            val off = m * dsub
            val len = if (c == null) 0
              else math.max(0, math.min(dsub, c.length - off))
            (id, l2Nearest(c, off, len, all(m)), m)
          }
        }
      }.toDF("id", "code", "m")
    (out, () => bc.destroy())
  }

  /** [[cosineNearDups]] with sign-LSH candidate generation instead of the
    * all-pairs grid: a deterministic `bands x rowsPerBand`-bit hyperplane
    * signature (md5-derived integer plane components — exact integer
    * arithmetic, so the signature is reproducible in any engine), a
    * band-bucket equi-join for candidates, and exact [[dot_i64]] cosine
    * verification of the candidates only. This is the 100 TB spelling:
    * candidate generation is a bucketed shuffle, verification is
    * O(candidates), nothing touches all pairs.
    *
    * RECALL IS DELIBERATELY PARTIAL and must be reported, not assumed:
    * output is the subset of true >= threshold pairs whose signatures
    * collide on >= 1 band. P(catch) = 1-(1-(1-theta/pi)^rows)^bands per
    * pair. On an isotropic corpus with a LOW threshold (0.45 => 63deg,
    * per-bit agreement 0.64 vs 0.50 background) no LSH parameterization
    * reaches full recall with real pruning — measured on the test
    * corpora at defaults: 13.5% of pairs as candidates (7.4x pruning),
    * recall 4/7 (sf0.001), 11/14 (sf0.01), 92/144 (sf0.1). High-threshold
    * near-dup (>= 0.9, the production dedup case) is where banding gets
    * recall ~1 with steep pruning. Ground truth for recall measurement is
    * [[cosineNearDups]]; DedupOpsSpec asserts the subset property.
    */
  def cosineNearDupsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, rowsPerBand: Int = 8, bands: Int = 32,
      partitions: Int = 0): DataFrame = {
    val v = scaled(df, idCol, vecCol, partitions)
    val sig = signLshSignatures(v, rowsPerBand, bands)
    val cand = sig.as("x").join(sig.as("y"),
        col("x.band") === col("y.band") && col("x.code") === col("y.code")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
    val av = v.select(col("id").as("a"), col("c").as("ac"),
      col("nrm").as("anrm"))
    val bv = v.select(col("id").as("b"), col("c").as("bc"),
      col("nrm").as("bnrm"))
    // verify candidates only: NO broadcast hint on the corpus vector
    // tables — an explicit hint never falls back, so past the broadcast
    // limit it would OOM the driver instead of degrading; unhinted, AQE
    // broadcasts under the threshold (the pinned staging has exact
    // sizes) and runs a shuffle join on a / b past it — still
    // O(candidates) either way (ADVICE)
    cand.join(av, Seq("a")).join(bv, Seq("b"))
      .select(col("a"), col("b"),
        ((dot_i64(col("ac"), col("bc")).cast("double") / lit(1.0e12)) /
          (col("anrm") * col("bnrm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs: all pairs above `threshold`,
    * a < b, via the same blocked grid. Returns (a, b, cosine).
    */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 16, partitions: Int = 0): DataFrame = {
    val v = scaled(df, idCol, vecCol, partitions)
    val s = df.sparkSession
    val grid = s.createDataFrame(
      for { i <- 0 until blocks; j <- 0 until blocks } yield (i, j))
      .toDF("bx", "by")
    val x = v.select(pmod(col("id"), lit(blocks)).cast("int").as("xblk"),
      col("id").as("a"), col("c").as("xc"), col("nrm").as("xnrm"))
    val y = v.select(pmod(col("id"), lit(blocks)).cast("int").as("yblk"),
      col("id").as("b"), col("c").as("yc"), col("nrm").as("ynrm"))
    grid.join(x, col("bx") === col("xblk"))
      .join(y, col("by") === col("yblk"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        cosine(col("xc"), col("xnrm"), col("yc"), col("ynrm")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Exact brute-force top-k neighbors for a designated query subset
    * (`isQuery` predicate over the id column). The corpus side never
    * shuffles: queries are broadcast. Returns (qid, neighbor_id,
    * cosine, rank), rank <= k.
    */
  def bruteTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, partitions: Int = 0): DataFrame = {
    val v = scaled(df, idCol, vecCol, partitions)
    val q = v.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("c").as("qc"), col("nrm").as("qnrm"))
    val pairs = v.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("neighbor_id"),
        cosine(col("qc"), col("qnrm"), col("c"), col("nrm")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** (id, cell) deterministic k-means assignment over an embedding
    * column: seeds are the `k` smallest ids' vectors, centroid =
    * per-cell component SUM (cosine routing is scale-invariant, so sum
    * == mean and nothing divides), assignment = argmax exact-integer
    * dot over raw norms with ties broken cell-ascending. Every Lloyd
    * step is one map pass over the staged vectors against the shipped
    * centroid table plus a map-side pre-combined component sum
    * ([[lloydRounds]]) — the canonical distributed k-means; no step
    * touches pairs. Semantics pinned by the oracle-checked s02/s07
    * queries. A failed call releases its staging.
    */
  def kmeansCells(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 2, partitions: Int = 0,
      maxCentroidBytes: Long = DefaultMaxCentroidBytes): DataFrame = {
    val staged = scaled(df, idCol, vecCol, partitions)
    try kmeans(withRawNorm(staged), k, iters, maxCentroidBytes)._1
    catch { case e: Throwable =>
      DedupOps.releaseLocalCheckpoint(staged); throw e }
  }

  /** LAZY projection — deliberately NOT pinned (round-17 job-count
    * cut): the input is always the scaledImpl staging, already pinned,
    * and the only added work is one sqrt(dot) per row — re-computing
    * that per consuming job is orders cheaper than the extra
    * materialization job every operator call paid (the pin bought
    * nothing: every consumer still read the same staged blocks).
    * Callers keep releasing the result defensively; release on a
    * non-pin is the documented no-op. */
  private[graft] def withRawNorm(v: DataFrame): DataFrame =
    v.select(col("id"), col("c"), col("nrm"),
        sqrt(dot_i64(col("c"), col("c")).cast("double")).as("nrmr"))

  /** Broadcast-size budget for one shard of a centroid table
    * ([[Shards]]): a table within it ships as one broadcast, a larger
    * one as several, so the driver never holds it whole. 64 MiB holds
    * k=100k at dim≈80 or k=10k at dim=768 — past that,
    * SemDeDup-realistic tables reach ~0.6 GB and one collect becomes
    * the driver bound.
    */
  val DefaultMaxCentroidBytes: Long = 64L << 20

  /** The cell of one vector: argmax over the ascending (cell, cc,
    * cnrmr) table of the exact i64 dot (same wrap semantics as
    * [[dot_i64]]) over dot.toDouble / (nrmr * cnrmr); only a STRICTLY
    * greater java.lang.Double.compare replaces the incumbent, so ties
    * break cell-ascending and NaN scores (a zero centroid; every score
    * of a null vector, whose nrmr is NaN) order greatest. An empty
    * table gives -1. The kernel of [[assignCells]] and
    * [[lloydRounds]]; bit-identical to the declarative spelling the
    * s02 oracle pins. */
  private def cosineNearest(c: Array[Long], nrmr: Double,
      cs: Array[(Long, Array[Long], Double)]): Long = {
    var bestCell = if (cs.isEmpty) -1L else cs(0)._1
    var best = Double.NaN
    var j = 0
    while (j < cs.length) {
      val (cell, cc, cnrmr) = cs(j)
      var dot = 0L
      var i = 0
      val n = if (c == null) 0 else math.min(c.length, cc.length)
      while (i < n) { dot += c(i) * cc(i); i += 1 }
      val score = dot.toDouble / (nrmr * cnrmr)
      if (j == 0 || java.lang.Double.compare(score, best) > 0) {
        best = score; bestCell = cell
      }
      j += 1
    }
    bestCell
  }

  /** One shard of a (cell, cc, cnrmr) centroid table, cell-ascending. */
  private type CentShard = Broadcast[Array[(Long, Array[Long], Double)]]

  /** A centroid table as the executors receive it: shard i holds the
    * cells in [i*perShard, (i+1)*perShard) ([[shardCells]]), one
    * broadcast of at most `maxCentroidBytes` each, so the shards in
    * order ARE the ascending table [[cosineNearest]] scans. A table
    * within the budget is one shard. Executor-side `bc.value` caches
    * each shard in the block manager (memory-and-disk): executors are
    * many and spill; the driver is one. */
  private type Shards = Array[CentShard]

  /** A staged table row: (quantizer, cell or code, component sum,
    * members, raw norm of the sum — cells only). */
  private type ShardRow = (Int, Long, Array[Long], Long, Double)

  /** Bytes one centroid row of width `dim` costs: its components plus
    * array and row overhead. */
  private def centRowBytes(dim: Long): Long = dim * 8 + 64

  /** Cells per shard: as many rows as the budget holds, at least one,
    * so a budget below one row ships one cell per shard. */
  private def shardCells(dim: Long, maxCentroidBytes: Long): Long =
    math.max(1L, maxCentroidBytes / centRowBytes(dim))

  /** Shards of a `k`-cell table (one for an empty table). */
  private def shardCount(k: Long, perShard: Long): Int =
    math.max(1L, (k + perShard - 1) / perShard).toInt

  /** Routes a (quantizer, cell) key to its [[Shards]] partition: a
    * coarse cell (quantizer -1) to cell / perShard (clamped to the last
    * shard, whose sort keeps the table ascending), every codebook key
    * to the one partition after the shards. */
  private final class ShardPartitioner(nShards: Int, perShard: Long)
      extends org.apache.spark.Partitioner {
    override def numPartitions: Int = nShards + 1
    override def getPartition(key: Any): Int = key match {
      case (q: Int, cell: Long) if q < 0 =>
        math.max(0L, math.min(nShards - 1L, cell / perShard)).toInt
      case _ => nShards
    }
  }

  /** Ships a table whose partitions 0 until `nShards` hold one shard's
    * rows each (any order; [[ShardPartitioner]]'s layout): each shard is
    * sorted executor-side and broadcast on THIS thread as it lands.
    * Returns the shards and the rows of any later partition (the
    * codebook sums), sorted by (quantizer, code).
    *
    * Results come back through `submitJob`, in batches whose summed
    * size (`partBytes` per partition) stays under half of
    * spark.driver.maxResultSize, the cap Spark puts on one job's
    * results: one job at every budget the operators use. The
    * DAGScheduler's result handler only enqueues, so a broadcast never
    * stalls the scheduler's event loop, and the driver holds only the
    * shards that landed but are not yet broadcast. A failed or
    * cancelled job, or an interrupt, cancels the batch, destroys every
    * shard broadcast so far and rethrows. */
  private def stageShards(parts: RDD[ShardRow], nShards: Int,
      partBytes: Long): (Shards, Array[ShardRow]) = {
    val sc = parts.sparkContext
    val n = parts.getNumPartitions
    val shards = new Array[CentShard](nShards)
    var side = Array.empty[ShardRow]
    val maxResult =
      sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val perJob = if (maxResult <= 0L) n
      else math.min(n.toLong,
        math.max(1L, (maxResult / 2) / math.max(1L, partBytes))).toInt
    try {
      var lo = 0
      while (lo < n) {
        val hi = math.min(n, lo + perJob)
        val base = lo
        val landed = new java.util.concurrent.LinkedBlockingQueue[
          (Int, Array[ShardRow])]()
        val fut = sc.submitJob(parts,
          (it: Iterator[ShardRow]) => it.toArray.sortBy(r => (r._1, r._2)),
          base until hi,
          (i: Int, rows: Array[ShardRow]) => landed.put((base + i, rows)),
          ())
        try {
          var got = 0
          while (got < hi - base) {
            val item =
              landed.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
            if (item != null) {
              val (p, rows) = item
              if (p < nShards)
                shards(p) = sc.broadcast(rows.map(r => (r._2, r._3, r._5)))
              else side = rows
              got += 1
            } else if (fut.isCompleted) {
              // a failed job never delivers every result: surface its
              // exception (a successful one already queued the rest)
              fut.value.get.get
            }
          }
        } finally if (!fut.isCompleted) fut.cancel()
        lo = hi
      }
    } catch { case e: Throwable => destroyShards(shards); throw e }
    (shards, side)
  }

  /** Destroys every shard broadcast, once: a slot is cleared as its
    * broadcast goes, so a second call is a no-op. */
  private[graft] def destroyShards(shards: Shards): Unit =
    shards.indices.foreach { i =>
      val b = shards(i)
      if (b != null) { shards(i) = null; b.destroy() }
    }

  /** Ships a stored (cell, cc, cnrmr) table of `k` cells of width `dim`
    * as [[Shards]]: one collect when it is one shard, else one shuffle
    * into the shard partitions plus [[stageShards]]. */
  private[graft] def shipTable(cent: DataFrame, k: Long, dim: Long,
      maxCentroidBytes: Long): Shards = {
    val s = cent.sparkSession
    import s.implicits._
    val perShard = shardCells(dim, maxCentroidBytes)
    val nShards = shardCount(k, perShard)
    val table = cent.select(col("cell"), col("cc"), col("cnrmr"))
      .as[(Long, Array[Long], Double)]
    if (nShards == 1)
      Array(s.sparkContext.broadcast(table.collect().sortBy(_._1)))
    else stageShards(
      table.rdd.map { case (cell, cc, cn) =>
          ((-1, cell), (-1, cell, cc, 0L, cn): ShardRow) }
        .partitionBy(new ShardPartitioner(nShards, perShard)).values,
      nShards, perShard * centRowBytes(dim))._1
  }

  /** The (cell, cc, cnrmr) frame of shipped [[Shards]], read back from
    * the broadcasts: lazy, valid until they are destroyed. */
  private def shardTable(s: SparkSession, shards: Shards): DataFrame = {
    import s.implicits._
    s.sparkContext.parallelize(shards.indices, shards.length)
      .flatMap(i => shards(i).value).toDF("cell", "cc", "cnrmr")
  }

  /** Argmax-cosine assignment of every staged (id, c, nrmr) vector to a
    * FROZEN (cell, cc, cnrmr) table of `k` cells of width `dim` — the
    * appends' path: the table ships as [[Shards]] of at most
    * `maxCentroidBytes` ([[shipTable]]), and ONE map pass scores each
    * vector against the shards in ascending cell order with
    * [[cosineNearest]], the kernel the training ran, so a frozen table
    * reproduces the build's assignment bit for bit. No per-vector
    * explode, no N×k rows, no window, no shuffle: the only rows that
    * move are the (id, cell) output. A null embedding (null nrmr, so
    * NaN scores) keeps the smallest cell. Returns the lazy assignment
    * and a thunk destroying the shards — call it once the assignment
    * has been consumed. Plan shape gated by PlanInvariantsSpec.
    */
  private[graft] def assignCells(v: DataFrame, cent: DataFrame, k: Long,
      dim: Long, maxCentroidBytes: Long): (DataFrame, () => Unit) = {
    val shards = shipTable(cent, k, dim, maxCentroidBytes)
    (nearestCells(v, shards), () => destroyShards(shards))
  }

  /** [[assignCells]]'s map pass over already-shipped shards. */
  private[graft] def nearestCells(v: DataFrame, shards: Shards): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    v.select(col("id"), col("c"),
        coalesce(col("nrmr"), lit(Double.NaN)).as("nrmr"))
      .as[(Long, Array[Long], Double)]
      .mapPartitions { it =>
        val cs = shards.flatMap(_.value)
        it.map { case (id, c, nrmr) => (id, cosineNearest(c, nrmr, cs)) }
      }.toDF("id", "cell")
  }

  /** sqrt of the exact BigInteger self-dot of a component sum, with ONE
    * correctly-rounded double conversion — a centroid's raw norm. */
  private def rawNorm(cc: Array[Long]): Double = {
    var sq = java.math.BigInteger.ZERO
    var i = 0
    while (i < cc.length) {
      val c = java.math.BigInteger.valueOf(cc(i))
      sq = sq.add(c.multiply(c))
      i += 1
    }
    math.sqrt(sq.doubleValue())
  }

  /** k-means over a staged (id, c, nrmr) frame — the one entry of every
    * cell-only training ([[lloydRounds]] without codebooks). Returns the
    * pinned (id, cell) membership, the centroid table its final
    * assignment scored against, and [[lloydRounds]]'s thunk for that
    * table. The table is the multi-probe contract: the rank-1 cell of
    * any member vector under it IS its membership (same exact
    * integer-dot argmax, ties cell-ascending), so a top-P probe against
    * it strictly widens the search ([[filteredTopKIvf]]'s nprobe;
    * PipelineOpsSpec pins the rank-1 parity). `dim` prices the table;
    * when the caller does not know it, a limit-1 probe of the first
    * non-empty vector reads it — NOT a max over all rows, a full extra
    * pass. dim is constant by scaled()'s transform; a ragged corpus
    * could under-price the budget and ship fewer, larger shards, which
    * is correct at any dim. Lazy-result callers (filteredTopKIvf, the
    * semanticNearDups family) drop the thunk: their frames stay live
    * over the table by contract.
    */
  private[graft] def kmeans(v: DataFrame, k: Int, iters: Int,
      maxCentroidBytes: Long = DefaultMaxCentroidBytes, dim: Int = -1)
      : (DataFrame, DataFrame, () => Unit) = {
    require(k >= 1 && iters >= 1, s"kmeans: k=$k iters=$iters")
    val s = v.sparkSession
    import s.implicits._
    val d = if (dim >= 0) dim
      else v.select(size(col("c")).as("d")).filter(col("d") > 0)
        .limit(1).as[Int].collect().headOption.getOrElse(0)
    val (members, cent, _, release) =
      lloydRounds(v, k, iters, dim = d, maxCentroidBytes = maxCentroidBytes)
    (members, cent, release)
  }

  /** A driver-held (cell, cc, cnrmr) centroid table as a frame. */
  private def centTable(s: SparkSession,
      cent: Array[(Long, Array[Long], Double)]): DataFrame =
    s.createDataFrame(cent.toSeq).toDF("cell", "cc", "cnrmr")

  /** Semantic dedup, SemDeDup-style (cluster-then-dedup): partition the
    * embedding space with [[kmeansCells]], then report near-duplicate
    * pairs only WITHIN each cell — near-dups co-cluster, and the
    * cross-cell pair space (the vast majority of all pairs) is never
    * touched. Cost is sum(|cell|^2): scale `cells` with the corpus so
    * cell sizes stay bounded. Verification is the exact scaled-long
    * cosine. Returns (cell, a, b, cosine), a < b, cosine >= threshold.
    * RECALL CAVEAT: a true near-pair split across a cell boundary is
    * invisible — the documented SemDeDup trade. Semantics pinned by the
    * oracle-checked s07 query.
    */
  def semanticNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, cells: Int, iters: Int = 2,
      partitions: Int = 0,
      maxCentroidBytes: Long = DefaultMaxCentroidBytes): DataFrame = {
    val v = withRawNorm(scaled(df, idCol, vecCol, partitions))
    val (members, _, _) = kmeans(v, cells, iters, maxCentroidBytes)
    pairsWithinCells(v, members, threshold)
  }

  /** The within-cell exact-cosine verify shared by both semanticNearDups
    * overloads: self-join the membership on `cell`, a < b, exact
    * scaled-long cosine against `threshold`.
    */
  private def pairsWithinCells(v: DataFrame, members: DataFrame,
      threshold: Double): DataFrame = {
    val xa = members.join(v, Seq("id"))
      .select(col("cell"), col("id").as("a"), col("c").as("ac"),
        col("nrm").as("anrm"))
    val xb = members.join(v, Seq("id"))
      .select(col("cell"), col("id").as("b"), col("c").as("bc"),
        col("nrm").as("bnrm"))
    xa.join(xb, Seq("cell")).filter(col("a") < col("b"))
      .select(col("cell"), col("a"), col("b"),
        ((dot_i64(col("ac"), col("bc")).cast("double") / lit(1.0e12)) /
          (col("anrm") * col("bnrm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Exact full-vector signature over the staged scaled-long components:
    * md5 of the comma-joined component list. Equality is equality of
    * every scaled component — cosine EXACTLY 1.0 — so collapsing a
    * signature group to its min-id representative is an exact verified
    * relation (the [[DedupOps.simhashNearDupsCapped]] collapse class,
    * not probabilistic), in an effectively unbounded keyspace. 32 chars
    * per row regardless of dim, so grouping on it never shuffles the
    * vectors themselves as keys.
    */
  private[graft] def fullVecSig(c: Column): Column =
    md5(concat_ws(",", transform(c, x => x.cast("string"))))

  /** The hot-CELL guard for [[pairsWithinCells]] — [[semanticNearDups]]'s
    * quadratic is SEMANTIC, like the band axis round 10 capped: mass
    * duplicates (exactly what SemDeDup exists to remove) embed
    * IDENTICALLY, identical vectors share one deterministic argmax cell
    * at ANY `cells` setting, so an m-member boilerplate class is O(m²)
    * inside one cell and no AQE skew split can reduce it (the pair
    * count is the product, not the partitioning).
    *
    * Within each SATURATED cell (occupancy > `maxCellOccupancy`),
    * co-residents COLLAPSE by [[fullVecSig]]: each signature group
    * emits (rep = min id → member) edges — cosine exactly 1.0 by
    * construction, >= any threshold, so the delegation is EXACT — and
    * only the DISTINCT-signature representatives enter the pair join,
    * with the exact-cosine verification as always. Sub-cap cells run
    * [[pairsWithinCells]] unchanged. Cells PARTITION the corpus (one
    * cell per id — unlike the band guard's multi-bucket membership),
    * so the three faces are disjoint by construction and each (a, b)
    * surfaces exactly once.
    *
    * Returns (cell, a, b, cosine, saturated): cosine null on collapse
    * edges (delegated — exact by the signature argument, not
    * individually scored), exact elsewhere; output is for CLUSTER
    * resolution ([[DedupOps.connectedComponents]] /
    * [[DedupOps.canonicalSelection]]) — member-level pairs inside a
    * collapse group route through the representative. Null / zero-norm
    * vectors are excluded from the collapse faces (they never produce
    * a pair on the exact path — NaN cosine — and a shared
    * null-signature would weld them into one fake group).
    *
    * STRUCTURAL BOUND, stated honestly: after the collapse the pair
    * join is quadratic in the DISTINCT-signature occupancy of
    * saturated cells. A cell saturating with genuinely diverse
    * vectors needs more cells (cells scale with the corpus), not a
    * cap; the cap is for the
    * boilerplate mass that no cell count can split. Choose it with
    * [[cellOccupancyCurve]] (the d13 discipline on the cell axis).
    */
  private[graft] def pairsWithinCellsCapped(v: DataFrame,
      members: DataFrame, threshold: Double,
      maxCellOccupancy: Int): DataFrame = {
    require(maxCellOccupancy >= 1,
      s"maxCellOccupancy=$maxCellOccupancy must be >= 1")
    val satCells = members.groupBy(col("cell"))
      .agg(count(lit(1)).as("m")).filter(col("m") > maxCellOccupancy)
      .select(col("cell")).pin()
    // nothing saturates (the common case a well-chosen cap buys): the
    // plain within-cell join, zero collapse machinery — the
    // simhashNearDupsCapped short-circuit
    if (satCells.head(1).isEmpty)
      return pairsWithinCells(v, members, threshold)
        .withColumn("saturated", lit(false))
    val x = members.join(v, Seq("id"))
      .select(col("cell"), col("id"), col("c"), col("nrm"))
    def pairsOf(rows: DataFrame, sat: Boolean): DataFrame = {
      val xa = rows.select(col("cell"), col("id").as("a"),
        col("c").as("ac"), col("nrm").as("anrm"))
      val xb = rows.select(col("cell"), col("id").as("b"),
        col("c").as("bc"), col("nrm").as("bnrm"))
      xa.join(xb, Seq("cell")).filter(col("a") < col("b"))
        .select(col("cell"), col("a"), col("b"),
          ((dot_i64(col("ac"), col("bc")).cast("double") / lit(1.0e12)) /
            (col("anrm") * col("bnrm"))).as("cosine"))
        .filter(col("cosine") >= threshold)
        .withColumn("saturated", lit(sat))
    }
    // saturated cells are ≤ |members|/cap rows — broadcastable by the
    // occupancySplit boundedness argument
    val sub = x.join(broadcast(satCells), Seq("cell"), "left_anti")
    val satRows = x.join(broadcast(satCells), Seq("cell"))
      .filter(col("c").isNotNull && col("nrm") > 0)
      .withColumn("fsig", fullVecSig(col("c")))
    val groups = satRows.groupBy(col("cell"), col("fsig"))
      .agg(min(col("id")).as("rep"))
      .pin()
    val collapse = satRows.join(groups, Seq("cell", "fsig"))
      .filter(col("id") =!= col("rep"))
      .select(col("cell"), col("rep").as("a"), col("id").as("b"),
        lit(null).cast("double").as("cosine"), lit(true).as("saturated"))
    val repRows = groups
      .join(v.select(col("id"), col("c"), col("nrm")),
        groups("rep") === col("id"))
      .select(col("cell"), col("id"), col("c"), col("nrm"))
    pairsOf(sub, sat = false)
      .unionByName(collapse)
      .unionByName(pairsOf(repRows, sat = true))
  }

  /** [[semanticNearDups]] with the hot-cell occupancy guard — the
    * 100 TB spelling of SemDeDup on dedup-heavy corpora (its own
    * published setting). See [[pairsWithinCellsCapped]] for the
    * delegation semantics and the exactness argument. Contract (pinned
    * by PipelineOpsSpec): with `maxCellOccupancy` at or above the max
    * cell occupancy this returns EXACTLY [[semanticNearDups]]'s rows
    * with saturated = false throughout; choose the cap with
    * [[cellOccupancyCurve]]. Semantics pinned by the oracle-checked
    * s16 query.
    */
  def semanticNearDupsCapped(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, cells: Int, iters: Int = 2,
      maxCellOccupancy: Int = 1000, partitions: Int = 0,
      maxCentroidBytes: Long = DefaultMaxCentroidBytes): DataFrame = {
    val v = withRawNorm(scaled(df, idCol, vecCol, partitions))
    val (members, _, _) = kmeans(v, cells, iters, maxCentroidBytes)
    pairsWithinCellsCapped(v, members, threshold, maxCellOccupancy)
  }

  /** How [[semanticNearDupsCapped]]'s `maxCellOccupancy` gets CHOSEN —
    * the d13 operating curve on the CELL axis. Per cap: what stays on
    * the exact path (candidate/confirmed pairs of sub-cap cells), what
    * the guard touches (saturated cells/members and their pair
    * volume — the quadratic being removed), and what the collapse
    * buys: collapse_edges (members delegated to an identical-vector
    * representative — each EXACT, cosine 1.0 by construction, so there
    * is no precision column to price on this axis, unlike the band
    * curve's sat_precision) against rep_candidate_pairs /
    * rep_confirmed_pairs — the RESIDUAL quadratic the capped operator
    * still verifies among distinct-signature representatives. A cap
    * where collapse_edges ≈ saturated_members and rep_candidate_pairs
    * is small says the saturated mass is boilerplate (the guard's
    * case); rep_candidate_pairs staying near saturated_pairs says the
    * cell is genuinely diverse — raise `cells`, not the cap.
    * pair_recall = confirmed / uncut_confirmed (the fraction still
    * individually verified; cells partition pairs, so
    * sub + saturated = uncut exactly). The uncut join and per-cap
    * saturated scoring are O(Σm²) BY DESIGN — measurement query, run
    * at sample scale (the d12/d13 discipline). Semantics pinned by the
    * oracle-checked s17 query.
    */
  def cellOccupancyCurve(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, cells: Int, iters: Int = 2,
      caps: Seq[Int] = Seq(8, 64, 1024), partitions: Int = 0,
      maxCentroidBytes: Long = DefaultMaxCentroidBytes): DataFrame = {
    require(caps.nonEmpty, "need at least one occupancy-cap point")
    val staged0 = scaled(df, idCol, vecCol, partitions)
    val v = withRawNorm(staged0)
    val (members, _, _) = kmeans(v, cells, iters, maxCentroidBytes)
    val x = members.join(v, Seq("id"))
      .select(col("cell"), col("id"), col("c"), col("nrm"))
      .pin()
    val occ = x.groupBy(col("cell")).agg(count(lit(1)).as("m"))
      .pin()
    val xocc = x.join(occ, Seq("cell"))
    // ONE verification pass per pair set yields both counts (the d13
    // countsOf convention), through the same cosine expression the
    // dedup uses so the measurement cannot drift from it
    def countsOf(rows: DataFrame): DataFrame = {
      val xa = rows.select(col("cell"), col("id").as("a"),
        col("c").as("ac"), col("nrm").as("anrm"))
      val xb = rows.select(col("cell"), col("id").as("b"),
        col("c").as("bc"), col("nrm").as("bnrm"))
      xa.join(xb, Seq("cell")).filter(col("a") < col("b"))
        .select(((dot_i64(col("ac"), col("bc")).cast("double") /
          lit(1.0e12)) / (col("anrm") * col("bnrm"))).as("cosine"))
        .agg(count(lit(1)).as("cp"),
          coalesce(sum(when(col("cosine") >= threshold, 1L)
            .otherwise(0L)), lit(0L)).as("vp"))
    }
    val uncut = countsOf(x)
      .select(col("cp").as("uncut_candidate_pairs"),
        col("vp").as("uncut_confirmed_pairs"))
    // signatures once, shared by every cap (null/zero-norm rows
    // excluded — the pairsWithinCellsCapped contract)
    val fsigged = x.filter(col("c").isNotNull && col("nrm") > 0)
      .withColumn("fsig", fullVecSig(col("c")))
      .pin()
    val foccs = fsigged.join(occ, Seq("cell"))
    val perCap = caps.map { cap =>
      val subCnt = countsOf(xocc.filter(col("m") <= cap)
          .select(col("cell"), col("id"), col("c"), col("nrm")))
        .select(col("cp").as("candidate_pairs"),
          col("vp").as("confirmed_pairs"))
      val satCnt = countsOf(xocc.filter(col("m") > cap)
          .select(col("cell"), col("id"), col("c"), col("nrm")))
        .select(col("cp").as("saturated_pairs"),
          col("vp").as("saturated_confirmed_pairs"))
      val nSat = occ.agg(
        coalesce(sum(when(col("m") > cap, 1L).otherwise(0L)), lit(0L))
          .as("n_saturated_cells"),
        coalesce(sum(when(col("m") > cap, col("m")).otherwise(0L)),
          lit(0L)).as("saturated_members"))
      val groups = foccs.filter(col("m") > cap)
        .groupBy(col("cell"), col("fsig"))
        .agg(count(lit(1)).as("g"), min(col("id")).as("rep"))
      val collapseCnt = groups.agg(
        coalesce(sum(col("g") - 1L), lit(0L)).as("collapse_edges"))
      val repCnt = countsOf(groups
          .join(x.select(col("id"), col("c"), col("nrm")),
            groups("rep") === col("id"))
          .select(col("cell"), col("id"), col("c"), col("nrm")))
        .select(col("cp").as("rep_candidate_pairs"),
          col("vp").as("rep_confirmed_pairs"))
      // 1×1 cross joins of scalar aggregates (the bounded 1×N
      // agg-join convention)
      subCnt.crossJoin(satCnt).crossJoin(nSat).crossJoin(collapseCnt)
        .crossJoin(repCnt)
        .select(lit(cap).cast("int").as("max_occupancy"),
          col("n_saturated_cells"), col("saturated_members"),
          col("candidate_pairs"), col("confirmed_pairs"),
          col("saturated_pairs"), col("saturated_confirmed_pairs"),
          col("collapse_edges"),
          col("rep_candidate_pairs"), col("rep_confirmed_pairs"))
    }.reduce(_ unionAll _)
    val curve = perCap.crossJoin(uncut)
      .withColumn("pair_recall",
        when(col("uncut_confirmed_pairs") === 0L, lit(1.0))
          .otherwise(col("confirmed_pairs").cast("double") /
            col("uncut_confirmed_pairs")))
    // |caps| rows: pin the result, free the staged blocks (the
    // operating-curve release discipline)
    val pinned = curve.pin()
    DedupOps.releaseLocalCheckpoint(fsigged)
    DedupOps.releaseLocalCheckpoint(occ)
    DedupOps.releaseLocalCheckpoint(x)
    DedupOps.releaseLocalCheckpoint(members)
    DedupOps.releaseLocalCheckpoint(v)
    DedupOps.releaseLocalCheckpoint(staged0)
    pinned
  }

  /** The empty (a, b, cosine) pair frame — shared by the seed-batch
    * return and the streaming query's zero-batch fallback so the
    * schema cannot drift between them. */
  private[graft] def emptyPairsFrame(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(Long, Long, Double)].toDF("a", "b", "cosine")
  }

  /** Embedding-space health audit: per-dimension mean, variance, and
    * near-zero count (|x| < zeroEps) — the collapse/anisotropy check
    * run before trusting cosine retrieval. Components are exact scaled
    * longs summed as DECIMAL(38,0) (integer-exact at any corpus size);
    * map-side partial aggregation emits ≤ dims rows per task, so the
    * shuffle carries dims rows regardless of corpus size. Returns
    * (dim, n, mean, variance, n_near_zero). Semantics pinned by the
    * oracle-checked s06 query.
    */
  def embeddingStats(df: DataFrame, vecCol: String,
      zeroEps: Double = 0.01): DataFrame = {
    val comp = df.select(posexplode(
        transform(col(vecCol),
          x => round(x.cast("double") * lit(1000000.0)).cast("long")))
      .as(Seq("dim", "c")))
    val zeroCut = math.round(zeroEps * 1000000.0)
    comp.groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("c").cast(DecimalType(38, 0))).as("sc"),
        sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("sc2"),
        sum(when(abs(col("c")) < zeroCut, 1L).otherwise(0L))
          .as("n_near_zero"))
      .select(col("dim").cast("long").as("dim"), col("n"),
        (col("sc").cast("double") / col("n") / lit(1000000.0)).as("mean"),
        ((col("sc2").cast("double") / col("n") -
          (col("sc").cast("double") / col("n")) *
            (col("sc").cast("double") / col("n")))
          / lit(1000000000000.0)).as("variance"),
        col("n_near_zero"))
  }
}
