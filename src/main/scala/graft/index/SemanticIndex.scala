package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.functions.dot_i64
import org.apache.spark.sql.types.DecimalType
import graft.core.Overlap
import graft.core.Pins.PinnedDataset
import graft.operators.DedupOps
import graft.operators.AnnOps.{DefaultMaxCentroidBytes, assignCells,
  emptyPairsFrame, fullVecSig, kmeans, scaled, withRawNorm}
import IndexStore._

/** The durable semantic dedup index: the incremental probe and the
  * drift audit. */
object SemanticIndex {

  /** Durable incremental SEMANTIC dedup — the embedding-space sibling
    * of [[MinhashIndex.incrementalMinhashDedupDurable]] (st10): nightly
    * embedding batches must NOT re-cluster the world. The FIRST batch
    * defines the space — k-means trains on it and the centroid table
    * FREEZES at `indexDir/centroids`; every later batch is one
    * [[assignCells]] map pass against the frozen table (no Lloyd
    * iterations ever again), its (id, cell, vector) rows commit to
    * the live generation's `batches/batch=<id>`, and near-dup search
    * touches only
    * the cells the new batch lands in — a cell-keyed join against the
    * stored assignments, never a re-cluster and never a cross-batch
    * all-pairs.
    *
    * Returns the exact-cosine pairs (a, b, cosine >= threshold) with
    * a < b that touch >= 1 doc of THIS batch — union over batches =
    * all within-cell pairs of the combined corpus under the frozen
    * clustering that touch any post-first-batch doc, independent of
    * batching (each pair surfaces exactly once, when its later
    * endpoint arrives). The frozen-centroid contract is what makes
    * batch == incremental provable: every batch's cell is
    * argmax-cosine against the SAME table ([[kmeans]]
    * returns the members' own table, so a replay of the training batch
    * through the frozen path reassigns bit-identically). The
    * oracle-checked s15 query pins the two-batch composition; the
    * restart/replay proof (crash between batches, foreachBatch replay
    * overwriting its own subdir idempotently) is PipelineOpsSpec's —
    * the st10 contract, verbatim, in embedding space.
    *
    * RECALL CAVEAT inherited from [[semanticNearDups]]: pairs split
    * across a frozen cell boundary are invisible, and a frozen table
    * slowly drifts from the true distribution as the corpus grows —
    * the documented trade for never re-clustering (re-train
    * deliberately by starting a new indexDir, then re-probe).
    */
  /** `probe = false` skips the pair search and returns the empty pair
    * frame after committing the batch — the SEED-batch spelling: a
    * brand-new index's first (usually corpus-sized) batch has nothing
    * prior to probe against, and its internal dedup is
    * [[semanticNearDups]]'s job. At deployment scale the seed probe is
    * the sequence's LARGEST within-cell pair pass (Σ|cell|² of the
    * whole seed corpus) computed only to be discarded; at local test
    * scale the query is per-call-overhead-dominated, so the flag's
    * effect there is nil — it exists for the 100 TB seeding, not the
    * bench. */
  /** `maxCellOccupancy` is the INCREMENTAL face of the hot-cell guard
    * (the [[probeIndex]] treatment in embedding space): a boilerplate
    * class accumulating in the index puts m identical vectors in ONE
    * frozen cell, so each increment's probe of that cell costs
    * |new ∩ cell| × m — quadratic OVER TIME as both sides grow. At the
    * cap, rows of a saturated cell collapse by [[fullVecSig]]; each
    * new member links to its signature group's root by a delegated
    * edge (cosine = NULL — the output schema is unchanged, so uncapped
    * callers and the s15/st16 oracles see the exact rows they always
    * did), where the root is an ACCUMULATED member whenever one exists
    * (the probeIndex old-root discipline — a new min id would detach
    * the index's cluster from its arrivals); only representatives of
    * groups FORMED by this batch (no accumulated member) pair-join
    * against the cell's representatives, exact-cosine verified — a
    * pre-existing group's cross-group pairs were emitted the batch it
    * formed, so a merely-touched group re-probing would re-emit the
    * same root pairs every increment, breaking the cross-batch
    * pair-uniqueness the uncapped path guarantees. Signature
    * equality is cosine exactly 1.0, so cluster resolution over the
    * capped output equals the uncapped operator's EXACTLY (every
    * delegated member is interchangeable with its root for any
    * threshold < 1 — the simhash-collapse class, not the probabilistic
    * minhash star). PipelineOpsSpec pins high-cap parity, the
    * delegation shape, and the old-root election.
    */
  def incrementalSemanticDedupDurable(batch: DataFrame, idCol: String,
      vecCol: String, indexDir: String, batchId: Long,
      threshold: Double, cells: Int = 16, iters: Int = 2,
      partitions: Int = 0,
      maxCentroidBytes: Long = DefaultMaxCentroidBytes,
      probe: Boolean = true,
      maxCellOccupancy: Int = Int.MaxValue): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    // both stagings are released before return (REVIEW: this operator
    // is CALLED PER BATCH in a long-lived session — st16 once per
    // microbatch — so un-released per-call pins would accumulate for
    // the session lifetime, the same leak class the operating curves
    // fixed this round)
    // fail-fast at the door: no maintenance run may own the tree set
    // (the appendIvfPqIndex gate), and an existing manifest must
    // declare THIS family — a caller pointing the dedup incrementals
    // at an ivfpq serving index used to fail somewhere downstream
    requireNoMaintenance(s, indexDir, "incrementalSemanticDedupDurable")
    val manOpt =
      if (indexFs(s, indexDir).exists(hpath(s"$indexDir/_index.json")))
        Some(requireFamily(s, indexDir,
          "incrementalSemanticDedupDurable", "semantic"))
      else None
    val genAtEntry = currentGenOpt(s, indexDir)
    // Hadoop FS, not java.io.File: DFS paths in production (the
    // loadMinhashIndex lesson)
    val fs = indexFs(s, indexDir)
    val centPath = s"$indexDir/centroids"
    // (cells, dim) in ONE aggregate over the stored table (round-17
    // job-count cut: the limit(1) dim probe and the count were two jobs
    // over the same KB-sized scan); min(size) == the width, centroids
    // are uniform by construction
    lazy val storedShape: (Long, Long) = {
      val cs = readTree(s, IndexTree.Centroids, Seq(centPath))
        .agg(count(lit(1)), coalesce(min(size(col("cc"))), lit(0))).head()
      (cs.getLong(0), cs.getInt(1).toLong)
    }
    // every per-call pin is owned by the scope until the commit: a
    // failure anywhere releases them once the dim/write forks stopped
    Overlap(s, 1, "semantic-dedup") { ov =>
      val stagedV = ov.own(scaled(batch, idCol, vecCol, partitions))
      val v = ov.own(withRawNorm(stagedV))
      // DIM VALIDATION against the manifest's declaration (the ANN
      // append path's discipline): the assignment kernel tolerates
      // ragged dims by truncation, so a wrong-width batch would commit
      // silently-skewed cells. All-null batches carry no dim and commit
      // (the family null contract). Bootstrap batches skip — they DEFINE
      // the dim. Round-18 (guide §2.6, the appendIvfPqIndex layout): the
      // aggregate runs CONCURRENTLY with the assignment+pin chain — it
      // gates the durable write below, not the assignment math; a bad
      // batch throws after some wasted assignment work (whose pins are
      // released) and the committed state is identical either way.
      val fDim = manOpt.map { man =>
        (man, ov.fork {
          v.filter(col("c").isNotNull)
            .agg(min(size(col("c"))).as("lo"),
              max(size(col("c"))).as("hi"))
            .head()
        })
      }
      val (assignedRaw, release): (DataFrame, () => Unit) =
        if (!fs.exists(hpath(centPath))) {
          val (members, cent, kmeansRelease) =
            kmeans(v, cells, iters, maxCentroidBytes)
          // the centroid write is an action, so `cent` is fully
          // consumed here — the thunk (freeing the table's shards past
          // one) is safe to run at the shared release point. Published
          // through a temp: a failed write must leave no centroids/ dir,
          // or the replay would take the frozen branch on an empty table
          overwriteViaTemp(s, Seq(centPath)) { case Seq(tmp) =>
            cent.write.parquet(tmp) }
          (members, kmeansRelease)
        } else {
          // k and dim from the manifest's DECLARED shape (zero jobs,
          // round-17 job-count cut); an index whose manifest is not
          // written yet pays one aggregate over the stored table
          val cent = readTree(s, IndexTree.Centroids, Seq(centPath))
          val (k, dim) = manOpt.fold(storedShape)(man =>
            (man.param("cells", indexDir), man.param("dim", indexDir)))
          assignCells(v, cent, k, dim, maxCentroidBytes)
        }
      ov.onFailure(release())
      ov.own(assignedRaw)
      val own = ov.own(assignedRaw.join(v, Seq("id"))
        .select(col("id"), col("cell"), col("c"), col("nrm"))
        .pin())
      release()
      // the validation gate, joined here — BEFORE the manifest
      // bootstrap and the durable write
      fDim.foreach { case (man, f) =>
        val declared = man.param("dim", indexDir).toInt
        val ds = f.join()
        require(ds.isNullAt(0) ||
          (ds.getInt(0) == declared && ds.getInt(1) == declared),
          s"incrementalSemanticDedupDurable: batch dims " +
            s"[${ds.get(0)}, ${ds.get(1)}] != the index's declared " +
            s"dim=$declared ($indexDir/_index.json)")
      }
      // bootstrap the manifest from the FROZEN artifacts (keyed on its
      // own absence, not the train branch, so a crash between the
      // centroid write and here self-heals on replay): the stored
      // centroid table is the authority for dim and cell count
      if (manOpt.isEmpty) {
        val (k, dim) = storedShape
        writeIndexManifest(s, indexDir, "semantic",
          Map("dim" -> dim, "cells" -> k))
      }
      // cell-partitioned commit (the ANN index's layout) through the
      // one commit door: the probe below — and every later batch's
      // probe — reads only the cells a batch actually lands in, as a
      // partition-pruned scan. When the probe will run, the write and
      // its probed-cells collect are independent jobs over the pinned
      // `own` — overlap them (guide §2.6; round-18); the write is
      // awaited before the publish, the generation flip and any
      // stored-tree read, on every path.
      var ownCellsPre = Seq.empty[Long]
      val gen = commitBatch(s, indexDir, "incrementalSemanticDedupDurable",
          batchId, genAtEntry, Seq("batches")) { case Seq(tmp) =>
        Overlap(s, 1, "semantic-dedup-write") { wv =>
          val fW = wv.fork(own.write.partitionBy("cell").parquet(tmp))
          if (probe) ownCellsPre = own.select(col("cell")).distinct()
            .as[Long].collect().toSeq.sorted
          fW.join()
        }
      }
      val root = genRoot(indexDir, gen)
      // per-call staging blocks die here either way: `own` (and the
      // returned pairs, below) are pinned, the commit is on disk
      def releaseStagings(): Unit = {
        DedupOps.releaseLocalCheckpoint(assignedRaw)
        DedupOps.releaseLocalCheckpoint(v)
        DedupOps.releaseLocalCheckpoint(stagedV)
      }
      if (!probe) {
        releaseStagings()
        DedupOps.releaseLocalCheckpoint(own)
        emptyPairsFrame(s)
      } else {
        val batches = s"$root/batches"
        val hasOther = subdirs(fs, batches).exists(_ != s"batch=$batchId")
        // the probe touches only the frozen cells THIS batch lands in —
        // a bounded set (≤ the centroid count, own is pinned) — so the
        // accumulated-index scan partition-prunes to those cells: probe
        // cost is O(touched cells' occupancy), never O(index). Pairs in
        // untouched cells cannot involve this batch by construction.
        // Tombstoned ids ([[deleteFromIndex]]) are anti-joined out — a
        // deleted doc must neither pair nor serve as a delegation root.
        val ownCells = ownCellsPre
        val oldRows: Option[DataFrame] = if (!hasOther) None
          else Some(readTree(s, IndexTree.SemanticBatches,
              Seq(batches), Some(ownCells),
              loadTombstones(s, indexDir))
            // exclude own (half-committed) batch on replay, probe the
            // committed rest + this run's own pinned rows
            .filter(col("batch") =!= lit(batchId))
            .select(col("id"), col("cell"), col("c"), col("nrm")))
        val ownRows = own.select(col("id"), col("cell"), col("c"), col("nrm"))
        val all = oldRows.map(_.unionByName(ownRows)).getOrElse(ownRows)
        // cosine computed BEFORE the a/b canonicalization (it is exactly
        // symmetric — same integer dot, same double expression — so the
        // distinct collapses the own-own double orientation)
        def exactPairs(ownSide: DataFrame, allSide: DataFrame): DataFrame = {
          val xa = ownSide.select(col("cell"), col("id").as("na_id"),
            col("c").as("ac"), col("nrm").as("anrm"))
          val xb = allSide.select(col("cell"), col("id").as("nb_id"),
            col("c").as("bc"), col("nrm").as("bnrm"))
          xa.join(xb, Seq("cell"))
            .filter(col("na_id") =!= col("nb_id"))
            .select(least(col("na_id"), col("nb_id")).as("a"),
              greatest(col("na_id"), col("nb_id")).as("b"),
              ((dot_i64(col("ac"), col("bc")).cast("double") / lit(1.0e12)) /
                (col("anrm") * col("bnrm"))).as("cosine"))
            .filter(col("cosine") >= threshold)
            .distinct()
        }
        val (rawPairs, releaseCap): (DataFrame, () => Unit) =
          if (maxCellOccupancy == Int.MaxValue) (exactPairs(ownRows, all),
            () => ())
          else {
            require(maxCellOccupancy >= 1,
              s"maxCellOccupancy=$maxCellOccupancy must be >= 1")
            // occupancy over the COMBINED corpus (accumulated + this batch)
            // per frozen cell; saturated cells ≤ |all|/cap — broadcastable
            val satCells = all.groupBy(col("cell"))
              .agg(count(lit(1)).as("m")).filter(col("m") > maxCellOccupancy)
              .select(col("cell")).pin()
            if (satCells.head(1).isEmpty)
              (exactPairs(ownRows, all),
                () => DedupOps.releaseLocalCheckpoint(satCells))
            else {
              val allFlagged = oldRows
                .map(_.withColumn("is_old", lit(true))
                  .unionByName(ownRows.withColumn("is_old", lit(false))))
                .getOrElse(ownRows.withColumn("is_old", lit(false)))
              val subOwn = ownRows.join(broadcast(satCells), Seq("cell"),
                "left_anti")
              val subAll = all.join(broadcast(satCells), Seq("cell"),
                "left_anti")
              // collapse faces exclude null/zero-norm rows (they never
              // pair on the exact path, and a shared null signature would
              // weld them — the pairsWithinCellsCapped contract)
              val satAll = allFlagged.join(broadcast(satCells), Seq("cell"))
                .filter(col("c").isNotNull && col("nrm") > 0)
                .withColumn("fsig", fullVecSig(col("c")))
              // one aggregation yields every group's root, OLD-preferring
              // (the probeIndex old-root discipline)
              val groups = satAll.groupBy(col("cell"), col("fsig"))
                .agg(min(when(col("is_old"), col("id"))).as("old_root"),
                  min(col("id")).as("any_root"))
                .select(col("cell"), col("fsig"),
                  coalesce(col("old_root"), col("any_root")).as("root"),
                  col("old_root").isNull.as("is_new"))
                .pin()
              val satOwn = satAll.filter(!col("is_old"))
              val delegated = satOwn.join(groups, Seq("cell", "fsig"))
                .filter(col("id") =!= col("root"))
                .select(least(col("root"), col("id")).as("a"),
                  greatest(col("root"), col("id")).as("b"),
                  lit(null).cast("double").as("cosine"))
                .distinct()
              // only groups FORMED by this batch (no accumulated member)
              // probe the cell's representatives — the group-level face of
              // the incremental contract "a pair surfaces once, when its
              // later endpoint arrives": a pre-existing group's root pairs
              // were emitted the batch its group formed (rep-level if the
              // cell was already saturated, member-level otherwise since
              // occupancy only grows), so re-probing a merely-TOUCHED
              // group would re-emit the same (rootX, rootY) rows every
              // time the boilerplate class gains a member (REVIEW) —
              // touched groups' new members are covered by their
              // delegated edges above
              val ownGroups = groups.filter(col("is_new"))
                .select(col("cell"), col("root"))
              val allVecs = all.select(col("id"), col("c"), col("nrm"))
              val ownRepRows = ownGroups
                .join(allVecs, ownGroups("root") === col("id"))
                .select(col("cell"), col("id"), col("c"), col("nrm"))
              val repRows = groups
                .join(allVecs, groups("root") === col("id"))
                .select(col("cell"), col("id"), col("c"), col("nrm"))
              (exactPairs(subOwn, subAll)
                .unionByName(delegated)
                .unionByName(exactPairs(ownRepRows, repRows)),
                () => {
                  DedupOps.releaseLocalCheckpoint(groups)
                  DedupOps.releaseLocalCheckpoint(satCells)
                })
            }
          }
        val pairs = rawPairs.pin()
        releaseCap()
        releaseStagings()
        DedupOps.releaseLocalCheckpoint(own)
        pairs
      }
    }
  }

  /** Drift OBSERVABILITY for a durable frozen-centroid index
    * ([[incrementalSemanticDedupDurable]]): the index's documented
    * trade is that the seed-trained centroid table never re-trains,
    * so the corpus slowly drifts away from it — and "re-train
    * deliberately" is only actionable if a deployment can SEE drift
    * as a number. This is the p17-funnel discipline applied to the
    * index: one row per committed batch, computed from the SAME
    * stored assignments the probes use (the audit cannot disagree
    * with the index it audits).
    *
    * Per batch: `n` SCORED rows (zero-norm/null vectors carry no
    * angular distance and are excluded up front), `n_cells` distinct
    * cells hit, `max_cell_n` (occupancy skew — a drifting corpus
    * funnels into the frozen cells nearest its new mode),
    * `mean_dist`/`max_dist` (angular distance 1 − cosine of each
    * vector to its OWN frozen centroid — the assignment's own score,
    * so a healthy batch matches the seed's distribution), and
    * `drift_vs_seed` = mean_dist − the EARLIEST batch's mean_dist
    * (batch ids are caller-chosen, so the baseline is positional, not
    * a hardcoded 0): a drift-free replay of seed-distributed data
    * reports ≈ 0; re-ingesting the seed itself reports EXACTLY 0
    * (PipelineOpsSpec pins both; the planted-drift s19 query pins the
    * whole audit against DuckDB).
    *
    * Determinism for the oracle gate: the per-row distance is the
    * exact integer dot over the stored norms (one double expression,
    * identical in both engines) quantized to DECIMAL(18,12) before
    * the per-batch SUM — decimal sums are order-independent, so the
    * mean is engine-exact (the t11 discipline). Scale shape: one
    * broadcast of the frozen centroid table against the stored rows,
    * two batch-keyed aggregations — no corpus-sized shuffle beyond
    * the group-bys, audit cost linear in the index.
    */
  def semanticIndexDriftAudit(s: SparkSession, indexDir: String)
      : DataFrame = {
    // one observability tool, BOTH frozen-centroid families (the s19
    // contract) — but still manifest-gated: a minhash dir or a plain
    // parquet dir fails at the door, not in a scan
    val man = requireFamily(s, indexDir, "semanticIndexDriftAudit",
      "semantic", "ivfpq")
    val root = genRoot(indexDir, currentGen(s, indexDir))
    val cent = readTree(s, IndexTree.Centroids, Seq(s"$indexDir/centroids"))
      .select(col("cell"), col("cc"), col("cnrmr"))
    // tombstoned ids excluded: the audit must price the index the
    // probes/serves actually read ([[deleteFromIndex]]'s contract —
    // the audit cannot disagree with the index it audits); a batch
    // whose every row is deleted disappears from the report
    val rows = readTree(s, IndexTree.batchesOf(man.family),
        Seq(s"$root/batches"), tombstones = loadTombstones(s, indexDir))
      .select(col("batch"), col("id"), col("cell"), col("c"), col("nrm"))
    // zero-norm / null vectors have no direction, hence no angular
    // distance — their 0/0 would become NaN → NULL under the decimal
    // cast, silently deflating the mean (sum skips, count doesn't —
    // REVIEW). Exclude them up front: `n` counts SCORED rows, the
    // documented contract.
    val scored = rows.filter(col("c").isNotNull && col("nrm") > 0)
      .join(broadcast(cent), Seq("cell"))
      .select(col("batch"), col("cell"),
        (lit(1.0) - dot_i64(col("c"), col("cc")).cast("double") /
          (col("nrm") * lit(1.0e6) * col("cnrmr")))
          .cast(DecimalType(18, 12)).as("dist"))
    val occ = scored.groupBy(col("batch"), col("cell"))
      .agg(count(lit(1)).as("cn"))
    val skew = occ.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_cells"), max(col("cn")).as("max_cell_n"))
    val dists = scored.groupBy(col("batch"))
      .agg(count(lit(1)).as("n"),
        sum(col("dist")).as("sdist"),
        max(col("dist")).as("maxd"))
      .select(col("batch"), col("n"),
        (col("sdist").cast("double") / col("n")).as("mean_dist"),
        col("maxd").cast("double").as("max_dist"))
    // baseline = the EARLIEST committed batch, not a hardcoded id 0:
    // batch ids are caller-chosen (a foreachBatch epoch can start past
    // 0 after a checkpoint restart), and a missing hardcoded baseline
    // would silently empty the whole audit through the cross join —
    // the worst failure mode for an observability tool (REVIEW)
    val seed = dists.orderBy(col("batch").asc).limit(1)
      .select(col("mean_dist").as("seed_mean"))
    dists.join(skew, Seq("batch"))
      .crossJoin(broadcast(seed))
      .select(col("batch"), col("n"), col("n_cells"), col("max_cell_n"),
        col("mean_dist"), col("max_dist"),
        (col("mean_dist") - col("seed_mean")).as("drift_vs_seed"))
  }
}
