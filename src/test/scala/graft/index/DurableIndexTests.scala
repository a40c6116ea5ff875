package graft.index

import org.apache.spark.sql.functions.col
import graft.core.Pins.PinnedDataset
import graft.operators.{AnnOps, DedupOps, LloydReference, OpsSpecBase}

/** The durable-index lifecycle: build, append, serve, the semantic and
  * minhash increments, compaction, deletes, rebuild, leak checks. */
trait DurableIndexTests extends OpsSpecBase {

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
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", idx,
      cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    def rowsOf(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    // bit-parity with the inline operator at non-ceiling settings —
    // every dial live: multi-probe cells, tight ADC cut
    Seq((1, 6), (2, 12), (4, 1000)).foreach { case (p, d) =>
      val served = rowsOf(IvfPqIndex.queryIvfPqIndex(
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
    val second = rowsOf(IvfPqIndex.queryIvfPqIndex(
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
    val audit = SemanticIndex.semanticIndexDriftAudit(s, idx).collect()
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
    IvfPqIndex.buildIvfPqIndex(rag, "vid", "emb", "grp", ridx,
      cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    val servedR = rowsOf(IvfPqIndex.queryIvfPqIndex(
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
    IvfPqIndex.buildIvfPqIndex(rag.filter($"vid" < 60), "vid", "emb",
      "grp", ridx2, cells = 4, iters = 2, pqM = 4, pqKs = 4,
      pqIters = 2, partitions = 4)
    IvfPqIndex.appendIvfPqIndex(rag.filter($"vid" >= 60), "vid", "emb",
      "grp", ridx2, batchId = 1L, partitions = 4)
    val servedA = rowsOf(IvfPqIndex.queryIvfPqIndex(
      rag.filter($"vid" < 8), "vid", "emb", "grp", ridx2, k = 3,
      nprobe = 4, rerankDepth = Int.MaxValue, partitions = 4))
    val bruteA = rowsOf(AnnOps.filteredTopKIvf(rag, "vid", "emb",
      "grp", _ < 8, k = 3, cells = 4, iters = 2, nprobe = 4,
      partitions = 4))
    assert(servedA == bruteA,
      "ragged-dim APPEND + ceiling serve drifted from the filtered " +
        "brute force (append-side dsub inference)")
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
      IvfPqIndex.buildIvfPqIndex(seed, "vid", "emb", "grp", dir,
        cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
        partitions = 4)
    def append(dir: String, b: org.apache.spark.sql.DataFrame,
        id: Long): Unit =
      IvfPqIndex.appendIvfPqIndex(b, "vid", "emb", "grp", dir, id,
        partitions = 4)
    def serve(dir: String) = IvfPqIndex.queryIvfPqIndex(
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
    val audit = SemanticIndex.semanticIndexDriftAudit(s, dirB).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(audit == Map(0L -> 60L, 1L -> 10L, 2L -> 10L),
      s"drift audit must see build + both appends: $audit")
    // round-18 concurrent commit: the rows tree holds EXACTLY the
    // committed batch dirs — the dot-prefixed temp dir the rows write
    // stages in must be renamed away, never left as debris (a replay,
    // dirC, exercises the delete-then-rename path twice)
    Seq(dirA, dirB, dirC).foreach { d =>
      val root = java.nio.file.Paths.get(
        IndexStore.liveIndexRoot(s, d).stripPrefix("file:"), "batches")
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
      SemanticIndex.incrementalSemanticDedupDurable(df, "vid", "emb", idx, id,
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
    val audit = SemanticIndex.semanticIndexDriftAudit(s, idx).collect()
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
      SemanticIndex.incrementalSemanticDedupDurable(batch, "vid", "v", dir, id,
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
      SemanticIndex.incrementalSemanticDedupDurable(b, "vid", "v", dir, id,
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
      SemanticIndex.incrementalSemanticDedupDurable(b, "vid", "v", dir, id,
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

  test("compactIndex: one consolidated generation — serve and drift " +
      "audit identical, batch ids preserved, file count collapses to " +
      "~one per (batch, cell) leaf, double-compact stable") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 80).toDF("vid", "emb", "grp")
      .pin()
    val idx = tmpDir("compact")
    IvfPqIndex.buildIvfPqIndex(df.filter($"vid" < 60), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    IvfPqIndex.appendIvfPqIndex(df.filter($"vid" >= 60 && $"vid" < 70),
      "vid", "emb", "grp", idx, 1L, partitions = 4)
    IvfPqIndex.appendIvfPqIndex(df.filter($"vid" >= 70), "vid", "emb",
      "grp", idx, 2L, partitions = 4)
    def serve() = rowsOf(IvfPqIndex.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 2, rerankDepth = 12, partitions = 4))
    def audit() = SemanticIndex.semanticIndexDriftAudit(s, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    val (serveBefore, auditBefore) = (serve(), audit())
    // the live generation root moves on every compaction — resolve the
    // pointer fresh, like every reader does
    def liveBatches() = s"${IndexStore.liveIndexRoot(s, idx)}/batches"
    val filesBefore = parquetFiles(liveBatches()).size
    IndexStore.compactIndex(s, idx, partitions = 4)
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
    IndexStore.compactIndex(s, idx, partitions = 4)
    assert(serve() == serveBefore && audit() == auditBefore,
      "double-compaction drifted")
  }

  test("the maintenance lock is exclusive: of threads racing to take " +
      "it, exactly one wins in every trial") {
    val s = spark
    val idx = tmpDir("lock-race")
    val lock = java.nio.file.Paths.get(s"$idx/.maintenance-lock")
    (1 to 300).foreach { trial =>
      val wins = race(4) { t =>
        try { IndexStore.acquireMaintenanceLock(s, idx, s"t$t"); true }
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
    IvfPqIndex.buildIvfPqIndex(df.filter($"vid" < 40), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    IvfPqIndex.appendIvfPqIndex(df.filter($"vid" >= 40), "vid", "emb", "grp",
      idx, 1L, partitions = 4)
    def serve() = rowsOf(IvfPqIndex.queryIvfPqIndex(
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
        try { IndexStore.compactIndex(s, idx, partitions = 4); None }
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
    IvfPqIndex.buildIvfPqIndex(df.filter($"vid" < 60), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    IvfPqIndex.appendIvfPqIndex(df.filter($"vid" >= 60), "vid", "emb",
      "grp", idx, 1L, partitions = 4)
    def serve() = rowsOf(IvfPqIndex.queryIvfPqIndex(
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
      IvfPqIndex.appendIvfPqIndex(df.filter($"vid" < 4), "vid", "emb",
        "grp", idx, 9L, partitions = 4)
    }
    intercept[IllegalStateException] { IndexStore.compactIndex(s, idx) }
    IndexStore.recoverIndex(s, idx)
    assert(!new java.io.File(s"$idx/.maintenance-lock").exists())
    assert(!new java.io.File(s"$idx/gens/gen=1").exists(),
      "recovery must delete the uncommitted generation")
    assert(serve() == good)
    // recovery is idempotent on a clean index
    IndexStore.recoverIndex(s, idx)
    assert(serve() == good)
    // (b) a real compaction now installs gen 1; gen 0 stays one cycle
    // as the in-flight-reader grace window
    IndexStore.compactIndex(s, idx, partitions = 4)
    assert(serve() == good, "compaction drifted the serve")
    assert(new java.io.File(s"$idx/gens/gen=1/batches").exists())
    assert(new java.io.File(s"$idx/gens/gen=0/batches").exists(),
      "the previous generation must survive one maintenance cycle")
    // (c) POST-FLIP crash: lock stranded after the marker committed —
    // recovery just releases it (the cleanup steps are idempotent and
    // the next run redoes them)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx/.maintenance-lock"), "compact:1")
    IndexStore.recoverIndex(s, idx)
    assert(!new java.io.File(s"$idx/.maintenance-lock").exists())
    assert(new java.io.File(s"$idx/gens/gen=1/batches").exists(),
      "post-flip recovery must not touch the committed generation")
    assert(serve() == good)
    // (d) the NEXT compaction reclaims the old grace generation
    IndexStore.compactIndex(s, idx, partitions = 4)
    assert(!new java.io.File(s"$idx/gens/gen=0").exists(),
      "generations older than the grace window must be reclaimed")
    assert(serve() == good)
    // (e) explicit vacuum reclaims the remaining grace generation
    assert(new java.io.File(s"$idx/gens/gen=1").exists())
    IndexStore.vacuumIndexGenerations(s, idx)
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
    IvfPqIndex.buildIvfPqIndex(df.filter($"vid" < 60), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    IvfPqIndex.appendIvfPqIndex(df.filter($"vid" >= 60), "vid", "emb",
      "grp", idx, 1L, partitions = 4)
    def serve() = rowsOf(IvfPqIndex.queryIvfPqIndex(
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
      IndexStore.compactIndex(s, idx, partitions = 4)
      val mark = served + 2 // current serve may straddle; the next not
      val t0 = System.nanoTime()
      while (served < mark && failure.isEmpty &&
          System.nanoTime() - t0 < 60e9) Thread.sleep(20)
      IndexStore.compactIndex(s, idx, partitions = 4)
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
    IvfPqIndex.buildIvfPqIndex(df.filter($"vid" >= 20), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    IvfPqIndex.appendIvfPqIndex(df.filter($"vid" >= 8 && $"vid" < 20),
      "vid", "emb", "grp", idx, 1L, partitions = 4)
    IvfPqIndex.appendIvfPqIndex(df.filter($"vid" < 8), "vid", "emb",
      "grp", idx, 2L, partitions = 4)
    IndexStore.expireBatches(s, idx, minKeepBatchId = 1L)
    val root = IndexStore.liveIndexRoot(s, idx)
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
    val served = rowsOf(IvfPqIndex.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 4, rerankDepth = Int.MaxValue, partitions = 4))
    val brute = rowsOf(AnnOps.filteredTopKIvf(
      df.filter($"vid" < 20), "vid", "emb", "grp",
      _ < 8, k = 3, cells = 4, iters = 2, nprobe = 4, partitions = 4))
    assert(served == brute,
      "post-expiry ceiling serve != brute force over retained corpus")
    // replay idempotence: the same retention decision re-applies as a
    // no-op (the crash-mid-expiry recovery story — re-run completes)
    IndexStore.expireBatches(s, idx, minKeepBatchId = 1L)
    assert(rowsOf(IvfPqIndex.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 4, rerankDepth = Int.MaxValue, partitions = 4)) == served,
      "expiry replay drifted the serve")
    // dropping every batch is a refusal, not an empty index
    intercept[IllegalArgumentException] {
      IndexStore.expireBatches(s, idx, minKeepBatchId = 99L)
    }
    // expiry composes with compaction: the retained rows re-pack
    IndexStore.compactIndex(s, idx, partitions = 4)
    assert(rowsOf(IvfPqIndex.queryIvfPqIndex(
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
      IvfPqIndex.buildIvfPqIndex(df.filter($"vid" >= 20), "vid", "emb",
        "grp", dir, cells = 4, iters = 2, pqM = 4, pqKs = 4,
        pqIters = 2, partitions = 4)
      IvfPqIndex.appendIvfPqIndex(df.filter($"vid" >= 8 && $"vid" < 20),
        "vid", "emb", "grp", dir, 1L, partitions = 4)
      IvfPqIndex.appendIvfPqIndex(df.filter($"vid" < 8), "vid", "emb",
        "grp", dir, 2L, partitions = 4)
      // a tombstone batch too: the composed pass must apply it, record
      // it in the new generation, AND clear it in the same breath
      // (vacuum face) — exactly like the sequential passes do
      IndexStore.deleteFromIndex(Seq(15L).toDF("vid"), "vid", dir, 0L)
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
    def serve(dir: String) = rowsOf(IvfPqIndex.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", dir, k = 3,
      nprobe = 4, rerankDepth = Int.MaxValue, partitions = 4))
    val seqDir = tmpDir("mnt-seq"); seed(seqDir)
    val oneDir = tmpDir("mnt-one"); seed(oneDir)
    // sequential: three scheduled passes (expire≡compact, then vacuum)
    IndexStore.expireBatches(s, seqDir, minKeepBatchId = 1L, partitions = 4)
    IndexStore.vacuumIndexGenerations(s, seqDir)
    // composed: ONE pass, one lock cycle, one generation rewrite
    IndexStore.maintainIndex(s, oneDir, IndexStore.IndexMaintenancePolicy(
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
    IndexStore.maintainIndex(s, oneDir)
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
      IndexStore.maintainIndex(s, oneDir, IndexStore.IndexMaintenancePolicy(
        minKeepBatchId = 2L, vacuum = true))
    }
    IndexStore.recoverIndex(s, oneDir)
    assert(!new java.io.File(s"$oneDir/gens/gen=3").exists(),
      "recovery must delete the uncommitted composed generation")
    IndexStore.maintainIndex(s, oneDir, IndexStore.IndexMaintenancePolicy(
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
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", ann, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, partitions = 4)
    val sem = tmpDir("man-sem")
    SemanticIndex.incrementalSemanticDedupDurable(
      df.select($"vid", $"emb"), "vid", "emb", sem, 0L,
      threshold = 0.9, cells = 4, iters = 1, probe = false)
    // the manifests declare their families and the frozen shape
    assert(IndexStore.readIndexManifest(s, ann).family == "ivfpq")
    assert(IndexStore.readIndexManifest(s, ann).params("dsub") == 4L)
    assert(IndexStore.readIndexManifest(s, sem).family == "semantic")
    // a serve pointed at the dedup family fails at the door
    val e1 = intercept[IllegalArgumentException] {
      IvfPqIndex.queryIvfPqIndex(df.filter($"vid" < 4), "vid", "emb",
        "grp", sem, k = 3, partitions = 4)
    }
    assert(e1.getMessage.contains("'semantic'"), e1.getMessage)
    // the dedup incremental pointed at a serving index likewise
    intercept[IllegalArgumentException] {
      SemanticIndex.incrementalSemanticDedupDurable(
        df.select($"vid", $"emb"), "vid", "emb", ann, 1L,
        threshold = 0.9, cells = 4, iters = 1)
    }
    // the minhash loader refuses both vector families
    intercept[IllegalArgumentException] {
      MinhashIndex.loadMinhashIndex(s, ann)
    }
    // no manifest at all (not an index) is loud, not a scan error
    val empty = tmpDir("man-none")
    val e2 = intercept[IllegalStateException] {
      IvfPqIndex.queryIvfPqIndex(df.filter($"vid" < 4), "vid", "emb",
        "grp", empty, k = 3, partitions = 4)
    }
    assert(e2.getMessage.contains("_index.json"), e2.getMessage)
    // minhash banding params are declared once and enforced forever
    val mh = tmpDir("man-mh")
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta theta"))
      .toDF("doc_id", "text")
    MinhashIndex.incrementalMinhashDedupDurable(docs, "doc_id", "text",
      mh, 0L, 3, 4, 2, 0.5, partitions = 2)
    val e3 = intercept[IllegalArgumentException] {
      MinhashIndex.incrementalMinhashDedupDurable(docs, "doc_id", "text",
        mh, 1L, 3, 8, 2, 0.5, partitions = 2)
    }
    assert(e3.getMessage.contains("bands=8"), e3.getMessage)
    // a NULL-casting delete id is loud, never a silent no-op takedown
    val e4 = intercept[IllegalArgumentException] {
      IndexStore.deleteFromIndex(
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
    IvfPqIndex.buildIvfPqIndex(df.filter($"vid" < 60), "vid", "emb", "grp",
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
            IvfPqIndex.appendIvfPqIndex(
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
        try IndexStore.compactIndex(s, idx, partitions = 4)
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
    val root = IndexStore.liveIndexRoot(s, idx)
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
    SemanticIndex.incrementalSemanticDedupDurable(seed, "vid", "emb", idx,
      0L, threshold = 0.9, cells = 2, iters = 1, probe = false)
    assert(IndexStore.readIndexManifest(s, idx).params("dim") == 8L)
    val e = intercept[IllegalArgumentException] {
      SemanticIndex.incrementalSemanticDedupDurable(
        Seq((100L, Array(1f, 2f))).toDF("vid", "emb"), "vid", "emb",
        idx, 1L, threshold = 0.9, cells = 2, iters = 1)
    }
    assert(e.getMessage.contains("dim"), e.getMessage)
    // the rejected batch must NOT have committed
    val root = IndexStore.liveIndexRoot(s, idx)
    assert(!new java.io.File(s"$root/batches/batch=1").exists(),
      "a dim-rejected batch half-committed")
    // all-null batches carry no dim and commit (one bad upstream row
    // must not crash the st16 stream)
    SemanticIndex.incrementalSemanticDedupDurable(
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
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", idx, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, partitions = 4)
    def serve() = rowsOf(IvfPqIndex.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", idx, k = 3,
      nprobe = 4, rerankDepth = Int.MaxValue, partitions = 4))
    val good = serve()
    IvfPqIndex.appendIvfPqIndex(
      Seq((1000L, null.asInstanceOf[Array[Float]], "0"),
        (1001L, null.asInstanceOf[Array[Float]], "1"))
        .toDF("vid", "emb", "grp"),
      "vid", "emb", "grp", idx, 5L, partitions = 4)
    val root = IndexStore.liveIndexRoot(s, idx)
    assert(new java.io.File(s"$root/batches/batch=5").exists(),
      "the all-null batch must COMMIT (one bad upstream row must not " +
        "crash a long-lived append stream)")
    assert(serve() == good,
      "null-vector rows must never rank in a serve")
    // a mixed-dim batch still rejects loudly (the dim contract stands)
    intercept[IllegalArgumentException] {
      IvfPqIndex.appendIvfPqIndex(
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
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", idx, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, partitions = 4)
    def serve() = rowsOf(IvfPqIndex.queryIvfPqIndex(
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
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", idx, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, partitions = 4)
    Seq("batches", "codes").foreach { tree =>
      assert(!new java.io.File(s"$idx/$tree").exists(),
        s"the rebuild left the legacy root-level $tree/ behind")
    }
    assert(serve() == good, "the rebuild drifted the serve")
    // appends keep working after the rebuild
    IvfPqIndex.appendIvfPqIndex(
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
    IvfPqIndex.buildIvfPqIndex(df.filter($"vid" < 60), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    IvfPqIndex.appendIvfPqIndex(df.filter($"vid" >= 60), "vid", "emb",
      "grp", idx, 1L, partitions = 4)
    val deleted = Set(40L, 41L, 44L, 61L)
    IndexStore.deleteFromIndex(deleted.toSeq.toDF("vid"), "vid", idx, 1L)
    def serve(nprobe: Int, depth: Int) = rowsOf(IvfPqIndex.queryIvfPqIndex(
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
    IndexStore.deleteFromIndex(deleted.toSeq.toDF("vid"), "vid", idx, 1L)
    assert(serve(4, Int.MaxValue) == served, "delete replay drifted")
    // audit excludes tombstoned rows (n drops by the per-batch deletes)
    val audit = SemanticIndex.semanticIndexDriftAudit(s, idx).collect()
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
    IndexStore.compactIndex(s, idx, partitions = 4)
    assert(tombstoneBatches() == 1,
      "applied tombstones must survive the grace cycle (old-gen " +
        "readers still need the anti-join)")
    assert(serve(4, Int.MaxValue) == served, "post-compact serve drifted")
    IndexStore.compactIndex(s, idx, partitions = 4)
    assert(tombstoneBatches() == 0,
      "applied tombstones must clear when their grace window closes")
    assert(serve(4, Int.MaxValue) == served,
      "second-compaction serve drifted")
    // the audit still prices exactly the original index-minus-deletes
    // BEFORE the overwrite exercise below removes more rows
    assert(SemanticIndex.semanticIndexDriftAudit(s, idx).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == audit)
    // OVERWRITE SAFETY: a tombstone batch re-written AFTER a
    // compaction applied it carries ids that compaction never dropped
    // — the fingerprint mismatch must keep the batch anti-joining
    // (name-only clearing would delete the takedown wholesale)
    IndexStore.deleteFromIndex(Seq(42L).toDF("vid"), "vid", idx, 9L)
    IndexStore.compactIndex(s, idx, partitions = 4) // applies + records 9
    IndexStore.deleteFromIndex(Seq(42L, 45L).toDF("vid"), "vid", idx, 9L)
    IndexStore.compactIndex(s, idx, partitions = 4) // fingerprint mismatch
    assert(tombstoneBatches() == 1,
      "an overwritten applied batch must survive the clear (its new " +
        "ids were never dropped from the grace generation)")
    val served2 = serve(4, Int.MaxValue)
    assert(!served2.exists(t => t._2 == 42L || t._2 == 45L),
      s"an overwritten tombstone stopped anti-joining: $served2")
    // two more cycles: the re-recorded batch clears once ITS grace
    // window closes, and the rows stay gone
    IndexStore.compactIndex(s, idx, partitions = 4)
    IndexStore.compactIndex(s, idx, partitions = 4)
    assert(tombstoneBatches() == 0,
      "the re-applied overwrite must clear eventually")
    assert(serve(4, Int.MaxValue) == served2,
      "post-clear serve drifted")
    // the audit prices the two extra takedowns (42, 45 — both in
    // batch 0) once they are physically applied
    assert(SemanticIndex.semanticIndexDriftAudit(s, idx).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      audit.map { case (b, n) => b -> (if (b == 0L) n - 2 else n) })
    // the dedup-index face: a deleted accumulated doc neither pairs
    // nor roots a delegation group
    val didx = tmpDir("del-dedup")
    val seed = Seq((100L, Array(10f, 0f, 0f)), (101L, Array(0f, 10f, 0f)))
      .toDF("vid", "emb")
    SemanticIndex.incrementalSemanticDedupDurable(seed, "vid", "emb", didx,
      0L, threshold = 0.9, cells = 2, iters = 1, probe = false)
    IndexStore.deleteFromIndex(Seq(100L).toDF("vid"), "vid", didx, 0L)
    val pairs = SemanticIndex.incrementalSemanticDedupDurable(
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
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", idx, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, partitions = 4)
    val deleted = Set(1L, 5L, 9L)
    IndexStore.deleteFromIndex(deleted.toSeq.toDF("vid"), "vid", idx, 1L)
    val tsRoot = java.nio.file.Paths.get(s"$idx/tombstones")
    def tree() = sha256Tree(tsRoot.toString)
    val committed = tree()
    intercept[IllegalArgumentException] {
      IndexStore.deleteFromIndex(Seq(Some(2L), None).toDF("vid"), "vid",
        idx, 1L)
    }
    assert(tree() == committed,
      "a rejected replay changed the committed tombstones")
    val batchDirs = tsRoot.toFile.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batchDirs.map(_.getName).toSeq == Seq("batch=1") &&
      batchDirs.forall(_.listFiles().exists(_.getName.endsWith(".parquet"))),
      "a rejected replay left an empty or extra batch dir")
    val served = IvfPqIndex.queryIvfPqIndex(df.filter($"vid" < 8), "vid",
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
    MinhashIndex.commitMinhashIndexBatch(sigs, dir, 0L, 3, 4, 2)
    val batchDir = s"${IndexStore.liveIndexRoot(s, dir)}/batches/batch=0"
    def loaded() = MinhashIndex.loadMinhashIndex(s, dir).get.collect()
      .map(_.toString).toSet
    val committed = sha256Tree(batchDir)
    val before = loaded()
    val bad = sigs.withColumn("doc_id", when(col("doc_id") === 2L,
      raise_error(lit("replay rejected"))).otherwise(col("doc_id")))
    val e = intercept[Exception] {
      MinhashIndex.commitMinhashIndexBatch(bad, dir, 0L, 3, 4, 2)
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
    IvfPqIndex.buildIvfPqIndex(df.filter($"vid" < 40), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    val batch = df.filter($"vid" >= 40)
    IvfPqIndex.appendIvfPqIndex(batch, "vid", "emb", "grp", idx, 1L,
      partitions = 4)
    val root = IndexStore.liveIndexRoot(s, idx)
    def trees() = Seq("codes", "batches")
      .map(t => t -> sha256Tree(s"$root/$t/batch=1")).toMap
    def serve() = IvfPqIndex.queryIvfPqIndex(df.filter($"vid" % 6 === 0),
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
      IvfPqIndex.appendIvfPqIndex(batch, "vid", "emb", "grp", idx, 1L,
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
    SemanticIndex.incrementalSemanticDedupDurable(seed, "vid", "emb", idx,
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
      SemanticIndex.incrementalSemanticDedupDurable(
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

  test("incrementalSemanticDedupDurable: a first batch whose centroid " +
      "write is cancelled leaves no centroids, and its replay trains " +
      "afresh to a clean run's pairs and manifest") {
    val s = spark
    import s.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val seed = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(8)(j => if (j == i % 2) 10f else 0f)))
      .toDF("vid", "emb")
    def run(idx: String) = {
      val out = SemanticIndex.incrementalSemanticDedupDurable(seed, "vid",
        "emb", idx, 0L, threshold = 0.9, cells = 2, iters = 1)
      try out.collect().map(_.toString).toSet
      finally DedupOps.releaseLocalCheckpoint(out)
    }
    val clean = tmpDir("sem-first-clean")
    val want = run(clean)
    assert(want.nonEmpty, "the fixture plants no pairs (vacuous)")
    // the write jobs of every SQL execution that writes the centroid
    // table are cancelled; the hold protocol keeps each write task from
    // finishing before the cancel lands
    val centExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val cancels = new java.util.concurrent.atomic.AtomicInteger
    val canceller = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.physicalPlanDescription.contains("centroids") =>
          centExecs.add(x.executionId)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .filter(id => centExecs.contains(id.toLong))
          .foreach { _ =>
            cancels.incrementAndGet()
            s.sparkContext.cancelJob(js.jobId)
          }
    }
    val idx = tmpDir("sem-first-cancel")
    s.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[HoldUntilKilledCommitProtocol].getName)
    s.sparkContext.addSparkListener(canceller)
    try intercept[Exception](run(idx))
    finally {
      s.sparkContext.removeSparkListener(canceller)
      s.conf.unset("spark.sql.sources.commitProtocolClass")
    }
    assert(cancels.get > 0, "no centroid write was cancelled (vacuous)")
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$idx/centroids")),
      "a cancelled centroid write left a centroids dir behind")
    assert(run(idx) == want, "the replay's pairs differ from a clean run's")
    assert(IndexStore.readIndexManifest(s, idx) ==
      IndexStore.readIndexManifest(s, clean),
      "the replay's manifest differs from a clean run's")
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
      MinhashIndex.incrementalMinhashDedupDurable(oldDocs, "doc_id",
        "text", dir, 0L, 3, 4, 2, 0.5, partitions = 2)
      MinhashIndex.incrementalMinhashDedupDurable(inc1, "doc_id",
        "text", dir, 1L, 3, 4, 2, 0.5, partitions = 2)
      // doc 2 is a near-dup of the family; tombstone it
      IndexStore.deleteFromIndex(Seq(2L).toDF("doc_id"), "doc_id", dir, 0L)
    }
    val plain = tmpDir("mh-plain"); seed(plain)
    val compacted = tmpDir("mh-compact"); seed(compacted)
    IndexStore.compactIndex(s, compacted, partitions = 2)
    // applied tombstones clear one grace cycle later — vacuum closes
    // the window explicitly (the deployment's drained-readers call);
    // the parent dir deliberately remains (deleting an emptied parent
    // races a concurrent deleteFromIndex commit)
    IndexStore.vacuumIndexGenerations(s, compacted)
    assert(Option(new java.io.File(s"$compacted/tombstones")
        .listFiles()).toSeq.flatten
        .count(f => f.isDirectory && f.getName.startsWith("batch=")) == 0,
      "applied tombstones must clear once the grace window closes")
    def probe(dir: String) = MinhashIndex.incrementalMinhashDedupDurable(
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
      val ids = MinhashIndex.loadMinhashIndex(s, dir).get
        .select(col("doc_id")).as[Long].collect().toSet
      assert(!ids.contains(2L), s"$dir still loads the tombstoned doc")
    }
    // crashed-maintenance window: READERS ignore a stranded lock
    // (they resolve the committed pointer — nothing half-done is ever
    // visible), MUTATORS fail loudly (they cannot tell a crashed
    // maintenance run from a live one), recoverIndex releases it
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$plain/.maintenance-lock"), "expire")
    assert(MinhashIndex.loadMinhashIndex(s, plain).nonEmpty,
      "a reader must ignore a maintenance lock")
    intercept[IllegalStateException] {
      MinhashIndex.incrementalMinhashDedupDurable(
        mk(Seq((30L, "another new document arrives just fine today"))),
        "doc_id", "text", plain, 3L, 3, 4, 2, 0.5, partitions = 2)
    }
    IndexStore.recoverIndex(s, plain)
    MinhashIndex.incrementalMinhashDedupDurable(
      mk(Seq((30L, "another new document arrives just fine today"))),
      "doc_id", "text", plain, 3L, 3, 4, 2, 0.5, partitions = 2)
    val idsAfter = MinhashIndex.loadMinhashIndex(s, plain).get
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
      MinhashIndex.loadMinhashIndex(s, legacy)
    }
    assert(new java.io.File(s"$legacy/batches").mkdirs())
    intercept[IllegalStateException] {
      MinhashIndex.loadMinhashIndex(s, legacy)
    }
    // the round-12 layout (batches/ at the root, no pointer) is loud too
    val legacy12 = tmpDir("mh-legacy12")
    DedupOps.minhashIndex(oldDocs, "doc_id", "text", 3, 4, 2,
        partitions = 2)
      .select(col("doc_id"), col("shs"), col("bkeys"))
      .write.mode("overwrite").parquet(s"$legacy12/batches/batch=0")
    intercept[IllegalStateException] {
      MinhashIndex.loadMinhashIndex(s, legacy12)
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
    MinhashIndex.incrementalMinhashDedupDurable(docs0, "doc_id", "text",
      dir, 0L, 3, 4, 2, 0.5, partitions = 2)
    // simulate the race the lock gate cannot see: the caller's probe
    // read gen 0, then a COMPLETE maintenance cycle (lock, build gen 1,
    // commit marker, release) ran before the commit helper's door
    IndexStore.compactIndex(s, dir, partitions = 2)
    val sigs = DedupOps.minhashIndex(
      Seq((10L, "some new increment text goes here ok")).toDF(
        "doc_id", "text"),
      "doc_id", "text", 3, 4, 2, partitions = 2)
    val ex = intercept[IllegalArgumentException] {
      MinhashIndex.commitMinhashIndexBatch(sigs, dir, 1L, 3, 4, 2,
        expectedGen = Some(Some(0L)))
    }
    assert(ex.getMessage.contains("maintenance"),
      s"wrong failure: ${ex.getMessage}")
    assert(!new java.io.File(s"$dir/gens/gen=1/batches/batch=1").exists(),
      "the refused batch still committed")
    // the default (no expectedGen — direct d17 seeding, no probe to
    // protect) still resolves at its own entry and commits fine
    MinhashIndex.commitMinhashIndexBatch(sigs, dir, 1L, 3, 4, 2)
    assert(MinhashIndex.loadMinhashIndex(s, dir).get
        .filter(col("doc_id") === 10L).count() == 1L,
      "default-entry commit lost the batch")
    // and the end-to-end operator keeps accepting increments when no
    // maintenance interleaves (the common path is untouched)
    val pairs = MinhashIndex.incrementalMinhashDedupDurable(
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
    IvfPqIndex.buildIvfPqIndex(df.filter($"vid" < 40), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    IvfPqIndex.appendIvfPqIndex(df.filter($"vid" >= 40), "vid", "emb",
      "grp", idx, 1L, partitions = 4)
    IndexStore.deleteFromIndex(Seq(7L).toDF("vid"), "vid", idx, 1L)
    // REBUILD over the full corpus into the SAME dir: without the
    // stale-tree cleanup the old batch=1 rows (assigned against the
    // 40-row centroids) and the stale tombstone would silently poison
    // the new index (the ADVICE medium)
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", idx,
      cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    val fresh = tmpDir("rebuild-fresh")
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", fresh,
      cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    def serve(dir: String) = rowsOf(IvfPqIndex.queryIvfPqIndex(
      df.filter($"vid" < 8), "vid", "emb", "grp", dir, k = 3,
      nprobe = 2, rerankDepth = 12, partitions = 4))
    assert(serve(idx) == serve(fresh),
      "rebuild into a lived-in dir differs from a fresh build")
    val audit = SemanticIndex.semanticIndexDriftAudit(s, idx).collect()
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
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", idx,
      cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    val ragged = annRows(40 until 50)
      .map { case (id, v, g) => (id, v.take(10), g) }
      .toDF("vid", "emb", "grp")
    val e = intercept[IllegalArgumentException] {
      IvfPqIndex.appendIvfPqIndex(ragged, "vid", "emb", "grp", idx, 1L,
        partitions = 4)
    }
    assert(e.getMessage.contains("dim"), e.getMessage)
  }

  test("IVF-PQ build stores the codes and codebooks of the driver-side " +
      "reference Lloyd, and the train-timeout conf is honored") {
    val s = spark
    import s.implicits._
    val df = annRows(0 until 80).toDF("vid", "emb", "grp").pin()
    val idx = tmpDir("train")
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", idx,
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
      IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", tmpDir("pool-to"),
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
      try IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", dirOk,
        cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
        partitions = 4)
      catch { case e: Throwable => okErr = e }
    }, "graft-ctag-ok")
    tOk.start()
    Thread.sleep(300) // let the healthy build get jobs in flight
    intercept[java.util.concurrent.TimeoutException] {
      IvfPqIndex.buildIvfPqIndex(dfFail, "vid", "emb", "grp", dirFail,
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
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", ref,
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
