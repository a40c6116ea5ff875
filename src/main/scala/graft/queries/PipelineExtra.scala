package graft.queries

import graft.Tables
import graft.queries.GraftQuery.{dec, md5Bucket, sqlMd5Bucket}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the dedup/similarity/text
  * suites: sequence packing, stratified sampling, class-balance
  * weighting, embedding quantization, train/val/test splitting,
  * curriculum binning, train→test decontamination, and domain-mixture
  * token budgeting — the batch-prep steps between "corpus is clean"
  * and "tensors ship to the trainer".
  *
  * All eight are oracle-checked like every other query group. Library
  * facades over arbitrary DataFrames live in
  * [[graft.operators.PipelineOps]].
  */
object PipelineExtra {

  /** Tokens per pack: the context-window budget. */
  private val PackBudget = 2048L

  /** p07 document-frequency cut: train-side shingles in more docs than
    * this leave the contamination index (d04's df-cut contract). */
  private val DecontamDfCut = 16

  /** Shared by p07 (inverted-index scan) and p11 (the same scan behind
    * the broadcast-Bloom test-side prefilter): the Bloom is a plan
    * optimization with zero effect on the rows, so both queries pin
    * against the identical oracle.
    */
  /** The synthetic mixture weight of each source (suffix mod 4 + 1)
    * as a (source, w) table over the sources of `docs`. */
  private def sourceWeights(docs: DataFrame): DataFrame =
    docs.select(col("source")).distinct()
      .select(col("source"),
        (expr("substring(source, 4)").cast("long") % 4 + 1).as("w"))

  /** p07/p11's decontamination sides: the p05 train (bucket < 80) and
    * test (bucket >= 90) splits, scanned by `scan` at shingle k = 7. */
  private def decontam(s: SparkSession, dir: String)(
      scan: (DataFrame, DataFrame, String, String, Int, Int) => DataFrame)
      : DataFrame = {
    import s.implicits._
    val docsAll = Tables.load(s, dir, "documents")
      .select($"doc_id", $"text", (md5Bucket($"doc_id") % 100).as("bucket"))
    scan(docsAll.filter($"bucket" < 80), docsAll.filter($"bucket" >= 90),
      "doc_id", "text", 7, DecontamDfCut)
  }

  /** Oracle CTEs `r1`/`r1a`/`r2`: the p08 two-round waterfill of the
    * MixBudget over the (source, weight, avail_tokens) rows of `from`. */
  private def sqlWaterfill(from: String): String = s"""
        r1 AS (
          SELECT source, weight, avail_tokens,
            ($MixBudget * weight) // CAST(SUM(weight) OVER () AS BIGINT)
              AS target_tokens
          FROM $from
        ),
        r1a AS (
          SELECT *, LEAST(avail_tokens, target_tokens) AS r1_alloc FROM r1
        ),
        r2 AS (
          SELECT *,
            CAST($MixBudget - SUM(r1_alloc) OVER () AS BIGINT) AS leftover,
            avail_tokens - r1_alloc AS rem_cap,
            CAST(SUM(CASE WHEN avail_tokens > r1_alloc THEN weight ELSE 0 END)
              OVER () AS BIGINT) AS surplus_w
          FROM r1a
        )"""

  /** [[sqlWaterfill]] over `avail`, then each source's final
    * allocation `alloc`(source, avail_tokens, alloc_tokens). */
  private def sqlWaterfillAlloc: String = sqlWaterfill("avail") + """,
        alloc AS (
          SELECT source, avail_tokens,
            r1_alloc + LEAST(rem_cap,
              CASE WHEN rem_cap > 0 AND surplus_w > 0
                THEN (leftover * weight) // surplus_w ELSE 0 END)
              AS alloc_tokens
          FROM r2
        )"""

  private def decontamOracleSql: String = s"""
        WITH ws AS (
          SELECT doc_id, string_split(text, ' ') ws FROM documents
        ),
        sh AS (
          SELECT doc_id,
            unnest(CASE WHEN len(ws) >= 7
              THEN list_distinct([array_to_string(ws[i+1:i+7], ' ')
                                  for i in range(len(ws) - 6)])
              ELSE [array_to_string(ws, ' ')] END) AS sh,
            ${sqlMd5Bucket("doc_id")}
              % 100 AS bucket
          FROM ws
        ),
        tr AS (
          SELECT doc_id AS train_doc_id, sh FROM sh WHERE bucket < 80
        ),
        hot AS (
          SELECT sh FROM (SELECT sh, COUNT(*) df FROM tr GROUP BY sh) t
          WHERE df > $DecontamDfCut
        ),
        trc AS (
          SELECT t.train_doc_id, t.sh FROM tr t ANTI JOIN hot h ON t.sh = h.sh
        ),
        te AS (SELECT doc_id, sh FROM sh WHERE bucket >= 90)
        SELECT te.doc_id AS doc_id,
          COUNT(DISTINCT trc.train_doc_id) AS n_train_docs,
          COUNT(DISTINCT te.sh) AS n_contaminated_shingles
        FROM te JOIN trc ON te.sh = trc.sh
        GROUP BY 1"""

  /** p08 global token budget to allocate across sources. Below the
    * sf0.01 corpus total (~37k est. tokens), so the waterfill exercises
    * both capped and topped-up sources at the correctness SF. */
  private val MixBudget = 30000L

  val all: Seq[GraftQuery] = Seq(

    GraftQuery(
      "p01_sequence_packing",
      (s, dir) => {
        import s.implicits._
        // Contiguous sequence packing: documents are concatenated in
        // doc_id order and split into PackBudget-token context windows
        // (a document may straddle a boundary; it belongs to the pack
        // where it STARTS — the standard concat-then-chunk loader). The
        // running sum is windowed PER SOURCE, so packing parallelizes
        // across sources — the 100 TB spelling shards the corpus into
        // many such groups and packs each shard independently; nothing
        // needs a global order.
        // The query IS the PrepOps.packSequences facade call over the
        // tokenized frame, so the oracle pins the operator users run.
        val tok = Tables.load(s, dir, "documents")
          .select($"source", $"doc_id",
            size(split($"text", " ")).cast("long").as("toks"))
        graft.operators.PrepOps
          .packSequences(tok, "source", "doc_id", "toks", PackBudget)
          .select($"group".as("source"), $"pack_id", $"n_docs",
            $"n_tokens")
      },
      Some(s"""
        WITH tok AS (
          SELECT source, doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) toks
          FROM documents
        ),
        cum AS (
          SELECT source, doc_id, toks,
            SUM(toks) OVER (PARTITION BY source ORDER BY doc_id) cum
          FROM tok
        )
        SELECT source,
          CAST((cum - toks) // $PackBudget AS BIGINT) AS pack_id,
          COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens
        FROM cum
        GROUP BY 1, 2""")),

    GraftQuery(
      "p02_stratified_sample",
      (s, dir) => {
        import s.implicits._
        // Per-stratum deterministic sampling: majority language keeps
        // 10%, every other stratum keeps 30% — the up/down-weighting
        // move every multilingual corpus mix does. Membership is a pure
        // function of doc_id (md5 bucket, the q33 construction), so the
        // sample is reproducible under any partitioning / engine.
        // The sample IS the PrepOps.stratifiedSampleByHash facade call,
        // so the oracle pins the operator users run.
        graft.operators.PrepOps.stratifiedSampleByHash(
            Tables.load(s, dir, "documents"), "doc_id", "lang",
            Map("en" -> 1), defaultTenths = 3)
          .groupBy($"lang")
          .agg(
            count(lit(1)).as("n_sampled"),
            sum($"n_chars").as("sampled_chars"))
      },
      Some(s"""
        WITH b AS (
          SELECT lang, n_chars,
            ${sqlMd5Bucket("doc_id")}
              % 10 AS bucket
          FROM documents
        )
        SELECT lang, COUNT(*) AS n_sampled,
          CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
        FROM b
        WHERE CASE WHEN lang = 'en' THEN bucket < 1 ELSE bucket < 3 END
        GROUP BY 1""")),

    GraftQuery(
      "p03_class_balance",
      (s, dir) => {
        import s.implicits._
        // Class-balance weights: per-class multiplier that equalizes
        // effective class sizes to the largest class (the loss/sampling
        // weight table handed to the trainer). The window max runs over
        // the per-class AGGREGATE (|classes| rows), not the corpus.
        // The query IS the PrepOps.classBalanceWeights facade call.
        graft.operators.PrepOps.classBalanceWeights(
            Tables.load(s, dir, "documents"), "lang")
          .select($"class".as("lang"), $"n_docs", $"target", $"weight")
      },
      Some("""
        WITH cnt AS (
          SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1
        )
        SELECT lang, n_docs, (SELECT MAX(n_docs) FROM cnt) AS target,
          CAST((SELECT MAX(n_docs) FROM cnt) AS DOUBLE) / n_docs AS weight
        FROM cnt""")),

    GraftQuery(
      "p04_embedding_quantize",
      (s, dir) => {
        import s.implicits._
        // Symmetric int8 quantization of the embedding column with
        // per-vector scale = max|c|/127, plus the reconstruction-error
        // audit every quantized index ships with. Arithmetic is the
        // d05 scaled-long construction up to the one final double
        // division/multiply (identical IEEE shape in both engines);
        // per-vector max-error is order-independent, so no decimal
        // quantization of sums is needed.
        graft.operators.PrepOps.quantizeInt8(
            Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
          .select($"id".as("vec_id"), $"q_max", $"q_min",
            dec($"max_abs_err").cast("double").as("max_abs_err"))
      },
      Some("""
        WITH comp AS (
          SELECT vec_id,
            CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS BIGINT) c
          FROM embeddings
        ),
        mx AS (
          SELECT vec_id, MAX(ABS(c)) mx FROM comp GROUP BY 1
        ),
        j AS (
          SELECT comp.vec_id, comp.c,
            CAST(round(CAST(comp.c AS DOUBLE)
              / (CAST(mx.mx AS DOUBLE) / 127.0)) AS BIGINT) q,
            CAST(mx.mx AS DOUBLE) / 127.0 scale
          FROM comp JOIN mx ON mx.vec_id = comp.vec_id
          WHERE mx.mx > 0
        )
        SELECT vec_id, MAX(q) AS q_max, MIN(q) AS q_min,
          CAST(CAST(MAX(ABS(CAST(c AS DOUBLE) - CAST(q AS DOUBLE) * scale)
            / 1000000.0) AS DECIMAL(18,6)) AS DOUBLE) AS max_abs_err
        FROM j
        GROUP BY 1""")),

    GraftQuery(
      "p05_train_split",
      (s, dir) => {
        import s.implicits._
        // Deterministic train/val/test split assignment (80/10/10): the
        // split is a pure function of doc_id (the p02 md5-bucket
        // construction, mod 100), so membership is reproducible under
        // any partitioning, engine, or re-run; disjointness and full
        // coverage hold by construction. One map-side assign + a
        // |splits|-row aggregate — nothing shuffles but the 3 rows.
        // The assignment IS the PrepOps.splitAssign facade call.
        graft.operators.PrepOps.splitAssign(
            Tables.load(s, dir, "documents"), "doc_id",
            trainPct = 80, valPct = 10)
          .groupBy($"split")
          .agg(
            count(lit(1)).as("n_docs"),
            sum($"n_chars").as("n_chars_total"),
            min($"doc_id").as("min_doc_id"),
            max($"doc_id").as("max_doc_id"))
      },
      Some(s"""
        WITH b AS (
          SELECT doc_id, n_chars,
            ${sqlMd5Bucket("doc_id")}
              % 100 AS bucket
          FROM documents
        )
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
          COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
          MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
        FROM b GROUP BY 1""")),

    GraftQuery(
      "p06_curriculum_buckets",
      (s, dir) => {
        import s.implicits._
        // Curriculum binning: documents bucketed by exact quartiles of a
        // quality score (type-token ratio) — the easy->hard phase
        // assignment a curriculum loader consumes. The quartile
        // boundaries come from PrepOps.exactQuantileBounds' DISTRIBUTED
        // two-pass selection (range-partition -> per-partition counts ->
        // partition-parallel rank lookup of the six bracketing order
        // statistics) — never Spark's single-buffer exact `percentile`,
        // which materializes the whole corpus's values in one
        // aggregation buffer and OOMs at 100 TB. The one-row boundary
        // result broadcasts back on a literal key (Catalyst folds the
        // constant-key equality and plans a broadcast nested-loop of
        // exactly ONE broadcast row — each corpus row tests one row,
        // map-side, no shuffle, scale-invariant; the generic BNLJ hazard
        // is two DATA-sized sides, which this can never be). Only bucket
        // STATS are
        // emitted: raw interpolated boundaries are
        // interpolation-formula-sensitive in the last ulp across
        // engines, but the ASSIGNMENT is not (an interpolated boundary
        // either equals a repeated data value in both engines, or falls
        // strictly between two data values in both — either way every
        // document lands in the same bucket).
        val ws = split($"text", " ")
        val sc = Tables.load(s, dir, "documents")
          .select($"doc_id", $"n_chars",
            (size(array_distinct(ws)).cast("double") / size(ws)).as("score"))
        graft.operators.PrepOps.curriculumBuckets(sc, "score")
          .groupBy($"bucket")
          .agg(
            count(lit(1)).as("n_docs"),
            sum($"n_chars").as("sum_chars"),
            (sum(dec($"score")).cast("double") / count(lit(1)))
              .as("avg_score"))
      },
      Some("""
        WITH sc AS (
          SELECT doc_id, n_chars,
            CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' ')) AS score
          FROM documents
        ),
        b AS (SELECT quantile_cont(score, [0.25, 0.5, 0.75]) bs FROM sc)
        SELECT CASE WHEN score <= bs[1] THEN 0
                    WHEN score <= bs[2] THEN 1
                    WHEN score <= bs[3] THEN 2 ELSE 3 END AS bucket,
          COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
            AS avg_score
        FROM sc, b
        GROUP BY 1""")),

    GraftQuery(
      "p07_decontam",
      (s, dir) => {
        import s.implicits._
        // Train->test contamination scan: the n-gram-overlap
        // decontamination check an LLM pipeline runs before trusting an
        // eval split. The corpus is split with p05's deterministic md5
        // bucket, both sides are shingled into distinct word 7-grams by
        // the compiled kernel, and each test doc reports how many train
        // docs share a shingle with it and how many of its own shingles
        // are contaminated. Spelled as an inverted-index equi-join on
        // the shingle (posting lists distribute over the shuffle) with
        // d04's document-frequency cut: ubiquitous shingles
        // (boilerplate) leave the TRAIN index via a broadcast anti
        // join, so candidate growth stays bounded by postings x cut at
        // any corpus size. Recall consequence mirrors d04: overlap
        // carried ONLY by >cut shingles is invisible — by design,
        // since matching everyone is not evidence of leakage.
        // The scan IS the PrepOps.decontamScan facade call over the
        // p05-split sides, so the oracle pins the operator users run.
        decontam(s, dir)(graft.operators.PrepOps.decontamScan)
      },
      Some(decontamOracleSql)),

    GraftQuery(
      "p11_decontam_bloom",
      (s, dir) => {
        import s.implicits._
        // p07's scan with the broadcast-Bloom test-side prefilter —
        // the 100 TB spelling (PrepOps.decontamScanBloom): the pruned
        // train-shingle index feeds one Bloom sketch, broadcast once,
        // and every CLEAN test shingle is dropped map-side before the
        // shuffle. Blooms have no false negatives and false positives
        // die in the exact join, so the result — and therefore the
        // oracle — is IDENTICAL to p07's: the sketch changes the plan,
        // never the rows. Same p05 md5 split, same df-cut.
        decontam(s, dir)(
          graft.operators.PrepOps.decontamScanBloom(_, _, _, _, _, _))
      },
      Some(decontamOracleSql)),

    GraftQuery(
      "p12_semantic_packing",
      (s, dir) => {
        import s.implicits._
        // Curriculum-style SEMANTIC batching: documents are assigned to
        // embedding-space cells by the shared deterministic k-means
        // (the s02/s07 kernels), then packed into context windows
        // WITHIN each cell — so every training batch carries
        // topically-coherent sequences (the SemDeDup-cluster +
        // concat-then-chunk combination). The cell assignment is one
        // broadcast argmax map pass; the packing is p01's per-group
        // windowed running sum with cell as the group — both
        // shuffle-light at any corpus size.
        val cells = graft.operators.AnnOps.kmeansCells(
            Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
            k = 3, iters = 2)
          .select($"id".as("doc_id"), $"cell")
        val tok = Tables.load(s, dir, "documents")
          .select($"doc_id",
            size(split($"text", " ")).cast("long").as("toks"))
          .join(cells, Seq("doc_id"))
        graft.operators.PrepOps
          .packSequences(tok, "cell", "doc_id", "toks", PackBudget)
          .select($"group".as("cell"), $"pack_id", $"n_docs", $"n_tokens")
      },
      Some(s"""
        WITH ${Similarity.sqlKmeansCtes},
        tok AS (
          SELECT d.doc_id, a.cell,
            CAST(len(string_split(d.text, ' ')) AS BIGINT) toks
          FROM documents d JOIN assign2 a ON a.vec_id = d.doc_id
        ),
        cum AS (
          SELECT cell, doc_id, toks,
            SUM(toks) OVER (PARTITION BY cell ORDER BY doc_id) cum
          FROM tok
        )
        SELECT cell,
          CAST((cum - toks) // $PackBudget AS BIGINT) AS pack_id,
          COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens
        FROM cum GROUP BY 1, 2""")),

    GraftQuery(
      "p08_domain_mixture",
      (s, dir) => {
        import s.implicits._
        // Domain-mixture token budgeting: allocate a global training-token
        // budget across sources to hit target mixture weights, capped by
        // what each source actually has — the "how many tokens of web vs
        // books vs code" decision every pretraining run makes. Two-round
        // waterfill: round 1 gives each source min(avail, budget*w/W);
        // round 2 redistributes the unfilled remainder across sources
        // with spare capacity, proportional to weight. All arithmetic is
        // exact integer (long `div`), so the plan is bit-identical across
        // engines and scale factors. The heavy work is one map-side
        // combinable per-source token sum over the corpus; the waterfill
        // itself runs on the |sources|-row aggregate. Weights come from
        // the source id here (suffix mod 4 + 1) standing in for a
        // user-supplied mixture table, fed through the facade's
        // (domain, weight)-TABLE overload — so the query IS the
        // PrepOps.domainMixture call users run, oracle-pinned. Every
        // target here is >> 0, so the facade's null-fill_ratio guard
        // never fires and the oracle's unconditional division matches.
        val docsT = Tables.load(s, dir, "documents")
          .select($"source", expr("n_chars div 4").as("toks"))
        val weights = sourceWeights(docsT)
        graft.operators.PrepOps.domainMixture(
            docsT, "source", "toks", weights, "source", "w",
            MixBudget, defaultWeight = 1L)
          .select($"domain".as("source"), $"weight", $"avail_tokens",
            $"target_tokens", $"alloc_tokens", $"fill_ratio")
      },
      Some(s"""
        WITH avail AS (
          SELECT source,
            CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS weight,
            CAST(SUM(n_chars // 4) AS BIGINT) AS avail_tokens
          FROM documents GROUP BY 1
        ),${sqlWaterfill("avail")}
        SELECT source, weight, avail_tokens, target_tokens,
          r1_alloc + LEAST(rem_cap,
            CASE WHEN rem_cap > 0 AND surplus_w > 0
              THEN (leftover * weight) // surplus_w ELSE 0 END)
            AS alloc_tokens,
          CAST(r1_alloc + LEAST(rem_cap,
            CASE WHEN rem_cap > 0 AND surplus_w > 0
              THEN (leftover * weight) // surplus_w ELSE 0 END) AS DOUBLE)
            / target_tokens AS fill_ratio
        FROM r2""")),

    GraftQuery(
      "p09_chunk_windows",
      (s, dir) => {
        import s.implicits._
        // Sliding-window document chunking: split each doc into overlapping
        // word windows (32 words, stride 24) — the context-window prep step
        // between a cleaned corpus and tensorized training sequences. The
        // last window starts at the smallest stride multiple covering the
        // tail, so every word lands in >= 1 chunk and no chunk is a strict
        // suffix of its predecessor. Pure map-side explode: the chunk
        // count is exact integer arithmetic on the word count, slice
        // clamps at the end in both engines, and rows never leave their
        // input partition — zero shuffles, linear at any corpus size.
        // Chunks are emitted as md5 so the result stays skinny. The
        // chunking IS the PrepOps.chunkDocuments facade call,
        // oracle-pinned.
        graft.operators.PrepOps.chunkDocuments(
            Tables.load(s, dir, "documents").select($"doc_id", $"text"),
            "doc_id", "text", window = 32, stride = 24)
          .select($"id".as("doc_id"), $"chunk_idx", $"n_chunk_words",
            md5($"chunk_text").as("chunk_md5"))
      },
      Some("""
        WITH ws AS (
          SELECT doc_id, string_split(text, ' ') ws FROM documents
        ),
        c AS (
          SELECT doc_id, ws, CAST(len(ws) AS BIGINT) n,
            CASE WHEN len(ws) <= 32 THEN CAST(1 AS BIGINT)
              ELSE (len(ws) - 32 + 23) // 24 + 1 END AS n_chunks
          FROM ws
        )
        SELECT doc_id,
          CAST(unnest(range(n_chunks)) AS BIGINT) AS chunk_idx,
          unnest([CAST(least(32, n - i * 24) AS BIGINT)
                  for i in range(n_chunks)]) AS n_chunk_words,
          unnest([md5(array_to_string(ws[i * 24 + 1 : i * 24 + 32], ' '))
                  for i in range(n_chunks)]) AS chunk_md5
        FROM c""")),

    GraftQuery(
      "p10_mixture_sample",
      (s, dir) => {
        import s.implicits._
        // Materialize the p08 mixture plan: turn per-source token
        // allocations into an actual sampled corpus via deterministic
        // md5-rate sampling — keep a doc iff bucket * avail < alloc *
        // 65536, so each source is kept at rate alloc/avail as a pure
        // function of doc_id (reproducible under any partitioning or
        // engine; exact long arithmetic, no float rates). The waterfill
        // runs on the |sources|-row aggregate, broadcasts back, and the
        // keep decision is map-side — the only corpus-sized shuffles are
        // the two skinny per-source aggregations. Output is the per-source
        // audit: docs kept, tokens kept, tokens planned.
        // The materialization IS the PrepOps.mixtureSample facade call
        // (TABLE-weights overload, same synthetic weight construction as
        // p08), oracle-pinned; the audit joins the kept rows back to the
        // facade's own plan for alloc_tokens.
        val docsT = Tables.load(s, dir, "documents")
          .select($"doc_id", $"source", expr("n_chars div 4").as("toks"))
        val weights = sourceWeights(docsT)
        val plan = graft.operators.PrepOps.domainMixture(
            docsT, "source", "toks", weights, "source", "w",
            MixBudget, defaultWeight = 1L)
          .select($"domain".as("source"), $"alloc_tokens")
        graft.operators.PrepOps.mixtureSample(
            docsT, "doc_id", "source", "toks", weights, "source", "w",
            MixBudget, defaultWeight = 1L)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs_kept"),
            sum($"toks").as("kept_tokens"))
          .join(broadcast(plan), Seq("source"))
          .withColumn("fill_ratio",
            $"kept_tokens".cast("double") / $"alloc_tokens")
      },
      Some(s"""
        WITH avail AS (
          SELECT source,
            CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS weight,
            CAST(SUM(n_chars // 4) AS BIGINT) AS avail_tokens
          FROM documents GROUP BY 1
        ),$sqlWaterfillAlloc,
        d AS (
          SELECT source, n_chars // 4 AS toks,
            CAST(${sqlMd5Bucket("doc_id")}
              AS BIGINT) AS bucket
          FROM documents
        )
        SELECT d.source, COUNT(*) AS n_docs_kept,
          CAST(SUM(d.toks) AS BIGINT) AS kept_tokens,
          a.alloc_tokens,
          CAST(SUM(d.toks) AS DOUBLE) / a.alloc_tokens AS fill_ratio
        FROM d JOIN alloc a ON d.source = a.source
        WHERE d.bucket * a.avail_tokens < a.alloc_tokens * 65536
        GROUP BY d.source, a.alloc_tokens""")),

    // ---------------------- length-bucketed batching (p16)
    GraftQuery(
      "p16_length_buckets",
      (s, dir) => {
        import s.implicits._
        // Padding-efficiency batching: a fixed-shape trainer pads each
        // batch to its longest member, so batching similar-length docs
        // together converts pad tokens into throughput. Docs bucket by
        // ceil(words/32), sort (len, id) within the bucket, group into
        // 8-doc batches; the audit reports each batch's pad bill
        // exactly. The query IS the PrepOps.lengthBucketBatches facade
        // call.
        graft.operators.PrepOps.lengthBucketBatches(
            Tables.load(s, dir, "documents")
              .select($"doc_id",
                size(split($"text", " ")).cast("long").as("toks")),
            "doc_id", "toks", bucketWidth = 32, batchSize = 8)
      },
      Some("""
        WITH d AS (
          SELECT doc_id AS id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS len
          FROM documents
          WHERE len(string_split(text, ' ')) > 0
        ),
        b AS (
          SELECT id, len, (len - 1) // 32 AS bucket FROM d
        ),
        r AS (
          SELECT bucket, len,
            (row_number() OVER (PARTITION BY bucket
              ORDER BY len ASC, id ASC) - 1) // 8 AS batch_idx
          FROM b
        )
        SELECT bucket, batch_idx, COUNT(*) AS n_docs,
          MAX(len) AS max_len, CAST(SUM(len) AS BIGINT) AS sum_tokens,
          COUNT(*) * MAX(len) - CAST(SUM(len) AS BIGINT)
            AS padded_tokens
        FROM r GROUP BY 1, 2""")),

    // ---------------------- corpus-build funnel audit (p17)
    GraftQuery(
      "p17_corpus_funnel",
      (s, dir) => {
        import s.implicits._
        // The observability next to the p14 build: one row per pipeline
        // stage (docs in, gated, deduped, train split, decontaminated,
        // sampled, packed) with doc and token counts — the numbers an
        // operator watches to catch a stage silently dropping or
        // double-counting. Computed from the SAME stage frames
        // corpusBuild materializes (one shared spelling), and the
        // oracle is the p14 CTE chain aggregated per stage — so the
        // funnel, the build, and both oracles can never drift apart.
        val d = Tables.load(s, dir, "documents")
        val weights = sourceWeights(d)
        graft.operators.PrepOps.corpusBuildFunnel(
          d, "doc_id", "text", "source", weights, "source", "w",
          tokenBudget = MixBudget, packBudget = PackBudget)
      },
      Some(corpusBuildFunnelOracle)),

    // ---------------------- temperature-scaled mixture (p15)
    GraftQuery(
      "p15_temperature_mixture",
      (s, dir) => {
        import s.implicits._
        // The standard multilingual/multi-source sampling policy:
        // weight_i ∝ avail_i^alpha at alpha = 0.5 (upsample the tail,
        // don't drown the head), composed with the p08 exact-long
        // waterfill. Weights are derived on the |sources|-row
        // aggregate and quantized to micro-units via one DECIMAL(18,6)
        // cast of the correctly-rounded sqrt — engine-exact, so the
        // whole plan hash-matches. The query IS the
        // PrepOps.temperatureMixture facade call.
        val docsT = Tables.load(s, dir, "documents")
          .select($"source", expr("n_chars div 4").as("toks"))
        graft.operators.PrepOps.temperatureMixture(
            docsT, "source", "toks", alpha = 0.5, budget = MixBudget)
          .select($"domain".as("source"), $"weight", $"avail_tokens",
            $"target_tokens", $"alloc_tokens", $"fill_ratio")
      },
      Some(s"""
        WITH avail AS (
          SELECT source,
            CAST(SUM(n_chars // 4) AS BIGINT) AS avail_tokens
          FROM documents GROUP BY 1
        ),
        w AS (
          SELECT source, avail_tokens,
            GREATEST(1, CAST(CAST(
              sqrt(CAST(avail_tokens AS DOUBLE))
                / MAX(sqrt(CAST(avail_tokens AS DOUBLE))) OVER ()
              AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS weight
          FROM avail
        ),${sqlWaterfill("w")}
        SELECT source, weight, avail_tokens, target_tokens,
          r1_alloc + LEAST(rem_cap,
            CASE WHEN rem_cap > 0 AND surplus_w > 0
              THEN (leftover * weight) // surplus_w ELSE 0 END)
            AS alloc_tokens,
          CASE WHEN target_tokens > 0
            THEN CAST(r1_alloc + LEAST(rem_cap,
              CASE WHEN rem_cap > 0 AND surplus_w > 0
                THEN (leftover * weight) // surplus_w ELSE 0 END)
              AS DOUBLE) / target_tokens
            ELSE NULL END AS fill_ratio
        FROM r2""")),

    // ---------------------- end-to-end corpus build capstone (p14)
    GraftQuery(
      "p14_corpus_build",
      (s, dir) => {
        import s.implicits._
        // THE CAPSTONE: every pipeline stage exists as a proven
        // operator (t02 gate, d02/d06 dedup, p05 split, p07 decontam,
        // p08/p10 mixture, p01 packing) but composition is where
        // id/count contracts break silently — so ONE query runs the
        // full chain on documents and asserts the FINAL packed-window
        // table against the same chain spelled in DuckDB (the t14/d06
        // unrolled-CTE discipline, all six stages composed). The query
        // IS the PrepOps.corpusBuild facade call; weights are the p08
        // construction (source-id suffix mod 4 + 1).
        val d = Tables.load(s, dir, "documents")
        val weights = sourceWeights(d)
        graft.operators.PrepOps.corpusBuild(
            d, "doc_id", "text", "source", weights, "source", "w",
            tokenBudget = MixBudget, packBudget = PackBudget)
          .select($"group".as("source"), $"pack_id", $"n_docs",
            $"n_tokens")
      },
      Some(corpusBuildOracle)),

    // ------------- capstone with a BPE token budget (p18)
    GraftQuery(
      "p18_corpus_build_bpe",
      (s, dir) => {
        import s.implicits._
        // p14 with the budget/packing unit switched to LEARNED BPE
        // TOKENS — what the trained model's context window actually
        // holds (a whitespace-budgeted corpus overshoots the real
        // window by the tokens-per-word factor). Stages 1–4 are
        // unit-independent; only the waterfill allocation and the pack
        // windows move. The count attaches as a zero-shuffle
        // projection (TextOps.bpeTokenCounter), never a corpus self-join.
        val d = Tables.load(s, dir, "documents")
        val weights = sourceWeights(d)
        val mt = graft.operators.TextOps.bpeLearn(
          d.select($"text"), "text", merges = 3)
        graft.operators.PrepOps.corpusBuild(
            d, "doc_id", "text", "source", weights, "source", "w",
            tokenBudget = MixBudget, packBudget = PackBudget,
            bpeMergeTable = Some(mt))
          .select($"group".as("source"), $"pack_id", $"n_docs",
            $"n_tokens")
      },
      Some(corpusBuildBpeOracle)),

    // ------------- funnel of the BPE-budgeted capstone (p19)
    GraftQuery(
      "p19_corpus_funnel_bpe",
      (s, dir) => {
        import s.implicits._
        // p17 over the p18 build: with a merge table EVERY stage
        // reports BPE tokens (one unit across the funnel — a unit
        // switch mid-funnel would read as a phantom drop), from the
        // SAME stage frames the build materializes.
        val d = Tables.load(s, dir, "documents")
        val weights = sourceWeights(d)
        val mt = graft.operators.TextOps.bpeLearn(
          d.select($"text"), "text", merges = 3)
        graft.operators.PrepOps.corpusBuildFunnel(
            d, "doc_id", "text", "source", weights, "source", "w",
            tokenBudget = MixBudget, packBudget = PackBudget,
            bpeMergeTable = Some(mt))
          .select($"stage", $"n_docs", $"n_tokens")
      },
      Some(corpusBuildFunnelBpeOracle)),

    // ------------------------------ weighted sampling, A-ES (p13)
    GraftQuery(
      "p13_weighted_sample",
      (s, dir) => {
        import s.implicits._
        // Quality-weighted subsampling via Efraimidis–Spirakis A-ES:
        // key = u^(1/w), take the global top-k keys — inclusion
        // probability scales with the weight, no rate tuning, one pass.
        // Weight here is the document's word count / 100 (standing in
        // for any quality score); u is a deterministic md5-uniform so
        // both engines draw the identical sample. The one
        // transcendental (pow) is quantized to decimal(12,6) before
        // ranking (the t11 trick), ties break id-ascending. The query
        // IS the PrepOps.weightedSample facade call; top-k plans as
        // TakeOrderedAndProject (per-partition heaps), never a global
        // sort.
        val weighted = Tables.load(s, dir, "documents")
          .select($"doc_id",
            (size(split($"text", " ")).cast("double") / 100.0).as("wq"))
        graft.operators.PrepOps
          .weightedSample(weighted, "doc_id", "wq", k = 50)
          .select($"id".as("doc_id"), $"w", $"akey")
      },
      Some("""
        WITH w AS (
          SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS w
          FROM documents
        ),
        u AS (
          SELECT doc_id, w,
            (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              ::BIGINT AS DOUBLE) + 1.0) / 4294967296.0 AS u
          FROM w WHERE w > 0
        ),
        keyed AS (
          SELECT doc_id, w,
            CAST(pow(u, 1.0 / w) AS DECIMAL(12,6)) AS akey
          FROM u
        )
        SELECT doc_id, w, CAST(akey AS DOUBLE) AS akey FROM (
          SELECT *, row_number() OVER
            (ORDER BY akey DESC, doc_id ASC) AS rn
          FROM keyed) t
        WHERE rn <= 50""")),

    // ------------- packed token-id sequences (p20)
    GraftQuery(
      "p20_pack_token_sequences",
      (s, dir) => {
        import s.implicits._
        // The last trainer-handoff step: t20 emits the ordered
        // token-id stream and p18 packs by BPE token counts — this
        // materializes what a training job actually loads: the packed
        // windows as (pack, position, token_id, doc) rows, positions
        // dense 0..n-1 per pack. The oracle is the t20 stream windowed
        // by the p18-style pack boundaries as ONE CTE chain, so the
        // hash gate pins the stream order, the pack assignment, AND
        // the position arithmetic together. The query IS the
        // PrepOps.packTokenSequences facade call.
        val d = Tables.load(s, dir, "documents")
        val mt = graft.operators.TextOps.bpeLearn(
          d.select($"text"), "text", merges = 3)
        val ids = graft.operators.TextOps.bpeTokenIdTable(
          d, "text", mt)
        graft.operators.PrepOps.packTokenSequences(
            d, "doc_id", "text", "source", mt, ids, PackBudget)
          .select($"group".as("source"), $"pack_id", $"doc_id",
            $"position", $"token_id")
      },
      Some(packTokenSequencesOracle)),

    // ------------- deterministic epoch shuffle (p21)
    GraftQuery(
      "p21_epoch_shuffle",
      (s, dir) => {
        import s.implicits._
        // The training-ORDER op: every epoch visits the p01 packs in
        // a different reproducible order — md5 shuffle key per
        // (epoch, pack), bucket = key % 8 (the loader streams buckets
        // in sequence; no global sort, no RNG state anywhere), dense
        // position within each (epoch, bucket). The oracle derives
        // the identical order in DuckDB, so the hash gate pins the
        // whole derivation: reruns, restarts, and replica loaders all
        // agree byte-for-byte. The query IS the PrepOps.epochShuffle
        // facade call over the p01 pack table.
        val tok = Tables.load(s, dir, "documents")
          .select($"source", $"doc_id",
            size(split($"text", " ")).cast("long").as("toks"))
        val packs = graft.operators.PrepOps
          .packSequences(tok, "source", "doc_id", "toks", PackBudget)
          .select($"group".as("source"), $"pack_id")
        graft.operators.PrepOps
          .epochShuffle(packs, Seq("source", "pack_id"), epochs = 3,
            buckets = 8)
          .select($"epoch", $"bucket", $"pos", $"source", $"pack_id")
      },
      Some(s"""
        WITH tok AS (
          SELECT source, doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) toks
          FROM documents
        ),
        cum AS (
          SELECT source, doc_id, toks,
            SUM(toks) OVER (PARTITION BY source ORDER BY doc_id) cum
          FROM tok
        ),
        packs AS (
          SELECT DISTINCT source,
            CAST((cum - toks) // $PackBudget AS BIGINT) AS pack_id
          FROM cum
        ),
        keyed AS (
          SELECT e.epoch, p.source, p.pack_id,
            md5(CAST(e.epoch AS VARCHAR) || ':' || p.source || ':'
              || CAST(p.pack_id AS VARCHAR)) AS skey
          FROM packs p
          CROSS JOIN (SELECT unnest(range(3)) AS epoch) e
        ),
        bucketed AS (
          SELECT epoch, source, pack_id, skey,
            CAST(('0x' || substring(skey, 1, 8))::BIGINT % 8 AS BIGINT)
              AS bucket
          FROM keyed
        )
        SELECT epoch, bucket,
          CAST(row_number() OVER (PARTITION BY epoch, bucket
            ORDER BY skey ASC, source ASC, pack_id ASC) - 1 AS BIGINT)
            AS pos,
          source, pack_id
        FROM bucketed"""))
  )

  /** DuckDB spelling of p20: the t20 token-id stream CTEs
    * (TextAnalysis's, spliced) windowed by the BPE-count pack chain —
    * per-source cumulative counts assign packs, the within-pack
    * running offset plus the within-document token index is the
    * position. SUM-derived columns cast back to BIGINT (the HUGEINT
    * trap). */
  private def packTokenSequencesOracle: String = s"""
        WITH ${TextAnalysis.bpeTokenIdStreamCtes(3)},
        cnt AS (
          SELECT d.source, i.doc_id, COUNT(*) AS toks
          FROM idstream i JOIN documents d USING (doc_id)
          GROUP BY 1, 2
        ),
        cum AS (
          SELECT source, doc_id, toks,
            SUM(toks) OVER (PARTITION BY source ORDER BY doc_id) AS cum
          FROM cnt
        ),
        packs AS (
          SELECT source, doc_id, toks,
            CAST((cum - toks) // $PackBudget AS BIGINT) AS pack_id
          FROM cum
        ),
        offs AS (
          SELECT source, doc_id, pack_id,
            CAST(SUM(toks) OVER (PARTITION BY source, pack_id
              ORDER BY doc_id) - toks AS BIGINT) AS off
          FROM packs
        ),
        seq AS (
          SELECT doc_id, token_id,
            CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY word_idx, tok_idx) - 1 AS BIGINT) AS sq
          FROM idstream
        )
        SELECT o.source, o.pack_id, s.doc_id,
          CAST(o.off + s.sq AS BIGINT) AS position, s.token_id
        FROM seq s JOIN offs o USING (doc_id)"""

  /** DuckDB spelling of [[graft.operators.PrepOps.corpusBuild]] — the
    * six pipeline stages composed as one CTE chain: quality gate,
    * MinHash near-dup resolution (reusing d02's CTE generator over the
    * gated corpus + d06's recursive component resolution), md5 split,
    * test-indexed decontam (p07's df-cut shape with the eval side as
    * the index), the p08/p10 waterfill + deterministic sample, and
    * p01's pack windowing. Constants mirror the facade defaults the
    * p14 query passes.
    */
  private def corpusBuildOracle: String = s"""
        $corpusBuildCtes
        SELECT source,
          CAST((cum - toks) // $PackBudget AS BIGINT) AS pack_id,
          COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens
        FROM cum GROUP BY 1, 2"""

  /** DuckDB spelling of [[graft.operators.PrepOps.corpusBuildFunnel]]:
    * the SAME CTE chain, aggregated per stage — p17's oracle, so the
    * funnel numbers and the packed table come from one spelling on
    * both engines. */
  private def corpusBuildFunnelOracle: String = {
    def stage(name: String, src: String): String = s"""
        SELECT '$name' AS stage, COUNT(*) AS n_docs,
          CAST(COALESCE(SUM(len(string_split(text, ' '))), 0) AS BIGINT)
            AS n_tokens
        FROM $src"""
    s"""
        $corpusBuildCtes
        ${stage("0_input", "documents")}
        UNION ALL ${stage("1_gated", "gate")}
        UNION ALL ${stage("2_deduped", "dedup")}
        UNION ALL ${stage("3_train", "train")}
        UNION ALL ${stage("4_decontaminated", "clean")}
        UNION ALL
        SELECT '5_sampled' AS stage, COUNT(*) AS n_docs,
          CAST(COALESCE(SUM(toks), 0) AS BIGINT) AS n_tokens
        FROM keep
        UNION ALL
        SELECT '6_packed' AS stage, COUNT(*) AS n_docs,
          CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens
        FROM (
          SELECT source, (cum - toks) // $PackBudget AS pack_id,
            CAST(SUM(toks) AS BIGINT) AS n_tokens
          FROM cum GROUP BY 1, 2)"""
  }

  /** DuckDB spelling of the p18 BPE-budgeted [[corpusBuild]]: the same
    * chain with the token-unit stage swapped to the spliced BPE CTEs. */
  private def corpusBuildBpeOracle: String = s"""
        ${corpusBuildCtesWith(bpeTokCtes)}
        SELECT source,
          CAST((cum - toks) // $PackBudget AS BIGINT) AS pack_id,
          COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens
        FROM cum GROUP BY 1, 2"""

  /** DuckDB spelling of the p19 BPE funnel: every stage joins the
    * row-complete per-document BPE count (`dntok`), so all seven rows
    * report ONE unit. */
  private def corpusBuildFunnelBpeOracle: String = {
    def stage(name: String, src: String): String = s"""
        SELECT '$name' AS stage, COUNT(*) AS n_docs,
          CAST(COALESCE(SUM(d.toks), 0) AS BIGINT) AS n_tokens
        FROM $src s JOIN dntok d USING (doc_id)"""
    s"""
        ${corpusBuildCtesWith(bpeTokCtes)}
        ${stage("0_input", "documents")}
        UNION ALL ${stage("1_gated", "gate")}
        UNION ALL ${stage("2_deduped", "dedup")}
        UNION ALL ${stage("3_train", "train")}
        UNION ALL ${stage("4_decontaminated", "clean")}
        UNION ALL
        SELECT '5_sampled' AS stage, COUNT(*) AS n_docs,
          CAST(COALESCE(SUM(toks), 0) AS BIGINT) AS n_tokens
        FROM keep
        UNION ALL
        SELECT '6_packed' AS stage, COUNT(*) AS n_docs,
          CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens
        FROM (
          SELECT source, (cum - toks) // $PackBudget AS pack_id,
            CAST(SUM(toks) AS BIGINT) AS n_tokens
          FROM cum GROUP BY 1, 2)"""
  }

  /** The shared CTE chain of the p14/p17 oracles (through `cum`),
    * counting whitespace words. */
  private def corpusBuildCtes: String = corpusBuildCtesWith(wordTokCte)

  /** The default token unit: whitespace words, [[corpusBuild]]'s
    * `size(split(text))` spelling. */
  private def wordTokCte: String = """tok AS (
          SELECT doc_id, source,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
          FROM clean
        )"""

  /** The BPE token unit of the p18/p19 oracles: splice the t14-family
    * BPE stage CTEs (trained over the full documents corpus, merges=3 —
    * exactly the query side's bpeLearn input), roll them up to a
    * ROW-COMPLETE per-document count (`dntok`: a zero-word document
    * counts 0, the bpeTokenCounter contract), and count clean docs in
    * BPE tokens. */
  private def bpeTokCtes: String = s"""${TextAnalysis.bpeNtokCtes(3)},
        dntok AS (
          SELECT d.doc_id, CAST(COALESCE(c.toks, 0) AS BIGINT) AS toks
          FROM documents d LEFT JOIN (
            SELECT doc_id, SUM(n.ntok) AS toks
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents) dw
            JOIN ntok n USING (w)
            GROUP BY 1) c USING (doc_id)
        ),
        tok AS (
          SELECT c.doc_id, c.source, d.toks
          FROM clean c JOIN dntok d USING (doc_id)
        )"""

  /** The corpus-build CTE chain with a pluggable token-unit stage
    * (everything upstream of `tok` — gate, dedup, split, decontam — is
    * byte-identical across units, mirroring the facade where the
    * counter only touches stages 5/6). */
  private def corpusBuildCtesWith(tokCtes: String): String =
    s"""WITH RECURSIVE gate AS (
          SELECT doc_id, text, source FROM (
            SELECT doc_id, text, source, string_split(text, ' ') ws
            FROM documents)
          WHERE len(ws) >= 10
            AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) > 0.2
        ),
        ${Dedup.sqlMinhashCtes("gate")},
        edges AS (
          SELECT a AS src, b AS dst FROM pairs
          UNION SELECT b, a FROM pairs
        ),
        reach(id, node) AS (
          SELECT src, src FROM (SELECT DISTINCT src FROM edges)
          UNION
          SELECT r.id, e.dst FROM reach r JOIN edges e ON r.node = e.src
        ),
        nonsurv AS (
          SELECT id AS doc_id
          FROM (SELECT id, MIN(node) m FROM reach GROUP BY id)
          WHERE m <> id
        ),
        dedup AS (
          SELECT g.doc_id, g.text, g.source FROM gate g
          ANTI JOIN nonsurv n ON g.doc_id = n.doc_id
        ),
        spl AS (
          SELECT *,
            ${sqlMd5Bucket("doc_id")}
              % 100 AS bucket
          FROM dedup
        ),
        train AS (
          SELECT doc_id, text, source FROM spl WHERE bucket < 80
        ),
        tst AS (SELECT doc_id, text FROM spl WHERE bucket >= 90),
        tesh AS (
          SELECT doc_id, unnest(${Dedup.sqlShingles(7)}) AS sh
          FROM (SELECT doc_id, string_split(text, ' ') ws FROM tst)
        ),
        hot AS (
          SELECT sh FROM (SELECT sh, COUNT(*) df FROM tesh GROUP BY sh)
          WHERE df > $DecontamDfCut
        ),
        teshc AS (
          SELECT t.doc_id, t.sh FROM tesh t ANTI JOIN hot h ON t.sh = h.sh
        ),
        trsh AS (
          SELECT doc_id, unnest(${Dedup.sqlShingles(7)}) AS sh
          FROM (SELECT doc_id, string_split(text, ' ') ws FROM train)
        ),
        contam AS (
          SELECT DISTINCT tr.doc_id FROM trsh tr
          JOIN teshc te ON tr.sh = te.sh
        ),
        clean AS (
          SELECT t.doc_id, t.text, t.source FROM train t
          ANTI JOIN contam c ON t.doc_id = c.doc_id
        ),
        $tokCtes,
        avail AS (
          SELECT source,
            CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS weight,
            CAST(SUM(toks) AS BIGINT) AS avail_tokens
          FROM tok GROUP BY 1
        ),$sqlWaterfillAlloc,
        keep AS (
          SELECT t.source, t.doc_id, t.toks
          FROM (
            SELECT *,
              CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                ::INT AS BIGINT) AS bucket
            FROM tok) t
          JOIN alloc a ON t.source = a.source
          WHERE t.bucket * a.avail_tokens < a.alloc_tokens * 65536
        ),
        cum AS (
          SELECT source, doc_id, toks,
            SUM(toks) OVER (PARTITION BY source ORDER BY doc_id) AS cum
          FROM keep
        )"""
}
