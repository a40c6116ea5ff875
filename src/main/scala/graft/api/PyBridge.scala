package graft.api

import scala.jdk.CollectionConverters._

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Py4j-facing facade — the JVM half of the PySpark binding
  * (`python/graft_river`). The reference engine's PRIMARY user surface
  * is its Python binding (`python/river.pyx:162-226` dtype bridge,
  * `:304-339` read/write buffers; `docs/tutorial.rst` is Python-first);
  * Spark gives the DataFrame planes away for free
  * (`spark.read.format("river")` works from PySpark unchanged), and
  * this object carries the rest across py4j:
  *
  *  - point operations that are NOT table scans (tail, seek, metadata
  *    get/set, list, EOF/delete lifecycle) — py4j-friendly signatures
  *    only (String / long / java.util.Map / JSON strings; no Scala
  *    collections, no default args — py4j resolves exact overloads),
  *  - pipeline-operator entry points taking the JVM `Dataset[Row]`
  *    that PySpark's `df._jdf` exposes, returning one the Python side
  *    re-wraps — zero serialization, the plan stays in Catalyst.
  *
  * Everything here delegates to the same library code the Scala
  * surface uses; nothing is reimplemented.
  */
object PyBridge {

  private def store(root: String) =
    new StreamStore(java.nio.file.Paths.get(root))

  // ------------------------------------------------------------ catalog

  /** JSON array of stream names (M2 from Python). */
  def listStreamsJson(root: String): String =
    store(root).listStreams()
      .map(s => "\"" + esc(s) + "\"").mkString("[", ",", "]")

  /** The stream's full metadata.json body (M1 get). */
  def metadataJson(root: String, stream: String): String =
    store(root).metadata(stream).toJson

  /** Replace user metadata (M1 set); `kv` is the Python dict py4j
    * hands over as a java Map. */
  def setUserMetadata(root: String, stream: String,
      kv: java.util.Map[String, String]): Unit =
    store(root).setUserMetadata(stream, kv.asScala.toMap)

  /** Stream delete (M3). */
  def deleteStream(root: String, stream: String): Unit =
    store(root).deleteStream(stream)

  /** Staleness finalizer / force EOF (I8). */
  def forceEof(root: String, stream: String): Boolean =
    store(root).forceEof(stream)

  // ------------------------------------------------------ point reads

  /** R3 tail from Python: newest sample at/after the cursor of a FRESH
    * reader, as JSON `{"skipped":n,"key":"ms-seq","sample_index":i,
    * "values":[...]}`, or "null" when the stream is exhausted/empty
    * within the timeout. Values render as JSON numbers/strings; binary
    * fields as base64 strings (the NumPy-facing contract is "bytes"). */
  def tailJson(root: String, stream: String, timeoutMs: Long): String = {
    val r = store(root).openReader(stream, timeoutMs)
    r.tail(timeoutMs) match {
      case Some((skipped, Some((key, idx, vals)))) =>
        s"""{"skipped":$skipped,"key":"${key.render}",""" +
          s""""sample_index":$idx,"values":${renderVals(vals)}}"""
      case _ => "null"
    }
  }

  /** R4 seek from Python: number of samples a fresh reader skips to
    * position at the greatest entry <= `key` — which, with gapless
    * 0-based indices, IS the first unconsumed sample_index. Python
    * reads onward with a pushed-down `sample_index >= returned` filter
    * (segment pruning applies — the scan never touches the skipped
    * prefix's segments). */
  def seekIndex(root: String, stream: String, key: String,
      timeoutMs: Long): Long = {
    val r = store(root).openReader(stream, timeoutMs)
    r.seek(StreamKey.parse(key))
  }

  // ------------------------------------------------------ ingest plane

  /** One ingester sweep from Python (I1–I9): returns rows persisted
    * for the one stream. `spark` arrives as the JVM SparkSession that
    * PySpark's `spark._jsparkSession` exposes. */
  def ingestOnce(spark: SparkSession, storeRoot: String,
      outRoot: String, stream: String): Long =
    new graft.ingest.Ingester(spark,
      java.nio.file.Paths.get(storeRoot),
      java.nio.file.Paths.get(outRoot)).ingestOnce(stream)

  /** Multi-stream orchestrated sweep from Python (I1): every stream
    * matching `pattern` gets one ingest pass, `parallelism` at a time;
    * returns {stream: rows persisted} as a JSON object. */
  def sweepJson(spark: SparkSession, storeRoot: String, outRoot: String,
      pattern: String, parallelism: Int): String =
    new graft.ingest.Ingester(spark,
      java.nio.file.Paths.get(storeRoot),
      java.nio.file.Paths.get(outRoot),
      graft.ingest.IngestSettings(streamPattern = pattern))
      .sweep(parallelism)
      .map { case (s, n) => "\"" + esc(s) + "\":" + n }
      .mkString("{", ",", "}")

  // -------------------------------------------------- operator plane

  /** MinHash-LSH near-duplicate pairs from Python — the LLM-pipeline
    * operator call path (d02's engine). `df` is the JVM Dataset behind
    * PySpark's `df._jdf`; the result wraps straight back into a
    * PySpark DataFrame. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, bands: Int, rows: Int, threshold: Double)
      : DataFrame =
    graft.operators.DedupOps.minhashNearDups(
      df, idCol, textCol, shingleK, bands, rows, threshold)

  /** Paragraph-granularity near-dup pairs from Python (d08's engine):
    * docs split into `paraWords`-word blocks, MinHash-LSH at block
    * granularity — the C4/Gopher second dedup pass. Returns
    * (doc_a, para_a, doc_b, para_b, similarity). */
  def paragraphNearDups(df: DataFrame, idCol: String, textCol: String,
      paraWords: Int, shingleK: Int, bands: Int, rows: Int,
      threshold: Double): DataFrame =
    graft.operators.DedupOps.paragraphNearDups(df, idCol, textCol,
      paraWords, shingleK = shingleK, bands = bands, rows = rows,
      threshold = threshold)

  /** Cell-bucketed semantic (embedding) near-dup pairs from Python
    * (s07's engine): k-means cells, exact within-cell cosine pairs
    * >= threshold — SemDeDup's shape. Returns (a, b, cosine). */
  def semanticNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, cells: Int, iters: Int): DataFrame =
    graft.operators.AnnOps.semanticNearDups(df, idCol, vecCol,
      threshold, cells, iters)

  // ------------------------------------- durable ANN serving lifecycle

  /** Build a durable IVF-PQ serving index from Python (s21's engine):
    * index the corpus once, serve any number of later query batches.
    * The stored layout is the generation-pointer tree every Scala-side
    * reader/mutator uses — the index a Python job builds is the same
    * index a Scala job maintains. */
  def buildIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      keyCol: String, indexDir: String, cells: Int, iters: Int,
      pqM: Int, pqKs: Int, pqIters: Int): Unit =
    graft.index.IvfPqIndex.buildIvfPqIndex(df, idCol, vecCol, keyCol,
      indexDir, cells, iters, pqM, pqKs, pqIters)

  /** Append a committed batch to a built index (s22). `batchId` must
    * be fresh and nonzero (0 is the build's). */
  def appendIvfPqIndex(batch: DataFrame, idCol: String, vecCol: String,
      keyCol: String, indexDir: String, batchId: Long): Unit =
    graft.index.IvfPqIndex.appendIvfPqIndex(batch, idCol, vecCol,
      keyCol, indexDir, batchId)

  /** Serve a query batch against the stored index (filtered ANN
    * top-k): returns (qid, neighbor_id, cosine, ...) rows to wrap back
    * into a PySpark DataFrame. nprobe = cells with a large rerankDepth
    * is the construction-ceiling exact mode. */
  def queryIvfPqIndex(queries: DataFrame, idCol: String, vecCol: String,
      keyCol: String, indexDir: String, k: Int, nprobe: Int,
      rerankDepth: Int): DataFrame =
    graft.index.IvfPqIndex.queryIvfPqIndex(queries, idCol, vecCol,
      keyCol, indexDir, k, nprobe, rerankDepth)

  /** Idempotent tombstone batch (s25): drop rows by id from every
    * later serve; physically reclaimed by the next maintenance pass. */
  def deleteFromIndex(ids: DataFrame, idCol: String, indexDir: String,
      batchId: Long): Unit =
    graft.index.IndexStore.deleteFromIndex(ids, idCol, indexDir, batchId)

  /** One-pass maintenance (s28): expire batches below
    * `minKeepBatchId` (Long.MinValue = keep all) + compact + optional
    * vacuum, in ONE lock cycle and ONE generation rewrite. */
  def maintainIndex(spark: SparkSession, indexDir: String,
      minKeepBatchId: Long, vacuum: Boolean): Unit =
    graft.index.IndexStore.maintainIndex(spark, indexDir,
      graft.index.IndexStore.IndexMaintenancePolicy(
        minKeepBatchId = minKeepBatchId, vacuum = vacuum))

  /** Inline filtered ANN top-k with PQ-ADC candidate scoring from
    * Python (s18's engine) — cluster + quantize + serve in one call,
    * no stored index. `isQuerySql` is a SQL boolean predicate over the
    * staged id column, which is always named `id` (e.g. "id < 8"):
    * rows satisfying it are the query side, everything else corpus.
    * rerankDepth <= 0 defaults to 4k. Returns
    * (qid, neighbor_id, cosine, rank). */
  def filteredTopKIvfPq(df: DataFrame, idCol: String, vecCol: String,
      keyCol: String, isQuerySql: String, k: Int, cells: Int,
      iters: Int, nprobe: Int, pqM: Int, pqKs: Int, pqIters: Int,
      rerankDepth: Int): DataFrame =
    graft.operators.AnnOps.filteredTopKIvfPq(df, idCol, vecCol, keyCol,
      _ => org.apache.spark.sql.functions.expr(isQuerySql), k, cells,
      iters, nprobe, pqM, pqKs, pqIters, rerankDepth)

  /** All-pairs kNN graph with the measured broadcast/LSH gate from
    * Python (the s12-family engine): exact broadcast kernel when the
    * corpus fits `maxBroadcastBytes`, banded-LSH approximate path
    * above it — every row carries `is_approx` so the consumer knows
    * which side ran. Returns (src, neighbor_id, cosine, rank,
    * is_approx). */
  def knnGraphAuto(df: DataFrame, idCol: String, vecCol: String,
      k: Int, maxBroadcastBytes: Long): DataFrame =
    graft.operators.AnnOps.knnGraphAuto(df, idCol, vecCol, k,
      maxBroadcastBytes)

  // --------------------------------------------------- text analysis

  /** Token counting from Python (t03's engine): whitespace tokens,
    * BPE-ish regex segments, chars/4 LLM estimate. Pure projection. */
  def tokenStats(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    graft.operators.TextOps.tokenStats(df, idCol, textCol)

  /** Quality features + gate flag from Python (t02's engine);
    * `stopwords` is the Python list py4j hands over. */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String,
      stopwords: java.util.List[String], minChars: Int, minWords: Int,
      minTypeToken: Double): DataFrame =
    graft.operators.TextOps.qualityFeatures(df, idCol, textCol,
      stopwords.asScala.toSeq, minChars, minWords, minTypeToken)

  /** The four-signal keep/drop gate from Python (t12's engine):
    * quality features AND shingle-dup AND repetition AND perplexity,
    * each surfaced as its own keep column. Returns
    * (id, is_quality, dup_keep, rep_keep, ppl_keep, keep). */
  def qualityGate(df: DataFrame, idCol: String, textCol: String,
      minChars: Int, minWords: Int, minTypeToken: Double,
      shingleK: Int, maxDupRatio: Double, repK: Int,
      maxTopGramRatio: Double, maxDupWordRatio: Double,
      pplCutoff: Double): DataFrame =
    graft.operators.TextOps.qualityGate(df, idCol, textCol, minChars,
      minWords, minTypeToken, shingleK, maxDupRatio, repK,
      maxTopGramRatio, maxDupWordRatio, pplCutoff)

  /** Corpus-unigram perplexity scoring from Python (t16's engine):
    * mean negative log-likelihood per doc under the corpus's own
    * unigram distribution, `keep` = nll <= cutoff. Returns
    * (id, n_words, avg_nll, keep). */
  def perplexityScore(df: DataFrame, idCol: String, textCol: String,
      cutoff: Double): DataFrame =
    graft.operators.TextOps.perplexityScore(df, idCol, textCol, cutoff)

  /** Within-document duplicated-span statistics from Python (d09's
    * engine): repeated k-gram islands merged per doc. Returns
    * (id, n_words, n_dup_spans, dup_words, dup_ratio). */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minCount: Int): DataFrame =
    graft.operators.TextOps.duplicateSpans(df, idCol, textCol, k,
      minCount)

  // --------------------------------------------- trainer handoff plane

  /** Fixed-budget sequence packing (p01's engine): assign every doc to
    * a (group, pack_id) context window of at most `budget` tokens, in
    * `orderCol` order within `groupCol`. Distributed two-pass cumsum —
    * no single-task group window at any group cardinality. */
  def packSequences(df: DataFrame, groupCol: String, orderCol: String,
      tokensCol: String, budget: Long): DataFrame =
    graft.operators.PrepOps.packSequences(df, groupCol, orderCol,
      tokensCol, budget)

  /** Deterministic epoch shuffle (p21's engine): emits `epochs` copies
    * of the input, each with its own pseudo-random (bucket, pos)
    * order, input pinned so the upstream computes once. */
  def epochShuffle(df: DataFrame, keyCols: java.util.List[String],
      epochs: Int, buckets: Int): DataFrame =
    graft.operators.PrepOps.epochShuffle(df, keyCols.asScala.toSeq,
      epochs, buckets)

  /** The corpus-build capstone from Python (p14's engine): quality
    * gate -> minhash dedup -> split -> decontam -> mixture ->
    * packing, one composed chain with the id/count contracts pinned.
    * Returns the packed-window table (source, pack_id, n_docs,
    * n_tokens) — what ships to the trainer. */
  def corpusBuild(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, weights: DataFrame, weightDomainCol: String,
      weightCol: String, tokenBudget: Long, packBudget: Long)
      : DataFrame =
    graft.operators.PrepOps.corpusBuild(df, idCol, textCol, sourceCol,
      weights, weightDomainCol, weightCol, tokenBudget, packBudget)

  /** [[corpusBuild]]'s per-stage funnel (p17's engine): one row per
    * stage (stage, n_docs, n_tokens), computed from the SAME stage
    * frames the build materializes. */
  def corpusBuildFunnel(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, weights: DataFrame, weightDomainCol: String,
      weightCol: String, tokenBudget: Long, packBudget: Long)
      : DataFrame =
    graft.operators.PrepOps.corpusBuildFunnel(df, idCol, textCol,
      sourceCol, weights, weightDomainCol, weightCol, tokenBudget,
      packBudget)

  // --------------------------------------------------- BPE tokenizer

  /** Train a BPE merge table from Python (t14's engine): exact
    * frequency-ordered merges with batched rounds. Returns
    * (step, pair, merged, cnt) — feed it to [[bpeEncode]] /
    * [[bpeTokenize]]. */
  def bpeLearn(df: DataFrame, textCol: String, merges: Int,
      maxBatch: Int): DataFrame =
    graft.operators.TextOps.bpeLearn(df, textCol, merges, maxBatch)

  /** Price documents under a learned merge table (t19's engine):
    * (id, n_words, n_bpe_tokens), every input row present. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      mergeTable: DataFrame): DataFrame =
    graft.operators.TextOps.bpeEncode(df, idCol, textCol, mergeTable)

  /** Token SEQUENCES under a learned merge table (t20's engine):
    * (id, word_idx, tok_idx, token) — the trainer-consumable stream;
    * GROUP BY id reproduces [[bpeEncode]] counts exactly. */
  def bpeTokenize(df: DataFrame, idCol: String, textCol: String,
      mergeTable: DataFrame): DataFrame =
    graft.operators.TextOps.bpeTokenize(df, idCol, textCol, mergeTable)

  // ------------------------------------------------------------ render

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def renderVals(vals: Seq[Any]): String =
    vals.map {
      case null => "null"
      case b: Array[Byte] =>
        "\"" + java.util.Base64.getEncoder.encodeToString(b) + "\""
      case s: String => "\"" + esc(s) + "\""
      case d: Double =>
        if (d.isNaN || d.isInfinite) "\"" + d.toString + "\""
        else d.toString
      case f: Float =>
        if (f.isNaN || f.isInfinite) "\"" + f.toString + "\""
        else f.toString
      case v => v.toString
    }.mkString("[", ",", "]")
}
